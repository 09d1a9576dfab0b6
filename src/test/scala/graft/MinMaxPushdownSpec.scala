package graft

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.connector.GraftAggPartition

/** MIN/MAX aggregate pushdown answered from manifest zone maps — zero
  * data scan (extends the reference, which pushes only COUNT(*),
  * LanceMetadata.java:604-665). */
class MinMaxPushdownSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val wh: String = {
    val dir = tempDir("graft-mm-wh").toString
    spark.conf.set("spark.sql.catalog.mm", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.mm.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS mm.db")
    dir
  }

  private def isAggPushed(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.collectLeaves().exists {
      case b: BatchScanExec =>
        b.inputPartitions.forall(_.isInstanceOf[GraftAggPartition])
      case _ => false
    }

  test("min/max/count(*) answered from the manifest, no data scan") {
    wh
    spark.sql("DROP TABLE IF EXISTS mm.db.t")
    spark.sql(
      """CREATE TABLE mm.db.t AS
        |SELECT id AS k, CAST(id AS DOUBLE) / 7 AS x,
        |  date_add(DATE'2024-01-01', CAST(id % 300 AS INT)) AS d,
        |  IF(id % 5 = 0, NULL, id * 2) AS n
        |FROM range(0, 10000, 1, 4)""".stripMargin)
    val q = spark.sql(
      "SELECT min(k), max(k), min(x), max(x), min(d), max(d), " +
        "min(n), max(n), count(*) FROM mm.db.t")
    assert(isAggPushed(q), "aggregate row should be manifest-served")
    val r = q.head
    assert(r.getLong(0) == 0 && r.getLong(1) == 9999)
    assert(r.getDouble(2) == 0.0 && r.getDouble(3) == 9999.0 / 7)
    assert(r.getDate(4) == java.sql.Date.valueOf("2024-01-01"))
    assert(r.getDate(5) == java.sql.Date.valueOf("2024-10-26"))
    assert(r.getLong(6) == 2 && r.getLong(7) == 19998) // nulls ignored
    assert(r.getLong(8) == 10000)
  }

  test("deletion vectors disable min/max pushdown but results stay exact") {
    wh
    spark.sql("DROP TABLE IF EXISTS mm.db.del")
    spark.sql(
      "CREATE TABLE mm.db.del AS SELECT id AS k FROM range(0, 100, 1, 2)")
    spark.sql("DELETE FROM mm.db.del WHERE k = 0 OR k = 99")
    val q = spark.sql("SELECT min(k), max(k) FROM mm.db.del")
    assert(!isAggPushed(q),
      "deleted extremes must force a real scan for min/max")
    val r = q.head
    assert(r.getLong(0) == 1 && r.getLong(1) == 98)
    // count(*) alone stays pushed (deletion-aware liveRows)
    val c = spark.sql("SELECT count(*) FROM mm.db.del")
    assert(isAggPushed(c))
    assert(c.head.getLong(0) == 98)
  }

  test("unsupported shapes fall through: strings, filters, grouping") {
    wh
    spark.sql("DROP TABLE IF EXISTS mm.db.s")
    spark.sql(
      """CREATE TABLE mm.db.s AS
        |SELECT id AS k, concat('v', id) AS s FROM range(0, 100, 1, 1)""".stripMargin)
    // strings: footer bounds may be truncated -> never pushed
    val qs = spark.sql("SELECT min(s), max(s) FROM mm.db.s")
    assert(!isAggPushed(qs))
    assert(qs.head.getString(0) == "v0" && qs.head.getString(1) == "v99")
    // filter present -> not pushed, still correct
    val qf = spark.sql("SELECT min(k) FROM mm.db.s WHERE k > 50")
    assert(!isAggPushed(qf))
    assert(qf.head.getLong(0) == 51)
    // grouping -> not pushed
    val qg = spark.sql("SELECT k % 2, min(k) FROM mm.db.s GROUP BY 1")
    assert(!isAggPushed(qg))
    assert(qg.collect().map(_.getLong(1)).sorted.sameElements(Array(0L, 1L)))
  }

  test("empty table: pushed min/max is NULL, count 0") {
    wh
    spark.sql("DROP TABLE IF EXISTS mm.db.e")
    spark.sql("CREATE TABLE mm.db.e (k BIGINT)")
    val q = spark.sql("SELECT min(k), max(k), count(*) FROM mm.db.e")
    assert(isAggPushed(q))
    val r = q.head
    assert(r.isNullAt(0) && r.isNullAt(1) && r.getLong(2) == 0)
  }

  test("decimal min/max served from unscaled manifest stats, exact") {
    wh
    spark.sql("DROP TABLE IF EXISTS mm.db.dec")
    spark.sql(
      """CREATE TABLE mm.db.dec AS
        |SELECT CAST(id / 100.0 + 0.005 AS DECIMAL(12,3)) AS p
        |FROM range(0, 10000, 1, 4)""".stripMargin)
    val q = spark.sql("SELECT min(p) AS mn, max(p) AS mx FROM mm.db.dec")
    assert(isAggPushed(q), "decimal(12,3) min/max should push to the manifest")
    val r = q.head
    assert(r.getDecimal(0).toPlainString == "0.005")
    assert(r.getDecimal(1).toPlainString == "99.995")
    // precision > 18 decimals carry no stats -> no pushdown, still exact
    spark.sql("DROP TABLE IF EXISTS mm.db.dec38")
    spark.sql(
      """CREATE TABLE mm.db.dec38 AS
        |SELECT CAST(id AS DECIMAL(38,2)) AS p FROM range(0, 100, 1, 1)""".stripMargin)
    val q38 = spark.sql("SELECT min(p) AS mn, max(p) AS mx FROM mm.db.dec38")
    assert(!isAggPushed(q38), "wide decimals must not claim manifest stats")
    assert(q38.head.getDecimal(1).toPlainString == "99.00")
  }
}
