package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.AttributeMap
import org.apache.spark.sql.catalyst.plans.logical.ColumnStat
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.ScalarIndex

/** CBO stats feed (SURVEY §4): the scan reports per-column
  * min/max/nullCount folded from manifest zone maps and NDV from the
  * scalar index's build-time cardinality — all metadata reads, no data
  * I/O at plan time. The reference feeds Trino's optimizer only a row
  * count (LanceMetadata.java:561-588); column stats are what turn
  * filter selectivity and join-side estimates from guesses into
  * arithmetic at 100 TB. */
class ColumnStatsSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val wh: String = {
    val dir = tempDir("graft-cs-wh").toString
    spark.conf.set("spark.sql.catalog.cs", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.cs.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cs.db")
    dir
  }

  private def tablePath(name: String) =
    new org.apache.hadoop.fs.Path(s"file:$wh/db/$name.graft")

  /** Column stats as Catalyst sees them on the scan relation. */
  private def attrStats(df: DataFrame): AttributeMap[ColumnStat] =
    df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.stats.attributeStats
    }.head

  private def statFor(df: DataFrame, col: String): Option[ColumnStat] =
    attrStats(df).collectFirst { case (a, s) if a.name == col => s }

  private def withCbo[A](body: => A): A = {
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try body finally spark.conf.set("spark.sql.cbo.enabled", "false")
  }

  test("zone-map min/max/nullCount reach Catalyst column stats") {
    wh
    spark.sql("DROP TABLE IF EXISTS cs.db.t")
    spark.sql("CREATE TABLE cs.db.t (k BIGINT, s STRING)")
    // two fragments; 10 nulls in the second
    spark.sql(
      "INSERT INTO cs.db.t SELECT id, concat('a', id) FROM range(0, 100, 1, 1)")
    spark.sql(
      """INSERT INTO cs.db.t
        |SELECT CASE WHEN id < 110 THEN id END, concat('b', id)
        |FROM range(100, 200, 1, 1)""".stripMargin)
    withCbo {
      val st = statFor(spark.table("cs.db.t"), "k")
        .getOrElse(fail("no column stats for k"))
      assert(st.min.contains(0L), s"min was ${st.min}")
      assert(st.max.contains(109L), s"max was ${st.max}")
      assert(st.nullCount.contains(BigInt(90)), s"nulls was ${st.nullCount}")
      // strings carry nulls but no numeric range
      val ss = statFor(spark.table("cs.db.t"), "s")
        .getOrElse(fail("no column stats for s"))
      assert(ss.min.isEmpty && ss.max.isEmpty)
      assert(ss.nullCount.contains(BigInt(0)))
    }
  }

  test("an all-null fragment keeps the range sound; a statless one drops it") {
    wh
    spark.sql("DROP TABLE IF EXISTS cs.db.n")
    spark.sql("CREATE TABLE cs.db.n (k BIGINT)")
    spark.sql("INSERT INTO cs.db.n SELECT id FROM range(5, 25, 1, 1)")
    spark.sql(
      "INSERT INTO cs.db.n SELECT CAST(NULL AS BIGINT) FROM range(0, 7, 1, 1)")
    withCbo {
      val st = statFor(spark.table("cs.db.n"), "k")
        .getOrElse(fail("no column stats for k"))
      // the all-null fragment contributes no values, so [5, 24] is exact
      assert(st.min.contains(5L) && st.max.contains(24L))
      assert(st.nullCount.contains(BigInt(7)))
    }
  }

  test("scalar-index build records ndv; the scan reports it as distinctCount") {
    wh
    spark.sql("DROP TABLE IF EXISTS cs.db.d")
    spark.sql("CREATE TABLE cs.db.d (k BIGINT, v BIGINT)")
    // 400 rows, 100 distinct k
    spark.sql("INSERT INTO cs.db.d SELECT id % 100, id FROM range(0, 400, 1, 2)")
    val fs = tablePath("d").getFileSystem(spark.sessionState.newHadoopConf())
    val version = ScalarIndex.build(spark, tablePath("d"), "k")
    val ndv = ScalarIndex.ndvAt(fs, tablePath("d"), version, "k")
      .getOrElse(fail("no ndv in index meta"))
    // HLL-approximate, same fidelity as ANALYZE TABLE
    assert(ndv > 80 && ndv < 120, s"ndv $ndv implausible for 100 distinct")
    withCbo {
      val st = statFor(spark.table("cs.db.d"), "k")
        .getOrElse(fail("no column stats for k"))
      assert(st.distinctCount.contains(BigInt(ndv)),
        s"distinctCount ${st.distinctCount} != index ndv $ndv")
      // un-indexed column still gets range stats but no NDV
      val sv = statFor(spark.table("cs.db.d"), "v")
        .getOrElse(fail("no column stats for v"))
      assert(sv.distinctCount.isEmpty)
    }
  }

  test("CBO uses the fed stats: selective filter shrinks the estimated rows") {
    wh
    withCbo {
      val df = spark.table("cs.db.d")
      val base = df.queryExecution.optimizedPlan.stats.rowCount
      val filtered = df.filter("k = 42")
        .queryExecution.optimizedPlan.stats.rowCount
      assert(base.exists(_ == BigInt(400)), s"base rowCount $base")
      assert(filtered.exists(c => c > 0 && c < 40),
        s"filter estimate $filtered should be ~rows/ndv, far below $base")
    }
  }
}
