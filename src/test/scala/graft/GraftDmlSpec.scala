package graft

import java.nio.file.Paths

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.connector.write.LogicalWriteInfo
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import graft.connector.{GraftDeltaCommit, GraftDeltaWrite, GraftTable}
import graft.format.GraftFormat

/** SQL row-level DML through the delta-based write path (SURVEY.md D5;
  * reference: LanceMergeSink.java:85-196, LanceMetadata.java:1175-1271)
  * plus the typed concurrent-conflict semantics the reference only
  * documents (TestLanceConnectorTest.java:393-410 aborts these tests;
  * graft makes them deterministic). */
class GraftDmlSpec extends AnyFunSuite {
  import TestSpark._

  private val fs: FileSystem = FileSystem.getLocal(new Configuration())

  private lazy val wh: String = {
    val dir = tempDir("graft-dml-wh").toString
    spark.conf.set("spark.sql.catalog.dml", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.dml.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS dml.db")
    dir
  }

  private def tdir(name: String): Path =
    new Path(Paths.get(wh, "db", s"$name.graft").toUri)

  test("SQL UPDATE rewrites matched rows in one commit; others untouched") {
    wh
    spark.sql("DROP TABLE IF EXISTS dml.db.u")
    spark.sql(
      """CREATE TABLE dml.db.u AS
        |SELECT id AS k, CAST(id * 10 AS DOUBLE) AS amt
        |FROM range(0, 100, 1, 1)""".stripMargin)
    val vBefore = GraftFormat.readLatest(fs, tdir("u")).get.version
    spark.sql("UPDATE dml.db.u SET amt = amt + 0.5 WHERE k < 10")
    val m = GraftFormat.readLatest(fs, tdir("u")).get
    assert(m.version == vBefore + 1, "UPDATE must be ONE commit")
    assert(m.operation == "Update")
    val rows = spark.table("dml.db.u").orderBy("k").collect()
    assert(rows.length == 100)
    rows.foreach { r =>
      val k = r.getLong(0)
      assert(r.getDouble(1) == (if (k < 10) k * 10 + 0.5 else k * 10.0))
    }
    // updates compose: second update sees the first's result
    spark.sql("UPDATE dml.db.u SET amt = amt * 2 WHERE k < 5")
    assert(spark.table("dml.db.u").where("k = 3").head.getDouble(1) == 61.0)
  }

  test("SQL MERGE INTO: update + delete + insert + not-matched-by-source") {
    wh
    spark.sql("DROP TABLE IF EXISTS dml.db.m")
    spark.sql(
      """CREATE TABLE dml.db.m AS
        |SELECT id AS k, CAST(id AS DOUBLE) AS v
        |FROM range(0, 10, 1, 1)""".stripMargin)
    spark.sql(
      """SELECT id AS sk, CAST(id * 100 AS DOUBLE) AS sv
        |FROM range(5, 15)""".stripMargin).createOrReplaceTempView("m_src")
    spark.sql(
      """MERGE INTO dml.db.m t USING m_src s
        |ON t.k = s.sk
        |WHEN MATCHED AND s.sk = 5 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = s.sv
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.sk, s.sv)""".stripMargin)
    val got = spark.table("dml.db.m").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val expected =
      (0L until 5L).map(k => (k, k.toDouble)) ++      // untouched
      (6L until 15L).map(k => (k, k * 100.0))         // updated + inserted
    assert(got.toSeq == expected)

    // NOT MATCHED BY SOURCE: delete target rows absent from the source
    spark.sql("SELECT id AS sk FROM range(10, 15)")
      .createOrReplaceTempView("m_src2")
    spark.sql(
      """MERGE INTO dml.db.m t USING m_src2 s
        |ON t.k = s.sk
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    assert(spark.table("dml.db.m").orderBy("k").collect()
      .map(_.getLong(0)).toSeq == (10L until 15L))
  }

  test("MERGE with multiple source matches per target row fails typed") {
    wh
    spark.sql("DROP TABLE IF EXISTS dml.db.card")
    spark.sql(
      "CREATE TABLE dml.db.card AS SELECT id AS k, id AS v FROM range(0, 5, 1, 1)")
    // two source rows match target k=1
    spark.sql("SELECT * FROM VALUES (1, 10), (1, 20) AS s(sk, sv)")
      .createOrReplaceTempView("card_src")
    val e = intercept[Exception] {
      spark.sql(
        """MERGE INTO dml.db.card t USING card_src s
          |ON t.k = s.sk
          |WHEN MATCHED THEN UPDATE SET v = s.sv""".stripMargin)
    }
    assert(e.getMessage.toUpperCase.contains("MERGE"),
      s"expected a merge cardinality error, got: ${e.getMessage}")
    // table unchanged after the failed merge
    assert(spark.table("dml.db.card").where("k = 1").head.getLong(1) == 1L)
  }

  test("concurrent row-level ops on the same fragment conflict typed") {
    wh
    spark.sql("DROP TABLE IF EXISTS dml.db.cc")
    spark.sql("CREATE TABLE dml.db.cc AS SELECT id AS k FROM range(0, 10, 1, 1)")
    val dir = fs.makeQualified(tdir("cc"))
    val pinnedManifest = GraftFormat.readLatest(fs, dir).get
    val pinned = new GraftTable("dml.db.cc", dir, pinnedManifest,
      spark.sessionState.newHadoopConf())
    val info = new LogicalWriteInfo {
      override def queryId(): String = "test-conflict"
      override def schema(): StructType = pinnedManifest.schema
      override def options(): CaseInsensitiveStringMap =
        CaseInsensitiveStringMap.empty()
    }
    val write = new GraftDeltaWrite(pinned, info)
    // a concurrent DELETE commits a new deletion vector on fragment 0
    spark.sql("DELETE FROM dml.db.cc WHERE k = 1")
    // our pinned-snapshot op now tries to delete from the same fragment
    val fragId = pinnedManifest.fragments.head.id
    val partial = GraftFormat.writeDeletionFile(fs, dir, fragId, 0L, Array(2L))
    intercept[GraftFormat.ConcurrentModificationException] {
      write.commit(Array(GraftDeltaCommit(Seq.empty, Seq((fragId, partial)))))
    }
    // the conflicting op must not have produced a commit
    assert(spark.table("dml.db.cc").count() == 9)
  }

  test("row-level op commutes with a concurrent append (disjoint fragments)") {
    wh
    spark.sql("DROP TABLE IF EXISTS dml.db.ca")
    spark.sql("CREATE TABLE dml.db.ca AS SELECT id AS k FROM range(0, 10, 1, 1)")
    val dir = fs.makeQualified(tdir("ca"))
    val pinnedManifest = GraftFormat.readLatest(fs, dir).get
    val pinned = new GraftTable("dml.db.ca", dir, pinnedManifest,
      spark.sessionState.newHadoopConf())
    val info = new LogicalWriteInfo {
      override def queryId(): String = "test-commute"
      override def schema(): StructType = pinnedManifest.schema
      override def options(): CaseInsensitiveStringMap =
        CaseInsensitiveStringMap.empty()
    }
    val write = new GraftDeltaWrite(pinned, info)
    // concurrent APPEND adds a new fragment; fragment 0 is untouched
    spark.sql("INSERT INTO dml.db.ca SELECT id + 100 FROM range(0, 5, 1, 1)")
    val fragId = pinnedManifest.fragments.head.id
    val partial = GraftFormat.writeDeletionFile(fs, dir, fragId, 0L, Array(0L))
    write.commit(Array(GraftDeltaCommit(Seq.empty, Seq((fragId, partial)))))
    // both effects visible: 10 - 1 deleted + 5 appended
    assert(spark.table("dml.db.ca").count() == 14)
  }

  test("concurrent INSERTs from many threads all land via CAS retry") {
    wh
    spark.sql("DROP TABLE IF EXISTS dml.db.race")
    spark.sql("CREATE TABLE dml.db.race (t INT, i INT)")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val futures = (0 until 8).map { t =>
      Future {
        (0 until 3).foreach { i =>
          spark.sql(s"INSERT INTO dml.db.race VALUES ($t, $i)")
        }
      }
    }
    Await.result(Future.sequence(futures), 120.seconds)
    // no commit lost, no commit doubled
    val rows = spark.table("dml.db.race")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(rows == (for (t <- 0 until 8; i <- 0 until 3) yield (t, i)).toSet)
    // the manifest history holds exactly one version per commit
    val dir = new Path(Paths.get(wh, "db", "race.graft").toUri)
    val versions = GraftFormat.listVersions(fs, dir)
    assert(versions.size == 25, s"1 create + 24 inserts, got ${versions.size}")
    assert(versions == (1L to 25L))
  }
}
