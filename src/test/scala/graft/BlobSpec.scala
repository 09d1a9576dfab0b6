package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.format.{BlobStore, GraftFormat}

/** Mirrors the reference's blob feature tests
  * (TestLanceBlobEncoding.java:38-176; FIXTURES.md "Blob column"). */
class BlobSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val wh: String = {
    val dir = tempDir("graft-blob-wh").toString
    spark.conf.set("spark.sql.catalog.b", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.b.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS b.db")
    dir
  }

  private def createBlobTable(): Unit = {
    spark.sql("DROP TABLE IF EXISTS b.db.media")
    spark.sql(
      """CREATE TABLE b.db.media
        |TBLPROPERTIES ('blob_columns' = 'content')
        |AS SELECT id, CAST(concat('payload-', CAST(id AS STRING),
        |  repeat('x', CAST(id AS INT))) AS BINARY) AS content
        |FROM range(20)""".stripMargin)
  }

  test("blob column: content stored out-of-line, scan reads empty bytes") {
    wh
    createBlobTable()
    // logical schema unchanged: content is BINARY, no descriptor leaks
    val df = spark.table("b.db.media")
    assert(df.schema("content").dataType ==
      org.apache.spark.sql.types.BinaryType)
    // content is NOT materialized in scans (reference behavior:
    // LanceArrowToPageScanner.java:571-581)
    val contents = df.select("content").collect().map(_.getAs[Array[Byte]](0))
    assert(contents.forall(_.length == 0))
    // sidecar files exist under data/blobs
    val blobDir = Paths.get(wh, "db", "media.graft", "data", "blobs")
    assert(Files.list(blobDir).iterator().hasNext)
  }

  test("blob virtual columns selectable; hidden from base schema") {
    wh
    val df = spark.table("b.db.media")
      .select(col("id"), col("content__blob_pos"), col("content__blob_size"))
      .orderBy("id")
    val rows = df.collect()
    assert(rows.length == 20)
    // sizes are deterministic: len("payload-<id>") + id x's
    rows.foreach { r =>
      val id = r.getLong(0)
      val expected = s"payload-$id".length + id
      assert(r.getLong(2) == expected, s"id=$id size=${r.getLong(2)}")
    }
    // hidden: not in the table schema / star expansion
    assert(!spark.table("b.db.media").columns.contains("content__blob_pos"))
  }

  test("blob content fetch by descriptor returns the original bytes") {
    wh
    val dir = new org.apache.hadoop.fs.Path(
      Paths.get(wh, "db", "media.graft").toUri)
    val fs = dir.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val manifest = GraftFormat.readLatest(fs, dir).get
    // read descriptors from the physical fragment directly
    val phys = spark.read.schema(
      BlobStore.physicalSchema(manifest.schema, manifest.blobColumns))
      .parquet(manifest.fragments.map(f =>
        new org.apache.hadoop.fs.Path(dir, f.path).toString): _*)
    val r = phys.filter(col("id") === 7)
      .select("content.file", "content.pos", "content.size").head
    val bytes = BlobStore.fetch(fs, dir, r.getString(0), r.getLong(1), r.getLong(2))
    assert(new String(bytes) == "payload-7" + "x" * 7)
  }

  test("blob table supports filters on non-blob columns + count(*)") {
    wh
    assert(spark.table("b.db.media").filter(col("id") < 10).count() == 10)
    assert(spark.table("b.db.media").count() == 20)
  }

  test("vacuum GCs unreferenced blob sidecars, keeps live ones") {
    wh
    createBlobTable()
    val dir = new org.apache.hadoop.fs.Path(
      Paths.get(wh, "db", "media.graft").toUri)
    val fs = dir.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val blobDir = Paths.get(wh, "db", "media.graft", "data", "blobs")
    import scala.jdk.CollectionConverters._
    val before = Files.list(blobDir).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(before.nonEmpty)
    // replace the data: old blob sidecars become unreachable once the
    // pre-overwrite versions age out of the retained window
    spark.sql(
      """INSERT OVERWRITE b.db.media
        |SELECT id, CAST(concat('fresh-', CAST(id AS STRING)) AS BINARY)
        |  AS content FROM range(5)""".stripMargin)
    val after = Files.list(blobDir).iterator().asScala
      .map(_.getFileName.toString).toSet
    val fresh = after -- before
    assert(fresh.nonEmpty, "overwrite wrote no new sidecars")
    val (_, deletedCount) =
      graft.ops.Maintenance.vacuum(spark, dir, keepVersions = 1,
        minVersionsRetained = 1, orphanGraceMs = 0)
    val remaining = Files.list(blobDir).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert((before -- after).isEmpty)
    assert(remaining.intersect(fresh) == fresh, "live sidecars deleted")
    assert(remaining.intersect(before -- fresh).isEmpty,
      s"stale sidecars survived: ${remaining.intersect(before -- fresh)}")
    assert(deletedCount > 0)
    // table still reads correctly after GC
    assert(spark.table("b.db.media").count() == 5)
  }

  test("blob GC streams the candidate listing in bounded batches " +
      "(many blobs, batch smaller than the directory)") {
    wh
    spark.sql("DROP TABLE IF EXISTS b.db.many")
    spark.sql(
      """CREATE TABLE b.db.many (id BIGINT, content BINARY)
        |TBLPROPERTIES ('blob_columns' = 'content')""".stripMargin)
    spark.sql(
      """INSERT INTO b.db.many
        |SELECT id, CAST(concat('v1-', CAST(id AS STRING)) AS BINARY)
        |FROM range(120)""".stripMargin)
    val dir = new org.apache.hadoop.fs.Path(
      Paths.get(wh, "db", "many.graft").toUri)
    val blobDir = Paths.get(wh, "db", "many.graft", "data", "blobs")
    import scala.jdk.CollectionConverters._
    def names: Set[String] = Files.list(blobDir).iterator().asScala
      .map(_.getFileName.toString).toSet
    val before = names
    spark.sql(
      """INSERT OVERWRITE b.db.many
        |SELECT id, CAST(concat('v2-', CAST(id AS STRING)) AS BINARY)
        |FROM range(100)""".stripMargin)
    val fresh = names -- before
    assert(fresh.nonEmpty)
    // batch far smaller than the blob count: the GC must flush several
    // partial batches and still delete exactly the unreferenced set
    spark.conf.set("spark.graft.vacuum.blobBatchSize", "16")
    try {
      val (_, deletedCount) =
        graft.ops.Maintenance.vacuum(spark, dir, keepVersions = 1,
        minVersionsRetained = 1, orphanGraceMs = 0)
      assert(deletedCount > 0)
      val remaining = names
      assert(remaining.intersect(fresh) == fresh, "live sidecars deleted")
      assert(remaining.intersect(before).isEmpty,
        s"stale sidecars survived batched listing")
      assert(spark.table("b.db.many").count() == 100)
    } finally spark.conf.unset("spark.graft.vacuum.blobBatchSize")
  }
}

/** Mirrors the reference's vector column feature tests
  * (TestLanceVectorColumns.java:38-157; FIXTURES.md "Vector column"). */
class VectorColumnSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val wh: String = {
    val dir = tempDir("graft-vec-wh").toString
    spark.conf.set("spark.sql.catalog.v", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.v.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS v.db")
    dir
  }

  test("vector column: valid declaration + in-dimension writes succeed") {
    wh
    spark.sql("DROP TABLE IF EXISTS v.db.emb")
    spark.sql(
      """CREATE TABLE v.db.emb (id BIGINT, embedding ARRAY<FLOAT>)
        |TBLPROPERTIES ('vector_columns' = 'embedding:3')""".stripMargin)
    spark.sql(
      """INSERT INTO v.db.emb VALUES
        |  (1, array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT), CAST(3.0 AS FLOAT))),
        |  (2, NULL)""".stripMargin)
    assert(spark.table("v.db.emb").count() == 2)
  }

  test("wrong-dimension write fails with a clear error") {
    wh
    val e = intercept[Exception] {
      spark.sql(
        "INSERT INTO v.db.emb VALUES (3, array(CAST(1.0 AS FLOAT)))")
    }
    def allMsgs(t: Throwable): String = TestSpark.rootMsgs(t)
    assert(allMsgs(e).contains("requires dimension 3"))
    // failed insert must not commit a new version
    assert(spark.table("v.db.emb").count() == 2)
  }

  test("invalid declarations are rejected (reference parity)") {
    wh
    // non-array column
    assert(intercept[Exception] {
      spark.sql(
        """CREATE TABLE v.db.bad1 (id BIGINT, embedding BIGINT)
          |TBLPROPERTIES ('vector_columns' = 'embedding:3')""".stripMargin)
    }.getMessage.contains("ARRAY(FLOAT) or ARRAY(DOUBLE)"))
    // array of wrong element type
    assert(intercept[Exception] {
      spark.sql(
        """CREATE TABLE v.db.bad2 (id BIGINT, embedding ARRAY<BIGINT>)
          |TBLPROPERTIES ('vector_columns' = 'embedding:3')""".stripMargin)
    }.getMessage.contains("ARRAY(FLOAT) or ARRAY(DOUBLE)"))
    // missing column
    assert(intercept[Exception] {
      spark.sql(
        """CREATE TABLE v.db.bad3 (id BIGINT)
          |TBLPROPERTIES ('vector_columns' = 'nope:3')""".stripMargin)
    }.getMessage.contains("not found"))
    // multi-vector declaration works (reference: 'e1:2, e2:3')
    spark.sql("DROP TABLE IF EXISTS v.db.multi")
    spark.sql(
      """CREATE TABLE v.db.multi
        |  (id BIGINT, e1 ARRAY<FLOAT>, e2 ARRAY<DOUBLE>)
        |TBLPROPERTIES ('vector_columns' = 'e1:2, e2:3')""".stripMargin)
    assert(spark.table("v.db.multi").count() == 0)
  }
}
