package graft

import java.nio.file.Paths

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TextIndex

/** The persisted inverted text index: exact-BM25 parity with the
  * full-scan formulation, staleness on append, term-selective reads. */
class TextIndexSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val wh: String = {
    val dir = tempDir("graft-fts-wh").toString
    spark.conf.set("spark.sql.catalog.fts", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.fts.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS fts.db")
    dir
  }

  test("indexed BM25 equals the full-scan formulation, goes stale on " +
      "append, and reads only query-term postings") {
    wh
    spark.sql("DROP TABLE IF EXISTS fts.db.docs")
    Tables.load(spark, sf, "documents").createOrReplaceTempView("fts_src")
    spark.sql("CREATE TABLE fts.db.docs AS SELECT * FROM fts_src")
    val dir = new Path(Paths.get(wh, "db", "docs.graft").toUri)

    val v = TextIndex.build(spark, dir, "doc_id", "text")
    assert(v == 1L)
    val terms = Seq("vector", "join", "filter")
    val indexed = TextIndex.searchCurrent(spark, dir, "text", terms, 50)
      .get.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // oracle: the t11 full-scan BM25 over the identical corpus
    val fullScan = SparkEntry.queries("t11_bm25")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(indexed == fullScan,
      s"indexed BM25 diverged from full scan: ${indexed.take(3)} vs ${fullScan.take(3)}")

    // the postings scan is term-selective: far fewer rows than the
    // token mass of the corpus reach the score aggregation
    val postings = spark.read.parquet(
      new Path(dir, "_indices/text.text/v=1/postings").toString)
    val hit = postings.filter(col("tok").isin(terms: _*)).count()
    assert(hit > 0 && hit < postings.count() / 10,
      s"expected selective postings read, got $hit of ${postings.count()}")

    // append -> the index version no longer matches: stale, invisible
    spark.sql("INSERT INTO fts.db.docs VALUES " +
      "(999999, 'vector vector vector join filter', 'en', 'web', 31)")
    assert(TextIndex.searchCurrent(spark, dir, "text", terms, 50).isEmpty,
      "a stale index must be invisible, never served")
    // rebuild at the new version picks up the appended doc
    TextIndex.build(spark, dir, "doc_id", "text")
    val after = TextIndex.searchCurrent(spark, dir, "text", terms, 50)
      .get.collect()
    assert(after.exists(_.getLong(0) == 999999L),
      "rebuilt index must rank the newly appended doc")
  }
}
