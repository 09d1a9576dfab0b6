package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Conformance edge cases ported from the reference's connector test
  * suite (TestLanceConnectorTest / BaseLanceConnectorTest) — behaviors a
  * user switching engines would notice. */
class ConformanceSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val wh: String = {
    val dir = tempDir("graft-conf-wh").toString
    spark.conf.set("spark.sql.catalog.cf", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.cf.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cf.db")
    dir
  }

  private def mkRegion(): Unit = {
    spark.sql("DROP TABLE IF EXISTS cf.db.region")
    spark.sql(
      """CREATE TABLE cf.db.region AS
        |SELECT * FROM VALUES
        |  (0, 'AFRICA'), (1, 'AMERICA'), (2, 'ASIA'),
        |  (3, 'EUROPE'), (4, 'MIDDLE EAST')
        |AS t(regionkey, name)""".stripMargin)
  }

  // reference: docs/src/operations/ddl/{describe-table,show-columns,
  // show-schemas,show-tables}.md — the introspection DDL a user
  // switching engines reaches for first
  test("DESCRIBE / SHOW COLUMNS / SHOW SCHEMAS / SHOW TABLES surface") {
    wh; mkRegion()
    val desc = spark.sql("DESCRIBE cf.db.region").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc.get("regionkey").contains("int") &&
      desc.get("name").contains("string"), s"DESCRIBE gave $desc")
    // short form resolves identically
    assert(spark.sql("DESC cf.db.region").collect().nonEmpty)
    assert(spark.sql("SHOW COLUMNS IN cf.db.region").collect()
      .map(_.getString(0)).toSet == Set("regionkey", "name"))
    assert(spark.sql("SHOW SCHEMAS IN cf").collect()
      .map(_.getString(0)).contains("db"))
    assert(spark.sql("SHOW TABLES IN cf.db").collect()
      .map(_.getString(1)).contains("region"))
  }

  // reference: TestLanceConnectorTest.java:289-299 testFilteredLimitQueries
  test("filtered LIMIT queries return correct rows") {
    wh; mkRegion()
    assert(spark.sql(
      "SELECT name FROM cf.db.region WHERE regionkey = 2 LIMIT 10")
      .head.getString(0) == "ASIA")
    assert(spark.sql(
      "SELECT name FROM cf.db.region WHERE regionkey >= 0 LIMIT 1").count() == 1)
    assert(spark.sql(
      "SELECT name FROM cf.db.region WHERE regionkey >= 0 LIMIT 10").count() == 5)
    assert(spark.sql(
      "SELECT name FROM cf.db.region WHERE regionkey >= 0 LIMIT 100").count() == 5)
  }

  // reference: TestLanceConnectorTest.java:301-306 — a LIMIT above an
  // aggregate with a filter must not short-circuit the scan
  test("count with filter and LIMIT is not limit-short-circuited") {
    wh; mkRegion()
    val limited = spark.sql(
      "SELECT count(name) FROM cf.db.region WHERE name > '' LIMIT 1")
      .head.getLong(0)
    val full = spark.sql(
      "SELECT count(name) FROM cf.db.region WHERE name > ''")
      .head.getLong(0)
    assert(limited == full && full == 5L)
  }

  // reference: TestLanceConnectorTest.java:495-576 large-utf8 roundtrip
  test("huge string values roundtrip exactly") {
    wh
    spark.sql("DROP TABLE IF EXISTS cf.db.big")
    spark.sql(
      """CREATE TABLE cf.db.big AS
        |SELECT id, repeat(concat('payload-', CAST(id AS STRING), '-'),
        |  200000) AS big_text
        |FROM range(0, 5, 1, 1)""".stripMargin)
    val rows = spark.table("cf.db.big").orderBy("id")
      .select(col("id"), length(col("big_text")).as("len"),
        substring(col("big_text"), 1, 20).as("head"))
      .collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(1) == s"payload-$id-".length * 200000, s"id=$id")
      assert(r.getString(2).startsWith(s"payload-$id-"))
    }
  }

  // reference: BaseLanceConnectorTest.java:174-180 — dotted column names
  // are rejected, in CREATE TABLE and CTAS alike
  test("column names containing dots are rejected") {
    wh
    def rootMsgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + rootMsgs(t.getCause)
    val e1 = intercept[Exception] {
      spark.sql("CREATE TABLE cf.db.dotted (`a.b` BIGINT)")
    }
    assert(rootMsgs(e1).contains("dots"))
    val e2 = intercept[Exception] {
      spark.sql("CREATE TABLE cf.db.dotted2 AS SELECT 1 AS `x.y`")
    }
    assert(rootMsgs(e2).contains("dots"))
  }

  // reference: BaseLanceConnectorTest type-mapping tests — the full
  // scalar surface a user switching engines would bring along, pushed
  // through CTAS, predicate scans, row-level DML, and time travel.
  test("full scalar type surface roundtrips through CTAS, DML, time travel") {
    wh
    spark.sql("DROP TABLE IF EXISTS cf.db.types")
    spark.sql(
      """CREATE TABLE cf.db.types AS
        |SELECT * FROM VALUES
        |  (1L, true,  CAST(1 AS TINYINT), CAST(10 AS SMALLINT), 100,
        |   CAST(1.5 AS FLOAT), 2.5D, CAST('12345.67' AS DECIMAL(12,2)),
        |   'alpha', CAST('ab' AS BINARY), DATE'2026-01-15',
        |   TIMESTAMP'2026-01-15 10:30:00'),
        |  (2L, false, CAST(2 AS TINYINT), CAST(20 AS SMALLINT), 200,
        |   CAST(2.5 AS FLOAT), 3.5D, CAST('999.99' AS DECIMAL(12,2)),
        |   'beta', CAST('cd' AS BINARY), DATE'2026-06-30',
        |   TIMESTAMP'2026-06-30 23:59:59'),
        |  (3L, NULL,  CAST(NULL AS TINYINT), CAST(NULL AS SMALLINT),
        |   CAST(NULL AS INT), CAST(NULL AS FLOAT), CAST(NULL AS DOUBLE),
        |   CAST(NULL AS DECIMAL(12,2)), CAST(NULL AS STRING),
        |   CAST(NULL AS BINARY), CAST(NULL AS DATE),
        |   CAST(NULL AS TIMESTAMP))
        |AS t(id, b, ti, si, i, f, d, dec, s, bin, dt, ts)""".stripMargin)
    val t = spark.table("cf.db.types")
    // declared types survive the round trip
    assert(t.schema.map(f => (f.name, f.dataType.sql)).toMap ==
      Map("id" -> "BIGINT", "b" -> "BOOLEAN", "ti" -> "TINYINT",
        "si" -> "SMALLINT", "i" -> "INT", "f" -> "FLOAT", "d" -> "DOUBLE",
        "dec" -> "DECIMAL(12,2)", "s" -> "STRING", "bin" -> "BINARY",
        "dt" -> "DATE", "ts" -> "TIMESTAMP"))
    // values + nulls survive, including binary payloads
    val r1 = t.filter(col("id") === 1).head()
    assert(r1.getBoolean(1) && r1.getByte(2) == 1 && r1.getShort(3) == 10 &&
      r1.getInt(4) == 100 && r1.getFloat(5) == 1.5f && r1.getDouble(6) == 2.5 &&
      r1.getDecimal(7).toPlainString == "12345.67" && r1.getString(8) == "alpha" &&
      r1.getAs[Array[Byte]](9).sameElements("ab".getBytes) &&
      r1.getDate(10).toString == "2026-01-15")
    assert(t.filter(col("id") === 3).head().anyNull)
    // predicates across the type surface (zone maps must stay
    // conservative-correct in the presence of the all-null row)
    assert(t.filter(col("dec") > java.math.BigDecimal.valueOf(1000)).count() == 1)
    assert(t.filter(col("dt") < java.sql.Date.valueOf("2026-03-01")).count() == 1)
    assert(t.filter(col("b")).count() == 1)
    assert(t.filter(col("si").isNull).count() == 1)
    // row-level DML keyed on a decimal predicate; others untouched
    spark.sql("UPDATE cf.db.types SET s = 'rich' WHERE dec > 1000")
    spark.sql("DELETE FROM cf.db.types WHERE b = false")
    val after = spark.table("cf.db.types").orderBy("id")
      .select("id", "s").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(after.toSeq == Seq((1L, "rich"), (3L, null)))
    // time travel still serves the pre-DML snapshot
    assert(spark.sql("SELECT count(*) FROM cf.db.types VERSION AS OF 1")
      .head().getLong(0) == 3)
  }

  // ------------------------------------------ per-row SQL surface
  // r17 VERDICT #6: the corpus-build primitives must be reachable from
  // pure SQL. One case per exposed function, each asserting the SQL
  // invocation returns exactly what the gate-tested Column API returns
  // on the same rows.

  private def corpusView(): Unit = {
    graft.functions.TextFunctions.register(spark)
    spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").createOrReplaceTempView("cf_docs")
  }

  test("SQL lang_id(text) equals TextOps.langIdCol") {
    corpusView()
    val viaSql = spark.sql(
      "SELECT doc_id, lang_id(text) AS l FROM cf_docs ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val viaCol = spark.table("cf_docs")
      .select(col("doc_id"),
        graft.operators.TextOps.langIdCol(col("text")).as("l"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(viaSql == viaCol && viaSql.nonEmpty)
    assert(viaSql.map(_._2).toSet.subsetOf(Set("en", "fr", "de", "es", "und")))
  }

  test("SQL quality_stats(text) struct fields equal the Column API") {
    corpusView()
    val viaSql = spark.sql(
      """SELECT doc_id, quality_stats(text).n_tokens AS n,
        |  quality_stats(text).stop_ratio AS sr
        |FROM cf_docs ORDER BY doc_id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)))).toSeq
    val viaCol = spark.table("cf_docs")
      .select(col("doc_id"),
        graft.operators.TextOps.qualityStatsCol(col("text")).as("q"))
      .select(col("doc_id"), col("q.n_tokens"), col("q.stop_ratio"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)))).toSeq
    assert(viaSql == viaCol && viaSql.nonEmpty)
  }

  test("SQL token_counts(text) equals the Column API") {
    corpusView()
    val viaSql = spark.sql(
      """SELECT doc_id, token_counts(text).ws_tokens AS w,
        |  token_counts(text).re_tokens AS r
        |FROM cf_docs ORDER BY doc_id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val viaCol = spark.table("cf_docs")
      .select(col("doc_id"),
        graft.operators.TextOps.tokenCountsCol(col("text")).as("t"))
      .select(col("doc_id"), col("t.ws_tokens"), col("t.re_tokens"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(viaSql == viaCol && viaSql.nonEmpty)
  }

  test("SQL pii_scrub(text) redacts and counts like the Column API") {
    corpusView()
    val row = spark.sql(
      """SELECT p.n_emails, p.n_urls, p.clean FROM (SELECT
        |  pii_scrub('mail a.b@x.org or https://h.example/z now') AS p)"""
        .stripMargin).head()
    assert(row.getLong(0) == 1L && row.getLong(1) == 1L)
    assert(row.getString(2) == "mail <EMAIL> or <URL> now")
    val viaSql = spark.sql(
      "SELECT doc_id, pii_scrub(text).clean AS c FROM cf_docs ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val viaCol = spark.table("cf_docs")
      .select(col("doc_id"),
        graft.operators.TextOps.piiScrubCol(col("text"))
          .getField("clean").as("c"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(viaSql == viaCol && viaSql.nonEmpty)
  }

  test("SQL chunk_windows(text, w, s) explodes to exactly " +
      "TextOps.chunkWindows; literal-arg misuse fails typed") {
    corpusView()
    val viaSql = spark.sql(
      """SELECT doc_id, c.chunk_id, c.n_chunk_toks, c.chunk_text
        |FROM cf_docs
        |LATERAL VIEW explode(chunk_windows(text, 16, 12)) AS c
        |ORDER BY doc_id, c.chunk_id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSeq
    val viaOp = graft.operators.TextOps
      .chunkWindows(spark.table("cf_docs"), window = 16, stride = 12)
      .orderBy("doc_id", "chunk_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSeq
    assert(viaSql == viaOp && viaSql.nonEmpty)
    // window/stride must be integer literals — a column there is a
    // plan-time error, not a silent misparse
    val ex = intercept[Exception] {
      spark.sql("SELECT chunk_windows(text, doc_id, 12) FROM cf_docs")
        .collect()
    }
    assert(rootMsgs(ex).contains("integer literal"))
  }
}
