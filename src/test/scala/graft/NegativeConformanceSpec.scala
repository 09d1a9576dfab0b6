package graft

import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{S3LiteFileSystem, S3LiteServer}

/** The reference inherits a large negative/edge corpus from Trino's
  * BaseConnectorTest (BaseLanceConnectorTest.java:100-420 — an explicit
  * capability matrix plus typed failures for everything outside it) —
  * and inherits it in EVERY deployment subclass of its matrix
  * (T/TestLanceS3DefaultConnectorTest.java, T/TestLanceRest*), so a
  * backend that gives an untyped error where another gives a typed one
  * is a test failure there. Same here (r11 VERDICT ask #4): ONE shared
  * negative corpus, instantiated over the full deployment matrix —
  * {dir, s3a, rest-default, glue, hive, rest-single-level,
  * rest-single-level-over-s3a} — the backends diverge exactly where
  * these tests look (the r11 REST purge-before-delete race was found
  * by hand, not by a suite).
  *
  * Every case asserts either the behavior a user gets (where graft
  * exceeds the reference's aborted capability) or a typed, helpful
  * error — never a stack trace from deep inside the storage layer. */
abstract class NegativeConformanceBase extends AnyFunSuite {
  import TestSpark._

  /** Spark catalog name — unique per instantiation. */
  protected def cat: String
  /** Namespace tables live in ("db", or "default" for single-level). */
  protected def ns: String = "db"
  /** Reference `lance.single_level_ns`: one virtual schema, no schema
    * DDL — namespace-DDL cases assert the typed rejection instead. */
  protected def singleLevel: Boolean = false
  /** Wire the catalog (and any FS) into the shared session. */
  protected def configure(): Unit

  private lazy val ready: Unit = {
    configure()
    if (!singleLevel) spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.$ns")
  }

  private def rootMsgs(t: Throwable): String = TestSpark.rootMsgs(t)

  // reference: BaseConnectorTest testCreateTableSchemaNotFound /
  // testCreateTableAsSelectSchemaNotFound
  test(s"[$cat] CREATE TABLE / CTAS into a missing namespace: typed " +
      "SCHEMA_NOT_FOUND") {
    ready
    val e1 = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.no_such_ns.t (k BIGINT)")
    }
    assert(e1.isInstanceOf[NoSuchNamespaceException] ||
      rootMsgs(e1).contains("SCHEMA_NOT_FOUND"), rootMsgs(e1))
    val e2 = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.no_such_ns.t AS SELECT 1 AS k")
    }
    assert(rootMsgs(e2).contains("SCHEMA_NOT_FOUND") ||
      e2.isInstanceOf[NoSuchNamespaceException], rootMsgs(e2))
  }

  test(s"[$cat] SELECT / INSERT / DROP on a missing table: typed " +
      "TABLE_NOT_FOUND") {
    ready
    val e1 = intercept[Exception](spark.table(s"$cat.$ns.missing").count())
    assert(rootMsgs(e1).contains("TABLE_OR_VIEW_NOT_FOUND") ||
      e1.isInstanceOf[NoSuchTableException], rootMsgs(e1))
    val e2 = intercept[Exception](
      spark.sql(s"INSERT INTO $cat.$ns.missing VALUES (1)"))
    assert(rootMsgs(e2).contains("TABLE_OR_VIEW_NOT_FOUND") ||
      e2.isInstanceOf[NoSuchTableException], rootMsgs(e2))
    val e3 = intercept[Exception](spark.sql(s"DROP TABLE $cat.$ns.missing"))
    assert(rootMsgs(e3).contains("TABLE_OR_VIEW_NOT_FOUND") ||
      e3.isInstanceOf[NoSuchTableException], rootMsgs(e3))
    // tolerant form succeeds silently
    spark.sql(s"DROP TABLE IF EXISTS $cat.$ns.missing")
  }

  test(s"[$cat] duplicate CREATE TABLE: typed exists error; IF NOT " +
      "EXISTS tolerated") {
    ready
    spark.sql(s"DROP TABLE IF EXISTS $cat.$ns.dup")
    spark.sql(s"CREATE TABLE $cat.$ns.dup (k BIGINT)")
    val e = intercept[Exception](spark.sql(s"CREATE TABLE $cat.$ns.dup (k BIGINT)"))
    assert(e.isInstanceOf[TableAlreadyExistsException] ||
      rootMsgs(e).contains("TABLE_OR_VIEW_ALREADY_EXISTS"), rootMsgs(e))
    spark.sql(s"CREATE TABLE IF NOT EXISTS $cat.$ns.dup (k BIGINT)") // no-op
    val e2 = intercept[Exception](
      spark.sql(s"CREATE TABLE $cat.$ns.dup AS SELECT 1 AS k"))
    assert(e2.isInstanceOf[TableAlreadyExistsException] ||
      rootMsgs(e2).contains("TABLE_OR_VIEW_ALREADY_EXISTS"), rootMsgs(e2))
    spark.sql(s"DROP TABLE $cat.$ns.dup")
  }

  test(s"[$cat] DROP TABLE IF EXISTS drops a table whose directory is " +
      "gone; CREATE of the name then succeeds") {
    ready
    spark.sql(s"DROP TABLE IF EXISTS $cat.$ns.orphan")
    spark.sql(s"CREATE TABLE $cat.$ns.orphan AS SELECT 1L AS k")
    val t = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array(ns), "orphan"))
      .asInstanceOf[graft.connector.GraftTable]
    assert(t.fs.delete(t.dir, true), s"setup: ${t.dir} must be deleted")
    spark.sql(s"DROP TABLE IF EXISTS $cat.$ns.orphan")
    spark.sql(s"CREATE TABLE $cat.$ns.orphan AS SELECT 2L AS k")
    assert(spark.table(s"$cat.$ns.orphan").collect().map(_.getLong(0)).toSeq
      == Seq(2L))
    spark.sql(s"DROP TABLE $cat.$ns.orphan")
  }

  test(s"[$cat] REPLACE TABLE on a missing table: typed error; CREATE " +
      "OR REPLACE ok") {
    ready
    spark.sql(s"DROP TABLE IF EXISTS $cat.$ns.rt")
    val e = intercept[Exception](
      spark.sql(s"REPLACE TABLE $cat.$ns.rt AS SELECT 1 AS k"))
    assert(e.isInstanceOf[NoSuchTableException] ||
      rootMsgs(e).contains("TABLE_OR_VIEW_NOT_FOUND"), rootMsgs(e))
    spark.sql(s"CREATE OR REPLACE TABLE $cat.$ns.rt AS SELECT 1 AS k")
    assert(spark.table(s"$cat.$ns.rt").count() == 1)
    spark.sql(s"DROP TABLE $cat.$ns.rt")
  }

  // reference: PARTITIONED BY is outside the model (fragments partition)
  test(s"[$cat] PARTITIONED BY is rejected with a helpful message") {
    ready
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.$ns.pt (k BIGINT, p STRING) PARTITIONED BY (p)")
    }
    assert(rootMsgs(e).contains("fragment-partitioned"), rootMsgs(e))
  }

  // reference: RENAME TABLE unsupported (BaseLanceConnectorTest
  // capability matrix SUPPORTS_RENAME_TABLE -> false)
  test(s"[$cat] ALTER TABLE RENAME is rejected with a helpful message") {
    ready
    spark.sql(s"DROP TABLE IF EXISTS $cat.$ns.rn")
    spark.sql(s"CREATE TABLE $cat.$ns.rn (k BIGINT)")
    val e = intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.$ns.rn RENAME TO $cat.$ns.rn2"))
    assert(rootMsgs(e).contains("RENAME"), rootMsgs(e))
    spark.sql(s"DROP TABLE $cat.$ns.rn")
  }

  test(s"[$cat] time travel to a nonexistent version or pre-creation " +
      "timestamp: typed errors") {
    ready
    spark.sql(s"DROP TABLE IF EXISTS $cat.$ns.tt")
    spark.sql(s"CREATE TABLE $cat.$ns.tt AS SELECT 1 AS k")
    val e1 = intercept[Exception](
      spark.sql(s"SELECT * FROM $cat.$ns.tt VERSION AS OF 99").count())
    assert(rootMsgs(e1).contains("version 99 does not exist"), rootMsgs(e1))
    val e2 = intercept[Exception](
      spark.sql(s"SELECT * FROM $cat.$ns.tt TIMESTAMP AS OF '1990-01-01'").count())
    assert(rootMsgs(e2).toLowerCase.contains("timestamp"), rootMsgs(e2))
    spark.sql(s"DROP TABLE $cat.$ns.tt")
  }

  test(s"[$cat] DROP NAMESPACE with tables requires CASCADE; cascade " +
      "removes all") {
    ready
    if (singleLevel) {
      // reference lance.single_level_ns: one virtual schema, schema DDL
      // is rejected typed — same contract DeploymentMatrixSpec pins
      val e0 = intercept[Exception](
        spark.sql(s"CREATE NAMESPACE $cat.full_ns"))
      assert(e0.getMessage.contains("single_level_ns"), e0.getMessage)
      val e1 = intercept[Exception](spark.sql(s"DROP NAMESPACE $cat.$ns"))
      assert(e1.getMessage.contains("single_level_ns"), e1.getMessage)
    } else {
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.full_ns")
      spark.sql(s"CREATE TABLE $cat.full_ns.t AS SELECT 1 AS k")
      val e = intercept[Exception](spark.sql(s"DROP NAMESPACE $cat.full_ns"))
      assert(rootMsgs(e).toLowerCase.contains("not empty") ||
        rootMsgs(e).contains("SCHEMA_NOT_EMPTY"), rootMsgs(e))
      spark.sql(s"DROP NAMESPACE $cat.full_ns CASCADE")
      assert(!spark.sql(s"SHOW NAMESPACES IN $cat").collect()
        .map(_.getString(0)).contains("full_ns"))
    }
  }

  // the reference aborts its negative-date tests (unsupported there);
  // graft on parquet serves them — a user switching keeps their data
  test(s"[$cat] negative (BCE) dates roundtrip — exceeds the reference") {
    ready
    spark.sql(s"DROP TABLE IF EXISTS $cat.$ns.bce")
    spark.sql(s"CREATE TABLE $cat.$ns.bce AS " +
      "SELECT DATE'0001-01-01' AS d UNION ALL SELECT DATE'1582-10-04'")
    val ds = spark.table(s"$cat.$ns.bce").orderBy("d").collect()
      .map(_.getDate(0).toString)
    assert(ds.sameElements(Array("0001-01-01", "1582-10-04")), ds.mkString(","))
    spark.sql(s"DROP TABLE $cat.$ns.bce")
  }

  // reference: testInsertMap aborted (MAP unsupported there); graft
  // stores map/struct/array columns natively
  test(s"[$cat] MAP / ARRAY / STRUCT columns roundtrip — exceeds the " +
      "reference") {
    ready
    spark.sql(s"DROP TABLE IF EXISTS $cat.$ns.cplx")
    spark.sql(s"CREATE TABLE $cat.$ns.cplx AS SELECT " +
      "map('a', 1, 'b', 2) AS m, array(1L, 2L, 3L) AS a, " +
      "named_struct('x', 1, 'y', 'z') AS s")
    val r = spark.table(s"$cat.$ns.cplx").head()
    assert(r.getMap[String, Int](0).toMap == Map("a" -> 1, "b" -> 2))
    assert(r.getSeq[Long](1) == Seq(1L, 2L, 3L))
    assert(r.getStruct(2).getInt(0) == 1 && r.getStruct(2).getString(1) == "z")
    spark.sql(s"DROP TABLE $cat.$ns.cplx")
  }

  // reference: testDescribeTable aborted because varchar lengths are
  // not preserved; Spark's char/varchar are stored as string — document
  // the normalization rather than hiding it
  test(s"[$cat] CHAR/VARCHAR columns normalize to string (documented " +
      "behavior)") {
    ready
    spark.sql(s"DROP TABLE IF EXISTS $cat.$ns.vch")
    spark.sql(s"CREATE TABLE $cat.$ns.vch (c CHAR(5), v VARCHAR(10))")
    spark.sql(s"INSERT INTO $cat.$ns.vch VALUES ('ab', 'hello')")
    val row = spark.table(s"$cat.$ns.vch").head()
    // CHAR pads to declared length on read; VARCHAR does not
    assert(row.getString(0) == "ab   " && row.getString(1) == "hello")
    spark.sql(s"DROP TABLE $cat.$ns.vch")
  }

  test(s"[$cat] CTAS of an all-NULL (void) column: typed " +
      "unsupported-type error") {
    ready
    spark.sql(s"DROP TABLE IF EXISTS $cat.$ns.voidc")
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.$ns.voidc AS SELECT 1 AS k, NULL AS broken")
    }
    assert(rootMsgs(e).contains("UNSUPPORTED") ||
      rootMsgs(e).toLowerCase.contains("void") ||
      rootMsgs(e).toLowerCase.contains("null type"), rootMsgs(e))
  }

  test(s"[$cat] duplicate column names in CTAS: typed analysis error") {
    ready
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.$ns.dupe_col AS SELECT 1 AS a, 2 AS a")
    }
    assert(rootMsgs(e).contains("COLUMN_ALREADY_EXISTS") ||
      rootMsgs(e).toLowerCase.contains("duplicate"), rootMsgs(e))
  }

  test(s"[$cat] ALTER TABLE ADD COLUMN is nullable-only; DROP of a " +
      "missing column is typed") {
    ready
    spark.sql(s"DROP TABLE IF EXISTS $cat.$ns.alt")
    spark.sql(s"CREATE TABLE $cat.$ns.alt AS SELECT 1L AS k")
    spark.sql(s"ALTER TABLE $cat.$ns.alt ADD COLUMN extra STRING")
    assert(spark.table(s"$cat.$ns.alt").columns.toSeq == Seq("k", "extra"))
    assert(spark.table(s"$cat.$ns.alt").head.isNullAt(1))
    val e = intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.$ns.alt DROP COLUMN nope"))
    assert(rootMsgs(e).toLowerCase.contains("missing field") ||
      rootMsgs(e).contains("UNRESOLVED") ||
      rootMsgs(e).toLowerCase.contains("nope"), rootMsgs(e))
    spark.sql(s"DROP TABLE $cat.$ns.alt")
  }

  test(s"[$cat] UPDATE / DELETE referencing a missing column: analysis " +
      "error, no partial write") {
    ready
    spark.sql(s"DROP TABLE IF EXISTS $cat.$ns.updm")
    spark.sql(s"CREATE TABLE $cat.$ns.updm AS SELECT 1L AS k")
    intercept[Exception](spark.sql(s"UPDATE $cat.$ns.updm SET nope = 1"))
    intercept[Exception](spark.sql(s"DELETE FROM $cat.$ns.updm WHERE nope = 1"))
    // the failed statements committed nothing: data intact, no version 2
    assert(spark.table(s"$cat.$ns.updm").count() == 1)
    val e = intercept[Exception](
      spark.sql(s"SELECT * FROM $cat.$ns.updm VERSION AS OF 2").count())
    assert(rootMsgs(e).contains("version 2 does not exist"), rootMsgs(e))
    spark.sql(s"DROP TABLE $cat.$ns.updm")
  }

  // reference capability matrix: SUPPORTS_TRUNCATE -> false
  test(s"[$cat] TRUNCATE TABLE empties in one metadata commit — exceeds " +
      "the reference") {
    ready
    spark.sql(s"DROP TABLE IF EXISTS $cat.$ns.trunc")
    spark.sql(s"CREATE TABLE $cat.$ns.trunc AS SELECT id FROM range(0, 50, 1, 2)")
    spark.sql(s"TRUNCATE TABLE $cat.$ns.trunc")
    assert(spark.table(s"$cat.$ns.trunc").count() == 0)
    // schema survives; the pre-truncate snapshot is still time-travelable
    spark.sql(s"INSERT INTO $cat.$ns.trunc VALUES (7)")
    assert(spark.table(s"$cat.$ns.trunc").head.getLong(0) == 7)
    assert(spark.sql(s"SELECT count(*) FROM $cat.$ns.trunc VERSION AS OF 1")
      .head.getLong(0) == 50)
    spark.sql(s"DROP TABLE $cat.$ns.trunc")
  }

  // reference: BaseLanceConnectorTest.java testShowCreateTable
  test(s"[$cat] SHOW CREATE TABLE reproduces schema and catalog identity") {
    ready
    spark.sql(s"DROP TABLE IF EXISTS $cat.$ns.sct")
    spark.sql(s"CREATE TABLE $cat.$ns.sct (regionkey BIGINT, name STRING)")
    val ddl = spark.sql(s"SHOW CREATE TABLE $cat.$ns.sct")
      .head.getString(0)
    assert(ddl.contains(s"$cat.$ns.sct") && ddl.contains("regionkey BIGINT") &&
      ddl.contains("name STRING"), ddl)
    spark.sql(s"DROP TABLE $cat.$ns.sct")
  }

  test(s"[$cat] INSERT with mismatched column count: typed arity error") {
    ready
    spark.sql(s"DROP TABLE IF EXISTS $cat.$ns.arity")
    spark.sql(s"CREATE TABLE $cat.$ns.arity (a BIGINT, b STRING)")
    val e = intercept[Exception](
      spark.sql(s"INSERT INTO $cat.$ns.arity VALUES (1, 'x', 99)"))
    assert(rootMsgs(e).contains("INSERT_COLUMN_ARITY_MISMATCH") ||
      rootMsgs(e).toLowerCase.contains("columns"), rootMsgs(e))
    assert(spark.table(s"$cat.$ns.arity").count() == 0)
    spark.sql(s"DROP TABLE $cat.$ns.arity")
  }
}

/** Directory catalog on the local FS — the original instantiation. */
class NegativeConformanceSpec extends NegativeConformanceBase {
  import TestSpark._
  protected def cat = "neg"
  protected def configure(): Unit = {
    val wh = tempDir("graft-neg-wh").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
  }
}

/** Directory catalog over s3a:// — every byte over HTTP against the
  * in-process object store (reference: the corpus inherited by
  * T/TestLanceS3DefaultConnectorTest.java). */
class S3aNegativeConformance extends NegativeConformanceBase {
  import TestSpark._
  protected def cat = "negs3"
  protected def configure(): Unit = {
    val srv = S3LiteServer.shared
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3a.impl", classOf[S3LiteFileSystem].getName)
    hc.set(S3LiteFileSystem.EndpointKey, srv.endpoint)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", "s3a://negs3wh/wh")
  }
}

/** REST namespace service, default (multi-level) mode (reference: the
  * corpus inherited by the BaseLanceRestConnectorTest subclasses). */
class RestNegativeConformance extends NegativeConformanceBase {
  import TestSpark._
  protected def cat = "negrest"
  protected def configure(): Unit = {
    val wh = tempDir("graft-negrest-wh").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftRestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.uri",
      s"http://127.0.0.1:${FakeNamespaceService.port}")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
  }
}

/** Glue backend over the in-process AWS-Glue-protocol stub. */
class GlueNegativeConformance extends NegativeConformanceBase {
  import TestSpark._
  protected def cat = "negglue"
  protected def configure(): Unit = {
    val wh = tempDir("graft-negglue-wh").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftGlueCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.endpoint",
      s"http://127.0.0.1:${FakeGlueService.port}")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
  }
}

/** Hive backend over the in-process HMS Thrift metastore. */
class HiveNegativeConformance extends NegativeConformanceBase {
  import TestSpark._
  protected def cat = "neghive"
  protected def configure(): Unit = {
    val wh = tempDir("graft-neghive-wh").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftHiveCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.uri",
      s"thrift://127.0.0.1:${FakeHiveMetastore.port}")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
  }
}

/** REST namespace service mounted in single-level mode (reference:
  * lance.single_level_ns + lance.parent — one virtual `default`
  * schema, no schema DDL; the corpus' namespace-DDL case asserts the
  * typed rejection instead). */
class RestSingleLevelNegativeConformance extends NegativeConformanceBase {
  import TestSpark._
  protected def cat = "negsl"
  override protected def ns = "default"
  override protected def singleLevel = true
  protected def configure(): Unit = {
    val wh = tempDir("graft-negsl-wh").toString
    FakeNamespaceService.port // ensure started
    FakeNamespaceService.store.getOrElseUpdate("negm",
      new scala.collection.concurrent.TrieMap())
    FakeNamespaceService.store.getOrElseUpdate("negm$sl",
      new scala.collection.concurrent.TrieMap())
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftRestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.uri",
      s"http://127.0.0.1:${FakeNamespaceService.port}")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.conf.set(s"spark.sql.catalog.$cat.parent", "negm$sl")
    spark.conf.set(s"spark.sql.catalog.$cat.single_level_ns", "true")
  }
}

/** REST single-level mode over s3a:// — the corpus' deepest crossing:
  * every byte over HTTP against the in-process object store AND the
  * namespace service mounted below a parent prefix. */
class RestSingleLevelS3aNegativeConformance extends NegativeConformanceBase {
  import TestSpark._
  protected def cat = "negsls3"
  override protected def ns = "default"
  override protected def singleLevel = true
  protected def configure(): Unit = {
    val srv = S3LiteServer.shared
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3a.impl", classOf[S3LiteFileSystem].getName)
    hc.set(S3LiteFileSystem.EndpointKey, srv.endpoint)
    FakeNamespaceService.port
    FakeNamespaceService.store.getOrElseUpdate("negm",
      new scala.collection.concurrent.TrieMap())
    FakeNamespaceService.store.getOrElseUpdate("negm$sls3",
      new scala.collection.concurrent.TrieMap())
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftRestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.uri",
      s"http://127.0.0.1:${FakeNamespaceService.port}")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", "s3a://negsls3wh/wh")
    spark.conf.set(s"spark.sql.catalog.$cat.parent", "negm$sls3")
    spark.conf.set(s"spark.sql.catalog.$cat.single_level_ns", "true")
    spark.conf.set(s"spark.sql.catalog.$cat.hadoop.fs.s3a.impl",
      classOf[S3LiteFileSystem].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.hadoop.${S3LiteFileSystem.EndpointKey}",
      srv.endpoint)
  }
}
