package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{S3LiteFileSystem, S3LiteServer}

/** The reference runs its engine-conformance suite once per deployment
  * — namespace-impl × namespace-mode, 18 thin subclasses
  * (TestLanceS3DefaultConnectorTest.java,
  * TestLanceS3SingleLevelConnectorSmokeTest.java, runner wiring at
  * LanceQueryRunner.java:63-166). Same idea here: ONE shared
  * conformance core, instantiated over {dir, s3a, rest} backends ×
  * {default, single-level} namespace modes. Every test is SQL-level
  * and backend-agnostic; subclasses only wire a catalog.
  */
abstract class DeploymentConformanceBase extends AnyFunSuite {
  import TestSpark._

  /** Spark catalog name — unique per instantiation. */
  protected def cat: String
  /** Namespace tables live in ("db", or "default" for single-level). */
  protected def ns: String = "db"
  /** Single-level mode: namespace DDL is disallowed, `default` is the
    * only namespace. */
  protected def singleLevel: Boolean = false
  /** Wire the catalog (and any FS) into the shared session. */
  protected def configure(): Unit

  private lazy val ready: Unit = {
    configure()
    if (!singleLevel) spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.$ns")
  }

  private def t(name: String): String = s"$cat.$ns.$name"

  test(s"[$cat] lifecycle: create, insert, filtered LIMIT, drop") {
    ready
    spark.sql(s"DROP TABLE IF EXISTS ${t("life")}")
    spark.sql(s"CREATE TABLE ${t("life")} (k BIGINT, s STRING)")
    spark.sql(s"INSERT INTO ${t("life")} VALUES (0,'AFRICA'),(1,'AMERICA')," +
      "(2,'ASIA'),(3,'EUROPE'),(4,'MIDDLE EAST')")
    assert(spark.table(t("life")).count() == 5)
    // reference: TestLanceConnectorTest.java:289-299 filtered limits
    assert(spark.sql(s"SELECT s FROM ${t("life")} WHERE k = 2 LIMIT 10")
      .head.getString(0) == "ASIA")
    assert(spark.sql(s"SELECT s FROM ${t("life")} WHERE k >= 0 LIMIT 100")
      .count() == 5)
    // reference: TestLanceConnectorTest.java:301-306 — LIMIT above a
    // filtered aggregate must not short-circuit the scan
    assert(spark.sql(
      s"SELECT count(s) FROM ${t("life")} WHERE s > '' LIMIT 1")
      .head.getLong(0) == 5L)
    // introspection surfaces resolve through every backend
    assert(spark.sql(s"SHOW TABLES IN $cat.$ns").collect()
      .map(_.getString(1)).contains("life"))
    assert(spark.sql(s"DESCRIBE ${t("life")}").collect()
      .map(_.getString(0)).toSet.intersect(Set("k", "s")).size == 2)
    spark.sql(s"DROP TABLE ${t("life")}")
    assert(!spark.sql(s"SHOW TABLES IN $cat.$ns").collect()
      .map(_.getString(1)).contains("life"))
  }

  test(s"[$cat] CTAS, append, row-level DML, time travel") {
    ready
    spark.sql(s"DROP TABLE IF EXISTS ${t("dml")}")
    spark.sql(s"CREATE TABLE ${t("dml")} AS " +
      "SELECT id AS k, CAST(id * 10 AS DOUBLE) AS amt FROM range(0, 100, 1, 2)")
    spark.sql(s"INSERT INTO ${t("dml")} SELECT id + 100, (id + 100) * 10.0 " +
      "FROM range(0, 20, 1, 1)")
    assert(spark.table(t("dml")).count() == 120)
    spark.sql(s"UPDATE ${t("dml")} SET amt = amt + 0.5 WHERE k < 10")
    spark.sql(s"DELETE FROM ${t("dml")} WHERE k >= 110")
    assert(spark.table(t("dml")).count() == 110)
    assert(spark.table(t("dml")).where("k = 3").head.getDouble(1) == 30.5)
    // MERGE: update one, insert one
    spark.range(2).selectExpr("id + 4 AS k", "CAST(-1 AS DOUBLE) AS amt")
      .createOrReplaceTempView("dm_src")
    spark.sql(
      s"""MERGE INTO ${t("dml")} tgt USING dm_src src ON tgt.k = src.k + 200
         |WHEN MATCHED THEN UPDATE SET amt = src.amt
         |WHEN NOT MATCHED THEN INSERT (k, amt) VALUES (src.k + 200, src.amt)
         |""".stripMargin)
    assert(spark.table(t("dml")).where("k >= 204").count() == 2)
    // snapshots: v1 = CTAS only
    assert(spark.sql(s"SELECT count(*) FROM ${t("dml")} VERSION AS OF 1")
      .head.getLong(0) == 100)
    spark.sql(s"DROP TABLE ${t("dml")}")
  }

  test(s"[$cat] RTAS replaces data AND schema atomically; old reads gone") {
    ready
    // reference: BaseLanceConnectorSmokeTest.java:163-180 — REPLACE with
    // a different schema must serve the new shape, not a merge
    spark.sql(s"DROP TABLE IF EXISTS ${t("rtas")}")
    spark.sql(s"CREATE TABLE ${t("rtas")} AS SELECT id AS a FROM range(0, 7, 1, 1)")
    assert(spark.table(t("rtas")).columns.toSeq == Seq("a"))
    spark.sql(s"REPLACE TABLE ${t("rtas")} AS " +
      "SELECT CAST(id AS STRING) AS b, id * 2 AS c FROM range(0, 3, 1, 1)")
    val after = spark.table(t("rtas"))
    assert(after.columns.toSeq == Seq("b", "c"))
    assert(after.count() == 3)
    assert(after.where(col("b") === "2").head.getLong(1) == 4L)
    spark.sql(s"DROP TABLE ${t("rtas")}")
  }

  test(s"[$cat] dotted column names rejected; drop+recreate serves the " +
      "new generation") {
    ready
    // reference: BaseLanceConnectorTest.java:174-180
    def rootMsgs(x: Throwable): String = TestSpark.rootMsgs(x)
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE ${t("dotted")} (`a.b` BIGINT)")
    }
    assert(rootMsgs(e).contains("dots"))
    // a re-created table at the same name/path never serves the old
    // generation's data (manifest + segment caches must purge on drop)
    spark.sql(s"DROP TABLE IF EXISTS ${t("gen")}")
    spark.sql(s"CREATE TABLE ${t("gen")} AS SELECT 1 AS v")
    assert(spark.table(t("gen")).head.getInt(0) == 1)
    spark.sql(s"DROP TABLE ${t("gen")}")
    spark.sql(s"CREATE TABLE ${t("gen")} AS SELECT 2 AS v")
    assert(spark.table(t("gen")).head.getInt(0) == 2)
    assert(spark.table(t("gen")).count() == 1)
    spark.sql(s"DROP TABLE ${t("gen")}")
  }

  test(s"[$cat] schema evolution and TRUNCATE ride every backend") {
    ready
    spark.sql(s"DROP TABLE IF EXISTS ${t("evo")}")
    spark.sql(s"CREATE TABLE ${t("evo")} AS SELECT id AS k FROM range(0, 20, 1, 1)")
    spark.sql(s"ALTER TABLE ${t("evo")} ADD COLUMN note STRING")
    assert(spark.table(t("evo")).columns.toSeq == Seq("k", "note"))
    assert(spark.table(t("evo")).where("note IS NULL").count() == 20)
    spark.sql(s"INSERT INTO ${t("evo")} VALUES (100, 'tagged')")
    assert(spark.table(t("evo")).where("note = 'tagged'").count() == 1)
    spark.sql(s"TRUNCATE TABLE ${t("evo")}")
    assert(spark.table(t("evo")).count() == 0)
    // pre-truncate snapshot still time-travelable through this backend
    assert(spark.sql(s"SELECT count(*) FROM ${t("evo")} VERSION AS OF 1")
      .head.getLong(0) == 20)
    spark.sql(s"DROP TABLE ${t("evo")}")
  }

  test(s"[$cat] generation id: stamped at create, survives commits, " +
      "fresh after drop + re-create") {
    ready
    def id(): String = spark.sql(s"SHOW TBLPROPERTIES ${t("gen")}")
      .collect().find(_.getString(0) == "graft.table_id")
      .map(_.getString(1))
      .getOrElse(fail(s"[$cat] graft.table_id not stamped"))
    spark.sql(s"DROP TABLE IF EXISTS ${t("gen")}")
    spark.sql(s"CREATE TABLE ${t("gen")} (k BIGINT)")
    val a = id()
    spark.sql(s"INSERT INTO ${t("gen")} VALUES (1)")
    assert(id() == a, s"[$cat] the id must survive commits")
    // a new history is a new generation — strict streams and bookmarked
    // syncs rely on the ids differing
    spark.sql(s"DROP TABLE ${t("gen")}")
    spark.sql(s"CREATE TABLE ${t("gen")} (k BIGINT)")
    assert(id() != a, s"[$cat] re-created table must mint a fresh id")
    spark.sql(s"DROP TABLE ${t("gen")}")
  }

  test(s"[$cat] namespace mode contract") {
    ready
    if (singleLevel) {
      // reference: lance.single_level_ns — one virtual namespace, no DDL
      assert(spark.sql(s"SHOW NAMESPACES IN $cat").collect()
        .map(_.getString(0)).toSeq == Seq("default"))
      val e = intercept[Exception](spark.sql(s"CREATE NAMESPACE $cat.other"))
      assert(e.getMessage.contains("single_level_ns"))
    } else {
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.extra_ns")
      assert(spark.sql(s"SHOW NAMESPACES IN $cat").collect()
        .map(_.getString(0)).contains("extra_ns"))
      spark.sql(s"DROP NAMESPACE $cat.extra_ns")
      assert(!spark.sql(s"SHOW NAMESPACES IN $cat").collect()
        .map(_.getString(0)).contains("extra_ns"))
    }
  }
}

/** dir backend (reference: TestLanceConnectorTest — the default leg). */
class DirDeploymentConformance extends DeploymentConformanceBase {
  import TestSpark._
  protected def cat = "dcdir"
  protected def configure(): Unit = {
    val wh = tempDir("graft-dcdir-wh").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
  }
}

/** s3a backend: every byte over HTTP against the in-process S3 store
  * (reference: TestLanceS3DefaultConnectorTest over LocalStack). */
class S3aDeploymentConformance extends DeploymentConformanceBase {
  import TestSpark._
  protected def cat = "dcs3"
  protected def configure(): Unit = {
    val srv = S3LiteServer.shared
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3a.impl", classOf[S3LiteFileSystem].getName)
    hc.set(S3LiteFileSystem.EndpointKey, srv.endpoint)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", "s3a://dcs3wh/wh")
  }
}

/** REST namespace service, default (multi-level) mode (reference:
  * BaseLanceRestConnectorTest). */
class RestDeploymentConformance extends DeploymentConformanceBase {
  import TestSpark._
  protected def cat = "dcrest"
  protected def configure(): Unit = {
    val wh = tempDir("graft-dcrest-wh").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftRestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.uri",
      s"http://127.0.0.1:${FakeNamespaceService.port}")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
  }
}

/** REST service mounted single-level below a parent prefix (reference:
  * TestLanceRestSingleLevelConnectorSmokeTest; lance.parent +
  * lance.single_level_ns). */
class RestSingleLevelDeploymentConformance extends DeploymentConformanceBase {
  import TestSpark._
  protected def cat = "dcsl"
  override protected def ns = "default"
  override protected def singleLevel = true
  protected def configure(): Unit = {
    val wh = tempDir("graft-dcsl-wh").toString
    FakeNamespaceService.port // ensure started
    FakeNamespaceService.store.getOrElseUpdate("depm",
      new scala.collection.concurrent.TrieMap())
    FakeNamespaceService.store.getOrElseUpdate("depm$sl",
      new scala.collection.concurrent.TrieMap())
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftRestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.uri",
      s"http://127.0.0.1:${FakeNamespaceService.port}")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.conf.set(s"spark.sql.catalog.$cat.parent", "depm$sl")
    spark.conf.set(s"spark.sql.catalog.$cat.single_level_ns", "true")
  }
}

/** Glue backend: AWS Glue JSON protocol against the in-process stub
  * (reference: the glue namespace impl, LanceConfig.java:43-65). */
class GlueDeploymentConformance extends DeploymentConformanceBase {
  import TestSpark._
  protected def cat = "dcglue"
  override protected def ns = "gluedc"
  protected def configure(): Unit = {
    val wh = tempDir("graft-dcglue-wh").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftGlueCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.endpoint",
      s"http://127.0.0.1:${FakeGlueService.port}")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
  }
}

/** Hive backend: real HMS Thrift binary protocol against the in-process
  * metastore (reference: hive2/hive3 namespace impls). */
class HiveDeploymentConformance extends DeploymentConformanceBase {
  import TestSpark._
  protected def cat = "dchive"
  override protected def ns = "hivedc"
  protected def configure(): Unit = {
    val wh = tempDir("graft-dchive-wh").toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftHiveCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.uri",
      s"thrift://127.0.0.1:${FakeHiveMetastore.port}")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
  }
}

/** Both dimensions at once: REST single-level catalog whose tables live
  * on the S3 object store — the far corner of the reference's matrix
  * (TestLanceS3SingleLevelConnectorSmokeTest). */
class RestSingleLevelS3aDeploymentConformance extends DeploymentConformanceBase {
  import TestSpark._
  protected def cat = "dcsls3"
  override protected def ns = "default"
  override protected def singleLevel = true
  protected def configure(): Unit = {
    val srv = S3LiteServer.shared
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3a.impl", classOf[S3LiteFileSystem].getName)
    hc.set(S3LiteFileSystem.EndpointKey, srv.endpoint)
    FakeNamespaceService.port
    FakeNamespaceService.store.getOrElseUpdate("depm",
      new scala.collection.concurrent.TrieMap())
    FakeNamespaceService.store.getOrElseUpdate("depm$sls3",
      new scala.collection.concurrent.TrieMap())
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftRestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.uri",
      s"http://127.0.0.1:${FakeNamespaceService.port}")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", "s3a://dcsls3wh/wh")
    spark.conf.set(s"spark.sql.catalog.$cat.parent", "depm$sls3")
    spark.conf.set(s"spark.sql.catalog.$cat.single_level_ns", "true")
    // REST catalogs also receive hadoop.* per-catalog options — prove
    // the s3a wiring flows through that channel too
    spark.conf.set(s"spark.sql.catalog.$cat.hadoop.fs.s3a.impl",
      classOf[S3LiteFileSystem].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.hadoop.${S3LiteFileSystem.EndpointKey}",
      srv.endpoint)
  }
}
