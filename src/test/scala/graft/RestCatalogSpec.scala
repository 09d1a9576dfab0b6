package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.concurrent.TrieMap

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

/** In-process namespace service implementing the REST protocol
  * GraftRestCatalog speaks (lance-namespace-style: namespaces hold
  * name->location table registrations; data stays on the filesystem) —
  * the offline stand-in for the reference's REST deployment matrix
  * (BaseLanceRestConnectorTest / BaseLanceRestSmokeTest). */
object FakeNamespaceService {
  // ns -> (table -> location)
  val store = new TrieMap[String, TrieMap[String, String]]()

  /** When set, DescribeTable vends an expiring credential: a fresh
    * token per describe plus this expires_at (epoch millis). */
  @volatile var vendExpiresAtMs: Option[Long] = None
  val describeCount = new java.util.concurrent.atomic.AtomicInteger(0)

  private var server: HttpServer = _

  private def reply(x: HttpExchange, code: Int, body: String): Unit = {
    val b = body.getBytes(UTF_8)
    x.sendResponseHeaders(code, if (b.isEmpty) -1 else b.length)
    if (b.nonEmpty) x.getResponseBody.write(b)
    x.close()
  }

  private def jsonArr(field: String, vals: Iterable[String]): String =
    s"""{"$field":[${vals.toSeq.sorted.map(v => s""""$v"""").mkString(",")}]}"""

  lazy val port: Int = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v1/namespaces", (x: HttpExchange) => {
      val parts = x.getRequestURI.getPath.stripPrefix("/v1/namespaces")
        .split("/").filter(_.nonEmpty).map(
          java.net.URLDecoder.decode(_, UTF_8))
      val body = new String(x.getRequestBody.readAllBytes(), UTF_8)
      (x.getRequestMethod, parts.toList) match {
        case ("GET", Nil) => reply(x, 200, jsonArr("namespaces", store.keys))
        case ("POST", Nil) =>
          val name = """"name"\s*:\s*"([^"]*)"""".r
            .findFirstMatchIn(body).map(_.group(1)).getOrElse("")
          if (store.contains(name)) reply(x, 409, "{}")
          else { store.put(name, new TrieMap()); reply(x, 200, "{}") }
        case ("DELETE", ns :: Nil) =>
          store.get(ns) match {
            case None => reply(x, 404, "{}")
            case Some(ts) if ts.nonEmpty => reply(x, 409, "{}")
            case Some(_) => store.remove(ns); reply(x, 200, "{}")
          }
        case ("GET", ns :: "tables" :: Nil) =>
          store.get(ns) match {
            case None => reply(x, 404, "{}")
            case Some(ts) => reply(x, 200, jsonArr("tables", ts.keys))
          }
        case ("GET", ns :: "tables" :: t :: Nil) =>
          store.get(ns).flatMap(_.get(t)) match {
            case None => reply(x, 404, "{}")
            case Some(loc) =>
              // vend a per-table storage option with every DescribeTable
              // (the credential-vending channel); optionally an expiring
              // token that changes per resolve
              val n = describeCount.incrementAndGet()
              val extra = vendExpiresAtMs.map(e =>
                s""","graft.test.token":"tok-$n","expires_at":"$e"""")
                .getOrElse("")
              reply(x, 200,
                s"""{"location":"$loc","storage":{"graft.test.vended":"yes-$t",""" +
                  """"fs.graftmock.impl":"graft.MockCredsFs",""" +
                  s""""fs.graftmock.impl.disable.cache":"true"$extra}}""")
          }
        case ("POST", ns :: "tables" :: t :: Nil) =>
          store.get(ns) match {
            case None => reply(x, 404, "{}")
            case Some(ts) if ts.contains(t) => reply(x, 409, "{}")
            case Some(ts) =>
              val loc = """"location"\s*:\s*"([^"]*)"""".r
                .findFirstMatchIn(body).map(_.group(1)).getOrElse("")
              ts.put(t, loc); reply(x, 200, "{}")
          }
        case ("DELETE", ns :: "tables" :: t :: Nil) =>
          store.get(ns) match {
            case Some(ts) if ts.remove(t).isDefined => reply(x, 200, "{}")
            case _ => reply(x, 404, "{}")
          }
        case _ => reply(x, 400, "{}")
      }
    })
    server.setExecutor(null)
    server.start()
    server.getAddress.getPort
  }
}

class RestCatalogSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val ready: Unit = {
    val wh = tempDir("graft-rest-wh").toString
    spark.conf.set("spark.sql.catalog.rc", "graft.catalog.GraftRestCatalog")
    spark.conf.set("spark.sql.catalog.rc.uri",
      s"http://127.0.0.1:${FakeNamespaceService.port}")
    spark.conf.set("spark.sql.catalog.rc.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS rc.db")
  }

  test("namespace CRUD against the REST service") {
    ready
    spark.sql("CREATE NAMESPACE IF NOT EXISTS rc.other")
    val names = spark.sql("SHOW NAMESPACES IN rc").collect().map(_.getString(0))
    assert(names.contains("db") && names.contains("other"))
    spark.sql("DROP NAMESPACE rc.other")
    assert(!spark.sql("SHOW NAMESPACES IN rc").collect()
      .map(_.getString(0)).contains("other"))
  }

  test("create, insert, read, drop a table resolved via REST") {
    ready
    spark.sql("DROP TABLE IF EXISTS rc.db.t")
    spark.sql("CREATE TABLE rc.db.t (k BIGINT, s STRING)")
    spark.sql("INSERT INTO rc.db.t VALUES (1, 'a'), (2, 'b')")
    assert(spark.table("rc.db.t").count() == 2)
    // the service holds the registration; data location is on the FS
    assert(FakeNamespaceService.store("db").contains("t"))
    val loc = FakeNamespaceService.store("db")("t")
    assert(loc.endsWith("t.graft"))
    spark.sql("DROP TABLE rc.db.t")
    assert(!FakeNamespaceService.store("db").contains("t"))
  }

  test("atomic CTAS registers only after the data commit; time travel works") {
    ready
    spark.sql("DROP TABLE IF EXISTS rc.db.c")
    spark.sql("CREATE TABLE rc.db.c AS SELECT id AS k FROM range(0, 50, 1, 1)")
    spark.sql("INSERT INTO rc.db.c SELECT id + 50 FROM range(0, 50, 1, 1)")
    assert(spark.table("rc.db.c").count() == 100)
    assert(spark.sql("SELECT count(*) FROM rc.db.c VERSION AS OF 1")
      .head.getLong(0) == 50)
    // row-level DML rides the same Table implementation
    spark.sql("DELETE FROM rc.db.c WHERE k < 10")
    assert(spark.table("rc.db.c").count() == 90)
    spark.sql("UPDATE rc.db.c SET k = k + 1000 WHERE k >= 90 AND k < 100")
    assert(spark.table("rc.db.c").where("k >= 1000").count() == 10)
  }

  test("storage options: catalog hadoop.* options and service-vended " +
      "per-table options reach the table's Hadoop configuration") {
    ready
    // catalog-level: hadoop.-prefixed options flow into every FS conf
    val wh2 = tempDir("graft-rest-wh2").toString
    spark.conf.set("spark.sql.catalog.rc2", "graft.catalog.GraftRestCatalog")
    spark.conf.set("spark.sql.catalog.rc2.uri",
      s"http://127.0.0.1:${FakeNamespaceService.port}")
    spark.conf.set("spark.sql.catalog.rc2.warehouse", wh2)
    spark.conf.set("spark.sql.catalog.rc2.hadoop.graft.test.catalog", "opt1")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS rc2.db2")
    spark.sql("DROP TABLE IF EXISTS rc2.db2.sv")
    spark.sql("CREATE TABLE rc2.db2.sv (k BIGINT)")
    val cat = spark.sessionState.catalogManager.catalog("rc2")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val t = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("db2"), "sv")).asInstanceOf[graft.connector.GraftTable]
    assert(t.conf.get("graft.test.catalog") == "opt1")
    // per-table: DescribeTable's vended storage options win
    assert(t.conf.get("graft.test.vended") == "yes-sv")
    spark.sql("DROP NAMESPACE rc2.db2 CASCADE")
  }

  test("ALTER TABLE schema evolution works through the REST catalog") {
    ready
    spark.sql("DROP TABLE IF EXISTS rc.db.ev")
    spark.sql("CREATE TABLE rc.db.ev (k BIGINT, s STRING)")
    spark.sql("INSERT INTO rc.db.ev VALUES (1, 'a')")
    spark.sql("ALTER TABLE rc.db.ev ADD COLUMN score DOUBLE")
    // pre-evolution rows null-fill the new column
    val row = spark.table("rc.db.ev").head
    assert(row.isNullAt(2))
    spark.sql("INSERT INTO rc.db.ev VALUES (2, 'b', 0.5)")
    assert(spark.table("rc.db.ev").where("score IS NOT NULL").count() == 1)
    spark.sql("ALTER TABLE rc.db.ev DROP COLUMN s")
    assert(spark.table("rc.db.ev").schema.fieldNames.toSeq ==
      Seq("k", "score"))
    spark.sql("DROP TABLE rc.db.ev")
  }

  test("vended credential expiry: conf re-resolves inside the refresh " +
      "window, stays cached outside it") {
    ready
    spark.sql("DROP TABLE IF EXISTS rc.db.exp")
    spark.sql("CREATE TABLE rc.db.exp (k BIGINT)")
    spark.sql("INSERT INTO rc.db.exp VALUES (1)")
    val cat = spark.sessionState.catalogManager.catalog("rc")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("db"), "exp")
    try {
      // token valid well past the 5-min refresh window: resolved once
      FakeNamespaceService.vendExpiresAtMs =
        Some(System.currentTimeMillis() + 30 * 60 * 1000L)
      val t1 = cat.loadTable(ident).asInstanceOf[graft.connector.GraftTable]
      val tokA = t1.conf.get("graft.test.token")
      assert(tokA != null)
      assert(t1.conf.get("graft.test.token") == tokA,
        "long-lived credentials re-resolved unnecessarily")
      // the reserved expiry key never reaches the Hadoop conf
      assert(t1.conf.get("expires_at") == null)
      // STS-style short-lived token (inside the window from the start):
      // re-resolves near expiry but NOT on every access — a token whose
      // TTL never leaves the window must not turn each conf read into a
      // blocking DescribeTable round trip (refresh thrash)
      FakeNamespaceService.vendExpiresAtMs =
        Some(System.currentTimeMillis() + 60 * 1000L)
      val t2 = cat.loadTable(ident).asInstanceOf[graft.connector.GraftTable]
      val tok1 = t2.conf.get("graft.test.token")
      val tok2 = t2.conf.get("graft.test.token")
      assert(tok1 == tok2,
        "expiring credentials re-resolved on every access (refresh thrash)")
      // once the retry throttle lapses (forced to 0 here), the next
      // access re-resolves to the freshest credential
      spark.conf.set("spark.graft.credential.refresh.retry.ms", "0")
      try {
        val tok3 = t2.conf.get("graft.test.token")
        assert(tok3 != tok2, "expiring credentials were not re-resolved")
      } finally spark.conf.unset("spark.graft.credential.refresh.retry.ms")
      // reads still work through a re-resolve
      assert(spark.table("rc.db.exp").count() == 1)
      // HARD expiry bypasses the retry throttle entirely: a token past
      // its expires_at must re-resolve on EVERY access even though the
      // default 30s throttle has not lapsed — otherwise a TTL shorter
      // than the retry interval (or one transient DescribeTable failure
      // near expiry) leaves executors planning with a dead credential
      FakeNamespaceService.vendExpiresAtMs =
        Some(System.currentTimeMillis() - 1000L)
      val t3 = cat.loadTable(ident).asInstanceOf[graft.connector.GraftTable]
      val dead1 = t3.conf.get("graft.test.token")
      val dead2 = t3.conf.get("graft.test.token")
      assert(dead1 != dead2,
        "hard-expired credential was served from cache inside the throttle")
    } finally {
      FakeNamespaceService.vendExpiresAtMs = None
      spark.sql("DROP TABLE IF EXISTS rc.db.exp")
    }
  }

  test("multi-level namespaces: create/list/use/drop a nested namespace " +
      "through the REST catalog") {
    ready
    spark.sql("CREATE NAMESPACE IF NOT EXISTS rc.ml")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS rc.ml.child")
    // parent listing shows the child; top-level listing shows only ml
    val children = spark.sql("SHOW NAMESPACES IN rc.ml").collect()
      .map(_.getString(0))
    assert(children.contains("ml.child"), children.mkString(","))
    val top = spark.sql("SHOW NAMESPACES IN rc").collect().map(_.getString(0))
    assert(top.contains("ml") && !top.exists(_.contains("child")))
    // tables resolve under the nested namespace
    spark.sql("CREATE TABLE rc.ml.child.t AS SELECT id FROM range(7)")
    assert(spark.table("rc.ml.child.t").count() == 7)
    assert(spark.sql("SHOW TABLES IN rc.ml.child").collect()
      .map(_.getString(1)).contains("t"))
    // non-cascade drop of a parent with children refuses
    val e = intercept[Exception](spark.sql("DROP NAMESPACE rc.ml"))
    assert(e.getMessage.toLowerCase.contains("not empty")
      || e.getMessage.toLowerCase.contains("non-empty"), e.getMessage)
    // cascade drops child namespaces and their tables
    spark.sql("DROP NAMESPACE rc.ml CASCADE")
    assert(!spark.sql("SHOW NAMESPACES IN rc").collect()
      .map(_.getString(0)).contains("ml"))
  }

  test("second CREATE of the same name conflicts via the service") {
    ready
    spark.sql("DROP TABLE IF EXISTS rc.db.dup")
    spark.sql("CREATE TABLE rc.db.dup (k BIGINT)")
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE rc.db.dup (k BIGINT)")
    }
    assert(e.getMessage.toLowerCase.contains("already exists"))
  }

  test("implicit namespace ancestors: a listed parent is navigable") {
    ready
    // store ONLY the leaf: "anc$leaf" exists, "anc" has no stored entry
    spark.sql("CREATE NAMESPACE rc.anc.leaf")
    val top = spark.sql("SHOW NAMESPACES IN rc").collect().map(_.getString(0))
    assert(top.contains("anc"), top.mkString(","))
    // the hierarchy the catalog lists must not throw when navigated:
    // SHOW TABLES / DESCRIBE / SHOW NAMESPACES against the implicit parent
    assert(spark.sql("SHOW TABLES IN rc.anc").collect().isEmpty)
    spark.sql("DESCRIBE NAMESPACE rc.anc")
    val kids = spark.sql("SHOW NAMESPACES IN rc.anc").collect()
      .map(_.getString(0))
    assert(kids.sameElements(Array("anc.leaf")), kids.mkString(","))
    // deep implicit ancestors too: only "a$b$c" stored -> ["a","b"] is a
    // child of ["a"] and itself navigable
    spark.sql("CREATE NAMESPACE rc.a.b.c")
    assert(spark.sql("SHOW NAMESPACES IN rc.a").collect()
      .map(_.getString(0)).sameElements(Array("a.b")))
    assert(spark.sql("SHOW TABLES IN rc.a.b").collect().isEmpty)
    // cascade-drop of an implicit ancestor removes its stored descendants
    spark.sql("DROP NAMESPACE rc.anc CASCADE")
    spark.sql("DROP NAMESPACE rc.a CASCADE")
    val after = spark.sql("SHOW NAMESPACES IN rc").collect().map(_.getString(0))
    assert(!after.contains("anc") && !after.contains("a"), after.mkString(","))
  }

  test("maintenance procedures run under the catalog's vended table conf") {
    ready
    // a graft table on a scheme whose FileSystem impl arrives ONLY via
    // DescribeTable's vended storage options — a maintenance call built
    // from the bare session conf cannot even resolve the FileSystem
    val local = tempDir("graft-vendfs")
    val dir = new org.apache.hadoop.fs.Path(local.toString, "vt.graft")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    import spark.implicits._
    graft.connector.GraftWriter.write(fs, fs.makeQualified(dir),
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), overwrite = true)
    FakeNamespaceService.store("db").put("vt",
      "graftmock:" + fs.makeQualified(dir).toUri.getPath)
    try {
      val h = spark.sql("CALL rc.system.history('db.vt')").collect()
      assert(h.length == 1 && h.head.getLong(4) == 2,
        h.map(_.toString).mkString(","))
      // compact exercises the EXECUTOR side too: the distributed
      // parquet read (liveRowsOf) and the staging write must carry the
      // vended options into their per-relation Hadoop conf — with the
      // bare session conf the scheme cannot even resolve
      graft.connector.GraftWriter.write(fs, fs.makeQualified(dir),
        Seq((3L, "c")).toDF("id", "v"), overwrite = false)
      val c = spark.sql(
        "CALL rc.system.compact(`table` => 'db.vt', min_rows => 1000)").head
      assert(c.getInt(0) >= 2, s"expected >=2 fragments compacted, got $c")
      val h2 = spark.sql("CALL rc.system.history('db.vt')").collect()
      assert(h2.head.getLong(4) == 3, "compact must preserve all rows")
    } finally FakeNamespaceService.store("db").remove("vt")
  }
}

/** The reference's namespace-mount modes (`lance.parent` /
  * `lance.single_level_ns`, LanceConfig.java:69-106) over the shared
  * catalog logic — a second/third catalog against the SAME fake
  * service, rooted below a prefix. */
class NamespaceMountSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val ready: Unit = {
    val wh = tempDir("graft-mount-wh").toString
    for ((cat, extra) <- Seq(
        ("mb", Map.empty[String, String]), // base, un-rooted view
        ("mp", Map("parent" -> "par")), // rooted at par
        ("ms", Map("parent" -> "par$sub", "single_level_ns" -> "true")))) {
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.catalog.GraftRestCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.uri",
        s"http://127.0.0.1:${FakeNamespaceService.port}")
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      extra.foreach { case (k, v) =>
        spark.conf.set(s"spark.sql.catalog.$cat.$k", v) }
    }
    spark.sql("CREATE NAMESPACE IF NOT EXISTS mb.par.sub")
  }

  test("parent mode roots the visible hierarchy below the prefix, " +
      "sharing tables with the un-rooted view") {
    ready
    spark.sql("DROP TABLE IF EXISTS mb.par.sub.t")
    spark.sql("CREATE TABLE mb.par.sub.t (k BIGINT)")
    spark.sql("INSERT INTO mb.par.sub.t VALUES (1), (2)")
    // the rooted catalog sees par's children at its top level
    assert(spark.sql("SHOW NAMESPACES IN mp").collect()
      .map(_.getString(0)).contains("sub"))
    // ...and par itself is not a visible namespace there
    assert(!spark.sql("SHOW NAMESPACES IN mp").collect()
      .map(_.getString(0)).contains("par"))
    // same physical table through both mounts
    assert(spark.table("mp.sub.t").count() == 2)
    // a table created through the rooted mount appears in the base view
    spark.sql("DROP TABLE IF EXISTS mp.sub.t2")
    spark.sql("CREATE TABLE mp.sub.t2 AS SELECT 42 AS v")
    assert(spark.table("mb.par.sub.t2").head().getInt(0) == 42)
    spark.sql("DROP TABLE mp.sub.t2")
    spark.sql("DROP TABLE mb.par.sub.t")
  }

  test("single_level_ns exposes one virtual 'default' namespace; " +
      "schema DDL is disallowed") {
    ready
    assert(spark.sql("SHOW NAMESPACES IN ms").collect()
      .map(_.getString(0)).toSeq == Seq("default"))
    spark.sql("DROP TABLE IF EXISTS ms.default.st")
    spark.sql("CREATE TABLE ms.default.st AS SELECT 7 AS k")
    // the table physically lives under par$sub in the service
    assert(spark.table("mb.par.sub.st").head().getInt(0) == 7)
    assert(spark.table("ms.default.st").count() == 1)
    val e1 = intercept[Exception](spark.sql("CREATE NAMESPACE ms.other"))
    assert(e1.getMessage.contains("single_level_ns"), e1.getMessage)
    val e2 = intercept[Exception](spark.sql("DROP NAMESPACE ms.default"))
    assert(e2.getMessage.contains("single_level_ns"), e2.getMessage)
    spark.sql("DROP TABLE ms.default.st")
  }
}

/** A RawLocalFileSystem under scheme `graftmock:` — registered ONLY via
  * the fake service's vended `fs.graftmock.impl` storage option, so any
  * code path that drops the vended per-table configuration fails with
  * "No FileSystem for scheme" instead of silently using default creds. */
class MockCredsFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftmock"
  override def getUri: java.net.URI = java.net.URI.create("graftmock:///")
}
