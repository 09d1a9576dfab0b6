package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.concurrent.TrieMap

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

/** In-process AWS-Glue-shaped catalog service: speaks the Glue JSON
  * protocol (`X-Amz-Target: AWSGlue.<Op>`, `{"__type": ...}` errors) the
  * GlueNamespaceClient expects — the offline stand-in for the
  * reference's `lance.impl=glue` deployment (LanceConfig.java:60). */
object FakeGlueService {
  // database -> (table -> location)
  val store = new TrieMap[String, TrieMap[String, String]]()

  private var server: HttpServer = _

  private def reply(x: HttpExchange, code: Int, body: String): Unit = {
    val b = body.getBytes(UTF_8)
    x.sendResponseHeaders(code, if (b.isEmpty) -1 else b.length)
    if (b.nonEmpty) x.getResponseBody.write(b)
    x.close()
  }

  private def err(x: HttpExchange, t: String): Unit =
    reply(x, 400, s"""{"__type":"$t","Message":"$t"}""")

  private def field(body: String, name: String): Option[String] =
    (s""""$name"\\s*:\\s*"([^"]*)"""").r.findFirstMatchIn(body).map(_.group(1))

  lazy val port: Int = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (x: HttpExchange) => {
      val op = Option(x.getRequestHeaders.getFirst("X-Amz-Target"))
        .getOrElse("").stripPrefix("AWSGlue.")
      val body = new String(x.getRequestBody.readAllBytes(), UTF_8)
      op match {
        case "GetDatabases" =>
          reply(x, 200, s"""{"DatabaseList":[${store.keys.toSeq.sorted
            .map(n => s"""{"Name":"$n"}""").mkString(",")}]}""")
        case "CreateDatabase" =>
          val name = field(body, "Name").getOrElse("")
          if (store.contains(name)) err(x, "AlreadyExistsException")
          else { store.put(name, new TrieMap()); reply(x, 200, "{}") }
        case "DeleteDatabase" =>
          val name = field(body, "Name").getOrElse("")
          if (store.remove(name).isDefined) reply(x, 200, "{}")
          else err(x, "EntityNotFoundException")
        case "GetTables" =>
          store.get(field(body, "DatabaseName").getOrElse("")) match {
            case None => err(x, "EntityNotFoundException")
            case Some(ts) => reply(x, 200,
              s"""{"TableList":[${ts.keys.toSeq.sorted
                .map(n => s"""{"Name":"$n"}""").mkString(",")}]}""")
          }
        case "GetTable" =>
          store.get(field(body, "DatabaseName").getOrElse(""))
            .flatMap(ts => field(body, "Name").flatMap(n =>
              ts.get(n).map(n -> _))) match {
            case None => err(x, "EntityNotFoundException")
            case Some((n, loc)) => reply(x, 200,
              s"""{"Table":{"Name":"$n","StorageDescriptor":{"Location":"$loc"},""" +
                s""""Parameters":{"graft.test.vended":"glue-$n"}}}""")
          }
        case "CreateTable" =>
          store.get(field(body, "DatabaseName").getOrElse("")) match {
            case None => err(x, "EntityNotFoundException")
            case Some(ts) =>
              val n = field(body, "Name").getOrElse("")
              if (ts.contains(n)) err(x, "AlreadyExistsException")
              else {
                ts.put(n, field(body, "Location").getOrElse(""))
                reply(x, 200, "{}")
              }
          }
        case "DeleteTable" =>
          store.get(field(body, "DatabaseName").getOrElse("")) match {
            case Some(ts)
              if field(body, "Name").exists(ts.remove(_).isDefined) =>
              reply(x, 200, "{}")
            case _ => err(x, "EntityNotFoundException")
          }
        case other => err(x, s"UnknownOperationException:$other")
      }
    })
    server.setExecutor(null)
    server.start()
    server.getAddress.getPort
  }
}

/** The shared catalog behaviors (GraftRestCatalog's logic) running
  * against the THIRD backend — same scenarios as RestCatalogSpec's
  * core, now over the Glue wire protocol. */
class GlueCatalogSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val ready: Unit = {
    val wh = tempDir("graft-glue-wh").toString
    spark.conf.set("spark.sql.catalog.gc", "graft.catalog.GraftGlueCatalog")
    spark.conf.set("spark.sql.catalog.gc.endpoint",
      s"http://127.0.0.1:${FakeGlueService.port}")
    spark.conf.set("spark.sql.catalog.gc.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gc.db")
  }

  test("database CRUD through the Glue protocol") {
    ready
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gc.crud")
    assert(spark.sql("SHOW NAMESPACES IN gc").collect()
      .map(_.getString(0)).contains("crud"))
    spark.sql("DROP NAMESPACE gc.crud")
    assert(!spark.sql("SHOW NAMESPACES IN gc").collect()
      .map(_.getString(0)).contains("crud"))
  }

  test("create, insert, read, time-travel, drop a Glue-resolved table") {
    ready
    spark.sql("DROP TABLE IF EXISTS gc.db.t")
    spark.sql("CREATE TABLE gc.db.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO gc.db.t VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO gc.db.t VALUES (3, 'c')")
    assert(spark.table("gc.db.t").count() == 3)
    assert(spark.sql("SELECT * FROM gc.db.t VERSION AS OF 2").count() == 2)
    assert(spark.sql("SHOW TABLES IN gc.db").collect()
      .map(_.getString(1)).contains("t"))
    spark.sql("DROP TABLE gc.db.t")
    assert(!spark.sql("SHOW TABLES IN gc.db").collect()
      .map(_.getString(1)).contains("t"))
  }

  test("atomic CTAS registers only after the data commit") {
    ready
    spark.sql("DROP TABLE IF EXISTS gc.db.ctas")
    spark.sql(
      "CREATE TABLE gc.db.ctas AS SELECT id AS k, id * 2 AS v FROM range(10)")
    assert(spark.table("gc.db.ctas").count() == 10)
    // REPLACE goes through stageReplace at the SAME location
    spark.sql("REPLACE TABLE gc.db.ctas AS SELECT id AS k FROM range(4)")
    assert(spark.table("gc.db.ctas").columns.toSeq == Seq("k"))
    assert(spark.table("gc.db.ctas").count() == 4)
  }

  test("DML (DELETE/UPDATE/MERGE) over the Glue backend") {
    ready
    spark.sql("DROP TABLE IF EXISTS gc.db.dml")
    spark.sql("CREATE TABLE gc.db.dml (id BIGINT, v STRING)")
    spark.sql("INSERT INTO gc.db.dml VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("DELETE FROM gc.db.dml WHERE id = 2")
    assert(spark.table("gc.db.dml").count() == 2)
    spark.sql("UPDATE gc.db.dml SET v = 'z' WHERE id = 3")
    assert(spark.sql("SELECT v FROM gc.db.dml WHERE id = 3")
      .head().getString(0) == "z")
  }

  test("Glue table Parameters vend per-table storage options") {
    ready
    spark.sql("DROP TABLE IF EXISTS gc.db.vend")
    spark.sql("CREATE TABLE gc.db.vend (k BIGINT)")
    val cat = spark.sessionState.catalogManager.catalog("gc")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val t = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("db"), "vend")).asInstanceOf[graft.connector.GraftTable]
    assert(t.conf.get("graft.test.vended") == "glue-vend")
  }

  test("second CREATE conflicts; schema evolution works") {
    ready
    spark.sql("DROP TABLE IF EXISTS gc.db.dup")
    spark.sql("CREATE TABLE gc.db.dup (k BIGINT)")
    val e = intercept[Exception](spark.sql("CREATE TABLE gc.db.dup (k BIGINT)"))
    assert(e.getMessage.toLowerCase.contains("already exists"))
    spark.sql("ALTER TABLE gc.db.dup ADD COLUMN extra STRING")
    assert(spark.table("gc.db.dup").columns.toSeq == Seq("k", "extra"))
  }

  test("implicit namespace ancestors work over the Glue backend too") {
    ready
    spark.sql("CREATE NAMESPACE gc.deep.leaf")
    // multi-level names reach Glue as '__'-joined databases (real AWS
    // Glue forbids '$' in database names), and translate back on listing
    assert(FakeGlueService.store.contains("deep__leaf"),
      s"expected Glue-legal '__' join, store has ${FakeGlueService.store.keys}")
    assert(spark.sql("SHOW NAMESPACES IN gc").collect()
      .map(_.getString(0)).contains("deep"))
    assert(spark.sql("SHOW TABLES IN gc.deep").collect().isEmpty)
    assert(spark.sql("SHOW NAMESPACES IN gc.deep").collect()
      .map(_.getString(0)).sameElements(Array("deep.leaf")))
    spark.sql("DROP NAMESPACE gc.deep CASCADE")
    assert(!spark.sql("SHOW NAMESPACES IN gc").collect()
      .map(_.getString(0)).contains("deep"))
  }
}
