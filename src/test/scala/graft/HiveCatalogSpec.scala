package graft

import java.lang.reflect.{InvocationHandler, Method, Proxy}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.hadoop.hive.metastore.api.{AlreadyExistsException, Database, InvalidObjectException, NoSuchObjectException, StorageDescriptor, Table, ThriftHiveMetastore}
import org.apache.thrift.server.TThreadPoolServer
import org.apache.thrift.transport.TServerSocket
import org.scalatest.funsuite.AnyFunSuite

/** In-process Hive Metastore speaking the REAL HMS Thrift binary
  * protocol (ThriftHiveMetastore.Processor over a TServerSocket) — the
  * offline stand-in for the reference's `lance.impl=hive2`/`hive3`
  * deployments (LanceConfig.java:60). Only the eight operations the
  * graft client uses are implemented; everything else throws, so an
  * accidental extra dependency on the metastore surface fails loudly. */
object FakeHiveMetastore {
  // database -> (table -> location)
  val store = new TrieMap[String, TrieMap[String, String]]()

  // One-shot fault injection (libthrift rethrows handler
  // TTransportExceptions, so the server closes the connection
  // responseless). After-commit = "committed but the client never heard
  // back"; before-commit = "request effectively never delivered" (the
  // send-phase stale-socket death) — the two windows a retrying client
  // must distinguish when the retry then hits a conflict.
  @volatile var killNextMutationAfterCommit = false
  @volatile var killNextMutationBeforeCommit = false
  private def maybeKill(): Unit =
    if (killNextMutationAfterCommit) {
      killNextMutationAfterCommit = false
      throw new org.apache.thrift.transport.TTransportException(
        "injected post-commit transport death")
    }
  private def maybeKillBefore(): Unit =
    if (killNextMutationBeforeCommit) {
      killNextMutationBeforeCommit = false
      throw new org.apache.thrift.transport.TTransportException(
        "injected pre-commit transport death")
    }

  private val handler = new InvocationHandler {
    override def invoke(proxy: Any, m: Method, args: Array[AnyRef]): AnyRef =
      m.getName match {
        case "get_all_databases" =>
          new java.util.ArrayList(store.keys.toSeq.sorted.asJava)
        case "create_database" =>
          val db = args(0).asInstanceOf[Database]
          if (store.contains(db.getName))
            throw new AlreadyExistsException(db.getName)
          store.put(db.getName, new TrieMap())
          null
        case "get_database" =>
          val n = args(0).asInstanceOf[String]
          if (!store.contains(n)) throw new NoSuchObjectException(n)
          new Database(n, "", null, null)
        case "drop_database" =>
          val n = args(0).asInstanceOf[String]
          if (store.remove(n).isEmpty) throw new NoSuchObjectException(n)
          null
        case "get_all_tables" =>
          new java.util.ArrayList(store.get(args(0).asInstanceOf[String])
            .map(_.keys.toSeq.sorted).getOrElse(Seq.empty).asJava)
        case "get_table" =>
          val d = args(0).asInstanceOf[String]
          val t = args(1).asInstanceOf[String]
          store.get(d).flatMap(_.get(t)) match {
            case None => throw new NoSuchObjectException(s"$d.$t")
            case Some(loc) =>
              val sd = new StorageDescriptor()
              sd.setLocation(loc)
              val tbl = new Table()
              tbl.setDbName(d)
              tbl.setTableName(t)
              tbl.setSd(sd)
              tbl.setParameters(
                java.util.Map.of("graft.test.vended", s"hive-$t"))
              tbl
          }
        case "create_table" =>
          maybeKillBefore()
          val t = args(0).asInstanceOf[Table]
          store.get(t.getDbName) match {
            case None =>
              throw new InvalidObjectException(s"no database ${t.getDbName}")
            case Some(ts) =>
              if (ts.contains(t.getTableName))
                throw new AlreadyExistsException(t.getTableName)
              ts.put(t.getTableName, t.getSd.getLocation)
              maybeKill()
              null
          }
        case "drop_table" =>
          val d = args(0).asInstanceOf[String]
          val t = args(1).asInstanceOf[String]
          if (store.get(d).exists(_.remove(t).isDefined)) { maybeKill(); null }
          else throw new NoSuchObjectException(s"$d.$t")
        case other =>
          throw new UnsupportedOperationException(s"fake HMS: $other")
      }
  }

  lazy val port: Int = {
    val iface = Proxy.newProxyInstance(getClass.getClassLoader,
      Array(classOf[ThriftHiveMetastore.Iface]), handler)
      .asInstanceOf[ThriftHiveMetastore.Iface]
    val serverTransport = new TServerSocket(0)
    val server = new TThreadPoolServer(
      new TThreadPoolServer.Args(serverTransport)
        .processor(new ThriftHiveMetastore.Processor(iface)))
    val t = new Thread(() => server.serve(), "fake-hive-metastore")
    t.setDaemon(true)
    t.start()
    serverTransport.getServerSocket.getLocalPort
  }
}

/** The shared catalog behaviors (GraftRestCatalog's logic) running
  * against the FOURTH backend — same scenarios as RestCatalogSpec /
  * GlueCatalogSpec's core, now over the HMS Thrift wire protocol. */
class HiveCatalogSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val ready: Unit = {
    val wh = tempDir("graft-hive-wh").toString
    spark.conf.set("spark.sql.catalog.hc", "graft.catalog.GraftHiveCatalog")
    spark.conf.set("spark.sql.catalog.hc.uri",
      s"thrift://127.0.0.1:${FakeHiveMetastore.port}")
    spark.conf.set("spark.sql.catalog.hc.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS hc.db")
  }

  test("database CRUD through the HMS Thrift protocol") {
    ready
    spark.sql("CREATE NAMESPACE IF NOT EXISTS hc.crud")
    assert(spark.sql("SHOW NAMESPACES IN hc").collect()
      .map(_.getString(0)).contains("crud"))
    spark.sql("DROP NAMESPACE hc.crud")
    assert(!spark.sql("SHOW NAMESPACES IN hc").collect()
      .map(_.getString(0)).contains("crud"))
  }

  test("create, insert, read, time-travel, drop an HMS-resolved table") {
    ready
    spark.sql("DROP TABLE IF EXISTS hc.db.t")
    spark.sql("CREATE TABLE hc.db.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO hc.db.t VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO hc.db.t VALUES (3, 'c')")
    assert(spark.table("hc.db.t").count() == 3)
    assert(spark.sql("SELECT * FROM hc.db.t VERSION AS OF 2").count() == 2)
    assert(spark.sql("SHOW TABLES IN hc.db").collect()
      .map(_.getString(1)).contains("t"))
    spark.sql("DROP TABLE hc.db.t")
    assert(!spark.sql("SHOW TABLES IN hc.db").collect()
      .map(_.getString(1)).contains("t"))
  }

  test("atomic CTAS registers only after the data commit") {
    ready
    spark.sql("DROP TABLE IF EXISTS hc.db.ctas")
    spark.sql(
      "CREATE TABLE hc.db.ctas AS SELECT id AS k, id * 2 AS v FROM range(10)")
    assert(spark.table("hc.db.ctas").count() == 10)
    spark.sql("REPLACE TABLE hc.db.ctas AS SELECT id AS k FROM range(4)")
    assert(spark.table("hc.db.ctas").columns.toSeq == Seq("k"))
    assert(spark.table("hc.db.ctas").count() == 4)
  }

  test("DML (DELETE/UPDATE/MERGE) over the HMS backend") {
    ready
    spark.sql("DROP TABLE IF EXISTS hc.db.dml")
    spark.sql("CREATE TABLE hc.db.dml (id BIGINT, v STRING)")
    spark.sql("INSERT INTO hc.db.dml VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("DELETE FROM hc.db.dml WHERE id = 2")
    assert(spark.table("hc.db.dml").count() == 2)
    spark.sql("UPDATE hc.db.dml SET v = 'z' WHERE id = 3")
    assert(spark.sql("SELECT v FROM hc.db.dml WHERE id = 3")
      .head().getString(0) == "z")
  }

  test("HMS table parameters vend per-table storage options") {
    ready
    spark.sql("DROP TABLE IF EXISTS hc.db.vend")
    spark.sql("CREATE TABLE hc.db.vend (k BIGINT)")
    val cat = spark.sessionState.catalogManager.catalog("hc")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val t = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("db"), "vend")).asInstanceOf[graft.connector.GraftTable]
    assert(t.conf.get("graft.test.vended") == "hive-vend")
  }

  test("second CREATE conflicts; schema evolution works") {
    ready
    spark.sql("DROP TABLE IF EXISTS hc.db.dup")
    spark.sql("CREATE TABLE hc.db.dup (k BIGINT)")
    val e = intercept[Exception](spark.sql("CREATE TABLE hc.db.dup (k BIGINT)"))
    assert(e.getMessage.toLowerCase.contains("already exists"))
    spark.sql("ALTER TABLE hc.db.dup ADD COLUMN extra STRING")
    assert(spark.table("hc.db.dup").columns.toSeq == Seq("k", "extra"))
  }

  test("mutation retry after transport death does not misreport a " +
      "committed op (end-of-r8 ADVICE)") {
    import graft.catalog.{HiveNamespaceClient, NamespaceClient}
    val nc = new HiveNamespaceClient("127.0.0.1", FakeHiveMetastore.port)
    nc.createNamespace("rtns")
    // create commits server-side, connection dies responseless; the
    // reconnect-retry sees AlreadyExists — that is the first attempt's
    // own success, and must surface as Registered, not TableExists
    FakeHiveMetastore.killNextMutationAfterCommit = true
    assert(nc.registerTable("rtns", "t1", "/tmp/rtns_t1") ==
      NamespaceClient.Registered)
    assert(nc.describeTable("rtns", "t1").exists(_._1 == "/tmp/rtns_t1"))
    // a genuine duplicate (healthy transport) still reports TableExists
    assert(nc.registerTable("rtns", "t1", "/tmp/other") ==
      NamespaceClient.TableExists)
    // SEND-phase death (request never delivered) against a name another
    // writer genuinely owns: the retry's AlreadyExists is a real
    // conflict — the location probe must NOT claim it as our success
    FakeHiveMetastore.killNextMutationBeforeCommit = true
    assert(nc.registerTable("rtns", "t1", "/tmp/not_ours") ==
      NamespaceClient.TableExists)
    assert(nc.describeTable("rtns", "t1").exists(_._1 == "/tmp/rtns_t1"),
      "the conflicting registration must not clobber the owner")
    // same for drop: committed-then-died must report true, and a second
    // drop of the now-gone table reports false
    FakeHiveMetastore.killNextMutationAfterCommit = true
    assert(nc.deregisterTable("rtns", "t1"))
    assert(nc.describeTable("rtns", "t1").isEmpty)
    assert(!nc.deregisterTable("rtns", "t1"))
    nc.dropNamespace("rtns")
  }

  test("implicit namespace ancestors work over the HMS backend too") {
    ready
    spark.sql("CREATE NAMESPACE hc.deep.leaf")
    // multi-level names reach HMS as '__'-joined databases (HMS names
    // allow only [a-zA-Z0-9_]), translating back on listing
    assert(FakeHiveMetastore.store.contains("deep__leaf"),
      s"expected HMS-legal '__' join, store has ${FakeHiveMetastore.store.keys}")
    assert(spark.sql("SHOW NAMESPACES IN hc").collect()
      .map(_.getString(0)).contains("deep"))
    assert(spark.sql("SHOW TABLES IN hc.deep").collect().isEmpty)
    assert(spark.sql("SHOW NAMESPACES IN hc.deep").collect()
      .map(_.getString(0)).sameElements(Array("deep.leaf")))
    spark.sql("DROP NAMESPACE hc.deep CASCADE")
    assert(!spark.sql("SHOW NAMESPACES IN hc").collect()
      .map(_.getString(0)).contains("deep"))
  }
}
