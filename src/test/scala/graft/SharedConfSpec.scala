package graft

import java.io.{ByteArrayOutputStream, ObjectOutputStream}
import java.net.URI
import java.nio.charset.StandardCharsets.US_ASCII

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.TaskBinaries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.connector.{GraftReaderFactory, GraftTable}
import graft.format.GraftFormat
import graft.operators.TextOps
import graft.ops.MinhashStore

/** Executor-side readers, writers and task closures get their Hadoop
  * conf from one shared broadcast (`graft.connector.SharedConf`), not
  * from a copy serialized into every task. */
class SharedConfSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val wh: String = {
    val dir = tempDir("graft-sharedconf-wh").toString
    spark.conf.set("spark.sql.catalog.shc", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.shc.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS shc.db")
    dir
  }

  private def tableDir(name: String): Path =
    new Path(java.nio.file.Paths.get(wh, "db", s"$name.graft").toUri)

  private def serializedSize(o: AnyRef): Int = {
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(o)
    out.close()
    bytes.size()
  }

  /** The reader factory of `df`'s (first) graft scan. */
  private def readerFactory(df: DataFrame): GraftReaderFactory =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r.scan.toBatch.createReaderFactory()
    }.get.asInstanceOf[GraftReaderFactory]

  /** The task binaries `op(attempt)` ships, rerun with a fresh attempt
    * number when a binary was cleaned up before it could be read. */
  private def binariesOf(what: String)(op: Int => Unit): Seq[Array[Byte]] = {
    val got = Iterator.range(0, 3)
      .map(a => TaskBinaries.during(spark.sparkContext)(op(a)))
      .collectFirst { case Some(bs) => bs }
      .getOrElse(fail(s"$what: a task binary was cleaned up on every run"))
    assert(got.nonEmpty, s"$what ran no Spark stage")
    got
  }

  // a serialized Hadoop conf writes every entry, core-default.xml's
  // too; a broadcast handle names only its value's class
  private val ConfEntry = "hadoop.tmp.dir".getBytes(US_ASCII)

  private def holdsConf(bytes: Array[Byte]): Boolean =
    bytes.indices.exists(i => bytes.startsWith(ConfEntry, i))

  test("the seven executor-side factories and closures ship no Hadoop " +
      "conf; the reader factory serializes small") {
    wh
    spark.sql("DROP TABLE IF EXISTS shc.db.t")
    spark.sql("CREATE TABLE shc.db.t AS SELECT id AS k, " +
      "CAST(id AS STRING) AS v FROM range(0, 200, 1, 2)")
    spark.sql("DROP TABLE IF EXISTS shc.db.dst")
    spark.sql("CREATE TABLE shc.db.dst (k BIGINT, v STRING)")
    spark.sql("DROP TABLE IF EXISTS shc.db.media")
    spark.sql("CREATE TABLE shc.db.media (id BIGINT, content BINARY) " +
      "TBLPROPERTIES ('blob_columns' = 'content')")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").limit(50)
    val ops: Seq[(String, Int => Unit)] = Seq(
      "GraftScan reader factory" -> (_ => spark.table("shc.db.t").collect()),
      "FragmentWriter.write" -> (a => spark.sql(
        s"INSERT INTO shc.db.t VALUES (${1000 + a}, 'x')")),
      // the delta writer factory and the deletion-vector merge job
      "row-level DELETE" -> (a => spark.sql(
        s"DELETE FROM shc.db.t WHERE k = ${10 + a}")),
      // the micro-batch reader factory and the streaming sink's factory
      "stream read and sink" -> { _ =>
        val q = spark.readStream.table("shc.db.t").writeStream
          .option("checkpointLocation", tempDir("graft-sharedconf-ckpt").toString)
          .trigger(Trigger.AvailableNow())
          .toTable("shc.db.dst")
        assert(q.awaitTermination(120000))
      },
      "MinhashStore segment write" -> (_ => MinhashStore.build(
        TextOps.minhashIndex(docs), tempDir("graft-sharedconf-mh").toString + "/idx")),
      "BlobStore.encode" -> (a => spark.sql(
        s"INSERT INTO shc.db.media VALUES ($a, CAST('payload' AS BINARY))")))
    ops.foreach { case (what, op) =>
      val withConf = binariesOf(what)(op).filter(holdsConf)
      assert(withConf.isEmpty, s"$what: ${withConf.size} task binaries " +
        s"carry a Hadoop conf (sizes ${withConf.map(_.length).mkString(", ")})")
    }
    assert(spark.table("shc.db.dst").count() > 0)
    assert(spark.table("shc.db.media").count() > 0)
    val size = serializedSize(readerFactory(spark.table("shc.db.t")))
    assert(size < 16 * 1024, s"the reader factory serializes to $size bytes")
  }

  test("scans with equal confs share one broadcast; a changed storage " +
      "option gets its own, and it reaches the executor-side reader") {
    wh
    spark.sql("DROP TABLE IF EXISTS shc.db.p")
    spark.sql("CREATE TABLE shc.db.p AS SELECT id AS k FROM range(0, 20, 1, 1)")
    spark.sql("DELETE FROM shc.db.p WHERE k < 5")
    val local = tableDir("p")
    val fs = local.getFileSystem(spark.sessionState.newHadoopConf())
    val manifest = GraftFormat.readLatest(fs, local).get
    assert(manifest.fragments.exists(_.deletionPath.nonEmpty))
    val dir = new Path("graftprobe:" + local.toUri.getPath)
    def table(opt: String): DataFrame = {
      val conf = spark.sessionState.newHadoopConf()
      // the scheme resolves only through the table's storage options,
      // and every lookup creates (and records) a fresh FileSystem
      conf.set("fs.graftprobe.impl", classOf[ConfProbeFs].getName)
      conf.set("fs.graftprobe.impl.disable.cache", "true")
      conf.set(ConfProbeFs.Key, opt)
      org.apache.spark.sql.GraftShim.tableDF(spark,
        new GraftTable(s"probe:$opt", dir, manifest, conf))
    }
    val a1 = readerFactory(table("1")).conf
    val a2 = readerFactory(table("1")).conf
    assert(a1.id == a2.id, "equal confs must share one broadcast")
    val b = readerFactory(table("2")).conf
    assert(b.id != a1.id, "a changed storage option needs its own broadcast")
    assert(readerFactory(spark.table("shc.db.p")).conf.id != a1.id)

    ConfProbeFs.seen.clear()
    assert(table("2").collect().length == 15, "the deletion vector must apply")
    assert(ConfProbeFs.seen.contains(("2", true)),
      s"no deletion-vector read saw the new option: ${ConfProbeFs.seen}")
    assert(ConfProbeFs.seen.asScala.forall(_._1 == "2"), ConfProbeFs.seen.toString)
  }
}

/** A local FileSystem under scheme `graftprobe:` that records, for each
  * instance a task creates, the conf's [[ConfProbeFs.Key]] and whether a
  * deletion-vector read asked for it. */
class ConfProbeFs extends RawLocalFileSystem {
  override def getScheme: String = "graftprobe"
  override def getUri: URI = URI.create("graftprobe:///")
  override def initialize(uri: URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    if (org.apache.spark.TaskContext.get() != null)
      ConfProbeFs.seen.add((conf.get(ConfProbeFs.Key),
        Thread.currentThread().getStackTrace
          .exists(_.getMethodName == "readDeletionFileAbs")))
  }
}

object ConfProbeFs {
  val Key = "graft.test.sharedconf.opt"
  val seen: java.util.Set[(String, Boolean)] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, Boolean)]()
}
