package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextOps
import graft.ops.MinhashStore

/** Bloom + bucket-partitioned persisted minhash index (r17 VERDICT
  * #2): the t26 daily probe must be O(delta) — a mostly-novel delta
  * reads (almost) none of the index — while returning EXACTLY what
  * the full-signature-scan path returns. */
class MinhashStoreSpec extends AnyFunSuite {
  import TestSpark._

  private def docsAt(d: String): DataFrame =
    spark.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id"), col("text"))

  private def rows(df: DataFrame): Seq[(Long, Long, Double)] =
    df.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  private def tmpRoot(): String =
    Files.createTempDirectory("graft-mhstore").toString + "/idx"

  /** Store payload directories (segment `sigs/` or `buckets/`) that
    * `df`'s optimized plan scans. */
  private def storeScans(df: DataFrame, root: String): Seq[String] =
    df.queryExecution.optimizedPlan.collectWithSubqueries {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten.filter(p => p.contains(root) &&
      (p.endsWith("/sigs") || p.endsWith("/buckets")))

  /** Spark jobs started while `body` runs. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
      (out, started.get())
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("indexed probe returns EXACTLY the full-scan path's rows " +
      "(the t26 gate shape: base = 3/4 corpus, delta = 1/4)") {
    val base = docsAt(sf).filter(expr("pmod(doc_id, 4) != 0"))
    val delta = docsAt(sf).filter(expr("pmod(doc_id, 4) = 0"))
    val root = tmpRoot()
    MinhashStore.build(TextOps.minhashIndex(base), root)
    val viaStore = rows(TextOps.incrementalNearDupsIndexed(delta, root))
    val viaScan = rows(TextOps.incrementalNearDups(delta,
      TextOps.minhashIndex(base)))
    assert(viaStore == viaScan,
      "indexed probe must be row-identical to the signature-scan path")
    assert(viaStore.nonEmpty, "gate-shape probe found no dups at sf0.001 " +
      "— the equality check would be vacuous")
  }

  test("mostly-novel delta: bloom kills the probes before any bucket " +
      "read — records read is a small fraction of the index") {
    // 16x-replicated corpus: big enough that the cost-based planner
    // picks the pruned path (at raw sf0.001 one partition's estimated
    // rows already exceed a full sig scan, so fallback would always
    // win — correctly, but then this test would prove nothing)
    val base = spark.range(16).crossJoin(docsAt(sf))
      .select((col("doc_id") + col("id") * 1000L).as("doc_id"), col("text"))
    val root = tmpRoot()
    MinhashStore.build(TextOps.minhashIndex(base), root)
    // novel text: reversed words + a per-doc salt — (almost) no
    // shingle overlap with the corpus
    val novel = docsAt(sf).limit(25)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat_ws(" ", reverse(split(col("text"), " ")),
          col("doc_id").cast("string"), lit("zq9x")).as("text"))
    val out = rows(TextOps.incrementalNearDupsIndexed(novel, root))
    // within-delta pairs may exist (near-identical base docs stay
    // near-identical reversed) — but nothing may match the INDEX
    assert(out.forall(_._2 >= 1000000L),
      s"novel delta must have no index dups, got $out")
    val st = MinhashStore.lastProbeStats.get()
    assert(st != null && st.fullScanSegments == 0)
    // the bloom must kill (essentially) every novel probe: a handful
    // may legitimately survive (degenerate short docs reverse to
    // themselves) but ~800 probe keys must not flood through
    assert(st.survivors <= 8,
      s"bloom let ${st.survivors} of ${st.probeKeys} novel probes through")
    // the partitions those survivors prune to are a small fraction of
    // the segment — the O(delta) claim at structure level. (Absolute
    // records-read is only meaningful at bench scale where partition
    // granularity stops dominating: RefreshProbe measures it at sf0.1
    // and BENCH_REFRESH budget-gates the ratio.)
    assert(st.partsTouched <= math.max(4, st.partsTotal / 5),
      s"${st.partsTouched}/${st.partsTotal} bucket partitions touched")
  }

  test("dup-heavy delta falls back to a full segment scan and still " +
      "matches the full-scan path row for row") {
    val base = docsAt(sf)
    val root = tmpRoot()
    MinhashStore.build(TextOps.minhashIndex(base), root)
    // every delta doc is a verbatim copy of an indexed doc: every
    // probe key exists in the index, survivors flood the partitions
    val copies = base.select((col("doc_id") + 500000L).as("doc_id"),
      col("text"))
    val viaStore = rows(TextOps.incrementalNearDupsIndexed(copies, root))
    assert(MinhashStore.lastProbeStats.get().fullScanSegments == 1,
      "a full-copy delta must trigger the pruning fallback")
    val viaScan = rows(TextOps.incrementalNearDups(copies,
      TextOps.minhashIndex(base)))
    assert(viaStore == viaScan)
    assert(viaStore.size == copies.count(),
      "every verbatim copy must be flagged as a dup")
  }

  test("merge-on-read append: a second segment is probed exactly like " +
      "a rebuilt index, and sigsAll unions both") {
    val all = docsAt(sf)
    val base = all.filter(col("doc_id") % 3 === 0)
    val extra = all.filter(col("doc_id") % 3 === 1)
    val delta = all.filter(col("doc_id") % 3 === 2)
    val root = tmpRoot()
    MinhashStore.build(TextOps.minhashIndex(base), root)
    MinhashStore.append(TextOps.minhashIndex(extra), root)
    assert(MinhashStore.meta(spark, root).segments.size == 2)
    assert(MinhashStore.sigsAll(spark, root).count() ==
      base.count() + extra.count())
    val viaSegs = rows(TextOps.incrementalNearDupsIndexed(delta, root))
    val rebuilt = tmpRoot()
    MinhashStore.build(TextOps.minhashIndex(base.unionByName(extra)),
      rebuilt)
    val viaRebuild = rows(TextOps.incrementalNearDupsIndexed(delta, rebuilt))
    assert(viaSegs == viaRebuild,
      "segmented probe must equal the compacted rebuild's")
    // the scan path over the unioned signatures agrees too
    val viaScan = rows(TextOps.incrementalNearDups(delta,
      TextOps.minhashIndex(base.unionByName(extra))))
    assert(viaSegs == viaScan)
  }

  test("indexed round: dups/survivors/updatedIndex match the scan " +
      "round; survivors fold forward as a new segment") {
    val base = docsAt(sf).filter(expr("pmod(doc_id, 4) != 0"))
    val delta = docsAt(sf).filter(expr("pmod(doc_id, 4) = 0"))
    val root = tmpRoot()
    MinhashStore.build(TextOps.minhashIndex(base), root)
    val idx = TextOps.minhashIndex(base)
    val scanRound = TextOps.incrementalDedupRound(delta, idx)
    val storeRound = TextOps.incrementalDedupRoundIndexed(delta, root)
    assert(rows(storeRound.dups) == rows(scanRound.dups))
    assert(storeRound.survivors.orderBy("doc_id").collect().map(_.getLong(0))
      .toSeq == scanRound.survivors.orderBy("doc_id").collect()
      .map(_.getLong(0)).toSeq)
    assert(storeRound.updatedIndex.count() == scanRound.updatedIndex.count())
    // fold forward: tomorrow's index = today's + survivors, one new seg
    MinhashStore.append(
      TextOps.minhashIndex(storeRound.survivors), root)
    assert(MinhashStore.meta(spark, root).segments.size == 2)
    assert(MinhashStore.sigsAll(spark, root).count() ==
      scanRound.updatedIndex.count())
  }

  test("indexed round runs the probe once: neither dups nor the " +
      "survivors' signatures scan the store after the call returns") {
    val base = docsAt(sf).filter(expr("pmod(doc_id, 4) != 0"))
    val delta = docsAt(sf).filter(expr("pmod(doc_id, 4) = 0"))
    val root = tmpRoot()
    MinhashStore.build(TextOps.minhashIndex(base), root)
    MinhashStore.append(TextOps.minhashIndex(
      delta.filter(expr("pmod(doc_id, 8) = 4"))), root)
    val round = TextOps.incrementalDedupRoundIndexed(
      delta.filter(expr("pmod(doc_id, 8) = 0")), root)
    // the check can see a store scan: sigsAll's plan has two
    assert(storeScans(MinhashStore.sigsAll(spark, root), root).size == 2)
    assert(storeScans(round.dups, root).isEmpty,
      "dups must hold the probe's rows, not its plan")
    val survivorSigs = TextOps.minhashIndex(round.survivors)
    assert(storeScans(survivorSigs, root).isEmpty,
      "append(minhashIndex(survivors)) would re-run the store probe")
    assert(rows(round.dups).nonEmpty)
    // reading the frames twice runs no probe job either way
    val (n, jobs) = jobsDuring(round.dups.collect().length)
    assert(n == rows(round.dups).size && jobs == 0,
      s"collecting dups launched $jobs jobs")
  }

  test("sigsAll over a three-segment store launches no Spark job") {
    val all = docsAt(sf)
    val root = tmpRoot()
    MinhashStore.build(TextOps.minhashIndex(all.filter(col("doc_id") % 3 === 0)), root)
    MinhashStore.append(TextOps.minhashIndex(all.filter(col("doc_id") % 3 === 1)), root)
    MinhashStore.append(TextOps.minhashIndex(all.filter(col("doc_id") % 3 === 2)), root)
    assert(MinhashStore.meta(spark, root).segments.size == 3)
    val (sigs, jobs) = jobsDuring(MinhashStore.sigsAll(spark, root))
    assert(jobs == 0, s"building sigsAll launched $jobs jobs")
    assert(sigs.schema.fieldNames.toSeq == Seq("doc_id", "minhash"))
    assert(sigs.count() == all.count())
  }

  test("two folded rounds: the indexed round equals the scan round " +
      "in both") {
    val all = docsAt(sf)
    val base = all.filter(expr("pmod(doc_id, 4) != 0"))
    val days = Seq(all.filter(expr("pmod(doc_id, 8) = 0")),
      all.filter(expr("pmod(doc_id, 8) = 4")))
    val root = tmpRoot()
    MinhashStore.build(TextOps.minhashIndex(base), root)
    var idx = TextOps.minhashIndex(base)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    days.zipWithIndex.foreach { case (day, i) =>
      val scanRound = TextOps.incrementalDedupRound(day, idx)
      val storeRound = TextOps.incrementalDedupRoundIndexed(day, root)
      assert(rows(storeRound.dups) == rows(scanRound.dups), s"round $i dups")
      assert(storeRound.dups.count() > 0, s"round $i found no dups")
      assert(storeRound.survivors.orderBy("doc_id").collect()
        .map(_.getLong(0)).toSeq == scanRound.survivors.orderBy("doc_id")
        .collect().map(_.getLong(0)).toSeq, s"round $i survivors")
      val next = scanRound.updatedIndex
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      assert(storeRound.updatedIndex.count() == next.count(),
        s"round $i updatedIndex")
      MinhashStore.append(TextOps.minhashIndex(storeRound.survivors), root)
      assert(MinhashStore.sigsAll(spark, root).select("doc_id")
        .orderBy("doc_id").collect().toSeq ==
        next.select("doc_id").orderBy("doc_id").collect().toSeq,
        s"round $i fold")
      idx.unpersist(false)
      idx = next
    }
    idx.unpersist(false)
    assert(MinhashStore.meta(spark, root).segments.size == 3)
  }

  test("append: a failed sibling write fails the call with its cause, " +
      "leaves _store.json as it was and leaves no write running") {
    val all = docsAt(sf)
    val root = tmpRoot()
    MinhashStore.build(TextOps.minhashIndex(all.filter(col("doc_id") % 2 === 0)), root)
    val meta = Paths.get(root, "_store.json")
    val before = Files.readAllBytes(meta)
    spark.conf.set("fs.failsigs.impl", classOf[FailingSigsFs].getName)
    spark.conf.set("fs.failsigs.impl.disable.cache", "true")
    try {
      val e = intercept[Throwable](MinhashStore.append(
        TextOps.minhashIndex(all.filter(col("doc_id") % 2 === 1)),
        "failsigs://" + root))
      assert(!e.isInstanceOf[java.util.concurrent.ExecutionException],
        "append must rethrow the root cause, not the future's wrapper")
      assert(TestSpark.rootMsgs(e).contains(FailingSigsFs.Msg),
        TestSpark.rootMsgs(e))
    } finally {
      spark.conf.unset("fs.failsigs.impl")
      spark.conf.unset("fs.failsigs.impl.disable.cache")
    }
    assert(java.util.Arrays.equals(Files.readAllBytes(meta), before))
    assert(MinhashStore.meta(spark, root).segments.size == 1)
    val running = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith("graft-mhstore-"))
    assert(running.isEmpty, s"pool threads outlived append: $running")
    // the store still probes and appends normally
    MinhashStore.append(
      TextOps.minhashIndex(all.filter(col("doc_id") % 2 === 1)), root)
    assert(MinhashStore.sigsAll(spark, root).count() == all.count())
  }
}

/** Local files under the `failsigs` scheme; creating any file below a
  * segment's `sigs/` directory fails. */
class FailingSigsFs extends RawLocalFileSystem {
  override def getScheme: String = "failsigs"
  override def getUri: URI = URI.create("failsigs:///")

  private def check(f: Path): Unit =
    if (f.toUri.getPath.contains("/sigs/"))
      throw new java.io.IOException(s"${FailingSigsFs.Msg}: $f")

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    check(f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    check(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object FailingSigsFs {
  val Msg = "injected sigs write failure"
}
