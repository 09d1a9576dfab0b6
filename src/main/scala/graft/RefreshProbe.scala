package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import graft.ops.{MinhashStore, ScalarIndex, TextIndex, VectorIndex}

/** Refresh-cost probe -> one JSON line consumed by
  * tools/refresh_probe.py (BENCH_REFRESH.json).
  *
  * IndexRefreshSpec proves refresh SEMANTICS (merge-on-read segments,
  * rebuild fallback); this proves the COST CLAIM behind them: building
  * at 1x then appending a small delta, a refresh must cost O(delta +
  * index metadata) — records read and wall time tracking the appended
  * fraction, never the corpus. One entry per persisted index kind
  * (scalar btree, BM25 text, LSH, IVF, IVF_PQ). `ok` per kind =
  * refresh read less than half of what the build read (the honest
  * bound at probe scale: delta rows + per-segment metadata; a corpus
  * re-scan would be >= 1x by construction).
  *
  * Reference analog: Lance's automatic index updates over newly
  * written fragments (docs/src/performance.md "Index Usage") — the
  * reference never publishes the cost proof; this artifact does.
  */
object RefreshProbe {

  private final case class Probe(kind: String, buildSec: Double,
      refreshSec: Double, buildRecords: Long, refreshRecords: Long) {
    def recordsRatio: Double =
      refreshRecords.toDouble / math.max(1L, buildRecords)
    def wallRatio: Double = refreshSec / math.max(1e-9, buildSec)
    def ok: Boolean = recordsRatio < 0.5
    def json: String =
      f"""{"kind":"$kind","build_sec":$buildSec%.4f,"refresh_sec":$refreshSec%.4f,""" +
        s""""build_records":$buildRecords,"refresh_records":$refreshRecords,""" +
        f""""records_ratio":$recordsRatio%.4f,"wall_ratio":$wallRatio%.4f,"ok":$ok}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val deltaPct = sys.env.getOrElse("GRAFT_REFRESH_DELTA_PCT", "5").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val wh = Files.createTempDirectory("graft-refresh-probe").toString
    spark.conf.set("spark.sql.catalog.rp", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.rp.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS rp.db")

    def tdir(name: String) = new Path(s"file:$wh/db/$name.graft")

    /** (wall seconds, records read cluster-wide) for `body`. */
    def measure(body: => Unit): (Double, Long) = {
      val acc = new java.util.concurrent.atomic.AtomicLong()
      val l = new SparkListener {
        override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) acc.addAndGet(m.inputMetrics.recordsRead)
        }
      }
      spark.sparkContext.addSparkListener(l)
      val t0 = System.nanoTime()
      try {
        body
        val sec = (System.nanoTime() - t0) / 1e9
        // listener bus drains asynchronously; poll to a stable value
        var prev = -1L
        var spins = 0
        while (acc.get() != prev && spins < 40) {
          prev = acc.get(); Thread.sleep(100); spins += 1
        }
        (sec, acc.get())
      } finally spark.sparkContext.removeSparkListener(l)
    }

    // ---- corpus tables: documents (text/scalar), embeddings (vector)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val nDocs = docs.count()
    docs.createOrReplaceTempView("rp_docs")
    // replicate embeddings 8x (shifted ids): the PQ codebook is a FIXED
    // m x 256-row structure, and at raw sf0.1 size (2000 vectors) it
    // would dominate the records-read ratio, hiding the O(delta) signal
    // the probe exists to measure
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val nEmbs0 = embs.count()
    spark.range(8).crossJoin(embs)
      .selectExpr(s"vec_id + id * ${nEmbs0} AS vec_id", "embedding")
      .createOrReplaceTempView("rp_embs")
    val nEmbs = nEmbs0 * 8

    val results = Seq.newBuilder[Probe]

    def probe(kind: String, table: String, base: String, append: String,
        build: Path => Unit, refresh: Path => Unit): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS rp.db.$table")
      spark.sql(s"CREATE TABLE rp.db.$table AS $base")
      val dir = tdir(table)
      val (bSec, bRec) = measure(build(dir))
      spark.sql(s"INSERT INTO rp.db.$table $append")
      val (rSec, rRec) = measure(refresh(dir))
      results += Probe(kind, bSec, rSec, bRec, rRec)
      System.err.println(s"[refresh-probe] $kind build=${bSec}s/${bRec}rec " +
        s"refresh=${rSec}s/${rRec}rec")
    }

    val dDelta = math.max(1L, nDocs * deltaPct / 100)
    val eDelta = math.max(1L, nEmbs * deltaPct / 100)
    // deltas are NEW keys (shifted ids) so the append-only fast path
    // applies — exactly the steady-state ingest pattern at 100 TB
    val docBase = "SELECT doc_id, text, n_chars FROM rp_docs"
    val docAppend = s"SELECT doc_id + ${nDocs * 10}, text, n_chars " +
      s"FROM rp_docs ORDER BY doc_id LIMIT $dDelta"
    val embBase = "SELECT vec_id, embedding FROM rp_embs"
    val embAppend = s"SELECT vec_id + ${nEmbs * 10}, embedding " +
      s"FROM rp_embs ORDER BY vec_id LIMIT $eDelta"

    probe("scalar_btree", "sc", docBase, docAppend,
      d => ScalarIndex.build(spark, d, "n_chars"),
      d => ScalarIndex.refresh(spark, d, "n_chars"))
    probe("text_bm25", "tx", docBase, docAppend,
      d => TextIndex.build(spark, d, "doc_id", "text"),
      d => TextIndex.refresh(spark, d, "doc_id", "text"))
    probe("vector_lsh", "vl", embBase, embAppend,
      d => VectorIndex.build(spark, d, "vec_id", "embedding"),
      d => VectorIndex.refresh(spark, d, "vec_id", "embedding"))
    probe("vector_ivf", "vi", embBase, embAppend,
      d => VectorIndex.Ivf.build(spark, d, "vec_id", "embedding"),
      d => VectorIndex.Ivf.refresh(spark, d, "vec_id", "embedding"))
    probe("vector_ivf_pq", "vp", embBase, embAppend,
      d => VectorIndex.Pq.build(spark, d, "vec_id", "embedding"),
      d => VectorIndex.Pq.refresh(spark, d, "vec_id", "embedding"))

    // ---- minhash near-dup store (r17 VERDICT #2). The measured claim
    // is the DAILY PROBE itself, not index refresh: a mostly-novel
    // delta probed against the bloom+bucket MinhashStore must read a
    // fraction of what the full-signature-scan probe reads on the SAME
    // delta and the SAME stored signatures. Row semantics match the
    // other kinds: "build" = the O(index) op (the r17 full-scan
    // probe), "refresh" = the O(delta) op (the indexed probe). Docs
    // replicate 4x (shifted ids) for the same reason rp_embs does 8x:
    // at raw sf0.1 the delta-side fixed costs (shingling + within-
    // delta LSH) would drown the index-side signal being measured.
    {
      import org.apache.spark.sql.functions._
      val mhDocs = spark.range(4).crossJoin(
          spark.read.parquet(s"$sfDir/documents.parquet")
            .select(col("doc_id"), col("text")))
        .select((col("doc_id") + col("id") * nDocs * 2).as("doc_id"),
          col("text"))
      val root = s"$wh/mh_idx"
      MinhashStore.build(graft.operators.TextOps.minhashIndex(mhDocs), root)
      // NOVEL delta, MATERIALIZED so its own scan is delta-sized. The
      // text is synthetic md5 tokens — guaranteed zero shingle overlap
      // with the corpus: this measures the steady-state new-content
      // path the store exists for. The dup-heavy tail is covered by
      // MinhashStoreSpec (cost-based fallback = the pre-store probe's
      // cost, row-identical output).
      val novelPath = s"$wh/mh_novel"
      spark.range(dDelta * 4)
        .select((col("id") + nDocs * 100).as("doc_id"),
          expr("array_join(transform(sequence(1, 40), i -> " +
            "md5(concat(cast(id as string), '-', cast(i as string)))), ' ')")
            .as("text"))
        .write.mode("overwrite").parquet(novelPath)
      val delta = spark.read.parquet(novelPath)
      val (fSec, fRec) = measure {
        graft.operators.TextOps.incrementalDedupRound(delta,
          MinhashStore.sigsAll(spark, root)).dups.count()
      }
      var stats: Option[MinhashStore.ProbeStats] = None
      val (iSec, iRec) = measure {
        val round = graft.operators.TextOps.incrementalDedupRoundIndexed(
          delta, root)
        stats = round.probeStats
        round.dups.count()
      }
      results += Probe("minhash_probe", fSec, iSec, fRec, iRec)
      System.err.println(s"[refresh-probe] minhash_probe full-scan=" +
        s"${fSec}s/${fRec}rec indexed=${iSec}s/${iRec}rec " +
        s"stats=${stats.orNull}")
    }

    val rs = results.result()
    val allOk = rs.forall(_.ok)
    println(s"""{"metric":"refresh_o_delta","delta_pct":$deltaPct,""" +
      s""""sf":"$sfDir","all_o_delta":$allOk,""" +
      s""""kinds":[${rs.map(_.json).mkString(",")}]}""")
    spark.stop()
    if (!allOk) sys.exit(2)
  }
}
