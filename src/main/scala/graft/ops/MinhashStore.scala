package graft.ops

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** Persisted, probe-prunable MinHash near-dup index (r17 VERDICT #2).
  *
  * The t26 daily-dedup loop used to persist the signature table as
  * plain parquet and SCAN ALL OF IT once per delta batch — O(index)
  * I/O per day at 100 TB (tens of GB re-read when only the delta's
  * band-buckets matter). This store gives the minhash index the same
  * treatment the other five persisted indexes get (reference analog:
  * Lance scalar-index postings, docs/src/performance.md "Index
  * Usage"): a probe reads metadata + only the buckets its delta can
  * possibly match.
  *
  * Layout (`root/`):
  *   - `_store.json` — `{bands, r, segments:[...]}` (merge-on-read
  *     segment list, newest last — the [[IndexSegments]] pattern,
  *     standalone because this index lives at a caller path, not
  *     under a table's `_indices/`).
  *   - `seg-<uuid>/sigs/sp=<s>/…parquet` — (doc_id, minhash),
  *     hash-partitioned by doc_id so a bounded candidate set fetches
  *     signatures from only its partitions.
  *   - `seg-<uuid>/buckets/p=<b>/…parquet` — (band, band_hash,
  *     doc_id), hash-partitioned by kh = xxhash64(band, band_hash).
  *   - `seg-<uuid>/bloom.bin` — Spark sketch [[BloomFilter]] over the
  *     segment's kh set (fpp [[BloomFpp]]).
  *
  * Probe shape: a daily crawl delta is MOSTLY NOVEL text, so most of
  * its |delta|×bands probe keys do not exist in the index at all. The
  * bloom (no false negatives — candidate recall is exact) kills those
  * before any data I/O; the few survivors prune the bucket partitions
  * they hash to; the surviving candidates' signatures come from the
  * sig partitions they hash to. A dup-HEAVY delta falls back
  * COST-BASED: when the touched partitions would read more bucket
  * records than one scan of the segment's signatures, the probe bands
  * the sig scan on the fly instead — the pre-store probe's exact
  * shape, so the store is never worse than what it replaced (the
  * [[ScalarIndex]] MaxLookupValues principle).
  *
  * 100 TB notes: partition counts scale with segment size up to
  * [[MaxParts]] (object stores are fine with thousands of keys per
  * index). The bloom is ~19 bits/key at the default fpp — ~5% of the
  * signature payload it guards; beyond driver-loadable sizes the
  * scale path is per-segment blooms over COMPACTED shards (daily
  * appends keep segments bounded; `append` + periodic `build` from
  * [[sigsAll]] is the compaction loop), each tested independently
  * exactly as multiple segments already are here. Nothing driver-side
  * scales with the corpus: collected sets are partition IDS, bounded
  * by [[MaxParts]].
  */
object MinhashStore {

  private val mapper = new ObjectMapper()

  /** Bloom false-positive rate: sized so a FULLY novel delta's
    * expected false-positive count stays below one even at 100k-probe
    * batches — each fp costs a whole bucket partition read, so fp≈0
    * is what keeps the novel path's records at metadata scale. ~24
    * bits/key: still ~6% of the signature payload it guards. */
  val BloomFpp = 1e-5
  /** Target rows per bucket partition. Coarser partitions cost more
    * per surviving probe but linearly fewer output dirs/files at
    * build (dir-commit overhead dominated the gate's build phase at
    * 512); the cost-based fallback keeps dup-heavy probes off the
    * partitions entirely, and with fp≈0 a novel probe touches ~true
    * matches only. */
  val TargetRowsPerPart = 2048L
  /** No minimum floor beyond 1 (r19 — VERDICT r18 #1): partition count
    * is purely row-scaled, so an sf0.1-sized segment no longer pays 8
    * dir commits for 6 partitions' worth of rows; production segments
    * land the same counts as before (they sit far above any floor). */
  val MinParts = 1
  val MaxParts = 4096
  /** Sig partitions row-scaled like the buckets (r19): the build now
    * materializes the signature cache with one count job BEFORE any
    * write (that job carries the corpus shingling the sigs write used
    * to), so n is known when the sigs layout is chosen. 32 remains the
    * cap — production segments get exactly the pre-r19 layout — while
    * small segments stop paying 32 dir commits for a handful of rows. */
  val MaxSigParts = 32
  /** sigsFor: a candidate set touching more than this fraction of a
    * segment's sig partitions reads the segment outright (pruning
    * would read most of it anyway, plus per-partition overhead). */
  val FallbackPartFraction = 0.25

  final case class Meta(bands: Int, r: Int, segments: Seq[String])

  /** One probe's shape, returned with its postings by
    * [[matchedPostings]]. */
  final case class ProbeStats(segments: Int, probeKeys: Long,
      survivors: Long, partsTouched: Int, partsTotal: Int,
      fullScanSegments: Int)
  /** Index postings (band, band_hash, new_id, doc_id) matching a
    * probe, and where their signatures come from: `Left(sigs)` holds
    * every candidate's signature (no segment the probe reads was
    * pruned, so every candidate comes from a segment whose signatures
    * the probe scans whole); `Right(sigsFor)` reads the signatures of a
    * distinct `old_id` frame ([[sigsFor]]). `stats` is None for a probe
    * over a plain signature frame rather than a store. */
  final case class Probe(postings: DataFrame, stats: Option[ProbeStats],
      sigs: Either[DataFrame, DataFrame => DataFrame])

  /** The layouts [[writeSegment]] writes. Reads pass them instead of
    * inferring: inference costs one Spark job per directory read. */
  private val SigsSchema = new StructType()
    .add("doc_id", LongType).add("minhash", ArrayType(LongType))
    .add("sp", IntegerType)
  private val BucketsSchema = new StructType()
    .add("doc_id", LongType).add("band", IntegerType)
    .add("band_hash", LongType).add("p", IntegerType)

  private def readSigs(spark: SparkSession, root: String,
      seg: String): DataFrame =
    spark.read.schema(SigsSchema).parquet(s"$root/$seg/sigs")

  private def readBuckets(spark: SparkSession, root: String,
      seg: String): DataFrame =
    spark.read.schema(BucketsSchema).parquet(s"$root/$seg/buckets")

  private def fsOf(spark: SparkSession, root: String): (FileSystem, Path) = {
    val p = new Path(root)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def metaPath(root: Path) = new Path(root, "_store.json")

  def meta(spark: SparkSession, root: String): Meta = {
    val (fs, rp) = fsOf(spark, root)
    val node = mapper.readTree(readAll(fs, metaPath(rp)))
    val segs = Seq.newBuilder[String]
    val it = node.get("segments").elements()
    while (it.hasNext) segs += it.next().asText()
    Meta(node.get("bands").asInt(), node.get("r").asInt(), segs.result())
  }

  // small local read helper (keeps graft.format.GraftFormat's
  // accounting out of a non-table path)
  private def readAll(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  private def writeMeta(fs: FileSystem, root: Path, m: Meta): Unit = {
    val segs = m.segments.map(s => "\"" + s + "\"").mkString("[", ",", "]")
    val out = fs.create(metaPath(root), true)
    try out.write(
      s"""{"bands":${m.bands},"r":${m.r},"segments":$segs}"""
        .getBytes("UTF-8"))
    finally out.close()
  }

  private def parts(rows: Long): Int =
    math.max(MinParts,
      math.min(MaxParts, rows / TargetRowsPerPart + 1)).toInt

  private def sigParts(rows: Long): Int =
    math.max(1,
      math.min(MaxSigParts, rows / TargetRowsPerPart + 1)).toInt

  /** kh — the single probe key a (band, band_hash) pair buckets and
    * blooms under. Folding the band in keeps one bloom/bucket space
    * across all bands; the data rows still carry (band, band_hash) so
    * a kh collision can never fabricate a candidate. */
  private[graft] def khCol: org.apache.spark.sql.Column =
    xxhash64(col("band"), col("band_hash"))

  /** One segment's payload from a signature frame. Returns the
    * segment name. */
  private def writeSegment(sigs: DataFrame, root: Path, bands: Int,
      r: Int): String = {
    val spark = sigs.sparkSession
    val (fs, _) = fsOf(spark, root.toString)
    val seg = IndexSegments.newSegmentName()
    val segDir = new Path(root, seg)
    val cached = sigs.select(col("doc_id").cast("long").as("doc_id"),
      col("minhash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // r19 build shape (VERDICT r18 #1): ONE materialization job up
      // front (the count carries the corpus shingling that the sigs
      // write used to pay, and makes n available to size BOTH layouts),
      // then the three payload jobs — sigs write, buckets write, bloom
      // — all read the populated cache and run CONCURRENTLY from a
      // small driver pool (guide §2.6, overlap independent jobs): at
      // gate segment sizes each is fixed-overhead-dominated, so wall
      // clock is their max, not their sum; at production sizes the
      // scheduler back-fills each job's straggler tail with the others'
      // tasks. Writes go to disjoint paths; the bloom is a treeAggregate
      // — no shared mutable state crosses the threads. The count runs on
      // the physical rows: a Dataset count adds an aggregation exchange,
      // one more job under AQE.
      val n = graft.BenchPhases.timed("mhstore.materialize") {
        cached.queryExecution.toRdd.count()
      }
      val sp = sigParts(n)
      val p = parts(n * bands)
      val banded = cached.select(col("doc_id"),
        posexplode(graft.operators.TextOps.bandHashArray(bands, r))
          .as(Seq("band", "band_hash")))
      // the tag names this call's threads and Spark jobs, so a failure
      // cancels the siblings' jobs, not only their driver threads
      val tag = s"graft-mhstore-$seg"
      def task[T](body: => T): () => T = () => {
        spark.sparkContext.addJobTag(tag)
        try body finally spark.sparkContext.removeJobTag(tag)
      }
      // explicit shuffle partition counts (= dir counts) keep the
      // exchanges scale-adaptive instead of riding the session's
      // spark.sql.shuffle.partitions (guide §2: no constant tuned to
      // either local mode or one cluster size)
      val writeSigs = task {
        graft.BenchPhases.timed("mhstore.sigs_write") {
          cached
            .withColumn("sp", pmod(xxhash64(col("doc_id")), lit(sp.toLong))
              .cast("int"))
            .repartition(sp, col("sp"))
            .write.partitionBy("sp").mode("overwrite")
            .parquet(new Path(segDir, "sigs").toString)
        }
        None
      }
      val writeBuckets = task {
        graft.BenchPhases.timed("mhstore.buckets_write") {
          banded
            .withColumn("p", pmod(khCol, lit(p.toLong)).cast("int"))
            .repartition(p, col("p"))
            .write.partitionBy("p").mode("overwrite")
            .parquet(new Path(segDir, "buckets").toString)
        }
        None
      }
      // bloom over the segment's kh set — one distributed agg, result
      // ~24 bits/key on the driver then persisted beside the payload
      val buildBloom = task {
        graft.BenchPhases.timed("mhstore.bloom") {
          Some(banded.select(khCol.as("kh"))
            .stat.bloomFilter("kh", math.max(1L, n * bands), BloomFpp))
        }
      }
      // a failure cancels the siblings' Spark jobs as well as their
      // threads, so no write outlives the call
      val bloom = graft.DriverPool.runAll(tag, 3,
        Seq[() => Option[BloomFilter]](writeSigs, writeBuckets, buildBloom),
        onFailure = () => spark.sparkContext.cancelJobsWithTag(tag))
        .flatten.head
      val out = fs.create(new Path(segDir, "bloom.bin"), true)
      try bloom.writeTo(out) finally out.close()
      val mo = fs.create(new Path(segDir, "_seg.json"), true)
      try mo.write(s"""{"n":$n,"sp":$sp,"p":$p}""".getBytes("UTF-8"))
      finally mo.close()
      seg
    } finally { cached.unpersist(false); () }
  }

  private def segParts(fs: FileSystem, root: Path,
      seg: String): (Long, Int, Int) = {
    val node = mapper.readTree(
      readAll(fs, new Path(new Path(root, seg), "_seg.json")))
    (node.get("n").asLong(), node.get("sp").asInt(), node.get("p").asInt())
  }

  // per-(root, seg) bloom cache: a daily probe loop re-probes the same
  // segments; the blobs are small and immutable once written
  private val bloomCache =
    scala.collection.concurrent.TrieMap.empty[String, BloomFilter]
  private def loadBloom(fs: FileSystem, root: Path, seg: String): BloomFilter =
    bloomCache.getOrElseUpdate(new Path(root, seg).toString, {
      val in = fs.open(new Path(new Path(root, seg), "bloom.bin"))
      try BloomFilter.readFrom(in) finally in.close()
    })
  private[graft] def clearCaches(): Unit = bloomCache.clear()

  /** Build (or REPLACE) the store from a full signature frame —
    * one segment. Also the compaction target for a long append
    * chain: `build(sigsAll(spark, root), root)`. */
  def build(sigs: DataFrame, root: String, bands: Int = 32,
      r: Int = 2): Unit = {
    val spark = sigs.sparkSession
    val (fs, rp) = fsOf(spark, root)
    fs.delete(rp, true)
    fs.mkdirs(rp)
    val seg = writeSegment(sigs, rp, bands, r)
    writeMeta(fs, rp, Meta(bands, r, Seq(seg)))
    clearCaches()
  }

  /** Merge-on-read append: index `newSigs` (disjoint doc_ids — the
    * survivors of today's dedup round) as a new segment. O(delta):
    * existing segments are untouched. */
  def append(newSigs: DataFrame, root: String): Unit = {
    val spark = newSigs.sparkSession
    val (fs, rp) = fsOf(spark, root)
    val m = meta(spark, root)
    val seg = writeSegment(newSigs, rp, m.bands, m.r)
    writeMeta(fs, rp, m.copy(segments = m.segments :+ seg))
  }

  /** Union of every segment's signatures — the logical (doc_id,
    * minhash) index content, for compaction and full-scan consumers. */
  def sigsAll(spark: SparkSession, root: String): DataFrame =
    meta(spark, root).segments
      .map(seg => readSigs(spark, root, seg).select("doc_id", "minhash"))
      .reduce(_ unionByName _)

  /** Index postings matching `probes` (new_id, band, band_hash):
    * returns (band, band_hash, new_id, doc_id) — doc_id the INDEX
    * side — for every index doc sharing a (band, band_hash) bucket
    * with a probe, together with the probe's [[ProbeStats]]. Candidate
    * recall is EXACT (bloom has no false negatives; kh collisions are
    * resolved by the real (band, band_hash) join keys) while I/O is
    * O(matching buckets): per segment, bloom-surviving probes decide
    * the partitions read — none survive, nothing is read. One
    * collect-job over `probes` decides; the returned plan reads
    * `probes` again, so the caller persists it and releases it after
    * its last action over the postings. */
  def matchedPostings(spark: SparkSession, root: String,
      probes: DataFrame): Probe = {
    val (fs, rp) = fsOf(spark, root)
    val m = meta(spark, root)
    val segInfos = m.segments.map(seg => (seg, segParts(fs, rp, seg)))
    val blooms = m.segments.map(loadBloom(fs, rp, _)).toArray
    val parts = segInfos.map(_._2._3.toLong).toArray
    // (segment ordinal, bucket partition) for every segment whose
    // bloom may hold kh — pmod as writeSegment partitions by
    val hits = udf((kh: Long) => blooms.indices
      .filter(i => blooms(i).mightContainLong(kh))
      .map(i => (i, Math.floorMod(kh, parts(i)).toInt)))
    val admitted = udf((kh: Long) => blooms.exists(_.mightContainLong(kh)))
    val keyed = probes.withColumn("kh", khCol)
    // ONE decision job, one branch for every segment: the probe keys
    // explode to the (segment, partition) pairs their blooms admit, so
    // the daily append chain adds no job and no plan branch per
    // segment. The probe-key count rides along as an observation; the
    // observed frame stays out of the returned plan (an Observation is
    // one-shot; re-executing its node is undefined).
    val kObs = org.apache.spark.sql.Observation()
    val decidedRows = graft.BenchPhases.timed("mhstore.probe_decision") {
      keyed.observe(kObs, count(lit(1)).as("k"))
        .select(explode(hits(col("kh"))).as("h"))
        .groupBy(col("h._1").as("si"), col("h._2").as("p"))
        .agg(count(lit(1)).as("cnt"))
        .collect()
    }
    // observability-only: a missed metric degrades to -1, never
    // fails the probe or buys a dedicated count job
    val probeKeys =
      scala.util.Try(kObs.get("k").asInstanceOf[Long]).getOrElse(-1L)
    val bySeg = decidedRows.groupBy(_.getInt(0))
    var survivorsTotal = 0L
    var touched = 0
    val scanned = Seq.newBuilder[String]
    var pruned = false
    val indexSide = segInfos.zipWithIndex.flatMap {
      case ((seg, (segRows, _, _)), i) =>
      val byPart = bySeg.getOrElse(i, Array.empty)
      val partIds = byPart.map(_.getInt(1)).sorted
      survivorsTotal += byPart.map(_.getLong(2)).sum
      touched += partIds.length
      if (partIds.isEmpty) None
      else if (partIds.length.toLong * TargetRowsPerPart > segRows) {
        // COST-BASED fallback: each touched partition costs
        // ~TargetRowsPerPart bucket records, so once the survivors
        // spread past segRows/TargetRowsPerPart partitions, one scan
        // of the segment's SIGNATURES (banded on the fly — exactly
        // the pre-store probe's shape and cost, 32× narrower in
        // records than the bucket table) is strictly cheaper. A
        // dup-heavy delta therefore pays the old O(index) cost at
        // worst, never 32× it.
        scanned += seg
        Some(readSigs(spark, root, seg)
          .select(col("doc_id"), posexplode(
            graft.operators.TextOps.bandHashArray(m.bands, m.r))
            .as(Seq("band", "band_hash"))))
      } else {
        pruned = true
        Some(readBuckets(spark, root, seg)
          .filter(col("p").isin(partIds.toIndexedSeq.map(Integer.valueOf): _*))
          .select("doc_id", "band", "band_hash"))
      }
    }
    val scannedSegs = scanned.result()
    val stats = ProbeStats(m.segments.size, probeKeys, survivorsTotal,
      touched, parts.sum.toInt, scannedSegs.size)
    val sigs: Either[DataFrame, DataFrame => DataFrame] =
      if (pruned) Right(sigsFor(spark, root, _: DataFrame))
      else Left(scannedSegs.map(readSigs(spark, root, _))
        .reduceOption(_ unionByName _)
        .getOrElse(readSigs(spark, root, m.segments.head).limit(0))
        .select("doc_id", "minhash"))
    // every read segment joins ONE broadcast of the probes some bloom
    // admits: a probe no bloom admits matches nothing, and a probe
    // admitted elsewhere finds no row of its bucket here
    val postings =
      if (indexSide.isEmpty)
        // empty frame with the contract's schema
        readBuckets(spark, root, m.segments.head).limit(0)
          .select(col("band"), col("band_hash"),
            lit(0L).as("new_id"), col("doc_id"))
      else indexSide.reduce(_ unionByName _)
        .join(broadcast(keyed.filter(admitted(col("kh")))
          .select("new_id", "band", "band_hash")), Seq("band", "band_hash"))
        .select("band", "band_hash", "new_id", "doc_id")
    Probe(postings, Some(stats), sigs)
  }

  /** Signatures for a bounded candidate id frame (`old_id` column,
    * distinct), read from only the sig partitions those ids hash to.
    * One collect-job over `ids` decides the partitions; the returned
    * plan reads `ids` again, so the caller persists it and releases it
    * after its last action over the result. */
  def sigsFor(spark: SparkSession, root: String,
      ids: DataFrame): DataFrame = {
    val (fs, rp) = fsOf(spark, root)
    val m = meta(spark, root)
    val wanted = ids.select(col("old_id").cast("long").as("doc_id"))
    val segInfos = m.segments.map(seg => (seg, segParts(fs, rp, seg)._2))
    // ONE partition-decision job across every segment (r19 — VERDICT
    // r18 #3): union the per-segment distinct-sp branches, tagged by
    // segment ordinal, instead of one collect per segment
    val decided = graft.BenchPhases.timed("mhstore.sig_decision") {
      segInfos.zipWithIndex.map { case ((_, sp), i) =>
        wanted.select(lit(i).as("si"),
          pmod(xxhash64(col("doc_id")), lit(sp.toLong))
            .cast("int").as("sp"))
          .distinct()
      }.reduce(_ unionByName _).collect()
    }
    val bySeg = decided.groupBy(_.getInt(0))
    segInfos.zipWithIndex.map { case ((seg, sp), i) =>
      val partIds = bySeg.getOrElse(i, Array.empty).map(_.getInt(1)).sorted
      val sigs = readSigs(spark, root, seg)
      val base =
        if (partIds.isEmpty) sigs.limit(0)
        else if (partIds.length > sp * FallbackPartFraction) sigs
        else sigs.filter(
          col("sp").isin(partIds.toIndexedSeq.map(Integer.valueOf): _*))
      base.join(broadcast(wanted), Seq("doc_id"))
        .select("doc_id", "minhash")
    }.reduce(_ unionByName _)
  }
}
