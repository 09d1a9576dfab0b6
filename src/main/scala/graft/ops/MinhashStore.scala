package graft.ops

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.{HashPartitioner, TaskContext}
import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Literal, XXH64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

import graft.connector.SharedConf

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
  * sig partitions they hash to. All of it is decided on the driver
  * from the cached blooms, with no Spark job. A dup-HEAVY delta falls back
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
  * scales with the corpus: a round holds the delta's signatures, at
  * most 64 index ids per probe key and those candidates' signatures.
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

  /** One probe's shape, returned by [[probe]]. `probeKeys` counts the
    * capped probe rows and `survivors` the (probe row, segment) pairs a
    * segment's bloom admits. */
  final case class ProbeStats(segments: Int, probeKeys: Long,
      survivors: Long, partsTouched: Int, partsTotal: Int,
      fullScanSegments: Int)
  /** The index rows a round reads for its probe keys: `scanned` are
    * signature frames (doc_id, minhash) read whole, `pruned` bucket
    * frames (doc_id, band, band_hash) cut to the partitions the probe
    * keys hash to, and `sigsOf` reads the signatures of given doc ids.
    * `stats` is None for a probe over a plain signature frame rather
    * than a store. */
  final case class Probe(stats: Option[ProbeStats], scanned: Seq[DataFrame],
      pruned: Seq[DataFrame], sigsOf: Seq[Long] => DataFrame)

  /** The files [[writeSegment]] writes, and the layouts under their
    * partition directories. Reads pass these instead of inferring:
    * inference costs one Spark job per directory read. */
  private val SigsFileSchema = new StructType()
    .add("doc_id", LongType).add("minhash", ArrayType(LongType))
  private val BucketsFileSchema = new StructType()
    .add("doc_id", LongType).add("band", IntegerType)
    .add("band_hash", LongType)
  private val SigsSchema = SigsFileSchema.add("sp", IntegerType)
  private val BucketsSchema = BucketsFileSchema.add("p", IntegerType)

  private def readSigs(spark: SparkSession, root: String,
      seg: String): DataFrame =
    spark.read.schema(SigsSchema).parquet(s"$root/$seg/sigs")

  /** (doc_id, minhash) of every segment in `segs` as ONE file scan (each
    * scan node broadcasts its Hadoop conf when it runs). */
  private def scanSigs(spark: SparkSession, root: String,
      segs: Seq[String]): DataFrame =
    spark.read.schema(SigsFileSchema).option("recursiveFileLookup", "true")
      .parquet(segs.map(s => s"$root/$s/sigs"): _*)

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

  /** `sigs` (doc_id, minhash) with each doc's band hashes `bh` and probe
    * keys `kh` (the [[khCol]] of each (band, band_hash)) as arrays
    * indexed by band. */
  private[graft] def withBandKeys(sigs: DataFrame, bands: Int,
      r: Int): DataFrame =
    sigs.select(col("doc_id").cast("long").as("doc_id"), col("minhash"),
        graft.operators.TextOps.bandHashArray(bands, r).as("bh"))
      .withColumn("kh", transform(col("bh"), (h, b) => xxhash64(b, h)))

  /** A signature row on its way into a segment: its sig-partition
    * hash `dh` and, per band, its band hash and probe key. */
  private final case class SigRow(id: Long, sig: ArrayData, dh: Long,
      bh: Array[Long], kh: Array[Long])

  /** One segment's payload from a signature frame. Returns the
    * segment name. Three jobs over the cached rows: a count that sizes
    * both layouts, then, side by side, one write whose shuffle routes
    * every signature to its `sigs/sp=` reducer and every bucket row to
    * its `buckets/p=` reducer (each reducer writes one parquet file) and
    * the bloom, a tree merge of per-task filters sized as
    * `stat.bloomFilter` sizes them. A failure cancels this call's jobs
    * and deletes the segment directory. */
  private def writeSegment(sigs: DataFrame, root: Path, bands: Int,
      r: Int): String = {
    val spark = sigs.sparkSession
    val sc = spark.sparkContext
    val (fs, _) = fsOf(spark, root.toString)
    val seg = IndexSegments.newSegmentName()
    val segDir = new Path(root, seg)
    val rows = withBandKeys(sigs, bands, r)
      .withColumn("dh", xxhash64(col("doc_id")))
      .queryExecution.toRdd.map(row => SigRow(row.getLong(0),
        if (row.isNullAt(1)) null else row.getArray(1).copy(), row.getLong(4),
        row.getArray(2).toLongArray(), row.getArray(3).toLongArray()))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tag = s"graft-mhstore-$seg"
    sc.addJobTag(tag)
    try {
      val n = rows.count()
      val sp = sigParts(n)
      val p = parts(n * bands)
      Seq("sigs", "buckets").foreach(d => fs.mkdirs(new Path(segDir, d)))
      val sigsConf = SharedConf.broadcast(sc,
        GraftShim.parquetWriteConf(spark, SigsFileSchema))
      val bucketsConf = SharedConf.broadcast(sc,
        GraftShim.parquetWriteConf(spark, BucketsFileSchema))
      val dir = segDir.toString
      // reducer i < sp holds sig partition i, reducer sp + b bucket
      // partition b — pmod as the probe and sigsFor compute them
      val routed = rows.flatMap { s =>
        Iterator.single((Math.floorMod(s.dh, sp.toLong).toInt,
          InternalRow(s.id, s.sig))) ++
          Iterator.tabulate(bands)(b =>
            (sp + Math.floorMod(s.kh(b), p.toLong).toInt,
              InternalRow(s.id, b, s.bh(b))))
      }.partitionBy(new HashPartitioner(sp + p))
      // the write runs while the bloom job below does
      val written = sc.submitJob(routed, (it: Iterator[(Int, InternalRow)]) =>
        if (it.hasNext) {
          val i = TaskContext.getPartitionId()
          val (file, conf) =
            if (i < sp) (s"$dir/sigs/sp=$i/part-$i.parquet", sigsConf)
            else (s"$dir/buckets/p=${i - sp}/part-${i - sp}.parquet", bucketsConf)
          // an earlier attempt's file is replaced, never read twice
          val path = new Path(file)
          path.getFileSystem(conf.value.value).delete(path, false)
          val w = GraftShim.newParquetRowWriter(file, conf.value.value)
          try it.foreach(kv => w.write(kv._2)) finally w.close()
        }, 0 until sp + p, (_: Int, _: Unit) => (), ())
      // the empty filter comes from the aggregate `stat.bloomFilter`
      // runs, so both size it alike
      val expected = math.max(1L, n * bands)
      val zero = new BloomFilterAggregate(Literal(0L), Literal(expected),
        Literal(BloomFilter.optimalNumOfBits(expected, BloomFpp)))
        .createAggregationBuffer()
      val bloom = rows.treeAggregate(zero)(
        (bf, s) => { s.kh.foreach(bf.putLong); bf }, _ mergeInPlace _)
      scala.concurrent.Await.result(written, scala.concurrent.duration.Duration.Inf)
      val out = fs.create(new Path(segDir, "bloom.bin"), true)
      try bloom.writeTo(out) finally out.close()
      val mo = fs.create(new Path(segDir, "_seg.json"), true)
      try mo.write(s"""{"n":$n,"sp":$sp,"p":$p}""".getBytes("UTF-8"))
      finally mo.close()
      seg
    } catch {
      case t: Throwable =>
        try {
          graft.connector.FragmentWriter.cancelAndAwait(sc, tag)
          fs.delete(segDir, true)
        } catch { case c: Exception => t.addSuppressed(c) }
        throw t
    } finally {
      sc.removeJobTag(tag)
      rows.unpersist(false)
    }
  }

  /** A written segment's row count, layouts and bloom. */
  private final case class Seg(n: Long, sp: Int, p: Int, bloom: BloomFilter)

  // per-(root, seg) metadata cache: a daily probe loop re-probes the
  // same segments, whose files are immutable once written
  private val segCache = scala.collection.concurrent.TrieMap.empty[String, Seg]
  private def segOf(fs: FileSystem, root: Path, seg: String): Seg =
    segCache.getOrElseUpdate(new Path(root, seg).toString, {
      val dir = new Path(root, seg)
      val node = mapper.readTree(readAll(fs, new Path(dir, "_seg.json")))
      val in = fs.open(new Path(dir, "bloom.bin"))
      val bloom = try BloomFilter.readFrom(in) finally in.close()
      Seg(node.get("n").asLong(), node.get("sp").asInt(),
        node.get("p").asInt(), bloom)
    })
  private[graft] def clearCaches(): Unit = segCache.clear()

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
    segmentSigs(spark, root, meta(spark, root).segments)

  /** Union of the signatures of `segments` (each resolves its own
    * parquet read, listing its `sigs/` directory). */
  private[graft] def segmentSigs(spark: SparkSession, root: String,
      segments: Seq[String]): DataFrame =
    segments.map(seg => readSigs(spark, root, seg).select("doc_id", "minhash"))
      .reduce(_ unionByName _)

  /** One (band, band_hash) probe key of a round: its [[khCol]] and
    * its number of capped probe rows (delta docs). */
  final case class ProbeKey(band: Int, bandHash: Long, kh: Long, rows: Int)

  /** Which store rows can match `keys`, decided on the driver from the
    * cached segment blooms with no Spark job. Candidate recall is EXACT
    * (a bloom has no false negatives; kh collisions are resolved by the
    * real (band, band_hash) keys) while I/O is O(matching buckets): per
    * segment, the keys its bloom admits pick the bucket partitions
    * read — none admitted, nothing is read — or, past the cost-based
    * threshold, the segment's signatures are scanned instead. */
  def probe(spark: SparkSession, root: String, keys: Seq[ProbeKey]): Probe = {
    val (fs, rp) = fsOf(spark, root)
    val m = meta(spark, root)
    val segs = m.segments.map(seg => seg -> segOf(fs, rp, seg))
    var survivors = 0L
    var touched = 0
    val scanned = Seq.newBuilder[String]
    val pruned = Seq.newBuilder[DataFrame]
    segs.foreach { case (seg, s) =>
      val admitted = keys.filter(k => s.bloom.mightContainLong(k.kh))
      survivors += admitted.map(_.rows.toLong).sum
      val partIds = admitted.map(k => Math.floorMod(k.kh, s.p.toLong).toInt)
        .distinct.sorted
      touched += partIds.length
      if (partIds.isEmpty) ()
      else if (partIds.length.toLong * TargetRowsPerPart > s.n)
        // COST-BASED fallback: each touched partition costs
        // ~TargetRowsPerPart bucket records, so once the survivors
        // spread past n/TargetRowsPerPart partitions, one scan of the
        // segment's SIGNATURES (banded on the fly — the pre-store
        // probe's exact shape and cost, 32× narrower in records than
        // the bucket table) is strictly cheaper. A dup-heavy delta
        // therefore pays the old O(index) cost at worst, never 32× it.
        scanned += seg
      else
        pruned += readBuckets(spark, root, seg)
          .filter(col("p").isin(partIds.map(Integer.valueOf): _*))
          .select("doc_id", "band", "band_hash")
    }
    val sc = scanned.result()
    val stats = ProbeStats(segs.size, keys.map(_.rows.toLong).sum,
      survivors, touched, segs.map(_._2.p).sum, sc.size)
    Probe(Some(stats), if (sc.isEmpty) Nil else Seq(scanSigs(spark, root, sc)),
      pruned.result(), sigsFor(spark, root, segs, _))
  }

  /** Signatures (doc_id, minhash) of `ids`, read from only the sig
    * partitions those ids hash to (chosen on the driver, pmod as
    * [[writeSegment]] partitions by). */
  private def sigsFor(spark: SparkSession, root: String,
      segs: Seq[(String, Seg)], ids: Seq[Long]): DataFrame =
    segs.map { case (seg, s) =>
      val partIds = ids.map(id => Math.floorMod(XXH64.hashLong(id, 42L),
        s.sp.toLong).toInt).distinct.sorted
      val sigs = readSigs(spark, root, seg)
      val base =
        if (partIds.length > s.sp * FallbackPartFraction) sigs
        else sigs.filter(col("sp").isin(partIds.map(Integer.valueOf): _*))
      base.filter(col("doc_id").isin(ids: _*)).select("doc_id", "minhash")
    }.reduce(_ unionByName _)
}
