package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, GraftShim, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Literal, Round}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.Q

/** Text-pipeline operators over the `documents` table — the
  * training-data-prep surface a 100 TB corpus needs (dedup, quality,
  * language id, token accounting). The reference engine has no analog
  * (SURVEY.md section 2.9); these are north-star extensions built as
  * declarative Spark expressions so every one of them runs inside
  * whole-stage codegen, shuffles at most once on an aggregation key,
  * and never collects to the driver.
  *
  * Scale design notes:
  *  - Exact dedup: single hash-shuffle on a 128-bit digest of the text
  *    (two xxhash64 lanes + length) — shuffle rows stay ~32 B wide no
  *    matter how large the documents are.
  *  - MinHash-LSH: the only near-dup approach that survives 100 TB —
  *    candidate generation is a band-bucket shuffle (linear), never an
  *    all-pairs product. Banding: 32 bands x 2 rows over a 64-perm
  *    signature (catches jaccard >= ~0.3 with high probability).
  *  - SimHash: 64-bit signatures; near-pairs via 4x16-bit block join
  *    (pigeonhole guarantees hamming <= 3 pairs share a block).
  */
object TextOps {

  /** Whitespace tokens of lower-cased text, empties dropped. */
  private val toksExpr =
    "filter(split(lower(text), '\\\\s+'), x -> x != '')"

  /** Recursively delete `path` when the JVM exits (one hook per
    * distinct path). For per-process scratch dirs that no later run
    * can reuse or overwrite. */
  private val exitCleanups =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def removeOnExit(path: String): Unit =
    if (exitCleanups.add(path))
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm))
          f.delete(): Unit
        }
        rm(new java.io.File(path))
      }))

  /** Word 3-gram shingles (falls back to the whole token list joined
    * when a doc has < 3 tokens), deduplicated. */
  private val shinglesExpr =
    s"""array_distinct(CASE WHEN size(toks) >= 3
       |  THEN transform(sequence(0, size(toks) - 3),
       |       i -> concat(element_at(toks, i+1), ' ',
       |                   element_at(toks, i+2), ' ',
       |                   element_at(toks, i+3)))
       |  ELSE array(array_join(toks, ' ')) END)""".stripMargin

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")

  // ------------------------------------------- per-row SQL surface
  // The per-row corpus-build primitives as Column functions (r17
  // VERDICT #6): the gate queries run THESE, and
  // graft.functions.TextFunctions registers the same functions into
  // the SQL FunctionRegistry (lang_id, quality_stats, token_counts,
  // pii_scrub, chunk_windows) — so a SQL-only user reaches exactly the
  // gate-tested logic, and the two surfaces cannot drift. All pure
  // codegen'd built-in compositions: zero shuffle, zero UDFs.

  /** Lower-cased whitespace tokens of an arbitrary text column. */
  private def toksOf(text: Column): Column =
    filter(split(lower(text), "\\s+"), x => x =!= "")

  /** Evaluate `v` ONCE per row and bind it as a lambda variable inside
    * `body` — `element_at(transform(array(v), x -> body(x)), 1)`.
    * Catalyst's subexpression elimination does not reach into
    * higher-order-function bodies, so a struct/array expression whose
    * fields each reference the same derived array would otherwise
    * recompute it per field (measured: t07 1.45×, t27 1.9× when the
    * per-row ops first inlined toksOf everywhere). */
  private def bind1(v: Column)(body: Column => Column): Column =
    element_at(transform(array(v), body), 1)

  /** Marker-word language ID: 'en' | 'fr' | 'de' | 'es' | 'und'. */
  def langIdCol(text: Column): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    def has(w: String): Column = instr(padded, s" $w ") > 0
    when(has("the") || has("a"), "en")
      .when(has("le") || has("la"), "fr")
      .when(has("der") || has("und"), "de")
      .when(has("el") || has("los"), "es")
      .otherwise("und")
  }

  /** Quality features as a struct: (n_chars, n_tokens, avg_tok_len,
    * stop_ratio) — ratios null for token-less docs. The token array is
    * computed once per row ([[bind1]]) and shared by every field. */
  def qualityStatsCol(text: Column): Column =
    bind1(toksOf(text)) { toks =>
      val n = size(toks).cast("long")
      struct(
        length(text).cast("long").as("n_chars"),
        n.as("n_tokens"),
        when(n > 0, round(aggregate(transform(toks, t => length(t)),
          lit(0), (acc, v) => acc + v).cast("double") / n, 4))
          .as("avg_tok_len"),
        when(n > 0, round(size(filter(toks,
          t => t.isin("the", "a", "of", "and"))).cast("double") / n, 4))
          .as("stop_ratio"))
    }

  /** Token accounting as a struct: (ws_tokens, re_tokens) —
    * whitespace tokens and BPE-ish regex tokens. */
  def tokenCountsCol(text: Column): Column = struct(
    size(filter(split(text, "\\s+"), x => x =!= ""))
      .cast("long").as("ws_tokens"),
    size(regexp_extract_all(text,
      lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
      .cast("long").as("re_tokens"))

  /** PII scrub as a struct: (n_emails, n_urls, clean) with emails/URLs
    * redacted to <EMAIL>/<URL> in `clean`. */
  def piiScrubCol(text: Column): Column = struct(
    regexp_count(text, lit(EmailRegex)).cast("long").as("n_emails"),
    regexp_count(text, lit(UrlRegex)).cast("long").as("n_urls"),
    regexp_replace(regexp_replace(text, EmailRegex, "<EMAIL>"),
      UrlRegex, "<URL>").as("clean"))

  /** Token-window chunks of one document as an array of structs
    * (chunk_id, n_chunk_toks, chunk_text) — the per-row core of
    * [[chunkWindows]]; explode it for the frame form. Token-less docs
    * yield an empty array. */
  def chunkWindowsCol(text: Column, window: Int = 128,
      stride: Int = 96): Column = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    // toks bound once per row, each chunk's slice bound once per chunk
    bind1(toksOf(text)) { toks =>
      when(size(toks) > 0,
        transform(sequence(lit(0), size(toks) - 1, lit(stride)), start =>
          bind1(slice(toks, start + 1, lit(window))) { chunk =>
            struct(
              floor(start.cast("long") / stride).cast("long").as("chunk_id"),
              size(chunk).cast("long").as("n_chunk_toks"),
              array_join(chunk, " ").as("chunk_text"))
          }))
        .otherwise(array().cast(
          "array<struct<chunk_id:bigint,n_chunk_toks:bigint,chunk_text:string>>"))
    }
  }

  /** Fixed-size token-window chunking with overlap over a (doc_id,
    * text) frame: each document becomes ceil(max(n,1) / stride) chunks
    * of up to `window` tokens starting every `stride` tokens (window >
    * stride => the last window - stride tokens of each chunk re-appear
    * at the head of the next — the context carry-over a training/RAG
    * pipeline wants). Pure generator explode + slice, no UDF, no
    * shuffle: a map-only pass at any corpus size. Documents with zero
    * tokens produce zero chunks. */
  def chunkWindows(df: DataFrame, window: Int = 128,
      stride: Int = 96): DataFrame =
    df.select(col("doc_id"),
        explode(chunkWindowsCol(col("text"), window, stride)).as("c"))
      .select(col("doc_id"), col("c.chunk_id"), col("c.n_chunk_toks"),
        col("c.chunk_text"))

  /** documents + toks + shingles columns. */
  def withShingles(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .withColumn("toks", expr(toksExpr))
      .withColumn("shingles", expr(shinglesExpr))

  /** 64-permutation MinHash signature as array<bigint>, computed by
    * the fused codegen'd [[graft.functions.MinHash64]] expression: one
    * pass over the shingles, each string hashed once, all 64
    * permutation minima folded in place with zero intermediate arrays
    * (bit-identical to — and measurably cheaper than — the former
    * transform + 64 × array_min(transform(...)) formulation, whose
    * interpreted higher-order functions allocated 65 arrays per row).
    * No UDF, no shuffle. (A multiply-based universal-hash family would
    * be cheaper still, but Spark's ANSI mode rejects wraparound
    * multiply.) */
  def withMinhash(df: DataFrame, perms: Int = 64): DataFrame =
    df.withColumn("minhash",
      graft.functions.TextFunctions.minhash64(col("shingles"), perms))

  /** LSH candidate pairs from banding the minhash signature:
    * bands of `r` rows hashed together; docs sharing any band bucket
    * are candidates. One explode + one shuffle on (band, bandHash).
    *
    * The candidate stream stays NARROW end to end: banding, the bucket
    * cap, the self-join and the pair-dedup all carry (doc_id, band,
    * band_hash) longs only; the 64-element signatures are re-attached by
    * two doc_id joins AFTER `(a_id, b_id)` dedup, so duplicated
    * candidates from multiple shared bands never shuffle signature
    * payloads. `sigs` is persisted for the re-attach joins (at 100 TB:
    * the signature table is ~0.5 KB/doc, the natural thing to keep in
    * executor storage or a persisted `_indices/` sidecar) and released
    * as soon as the caller's first action completes
    * ([[graft.CacheHygiene.unpersistAfterNextAction]]) — staying lazy
    * keeps the single-job plan (eager checkpointing here costs an extra
    * job, +1.6 s on t03 at sf0.1) while the |V|-sized signature cache
    * still cannot outlive its one consuming query (VERDICT r7 #3). */
  def lshCandidatePairs(sigs0: DataFrame, bands: Int = 32, r: Int = 2): DataFrame = {
    // an input the CALLER already persisted must not be cached a
    // second time: the projection would populate a duplicate
    // InMemoryRelation of the same rows (r18 optimization — one less
    // cache build + one less block set under memory pressure)
    val callerCached =
      sigs0.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val sigs =
      if (callerCached) sigs0.select("doc_id", "minhash")
      else sigs0.select("doc_id", "minhash")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = bucketPairs(bandBuckets(sigs, bands, r), "doc_id").distinct()
    // release only a cache WE created; a caller-persisted input has a
    // caller-owned lifecycle
    if (!callerCached) graft.CacheHygiene.unpersistAfterNextAction(sigs)
    pairs
      .join(sigs.select(col("doc_id").as("a_id"), col("minhash").as("sig_a")),
        Seq("a_id"))
      .join(sigs.select(col("doc_id").as("b_id"), col("minhash").as("sig_b")),
        Seq("b_id"))
      .select("a_id", "b_id", "sig_a", "sig_b")
  }

  /** (a_id, b_id) pairs, a_id < b_id, of docs sharing a bucket of a
    * capped (band, band_hash, `id`) frame — one row per shared bucket. */
  private def bucketPairs(capped: DataFrame, id: String): DataFrame = {
    val a = capped.select(col("band"), col("band_hash"), col(id).as("a_id"))
    val b = capped.select(col("band"), col("band_hash"), col(id).as("b_id"))
    a.join(b, Seq("band", "band_hash"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
  }

  /** (doc_id, band, band_hash) bucket rows derived from a signature
    * frame. Banding re-hashes 8-byte longs only (pure codegen), so
    * deriving buckets from a PERSISTED signature index is a narrow
    * columnar scan, never a recompute of the text shingling. Guard
    * against degenerate mega-buckets (constant columns at 100 TB would
    * otherwise turn one bucket into an all-pairs explosion): each
    * (band, bucket) is capped at 64 members, keeping the smallest
    * doc_ids deterministically. */
  private def bandBuckets(sigs: DataFrame, bands: Int, r: Int): DataFrame =
    capBuckets(bandedRows(sigs, bands, r), Seq("band", "band_hash"))

  /** The per-band bucket hashes as one array column over `minhash` —
    * pure codegen; shared with the STREAMING near-dup operator
    * ([[graft.streaming.StreamingDedup.lshCandidates]]), which must
    * band identically to interoperate with batch-built state. */
  private[graft] def bandHashArray(bands: Int, r: Int): Column =
    array((0 until bands).map { b =>
      val parts =
        (0 until r).map(j => s"element_at(minhash, ${b * r + j + 1})")
      expr(s"xxhash64(${parts.mkString(", ")})")
    }: _*)

  /** Uncapped (doc_id, band, band_hash) stream — banding alone is pure
    * codegen over the signature scan, no shuffle. */
  private def bandedRows(sigs: DataFrame, bands: Int, r: Int): DataFrame =
    sigs.select(
      col("doc_id"),
      posexplode(bandHashArray(bands, r)).as(Seq("band", "band_hash")))

  /** Keep the 64 smallest doc_ids per bucket key (one window shuffle of
    * the input stream — apply it to the NARROWEST stream available).
    * The window exchange is pinned at the session's shuffle parallelism
    * (r19 scaling fix, same rationale as [[jaccardPairs]]): the banded
    * stream is a few longs per row, so AQE's byte-based coalescing
    * collapses it to 1-2 partitions, serializing the bucket self-join
    * that follows — whose output (up to C(64,2) pair rows per bucket)
    * AQE cannot see. Explicit numPartitions = AQE-exempt; the join
    * clusters on the same key, so no extra exchange. */
  private def capBuckets(banded: DataFrame, key: Seq[String]): DataFrame =
    banded
      .repartition(banded.sparkSession.sessionState.conf.numShufflePartitions,
        key.map(col): _*)
      .withColumn("bucket_rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(key.map(col): _*)
          .orderBy(col("doc_id"))))
      .filter(col("bucket_rank") <= BucketCap)
      .drop("bucket_rank")

  /** MinHash signatures for an arbitrary corpus frame (doc_id, text) —
    * the PERSISTABLE near-dup index: (doc_id, minhash array<bigint>).
    * ~0.5 KB/doc at 64 permutations, so even a 100 TB corpus's index is
    * a few tens of GB: write it once (parquet / graft table) and dedup
    * every future delta batch against it via [[incrementalDedupRound]]
    * without ever touching the indexed text again. */
  def minhashIndex(corpus: DataFrame, perms: Int = 64): DataFrame =
    withMinhash(
      corpus.withColumn("toks", expr(toksExpr))
        .withColumn("shingles", expr(shinglesExpr)),
      perms)
      .select("doc_id", "minhash")

  /** One round of the DAILY incremental-dedup loop — the composition a
    * 100 TB corpus build schedules: flag the documents in `delta` that
    * near-duplicate an already-indexed document or an earlier delta
    * document, keep the survivors, and fold ONLY the survivors'
    * signatures back into the index, so tomorrow's delta deduplicates
    * against today's corpus without the index ever holding two rows for
    * one near-dup cluster. The indexed corpus TEXT is never re-read.
    *
    *   - `dups`: one row per duplicated delta doc, (doc_id, dup_of,
    *     est_jaccard) with `dup_of` the smallest matching doc (indexed
    *     or delta) and `est_jaccard` the signature-agreement estimate
    *     for that match — a driver-local relation of the probe's rows
    *     (at most one 24-byte row per delta doc), so every later
    *     consumer reads rows, never the probe's lineage.
    *   - `survivors`: the delta rows not in `dups`.
    *   - `updatedIndex`: the index as of this call unioned with the
    *     surviving delta signatures (recomputed from the delta text if
    *     read), `|index| + |surviving delta|` rows of (doc_id, minhash)
    *     — the next round's input, an append-only sidecar of ~0.5 KB/doc.
    *   - `probeStats`: the [[graft.ops.MinhashStore]] probe's shape; None
    *     for the scan fallback.
    *
    * Both rounds run the probe to completion inside the call and
    * cache nothing; `survivors` and `updatedIndex` drop the dup ids
    * with a filter, so any number of actions over the frames is safe.
    * `updatedIndex` is built when first read (on a store, resolving it
    * lists every segment's signature files); its index part is fixed
    * when the round runs, so a later append does not show in it. */
  final class IncrementalDedupRound(val dups: DataFrame,
      val survivors: DataFrame, index: => DataFrame,
      val probeStats: Option[graft.ops.MinhashStore.ProbeStats]) {
    lazy val updatedIndex: DataFrame = index
  }

  /** [[IncrementalDedupRound]] against a [[graft.ops.MinhashStore]] —
    * the O(delta) daily probe (r17 VERDICT #2). Candidate pairs, scores
    * and `dups` are IDENTICAL to the scan fallback's (the bloom has no
    * false negatives and the per-bucket cap runs over the same matched
    * rows); what changes is I/O: the store's per-segment bloom kills
    * the probe keys a mostly-novel delta never matches BEFORE any data
    * read, survivors prune the bucket partitions they hash to, and the
    * few surviving candidates' signatures come from only their hash
    * partitions — the index is not scanned per batch. Fold the
    * survivors forward with `MinhashStore.append(minhashIndex(
    * survivors), root)` — a new merge-on-read segment that re-reads the
    * delta text but never the store. */
  def incrementalDedupRoundIndexed(delta: DataFrame, root: String,
      threshold: Double = 0.5): IncrementalDedupRound = {
    val spark = delta.sparkSession
    val m = graft.ops.MinhashStore.meta(spark, root)
    dedupRound(delta,
      graft.ops.MinhashStore.segmentSigs(spark, root, m.segments),
      m.bands, m.r, threshold)(
      graft.ops.MinhashStore.probe(spark, root, _))
  }

  /** [[IncrementalDedupRound]] against a plain signature frame
    * ([[minhashIndex]] output, typically read back from a persisted
    * table) — the scan fallback. The index is scanned once, columnar,
    * (doc_id, minhash) only, and never shuffled, exactly as if every
    * store segment had fallen back to its signature scan. */
  def incrementalDedupRound(delta: DataFrame, indexSigs: DataFrame,
      bands: Int = 32, r: Int = 2, threshold: Double = 0.5)
      : IncrementalDedupRound =
    dedupRound(delta, indexSigs, bands, r, threshold) { _ =>
      graft.ops.MinhashStore.Probe(None, Seq(indexSigs), Nil,
        ids => indexSigs.filter(col("doc_id").isin(ids: _*)))
    }

  /** Docs kept per (band, band_hash) bucket, the smallest ids first: a
    * degenerate mega-bucket (constant signature columns at 100 TB)
    * yields no more candidates than an ordinary one. */
  private val BucketCap = 64

  private type Hit = (Long, Long, Double) // (new_id, old_id, est_jaccard)

  /** An index doc kept under a probe key's cap, with its hits on the
    * key's delta docs when its signature was at hand. */
  private final case class Capped(id: Long, hits: Array[Hit])

  private val DupsSchema = new org.apache.spark.sql.types.StructType()
    .add("doc_id", "long").add("dup_of", "long").add("est_jaccard", "double")

  /** Hits of index (or earlier delta) doc `oldId` on the delta docs
    * `newIds`: the signature-agreement estimate of each pair at or above
    * `threshold`. A null signature matches nothing. */
  private def hits(oldId: Long, sig: ArrayData, newIds: Iterable[Long],
      sigOf: scala.collection.Map[Long, ArrayData], perms: Int,
      threshold: Double): Array[Hit] =
    if (sig == null) Array.empty
    else newIds.iterator.flatMap { n =>
      val s = sigOf(n)
      if (s == null) None
      else {
        val est = graft.functions.TextHashing.sigAgree(s, sig).toDouble / perms
        if (est >= threshold) Some((n, oldId, est)) else None
      }
    }.toArray

  /** One task's summary of index rows (band, band_hash, doc_id,
    * minhash or null): per probe key, its [[BucketCap]] smallest doc
    * ids. `score` gives a kept id's hits; the driver merges the
    * bounded lists of every task. */
  private def capPerKey(rows: Iterator[(Int, Long, Long, ArrayData)],
      score: (Int, Long, Long, ArrayData) => Array[Hit])
      : Iterator[((Int, Long), Array[Capped])] = {
    val tops = mutable.HashMap.empty[(Int, Long), mutable.PriorityQueue[Capped]]
    rows.foreach { case (b, h, id, sig) =>
      val q = tops.getOrElseUpdate((b, h),
        mutable.PriorityQueue.empty[Capped](Ordering.by((c: Capped) => c.id)))
      if (q.size < BucketCap || id < q.head.id) {
        if (q.size == BucketCap) q.dequeue()
        q.enqueue(Capped(id, score(b, h, id, sig)))
      }
    }
    tops.iterator.map { case (k, q) => k -> q.toArray }
  }

  /** The probe body of both rounds. One job reads the delta (ids,
    * signatures, band hashes and probe keys); the driver then caps the
    * delta buckets, scores the within-delta pairs and lets `probe`
    * choose the index rows, with no job. On the scan path (no pruned
    * segment) one more job caps the scanned index rows per probe key
    * and scores them where it reads them; on the pruned path one job
    * caps the bucket rows and one reads the kept candidates'
    * signatures. Per-task lists of at most [[BucketCap]] ids per key
    * merge on the driver, so no shuffle runs. */
  private def dedupRound(delta: DataFrame, index: => DataFrame, bands: Int,
      r: Int, threshold: Double)(
      probe: Seq[graft.ops.MinhashStore.ProbeKey] => graft.ops.MinhashStore.Probe)
      : IncrementalDedupRound = {
    val spark = delta.sparkSession
    val perms = bands * r
    val docs = graft.ops.MinhashStore.withBandKeys(minhashIndex(delta, perms),
        bands, r).queryExecution.toRdd.map { row =>
      (row.getLong(0), if (row.isNullAt(1)) null else row.getArray(1).copy(),
        row.getArray(2).toLongArray(), row.getArray(3).toLongArray())
    }.collect()
    val sigOf = mutable.LongMap.from(docs.iterator.map(d => d._1 -> d._2))
    val byKey = mutable.HashMap.empty[(Int, Long), (Long, mutable.ArrayBuffer[Long])]
    for (d <- docs; b <- 0 until bands)
      byKey.getOrElseUpdate((b, d._3(b)), (d._4(b), mutable.ArrayBuffer.empty)
        )._2 += d._1
    // the capped probe buckets: each key's BucketCap smallest delta ids
    val buckets = byKey.map { case (k, (_, ids)) =>
      k -> ids.sorted.take(BucketCap).toArray }.toMap
    val keys = byKey.toSeq.map { case ((b, h), (kh, _)) =>
      graft.ops.MinhashStore.ProbeKey(b, h, kh, buckets((b, h)).length) }
    // within-delta pairs: the later doc of a capped bucket duplicates
    // an earlier one
    val deltaHits = buckets.valuesIterator.flatMap(ids => ids.indices.iterator
      .flatMap(i => hits(ids(i), sigOf(ids(i)), ids.filter(_ > ids(i)),
        sigOf, perms, threshold)))
    val p = probe(keys)
    // per probe key, its BucketCap smallest index ids among `frames`
    def capped(frames: Seq[DataFrame], sigCol: Boolean)(
        score: (Int, Long, Long, ArrayData) => Array[Hit])
        : Iterable[((Int, Long), Array[Capped])] =
      if (frames.isEmpty || buckets.isEmpty) Nil
      else frames.reduce(_ unionByName _).queryExecution.toRdd
        .mapPartitions { it =>
          val rows =
            if (sigCol) it.flatMap { row => // (doc_id, minhash, bh)
              val sig = if (row.isNullAt(1)) null else row.getArray(1)
              val bh = row.getArray(2)
              Iterator.range(0, bands).map(b => (b, bh.getLong(b)))
                .filter(buckets.contains)
                .map { case (b, h) => (b, h, row.getLong(0), sig) }
            } else it.map(row => // (doc_id, band, band_hash)
              (row.getInt(1), row.getLong(2), row.getLong(0), null: ArrayData))
              .filter(t => buckets.contains((t._1, t._2)))
          capPerKey(rows, score)
        }.collect().groupBy(_._1).map { case (k, parts) =>
          k -> parts.flatMap(_._2).sortBy(_.id).take(BucketCap) }
    val indexHits: Iterator[Hit] =
      if (p.pruned.isEmpty)
        // every candidate's signature is in the scanned rows: each task
        // scores a row as it keeps it
        capped(p.scanned.map(_.select(col("doc_id").cast("long"),
            col("minhash"), bandHashArray(bands, r).as("bh"))), sigCol = true) {
          (b, h, id, sig) => hits(id, sig, buckets((b, h)), sigOf, perms,
            threshold)
        }.iterator.flatMap(_._2.iterator.flatMap(_.hits))
      else {
        // the kept ids pair with their keys' delta docs; their
        // signatures come from the sig partitions they hash to
        val newOf = mutable.LongMap.empty[mutable.Set[Long]]
        for ((k, kept) <- capped(p.scanned.map(bandedRows(_, bands, r)) ++
            p.pruned, sigCol = false)((_, _, _, _) => Array.empty); c <- kept)
          newOf.getOrElseUpdate(c.id, mutable.Set.empty) ++= buckets(k)
        if (newOf.isEmpty) Iterator.empty
        else p.sigsOf(newOf.keys.toSeq).queryExecution.toRdd
          .map(row => (row.getLong(0),
            if (row.isNullAt(1)) null else row.getArray(1).copy()))
          .collect().iterator.flatMap { case (id, sig) =>
            hits(id, sig, newOf(id), sigOf, perms, threshold) }
      }
    // one row per duplicated delta doc: its smallest partner, with
    // min(struct(old_id, est)) order on ties
    val best = mutable.LongMap.empty[(Long, Double)]
    (deltaHits ++ indexHits).foreach { case (n, o, e) =>
      if (best.get(n).forall { case (bo, be) => o < bo || (o == bo && e < be) })
        best(n) = (o, e)
    }
    val rows = best.toSeq.sortBy(_._1).map { case (n, (o, e)) =>
      Row(n, o, Round(Literal(e), Literal(4)).eval()) }
    val dups = spark.createDataFrame(rows.asJava, DupsSchema)
    // delta rows whose id is not a dup id (a null id is never one)
    val dupIds = rows.map(_.get(0))
    def notDup(df: DataFrame): DataFrame =
      if (dupIds.isEmpty) df
      else df.filter(!col("doc_id").isin(dupIds: _*) || col("doc_id").isNull)
    new IncrementalDedupRound(dups, notDup(delta),
      index.unionByName(notDup(minhashIndex(delta, perms))), p.stats)
  }

  /** documents projected to (doc_id, source, words) with words = the
    * distinct lower-cased whitespace tokens. */
  def wordSets(s: SparkSession, d: String): DataFrame =
    wordSetsOf(docs(s, d))

  /** [[wordSets]] over an arbitrary corpus DataFrame with
    * (doc_id, source, text) columns. */
  def wordSetsOf(corpus: DataFrame): DataFrame =
    corpus.select(col("doc_id"), col("source"),
      expr(s"array_distinct($toksExpr)").as("words"))

  /** The composable corpus-dedup API — what a training-data build
    * actually calls: filter `corpus` (any DataFrame with doc_id, source,
    * text columns) down to near-duplicate cluster SURVIVORS, keeping one
    * canonical representative (min doc_id) per cluster of documents
    * whose word-set jaccard meets `threshold`, plus every document with
    * no near-duplicate. All original columns pass through (left-semi
    * join against the keep-list — corpus payloads never shuffle into
    * the dedup pipeline, which runs on narrow (doc_id, word-hash)
    * streams; see [[jaccardPairs]] / [[dedupClusters]] for the 100 TB
    * shape and the `dfCap` skew knob). */
  def nearDupSurvivors(corpus: DataFrame, threshold: Double = 0.8,
      dfCap: Int = 10000): DataFrame = {
    val w = wordSetsOf(corpus)
    val pairs = jaccardPairs(w, dfCap).filter(col("jaccard_raw") >= threshold)
    val keep = dedupClusters(w.select("doc_id"), pairs)
      .filter(col("doc_id") === col("cluster_rep"))
      .select("doc_id")
    corpus.join(keep, Seq("doc_id"), "left_semi")
  }

  /** CCNet-style n-gram LM perplexity scoring (Wenzek et al. 2019,
    * arXiv:1911.00359 §4.3 — CCNet filters CommonCrawl by the
    * perplexity of a KenLM model trained on a clean reference corpus).
    * Here the model is a capped bigram LM with stupid backoff
    * (Brants et al. 2007): top-`vocabSize` unigrams (ties broken by
    * token), top-`maxBigrams` bigrams over kept tokens,
    *   logP(w|v) = log c(vw)/c(v)        when the bigram is retained,
    *             = log 0.4 * P_uni(w)    otherwise (backoff), with
    *   P_uni(w)  = c(w)/(N+1), unknown tokens pooled into an UNK mass
    *               of N - sum(kept) + 1 so probabilities never hit 0.
    * A document's ppl = exp(-logp/n) with the first token scored by
    * P_uni and each subsequent one by its bigram context.
    *
    * Scale shape (100 TB): `model` is the (small, clean) REFERENCE
    * corpus — training is two exact count-aggregates over it, and the
    * model stays a pair of bounded DataFrames. Scoring never shuffles
    * the corpus: tokens explode in place (narrow), model lookups are
    * broadcast hash joins, and the per-doc re-agg map-side-combines to
    * one partial per document, so the only shuffle carries |docs| rows.
    * No UDFs — every step is codegen'd Spark SQL. Determinism: counts
    * are exact integers, top-K cuts are fully tie-broken, and each
    * doc's log-prob sum folds in token order (one partial per doc), so
    * the result is partitioning-invariant (SemanticDedupSpec-style
    * two-config check in PerplexitySpec).
    *
    * Returns (doc_id, n_toks, ppl) for every doc with >= 1 token. */
  def perplexityScore(corpus: DataFrame, model: DataFrame,
      vocabSize: Int = 1 << 16, maxBigrams: Int = 1 << 20): DataFrame = {
    // ---- train: exact counts, bounded model
    // Both training frames are cached (r18 optimization): the model
    // corpus is small by design (the clean REFERENCE corpus), yet the
    // uncached plan re-tokenized it for every consumer — the unigram
    // counts, the two driver scalars, the bigram explode, and each of
    // the four vocab broadcasts (differing projections defeat
    // exchange reuse) each re-ran the tokenize. Three actions read
    // them during construction (nRow, keptRow, the caller's final
    // action), hence releaseAfterConsumers = 3.
    val mtoks = model.select(expr(toksExpr).as("toks"))
      .filter(size(col("toks")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.CacheHygiene.unpersistAfterNextAction(mtoks,
      releaseAfterConsumers = 3)
    val uniAll = mtoks.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.CacheHygiene.unpersistAfterNextAction(uniAll,
      releaseAfterConsumers = 3)
    val vocab = uniAll.orderBy(col("cw").desc, col("w")).limit(vocabSize)
    // two scalars on the driver; everything else stays distributed
    val nRow = uniAll.agg(sum(col("cw"))).head()
    val n = if (nRow.isNullAt(0)) 0L else nRow.getLong(0)
    val keptRow = vocab.agg(sum(col("cw"))).head()
    val keptSum = if (keptRow.isNullAt(0)) 0L else keptRow.getLong(0)
    val unkMass = (n - keptSum + 1).toDouble
    val denom = (n + 1).toDouble
    val bi = mtoks
      .select(explode(expr(
        """transform(sequence(1, size(toks) - 1),
          |  i -> struct(element_at(toks, i) AS v,
          |              element_at(toks, i + 1) AS w))""".stripMargin))
        .as("p"))
      .select(col("p.v"), col("p.w"))
      .join(broadcast(vocab.select(col("w").as("v"))), Seq("v"), "left_semi")
      .join(broadcast(vocab.select("w")), Seq("w"), "left_semi")
      .groupBy("v", "w").agg(count(lit(1)).as("cvw"))
      .orderBy(col("cvw").desc, col("v"), col("w")).limit(maxBigrams)
    // ---- score: narrow explode + broadcast lookups + one |docs| shuffle
    val toks = corpus
      .select(col("doc_id"), expr(toksExpr).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), size(col("toks")).as("n_toks"),
        posexplode(expr(
          """transform(sequence(1, size(toks)),
            |  i -> struct(IF(i = 1, NULL, element_at(toks, i - 1)) AS v,
            |              element_at(toks, i) AS w))""".stripMargin)))
      .select(col("doc_id"), col("n_toks"), col("col.v"), col("col.w"))
    val puni = coalesce(col("cw").cast("double"), lit(unkMass)) / lit(denom)
    val scored = toks
      .join(broadcast(vocab.withColumnRenamed("cw", "cv")
        .withColumnRenamed("w", "v")), Seq("v"), "left")
      .join(broadcast(vocab), Seq("w"), "left")
      .join(broadcast(bi), Seq("v", "w"), "left")
      .withColumn("logp",
        when(col("v").isNull, log(puni)) // first token: unigram
          .when(col("cvw").isNotNull,
            log(col("cvw").cast("double") / col("cv").cast("double")))
          .otherwise(log(lit(0.4) * puni))) // stupid backoff
    scored.groupBy("doc_id")
      .agg(first(col("n_toks")).as("n_toks"), sum(col("logp")).as("lp"))
      .select(col("doc_id"), col("n_toks").cast("long").as("n_toks"),
        exp(-col("lp") / col("n_toks")).as("ppl"))
  }

  /** Deterministic exact-N per-stratum sampling: the first N ids per
    * stratum in content-stable hash order (md5 of the id), so the
    * sample is reproducible across runs, partitionings, and engines —
    * the "pick N representative docs per source/language/shard" step
    * every corpus audit and eval-set build runs.
    *
    * Scale shape (100 TB): a naive per-stratum window puts each whole
    * stratum in ONE task — a hot stratum bottlenecks the stage. This
    * runs two levels: the first rank salts the partition key with the
    * upstream partition id, spreading a hot stratum over the full
    * reducer fleet and emitting at most `n` candidates per (stratum,
    * salt); the final rank then orders at most n x P rows per stratum.
    * Both windows are plain shuffles; no stratum ever concentrates. */
  def stratifiedSample(df: DataFrame, strataCol: String, idCol: String,
      n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = md5(col(idCol).cast("string").cast("binary"))
    val w1 = Window.partitionBy(col(strataCol), col("__salt"))
      .orderBy(h, col(idCol))
    val w2 = Window.partitionBy(col(strataCol)).orderBy(h, col(idCol))
    df.withColumn("__salt", spark_partition_id())
      .withColumn("__rn1", row_number().over(w1))
      .filter(col("__rn1") <= n).drop("__rn1", "__salt")
      .withColumn("rn", row_number().over(w2))
      .filter(col("rn") <= n)
  }

  /** Trainable Naive-Bayes text classifier — the fastText-style filter
    * step of corpus curation (CCNet / GPT-3-style pipelines train one
    * on "target domain vs crawl" weak labels and keep docs the model
    * scores target-like). Laplace-smoothed per-token log-likelihood
    * ratios over a capped vocabulary, plus the class-prior log-odds;
    * a doc's logit is the prior plus the sum of its tokens' weights
    * (out-of-vocab tokens contribute 0).
    *
    * Fully declarative — no driver-side training loop: token counts
    * are one narrow (tok, np, nn) shuffle with map-side partial
    * aggregation, the top-`vocabSize` vocabulary is a TakeOrdered (df
    * ties broken by token, so the cut is deterministic on any engine),
    * and scoring joins the broadcast weight table against the exploded
    * corpus with one (doc_id, w) shuffle. At 100 TB, `train` is
    * typically a small labeled sample while `score` is the full
    * corpus — the corpus-sized pass touches only the broadcast join
    * and the per-doc sum. */
  def nbClassifier(train: DataFrame, score: DataFrame, positive: Column,
      vocabSize: Int = 512): DataFrame = {
    val toks = train.select(positive.cast("boolean").as("pos"),
      explode(expr(toksExpr)).as("tok"))
    val vocab = toks.groupBy("tok").agg(
        sum(when(col("pos"), 1L).otherwise(0L)).as("np"),
        sum(when(col("pos"), 0L).otherwise(1L)).as("nn"))
      .orderBy((col("np") + col("nn")).desc, col("tok"))
      .limit(vocabSize)
    val tot = vocab.agg(sum("np").as("tp"), sum("nn").as("tn"),
      count(lit(1)).as("v"))
    // Laplace-smoothed prior: with one-class weak labels (all-positive
    // or all-negative) an unsmoothed ln(0) is NULL in Spark and would
    // silently null every logit downstream; +1 on both counts keeps the
    // degenerate case finite (the logit then leans entirely on the
    // token weights) and shifts a two-class prior by < 1/min(np,nn).
    val prior = train.agg(
      (log(sum(when(positive, 1L).otherwise(0L)).cast("double") + 1.0) -
        log(sum(when(positive, 0L).otherwise(1L)).cast("double") + 1.0)).as("pr"))
    val w = vocab.crossJoin(broadcast(tot)).select(col("tok"),
      (log((col("np") + 1.0) / (col("tp") + col("v"))) -
        log((col("nn") + 1.0) / (col("tn") + col("v")))).as("w"))
    score.select(col("doc_id"), explode_outer(expr(toksExpr)).as("tok"))
      .join(broadcast(w), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(coalesce(sum("w"), lit(0.0)).as("s"))
      .crossJoin(broadcast(prior))
      .select(col("doc_id"),
        round(col("pr") + col("s"), 4).as("nb_logit"),
        (round(col("pr") + col("s"), 4) > 0).as("pred"))
  }

  /** Duplicated-substring span detection — the exact-substring half of
    * training-data dedup (Lee et al. 2021, arXiv:2107.06499, which
    * removes any >=50-token substring occurring twice in the corpus;
    * their suffix array is replaced here by the distributed-native
    * k-gram seed + island merge). A token k-gram occurring more than
    * once ANYWHERE in the corpus (other docs or the same doc) marks
    * its position; per doc, marked positions within k-1 of each other
    * merge into maximal spans (gaps-and-islands over one window).
    * Returns (doc_id, span_start, span_end, n_dup_grams) with
    * token-index bounds, the input to span excision or doc filtering.
    *
    * Scale shape (100 TB): the gram stream is |corpus tokens| rows and
    * shuffles twice on the gram key (count >= 2, then the semi-join
    * back) with map-side partial counts; the window pass shuffles only
    * marked positions on doc_id. Grams travel as text here so the
    * DuckDB oracle is bit-exact; at real scale the shuffle key is
    * xxhash64(gram) (8 bytes, same semantics modulo 2^-64 collisions).
    * Boilerplate mega-grams make hot keys — partial aggregation
    * absorbs them in the count, and AQE skew-split handles the join. */
  def duplicatedSpans(df: DataFrame, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // one tokenize + gram-explode pass, cached (r18 optimization): the
    // gram stream feeds both the duplicate-count aggregate and the
    // semi-join's probe side, and uncached each branch re-ran the
    // tokenize + k-gram string construction over the corpus. Released
    // deterministically after the consuming action (jaccardPairs
    // pattern).
    val grams = df.withColumn("toks", expr(toksExpr))
      .filter(expr(s"size(toks) >= $k"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, size(toks) - $k),
           |  i -> array_join(slice(toks, i + 1, $k), ' '))""".stripMargin))
        .as(Seq("pos", "gram")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.CacheHygiene.unpersistAfterNextAction(grams)
    val dup = grams.groupBy("gram")
      .agg(count(lit(1)).as("c")).filter(col("c") >= 2)
    val marked = grams.join(dup.select("gram"), Seq("gram"), "left_semi")
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    marked
      .withColumn("f",
        when(col("pos") - lag("pos", 1).over(byDoc) <= k - 1, 0)
          .otherwise(1))
      .withColumn("isl", sum("f").over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "isl")
      .agg(min("pos").cast("long").as("span_start"),
        (max("pos") + (k - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_dup_grams"))
      .drop("isl")
  }

  /** Exact-substring dedup (the excision half of [[duplicatedSpans]],
    * Lee et al. 2021 arXiv:2107.06499): every duplicated k-gram
    * occurrence EXCEPT the canonical one — the corpus-wide lowest
    * (doc_id, pos) — is excised from the text, so exactly one copy of
    * each duplicated passage survives. A token is removed iff some
    * non-canonical duplicated gram covers it AND no canonical gram
    * does; the guard keeps self-overlapping repeats (e.g. a run of one
    * token) from eating their own surviving copy. Returns
    * (doc_id, text, n_removed) with text rebuilt space-joined from the
    * kept tokens (whitespace runs normalize; case is preserved —
    * dedup here is case-sensitive, unlike the lowercased near-dup ops).
    *
    * Scale shape (100 TB): the gram/count/rank stages shuffle narrow
    * (gram, doc_id, pos) rows; coverage explodes only MARKED positions
    * (k rows each); the rebuild is the one corpus-sized stage — a
    * posexplode + equi-anti-join + per-doc regroup, i.e. one full
    * corpus rewrite, the same cost class as a compaction pass. */
  def dedupSubstrings(df: DataFrame, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rawToks = "filter(split(text, '\\\\s+'), x -> x != '')"
    val toks = df.select(col("doc_id"), expr(rawToks).as("toks"))
    val grams = toks.filter(expr(s"size(toks) >= $k"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, size(toks) - $k),
           |  i -> array_join(slice(toks, i + 1, $k), ' '))""".stripMargin))
        .as(Seq("pos", "gram")))
    val dup = grams.groupBy("gram")
      .agg(count(lit(1)).as("c")).filter(col("c") >= 2)
    val marked = grams.join(dup.select("gram"), Seq("gram"), "left_semi")
      .withColumn("canon", rank().over(
        Window.partitionBy("gram").orderBy("doc_id", "pos")) === 1)
    val removable = marked
      .select(col("doc_id"),
        explode(expr(s"sequence(pos, pos + ${k - 1})")).as("cpos"),
        col("canon"))
      .groupBy("doc_id", "cpos")
      .agg(max(col("canon")).as("anyCanon"))
      .filter(!col("anyCanon"))
      .select(col("doc_id").as("r_doc_id"), col("cpos"))
    val kept = toks
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))
      .join(removable,
        col("doc_id") === col("r_doc_id") && col("pos") === col("cpos"),
        "left_anti")
      .groupBy(col("doc_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ").as("text"),
        count(col("tok")).as("n_kept"))
    // rejoin onto the doc base: a doc whose every token was excised (or
    // that had no tokens) must still come back, with empty text. The
    // full input frame passes through with `text` replaced, so the op
    // composes inside a pipeline (mirrors [[nearDupSurvivors]]).
    val rebuilt = toks.select(col("doc_id"), expr("size(toks)").as("n_toks"))
      .join(kept.withColumnRenamed("text", "__rebuilt"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__rebuilt"), lit("")).as("__rebuilt"),
        (col("n_toks") - coalesce(col("n_kept"), lit(0L)))
          .cast("long").as("n_removed"))
    df.drop("text").join(rebuilt, Seq("doc_id"))
      .withColumnRenamed("__rebuilt", "text")
  }

  /** PII regexes shared by t20 and [[buildCorpus]]: backtracking-free
    * character classes, so Java regex (Spark) and RE2 (DuckDB) agree. */
  val EmailRegex = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRegex = "https?://[^ ]+"

  /** The end-to-end corpus build — the composition a training-data
    * pipeline actually runs, each stage one of this module's operators:
    *
    *   language filter -> quality gates (token count, top-token
    *   dominance) -> optional perplexity gate (CCNet-style, vs a clean
    *   reference model corpus) -> PII scrub -> exact + near dedup
    *   (cluster survivors) -> benchmark decontamination ->
    *   content-hash split
    *
    * Scale shape: quality/scrub/split are pure per-row codegen; the
    * dedup stages are the bounded-shuffle operators ([[jaccardPairs]] /
    * [[dedupClusters]]); eval grams broadcast so decontamination never
    * shuffles the corpus. Output = surviving rows of `corpus` with
    * `clean_text` (redacted), `n_tokens`, and `split` columns added.
    *
    * `corpus` needs (doc_id, source, text) — `source` scopes the
    * near-dup comparisons, as in [[nearDupSurvivors]] — plus `lang`
    * when `langs` filters. `evalSet` needs (text); docs sharing any
    * `contaminationGrams`-gram with it are dropped. */
  def buildCorpus(
      corpus: DataFrame,
      langs: Set[String] = Set.empty,
      minTokens: Int = 5,
      maxTopTokFrac: Double = 0.5,
      nearDupThreshold: Double = 0.8,
      dfCap: Int = 10000,
      evalSet: Option[DataFrame] = None,
      contaminationGrams: Int = 13,
      pplModel: Option[DataFrame] = None,
      maxPpl: Double = Double.MaxValue,
      substrDedupGrams: Int = 0): DataFrame = {
    val langed =
      if (langs.isEmpty) corpus
      else corpus.filter(col("lang").isin(langs.toSeq: _*))
    // exact-substring excision first (Lee et al. 2021 order: dedup the
    // text before any quality statistic reads it), so token counts,
    // dominance, fluency, and the near-dup signatures all see the
    // excised text
    val excised =
      if (substrDedupGrams > 0)
        dedupSubstrings(langed, substrDedupGrams).drop("n_removed")
      else langed
    // quality gates ride one narrow (doc_id, token)->count aggregation
    val toks = excised
      .withColumn("__toks", expr(toksExpr))
      .withColumn("n_tokens", size(col("__toks")))
      .filter(col("n_tokens") >= minTokens)
    val dominance = toks
      .select(col("doc_id"), explode(col("__toks")).as("tk"))
      .groupBy("doc_id", "tk").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg((max("c") / sum("c")).as("__topfrac"))
      .filter(col("__topfrac") <= maxTopTokFrac)
      .select("doc_id")
    // CCNet-style fluency gate: score against the reference LM, drop
    // the high-perplexity tail ([[perplexityScore]] — the corpus never
    // shuffles; the keep-list is |docs|-sized)
    val fluent = pplModel match {
      case Some(m) if maxPpl < Double.MaxValue =>
        val keep = perplexityScore(toks, m)
          .filter(col("ppl") <= maxPpl).select("doc_id")
        toks.join(keep, Seq("doc_id"), "left_semi")
      case _ => toks
    }
    val quality = fluent.join(dominance, Seq("doc_id"), "left_semi")
      .withColumn("clean_text", regexp_replace(
        regexp_replace(col("text"), EmailRegex, "<EMAIL>"),
        UrlRegex, "<URL>"))
      .drop("__toks")
    // exact dedup first (cheap hash agg shrinks the near-dup input)
    val exact = quality.join(
      quality.groupBy(md5(col("text")).as("__h"))
        .agg(min("doc_id").as("doc_id")).select("doc_id"),
      Seq("doc_id"), "left_semi")
    val deduped = nearDupSurvivors(exact, nearDupThreshold, dfCap)
    val decontaminated = evalSet match {
      case None => deduped
      case Some(ev) =>
        val k = contaminationGrams
        def gramsOf(df: DataFrame) = df
          .withColumn("__t", expr(toksExpr))
          .filter(size(col("__t")) >= k)
          .select(col("*"), explode(expr(
            s"array_distinct(transform(sequence(1, size(__t) - ${k - 1}), " +
              s"i -> concat_ws(' ', slice(__t, i, $k))))")).as("__gram"))
        val evalGrams = gramsOf(ev).select("__gram").distinct()
        val contaminated = gramsOf(deduped)
          .join(broadcast(evalGrams), Seq("__gram"))
          .select("doc_id").distinct()
        deduped.join(contaminated, Seq("doc_id"), "left_anti")
    }
    decontaminated.withColumn("split",
      when(substring(md5(col("text")), 1, 2) < "cc", "train")
        .when(substring(md5(col("text")), 1, 2) < "e6", "val")
        .otherwise("test"))
  }

  /** Exploded (source, doc_id, word-hash) token stream. Tokens travel
    * as 64-bit hashes so the inverted-index joins stay three-longs
    * narrow. */
  private def tokenStream(w: DataFrame): DataFrame =
    w.select(col("source"), col("doc_id"),
      explode(expr("transform(words, t -> xxhash64(t))")).as("word"))

  /** Token stream annotated with per-(source, word) document frequency
    * via a window count. The window partitions by the SAME key the
    * inverted-index self-join shuffles on, so annotating costs no extra
    * exchange and no extra job — the df split rides the shuffle the
    * join needs anyway. */
  private def withDf(tok: DataFrame): DataFrame =
    tok.withColumn("df", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"), col("word"))))

  /** Candidate near-dup pairs: same-source docs sharing at least one
    * token with document frequency <= `dfCap`. The cap is the skew knob
    * of the inverted-index self-join: pair generation costs sum(df^2)
    * per (source, token), so each surviving token contributes at most
    * C(dfCap, 2) pairs and total candidate work is bounded by
    * dfCap/2 * |token stream| instead of quadratic in corpus size. The
    * only approximation anywhere in the operator: a pair sharing
    * NOTHING but over-cap tokens is never considered — stopword-only
    * overlap that cannot rank in top-k. */
  def jaccardCandidates(w: DataFrame, dfCap: Int = 10000): DataFrame =
    interPairs(withDf(tokenStream(w)).filter(col("df") <= dfCap).drop("df"))
      .select("a_id", "b_id")

  /** (a_id, b_id, inter_kept) — shared-token count per candidate pair,
    * the narrow count-aggregate shape (no array payloads ride the
    * self-join). */
  private def interPairs(kept: DataFrame): DataFrame =
    kept.alias("x").join(kept.alias("y"),
        col("x.source") === col("y.source") &&
          col("x.word") === col("y.word") &&
          col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .agg(count(lit(1)).as("inter_kept"))

  /** Exact top-k word-set jaccard with a document-frequency cap.
    *
    * Filter-verification set-similarity join: candidates (and their
    * under-cap intersection counts) come from the capped inverted-index
    * self-join above; the over-cap contribution is restored EXACTLY by
    * intersecting per-doc arrays of over-cap tokens only — a
    * stopword-sized payload, empty whenever the cap is not hit, so the
    * plan degenerates to the plain narrow count-aggregate on corpora
    * like the gate's (max df ~214 at sf0.1 vs the 10k default cap).
    * inter = inter_kept + |overcap_a ∩ overcap_b| is exact for every
    * candidate pair because the cap partitions each word set. */
  def jaccardTopK(w: DataFrame, k: Int = 100, dfCap: Int = 10000): DataFrame =
    jaccardPairs(w, dfCap)
      .select("a_id", "b_id", "jaccard")
      .orderBy(col("jaccard").desc, col("a_id"), col("b_id"))
      .limit(k)

  /** All candidate pairs with their EXACT word-set jaccard (unrounded
    * in `jaccard_raw`, 4-dp in `jaccard`) — the verification stage of
    * the filter-verification join, shared by the top-k ranking and the
    * threshold-based cluster resolution below. */
  def jaccardPairs(w: DataFrame, dfCap: Int = 10000): DataFrame = {
    // ONE tokenize + df-window pass, cached (r18 optimization): the
    // annotated token stream feeds FOUR downstream subtrees (both
    // self-join sides, the over-cap arrays, the per-doc sizes), and
    // uncached each re-ran the scan → regex-tokenize → explode →
    // window-shuffle pipeline — the t02 plan carried 4 copies of that
    // pipeline plus 2 more tokenize passes for sizes (guide §1.2 #1:
    // fix the pass structure first). The cache rows are narrow
    // (source, doc_id, word-hash, df); release is deterministic via
    // [[graft.CacheHygiene.unpersistAfterNextAction]], the same
    // pattern lshCandidatePairs uses for its signature cache.
    // The token-stream exchange is pinned at the session's configured
    // shuffle parallelism (r19 scaling fix): AQE coalesces exchanges by
    // shuffle-read BYTES, and this stream is three longs per row — at
    // bench scale it coalesces to 1-2 partitions — but the self-join
    // it feeds produces sum(df²) OUTPUT rows per partition, a cost AQE
    // cannot see, so the entire pair-generation stage was running
    // near-serially at any core count (sf1 probe: 8c→32c ratio 1.2).
    // An explicit numPartitions makes the repartition AQE-exempt
    // (REPARTITION_BY_NUM); the window and the self-join cluster on
    // the same key, so no extra exchange is introduced — and the count
    // follows the session conf, never a local constant.
    val shufflePar = w.sparkSession.sessionState.conf.numShufflePartitions
    val tok = withDf(tokenStream(w)
        .repartition(shufflePar, col("source"), col("word")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.CacheHygiene.unpersistAfterNextAction(tok)
    // |words| per doc == the doc's token-stream row count (words are
    // pre-deduplicated and explode emits one row per element), so
    // sizes ride the cache as a narrow count-aggregate instead of
    // re-tokenizing the corpus; zero-word docs (no tok rows) cannot
    // appear in any candidate pair, so the inner joins below never
    // miss them.
    val sizes = tok.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // per-doc over-cap token arrays: EMPTY whenever the cap is never hit
    // (the gate corpus: max df ~214 vs the 10k default), in which case
    // the correction joins below are no-op passes over an empty
    // broadcast and the plan is the plain narrow count-aggregate. Each
    // array is bounded by the over-cap (stopword-sized) vocab.
    val commonPerDoc = tok.filter(col("df") > dfCap)
      .groupBy("doc_id").agg(collect_list(col("word")).as("cw"))
    interPairs(tok.filter(col("df") <= dfCap).drop("df"))
      .join(commonPerDoc.select(col("doc_id").as("a_id"), col("cw").as("cwa")),
        Seq("a_id"), "left")
      .join(commonPerDoc.select(col("doc_id").as("b_id"), col("cw").as("cwb")),
        Seq("b_id"), "left")
      .withColumn("inter", col("inter_kept") +
        when(col("cwa").isNull || col("cwb").isNull, lit(0))
          .otherwise(size(array_intersect(col("cwa"), col("cwb")))))
      .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")), Seq("a_id"))
      .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")), Seq("b_id"))
      .withColumn("jaccard_raw", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")))
      .withColumn("jaccard", round(col("jaccard_raw"), 4))
      .select("a_id", "b_id", "jaccard_raw", "jaccard")
  }

  /** Near-dup CLUSTER RESOLUTION — the step after pair generation in a
    * dedup pipeline: connected components over the similarity graph,
    * labeling every document with the MIN doc_id of its component (the
    * canonical survivor).
    *
    * Distributed min-label propagation with POINTER JUMPING: each round
    * takes the min over direct neighbors (one |E| join + groupBy-min),
    * then path-halves by adopting the label OF the label (one |V|
    * self-join) — so propagation distance DOUBLES per round and
    * convergence is O(log diameter), not O(diameter); chain-shaped
    * components (which dense near-dup corpora do produce) resolve in a
    * handful of rounds at any corpus size. Per-round driver work is ONE
    * scalar convergence count, never a collect. `maxIters` is a safety
    * cap, far above log2 of any real component. */
  /** Edge lists at or under this many (doubled) edges resolve on the
    * driver — the same size-threshold trade Spark's broadcast joins and
    * GraphFrames' connectedComponents make. Default 2^21 doubled edges
    * (~32 MB of long pairs). Set 0 to force the distributed loop. */
  val CcBroadcastEdgesConf = "spark.graft.cc.broadcastEdgeThreshold"

  def dedupClusters(vertices: DataFrame, pairs: DataFrame,
      maxIters: Int = 20): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val spark = vertices.sparkSession
    // symmetrize via ONE generator pass (r18 optimization): the former
    // union(pairs, pairs.reversed) planned the ENTIRE upstream pair
    // pipeline twice — for t15/t17 that doubled the inverted-index
    // self-join and every tokenize pass under it. Same rows, same
    // component structure (union-find and min-label propagation are
    // edge-order-independent), half the work before the cache fills.
    val edges = pairs.select(explode(array(
        struct(col("a_id").as("src"), col("b_id").as("dst")),
        struct(col("b_id").as("src"), col("a_id").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // One count materializes the (reused) edge cache AND sizes the
    // plan choice: a graph whose edge list fits the driver resolves
    // with union-find in one pass — identical labels (min id per
    // component), none of the per-round job overhead that dominates
    // small graphs. The distributed pointer-jumping loop below remains
    // the 100 TB path; this is the broadcast-join trade applied to CC
    // (GraphFrames' connectedComponents ships the same threshold).
    val doubledCount = edges.count()
    val bcMax = spark.conf.getOption(CcBroadcastEdgesConf)
      .map(_.toLong).getOrElse(1L << 21)
    if (doubledCount <= bcMax) {
      val es = edges.select(col("src").cast("long"), col("dst").cast("long"))
        .collect()
      edges.unpersist()
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x // path compression
        while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      es.foreach { e =>
        val (s, d) = (e.getLong(0), e.getLong(1))
        parent.putIfAbsent(s, s); parent.putIfAbsent(d, d)
        val (rs, rd) = (find(s), find(d))
        if (rs != rd) { if (rs < rd) parent.put(rd, rs) else parent.put(rs, rd) }
      }
      // min member per root, then endpoint -> min label
      val minOfRoot = new java.util.HashMap[Long, Long]()
      parent.keySet().forEach { v =>
        val r = find(v)
        minOfRoot.merge(r, v, (a, b) => math.min(a, b))
      }
      val labels = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
      parent.keySet().forEach { v => labels += ((v, minOfRoot.get(find(v)))) }
      import spark.implicits._
      val labelDf = labels.toSeq.toDF("doc_id", "cluster_rep")
      return vertices.select(col("doc_id"))
        .join(broadcast(labelDf), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_rep"), col("doc_id")).as("cluster_rep"))
    }
    // localCheckpoint after every round: iterative self-joins grow the
    // logical plan exponentially, and although persist caches the DATA,
    // analysis/optimization time on the compounding plan explodes after
    // a few rounds (measured: 0.8s -> 2s -> 30s/round at sf0.1).
    // Truncating lineage keeps every round's plan constant-size; the op
    // is a deterministic re-runnable batch, so executor-local
    // checkpoint durability is the right trade.
    var labels = vertices.select(col("doc_id"), col("doc_id").as("rep"))
      .localCheckpoint(true)
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIters) {
      iter += 1
      // (1) neighbor min
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("dst"), col("rep")), Seq("dst"))
        .groupBy(col("src")).agg(min(col("rep")).as("nbr_rep"))
      val stepped = labels
        .join(nbrMin.select(col("src").as("doc_id"), col("nbr_rep")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("rep").as("old_rep"),
          least(col("rep"), coalesce(col("nbr_rep"), col("rep"))).as("rep"))
        .localCheckpoint(true)
      // (2) pointer jump: rep <- rep(rep) (monotone, so plain least).
      // The convergence metric rides the CHECKPOINT job via observe
      // (CollectMetrics) instead of a separate count() — one fewer
      // Spark job per round, and the checkpoint materialization was
      // happening anyway.
      val obs = new org.apache.spark.sql.Observation(
        s"dedup_converge_${java.util.UUID.randomUUID()}")
      val jumped = stepped
        .join(stepped.select(col("doc_id").as("rep"), col("rep").as("rep2")),
          Seq("rep"), "left")
        .select(col("doc_id"), col("old_rep"),
          least(col("rep"), coalesce(col("rep2"), col("rep"))).as("rep"))
        .observe(obs, sum(when(col("rep") =!= col("old_rep"), 1L)
          .otherwise(0L)).as("changed"))
        .localCheckpoint(true)
      changed = obs.get.get("changed").flatMap(Option(_))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      // `jumped` is fully materialized (the eager checkpoint whose job
      // also delivered the metric), so the previous round's label
      // snapshot and this round's intermediate are dead — release their
      // blocks NOW, or an N-round
      // run pins ~2N |V|-sized block sets in executor storage until
      // session GC (VERDICT r7 finding #2: at 100 TB that evicts the
      // working set; at sf0.1 it amplified bench-machine contention).
      GraftShim.releaseCheckpoint(labels)
      GraftShim.releaseCheckpoint(stepped)
      labels = jumped
    }
    edges.unpersist()
    if (changed > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"dedupClusters exhausted maxIters=$maxIters with $changed labels " +
          "still moving — returned cluster_rep values are NOT converged " +
          "(a pathological component exceeds 2^maxIters diameter); raise " +
          "maxIters or investigate the similarity graph")
    labels.select(col("doc_id"), col("rep").as("cluster_rep"))
  }

  /** SimHash-64 per document: per-bit weighted token-hash majority.
    * Computed by the fused codegen'd [[graft.functions.SimHash64]]
    * expression — one narrow pass per document, zero shuffles
    * (bit-identical to, and ~10× cheaper than, the explode +
    * 64-conditional-sums groupBy it replaces; docs with no tokens drop,
    * matching the explode formulation). */
  def simhash(df: DataFrame): DataFrame =
    df.filter(size(col("toks")) > 0)
      .select(col("doc_id"),
        graft.functions.TextFunctions.simhash64(col("toks")).as("simhash"))

  // ====================================================================
  // Driver-gated queries
  // ====================================================================

  val all: Seq[Q] = Seq(

    // CCNet-style perplexity quality scoring, self-trained on the gate
    // corpus (production passes a clean reference corpus as the model).
    Q.golden("t21_perplexity", Seq("doc_id", "n_toks", "ppl"), "doc_id",
      "bigram-LM perplexity per doc (CCNet-style, stupid backoff)") {
      (s, d) =>
      val c = docs(s, d)
      perplexityScore(c, c)
        .select(col("doc_id"), col("n_toks"), round(col("ppl"), 4).as("ppl"))
        .orderBy("doc_id")
    },

    // Deterministic exact-N per-stratum sample, hash-rank order —
    // engine-independent, so DuckDB computes the identical sample.
    Q("t22_stratified_sample",
      """SELECT source, rn, doc_id FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 10
        |ORDER BY source, rn""".stripMargin,
      "exact-N per-source sample via salted two-level hash-rank top-N") {
      (s, d) =>
      stratifiedSample(docs(s, d), "source", "doc_id", 10)
        .select(col("source"), col("rn"), col("doc_id"))
        .orderBy("source", "rn")
    },

    // Trainable NB classifier: lang='en' is the weak label (the gate's
    // stand-in for "target domain vs crawl"); both engines train the
    // identical model because the vocab cut and smoothing are
    // deterministic.
    Q("t23_nb_classifier",
      """WITH tok AS (
        |  SELECT doc_id, lang = 'en' AS pos,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |                       x -> x <> '')) AS tok
        |  FROM documents),
        |vocab AS (
        |  SELECT tok,
        |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
        |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS nn
        |  FROM tok GROUP BY tok
        |  ORDER BY np + nn DESC, tok LIMIT 512),
        |tot AS (
        |  SELECT CAST(sum(np) AS BIGINT) AS tp,
        |    CAST(sum(nn) AS BIGINT) AS tn,
        |    CAST(count(*) AS BIGINT) AS v FROM vocab),
        |w AS (
        |  SELECT tok, ln((np + 1.0) / (tp + v)) - ln((nn + 1.0) / (tn + v)) AS w
        |  FROM vocab CROSS JOIN tot),
        |prior AS (
        |  SELECT ln(CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE) + 1.0)
        |       - ln(CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS DOUBLE) + 1.0) AS pr
        |  FROM documents),
        |s AS (
        |  SELECT t.doc_id, coalesce(sum(w.w), 0) AS s
        |  FROM tok t LEFT JOIN w ON t.tok = w.tok
        |  GROUP BY t.doc_id)
        |SELECT d.doc_id, round(pr + coalesce(s.s, 0), 4) AS nb_logit,
        |       round(pr + coalesce(s.s, 0), 4) > 0 AS pred
        |FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
        |CROSS JOIN prior
        |ORDER BY d.doc_id""".stripMargin,
      "trainable NB classifier: smoothed LLR weights + prior, lang weak label") {
      (s, d) =>
      val dd = docs(s, d)
      nbClassifier(dd, dd, col("lang") === "en").orderBy("doc_id")
    },

    // Exact-substring dedup seed: maximal duplicated >=10-token spans.
    Q("t24_dup_spans",
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |                             x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, s.i - 1 AS pos,
        |    array_to_string(list_slice(toks, s.i, s.i + 9), ' ') AS gram
        |  FROM t, LATERAL unnest(generate_series(1, len(toks) - 9)) AS s(i)
        |  WHERE len(toks) >= 10),
        |d AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        |p AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (gram)),
        |fl AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 9
        |         THEN 0 ELSE 1 END AS f
        |  FROM p),
        |isl AS (
        |  SELECT doc_id, pos,
        |    sum(f) OVER (PARTITION BY doc_id ORDER BY pos
        |                 ROWS UNBOUNDED PRECEDING) AS isl
        |  FROM fl)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |  CAST(max(pos) + 9 AS BIGINT) AS span_end,
        |  CAST(count(*) AS BIGINT) AS n_dup_grams
        |FROM isl GROUP BY doc_id, isl
        |ORDER BY doc_id, span_start""".stripMargin,
      "maximal duplicated 10-gram spans: k-gram seeds + island merge") {
      (s, d) =>
      duplicatedSpans(docs(s, d), 10).orderBy("doc_id", "span_start")
    },

    // Exact-substring dedup: rebuilt text with every non-canonical
    // duplicated >=10-token span excised. Case-sensitive raw tokens.
    Q("t25_substr_dedup",
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
        |                             x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, s.i - 1 AS pos,
        |    array_to_string(list_slice(toks, s.i, s.i + 9), ' ') AS gram
        |  FROM t, LATERAL unnest(generate_series(1, len(toks) - 9)) AS s(i)
        |  WHERE len(toks) >= 10),
        |d AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        |m AS (
        |  SELECT g.doc_id, g.pos,
        |    rank() OVER (PARTITION BY g.gram ORDER BY g.doc_id, g.pos) = 1
        |      AS canon
        |  FROM g JOIN d USING (gram)),
        |rem AS (
        |  SELECT doc_id, pos + o.j AS cpos
        |  FROM m, LATERAL unnest(generate_series(0, 9)) AS o(j)
        |  GROUP BY doc_id, cpos HAVING NOT bool_or(canon)),
        |tok AS (
        |  SELECT doc_id, s.i - 1 AS pos, toks[s.i] AS tok, len(toks) AS n
        |  FROM t, LATERAL unnest(generate_series(1, len(toks))) AS s(i)),
        |kept AS (
        |  SELECT tok.doc_id, tok.pos, tok.tok, tok.n
        |  FROM tok LEFT JOIN rem
        |    ON tok.doc_id = rem.doc_id AND tok.pos = rem.cpos
        |  WHERE rem.doc_id IS NULL)
        |SELECT t.doc_id,
        |  coalesce(string_agg(kept.tok, ' ' ORDER BY kept.pos), '') AS text,
        |  CAST(len(t.toks) - count(kept.tok) AS BIGINT) AS n_removed
        |FROM t LEFT JOIN kept ON t.doc_id = kept.doc_id
        |GROUP BY t.doc_id, len(t.toks)
        |ORDER BY t.doc_id""".stripMargin,
      "exact-substring dedup: excise non-canonical duplicated spans") {
      (s, d) =>
      dedupSubstrings(docs(s, d), 10)
        .select("doc_id", "text", "n_removed").orderBy("doc_id")
    },

    // Exact dedup: one shuffle on a 128-bit DIGEST of the text (two
    // independent xxhash64 lanes + the char length as tiebreak), keep
    // lowest doc_id per group. Grouping by the digest instead of the
    // raw text keeps shuffle rows ~32 B wide — at 100 TB a GROUP BY
    // text would carry the whole corpus through the exchange, and no
    // aggregate here reads the text, so the pre-shuffle projection
    // drops it entirely (plan-asserted in TextOpsSpec). Collisions
    // need a simultaneous 2x64-bit hash + length match: negligible
    // at any corpus size this engine targets.
    Q("t01_exact_dedup",
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies,
        |  min(n_chars) AS n_chars
        |FROM documents
        |GROUP BY text
        |ORDER BY doc_id""".stripMargin,
      "exact dedup via 128-bit text digest groupBy, lowest-id survivor") {
      (s, d) =>
      docs(s, d)
        .groupBy(length(col("text")).as("t_len"),
          xxhash64(col("text")).as("t_h1"),
          xxhash64(lit("graft:t01:lane2"), col("text")).as("t_h2"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"),
          min(col("n_chars")).as("n_chars"))
        .select("doc_id", "n_copies", "n_chars")
        .orderBy("doc_id")
    },

    // N-gram Jaccard near-dup: exact word-set jaccard within each source
    // partition (blocked all-pairs — the blocking key bounds the product;
    // LSH below is the unblocked scale path).
    Q("t02_jaccard_pairs",
      """WITH w AS (
        |  SELECT doc_id, source,
        |    list_distinct(list_filter(string_split_regex(lower(text), '\s+'),
        |                              x -> x <> '')) AS words
        |  FROM documents)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  round(CAST(len(list_intersect(a.words, b.words)) AS DOUBLE)
        |    / (len(a.words) + len(b.words) - len(list_intersect(a.words, b.words))),
        |    4) AS jaccard
        |FROM w a JOIN w b ON a.source = b.source AND a.doc_id < b.doc_id
        |ORDER BY jaccard DESC, a_id, b_id
        |LIMIT 100""".stripMargin,
      "exact word-set jaccard, filter-verification with df cap, top-100") { (s, d) =>
      // Filter-verification set-similarity join (see jaccardCandidates /
      // jaccardTopK): candidate pairs from an inverted token index with a
      // document-frequency cap on ultra-common tokens (the skew knob —
      // candidate cost is bounded by dfCap/2 * token-stream size instead
      // of quadratic in corpus size), then exact full-array verification
      // per candidate. The default cap of 10k is never hit at gate scale
      // (max df at sf0.1 is ~214), so the result is identical to the
      // uncapped oracle; DfCapSpec pins that a planted 50%-frequency
      // token is excluded from pair generation without changing top-k.
      //
      // CAVEAT for knob users: spark.graft.jaccard.dfCap trades recall
      // for skew-safety. A pair whose ONLY shared tokens all have
      // df > cap is never generated, so a cap low enough to bite makes
      // the result diverge from the uncapped SQL semantics (the gate's
      // DuckDB oracle) — candidate top-k entries riding solely on
      // ultra-common tokens drop out. Lower it for adversarial skew,
      // not for speed at healthy distributions.
      val cap = s.conf.get("spark.graft.jaccard.dfCap", "10000").toInt
      jaccardTopK(wordSets(s, d), k = 100, dfCap = cap)
    },

    // MinHash + LSH near-dup (not SQL-expressible; fully deterministic —
    // xxhash64 signatures, deterministic bucket cap, unique sort key —
    // so golden-pinned; property-tested in MinHashSpec too).
    Q.golden("t03_minhash_lsh_pairs",
      Seq("a_id", "b_id", "est_jaccard"), "est_jaccard DESC, a_id, b_id",
      "MinHash-LSH candidate pairs with signature-estimated jaccard") { (s, d) =>
      val sigs = withMinhash(withShingles(s, d))
        .select("doc_id", "minhash")
      lshCandidatePairs(sigs)
        .withColumn("est_jaccard", round(
          graft.functions.TextFunctions.sig_agree(col("sig_a"), col("sig_b"))
            .cast("double") / 64.0, 4))
        .select("a_id", "b_id", "est_jaccard")
        .orderBy(col("est_jaccard").desc, col("a_id"), col("b_id"))
        .limit(200)
    },

    // Incremental dedup: the daily-build shape at 100 TB — index 3/4 of
    // the corpus once ([[minhashIndex]], persisted), then flag near-dups
    // in the remaining 1/4 "delta" against the persisted index plus
    // within the delta, touching only (doc_id, minhash) on the indexed
    // side — the indexed TEXT is never re-read. Golden-pinned (minhash
    // is not SQL-expressible); two-config bit-stability verified before
    // pinning.
    Q.golden("t26_incremental_dedup",
      Seq("doc_id", "dup_of", "est_jaccard"), "doc_id",
      "delta near-dups vs a persisted minhash index, no corpus recompute") {
      (s, d) =>
      val base = docs(s, d).filter(expr("pmod(doc_id, 4) != 0"))
      val delta = docs(s, d).filter(expr("pmod(doc_id, 4) = 0"))
      // Path is per-source-dir: callers (GoldenGen) hold lazy plans over
      // several sf dirs at once, and a shared path would let a later
      // build invalidate an earlier plan's file listing. Keyed by an md5
      // of the FULL source path (String.hashCode collides across dirs)
      // plus the pid, so two concurrent JVMs probing the same sf dir can
      // never race each other's overwrite/read on a shared index.
      val dirKey = java.security.MessageDigest.getInstance("MD5")
        .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
      val idxPath = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft_t26_idx_${dirKey}_p${ProcessHandle.current().pid()}").toString
      // pid-suffixed scratch dirs never collide across JVMs, so they
      // also never get overwritten by later runs — remove on exit or
      // repeated bench/verify JVMs would accumulate them in tmp
      removeOnExit(idxPath)
      graft.ops.MinhashStore.build(minhashIndex(base), idxPath)
      // O(delta) probe against the bloom+bucket store (r17 VERDICT
      // #2); candidates and scores — and therefore the golden — are
      // identical to the former full-signature-scan path
      incrementalDedupRoundIndexed(delta, idxPath).dups
        .orderBy("doc_id")
    },

    // Benchmark DECONTAMINATION: the standard 13-gram overlap check
    // between the training corpus and an eval set (here: doc_id < 100
    // stands in for the benchmark). Scale shape at 100 TB: eval sets
    // are small by nature, so their distinct grams BROADCAST and the
    // corpus is one narrow scan + broadcast join — the corpus never
    // shuffles. Oracle-exact: DuckDB builds identical gram strings.
    Q("t16_decontamination",
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |                x -> x <> '') AS w
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id, array_to_string(w[i:i+12], ' ') AS gram
        |  FROM t, UNNEST(range(1, len(w) - 11)) AS r(i))
        |SELECT c.doc_id, e.doc_id AS eval_id,
        |  CAST(count(*) AS BIGINT) AS shared_grams
        |FROM g c JOIN g e ON c.gram = e.gram
        |WHERE e.doc_id < 100 AND c.doc_id >= 100
        |GROUP BY c.doc_id, e.doc_id
        |ORDER BY c.doc_id, eval_id""".stripMargin,
      "13-gram eval-set contamination: broadcast eval grams, one corpus pass") { (s, d) =>
      val grams = docs(s, d)
        .withColumn("toks", expr(toksExpr))
        .filter(size(col("toks")) >= 13)
        .select(col("doc_id"), explode(expr(
          "array_distinct(transform(sequence(1, size(toks) - 12), " +
            "i -> concat_ws(' ', slice(toks, i, 13))))")).as("gram"))
      val eval_ = grams.filter(col("doc_id") < 100)
        .select(col("gram"), col("doc_id").as("eval_id"))
      grams.filter(col("doc_id") >= 100)
        .join(broadcast(eval_), Seq("gram"))
        .groupBy(col("doc_id"), col("eval_id"))
        .agg(count(lit(1)).as("shared_grams"))
        .orderBy("doc_id", "eval_id")
    },

    // Near-dup CLUSTER RESOLUTION: connected components over the
    // jaccard >= 0.8 similarity graph, canonical survivor = min doc_id.
    // Oracle-exact: DuckDB computes the same components via a recursive
    // transitive closure (tractable at oracle scale; the Spark side is
    // the distributed label-propagation that holds at 100 TB). Both
    // sides threshold the UNROUNDED jaccard — identical int/int double
    // divisions, so the boundary compares bit-identically.
    Q("t15_dedup_clusters",
      """WITH RECURSIVE
        |w AS (
        |  SELECT doc_id, source,
        |    list_distinct(list_filter(string_split_regex(lower(text), '\s+'),
        |                              x -> x <> '')) AS words
        |  FROM documents),
        |e AS (
        |  SELECT a.doc_id AS src, b.doc_id AS dst
        |  FROM w a JOIN w b ON a.source = b.source AND a.doc_id <> b.doc_id
        |  WHERE CAST(len(list_intersect(a.words, b.words)) AS DOUBLE)
        |      / (len(a.words) + len(b.words)
        |         - len(list_intersect(a.words, b.words))) >= 0.8),
        |reach(src, dst) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src)
        |SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS cluster_rep
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,
      "near-dup clusters: connected components, min-id canonical") { (s, d) =>
      // honor the same skew knob as t02 — the round-8 skew probe caught
      // this query hard-coding the default cap, which let 2k docs with a
      // shared 40-token prefix (df=2000, under the 10k default) blow the
      // inverted-index self-join to ~80M rows (t15 16.9x superlinear);
      // with the probe's cap=256 the same corpus stays linear
      val cap = s.conf.get("spark.graft.jaccard.dfCap", "10000").toInt
      val w = wordSets(s, d)
      val pairs = jaccardPairs(w, cap).filter(col("jaccard_raw") >= 0.8)
      dedupClusters(w.select("doc_id"), pairs).orderBy("doc_id")
    },

    // The composable SURVIVOR API over the same clustering: the corpus
    // filtered to one canonical representative per near-dup cluster —
    // the call a corpus build chains between quality filtering and
    // mixture sampling. Oracle: same recursive transitive closure as
    // t15, keeping rows whose component min IS the row.
    Q("t17_near_dup_survivors",
      """WITH RECURSIVE
        |w AS (
        |  SELECT doc_id, source,
        |    list_distinct(list_filter(string_split_regex(lower(text), '\s+'),
        |                              x -> x <> '')) AS words
        |  FROM documents),
        |e AS (
        |  SELECT a.doc_id AS src, b.doc_id AS dst
        |  FROM w a JOIN w b ON a.source = b.source AND a.doc_id <> b.doc_id
        |  WHERE CAST(len(list_intersect(a.words, b.words)) AS DOUBLE)
        |      / (len(a.words) + len(b.words)
        |         - len(list_intersect(a.words, b.words))) >= 0.8),
        |reach(src, dst) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src)
        |SELECT d.doc_id, d.source, d.n_chars
        |FROM documents d
        |JOIN (SELECT src AS doc_id, min(dst) AS rep FROM reach GROUP BY src) l
        |  ON d.doc_id = l.doc_id AND l.rep = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
      "corpus filtered to near-dup cluster survivors (min-id reps)") { (s, d) =>
      nearDupSurvivors(docs(s, d),
        dfCap = s.conf.get("spark.graft.jaccard.dfCap", "10000").toInt)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    },

    // SimHash signatures per doc (golden-pinned; spec-verified too).
    Q.golden("t04_simhash", Seq("doc_id", "simhash"), "doc_id",
      "64-bit SimHash per document from token-hash bit majority") { (s, d) =>
      simhash(docs(s, d).withColumn("toks", expr(toksExpr)))
        .orderBy("doc_id")
    },

    // SimHash near-pairs via 16-bit block LSH, hamming <= 6.
    Q.golden("t05_simhash_pairs",
      Seq("a_id", "b_id", "hamming"), "hamming, a_id, b_id",
      "SimHash near-dup pairs: 4x16-bit block join + hamming filter") { (s, d) =>
      val sh = simhash(docs(s, d).withColumn("toks", expr(toksExpr)))
      val blocked = sh.select(col("doc_id"), col("simhash"),
        posexplode(array((0 until 4).map(j =>
          expr(s"shiftright(simhash, ${j * 16}) & 65535")): _*))
          .as(Seq("blk", "blk_val")))
      val a = blocked.select(col("blk"), col("blk_val"),
        col("doc_id").as("a_id"), col("simhash").as("ha"))
      val b = blocked.select(col("blk"), col("blk_val"),
        col("doc_id").as("b_id"), col("simhash").as("hb"))
      a.join(b, Seq("blk", "blk_val"))
        .filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          expr("bit_count(ha ^ hb)").as("hamming"))
        .distinct()
        .filter(col("hamming") <= 6)
        .orderBy(col("hamming"), col("a_id"), col("b_id"))
        .limit(500)
    },

    // Language ID: marker-word scoring, identical CASE logic both sides.
    Q("t06_lang_id",
      """SELECT doc_id,
        |  CASE WHEN position(' the ' IN ' ' || lower(text) || ' ') > 0
        |         OR position(' a ' IN ' ' || lower(text) || ' ') > 0 THEN 'en'
        |       WHEN position(' le ' IN ' ' || lower(text) || ' ') > 0
        |         OR position(' la ' IN ' ' || lower(text) || ' ') > 0 THEN 'fr'
        |       WHEN position(' der ' IN ' ' || lower(text) || ' ') > 0
        |         OR position(' und ' IN ' ' || lower(text) || ' ') > 0 THEN 'de'
        |       WHEN position(' el ' IN ' ' || lower(text) || ' ') > 0
        |         OR position(' los ' IN ' ' || lower(text) || ' ') > 0 THEN 'es'
        |       ELSE 'und' END AS pred_lang,
        |  lang AS true_lang
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
      "marker-word language-ID heuristic (PURE-SQL path: registered " +
        "lang_id function)") { (s, d) =>
      // the gate row for the SQL surface (r17 VERDICT #6): register the
      // corpus functions and run the query as the SQL a non-Scala user
      // would type — lang_id() resolves through the FunctionRegistry to
      // the same langIdCol composition
      graft.functions.TextFunctions.register(s)
      docs(s, d).createOrReplaceTempView("t06_docs")
      s.sql("""SELECT doc_id, lang_id(text) AS pred_lang,
              |  lang AS true_lang
              |FROM t06_docs ORDER BY doc_id""".stripMargin)
    },

    // Quality scoring: token stats + stopword ratio, one codegen'd pass.
    Q("t07_quality_score",
      """WITH q AS (
        |  SELECT doc_id,
        |    length(text) AS n_chars_m,
        |    len(list_filter(string_split_regex(lower(text), '\s+'),
        |                    x -> x <> '')) AS n_tokens,
        |    list_sum(list_transform(
        |      list_filter(string_split_regex(lower(text), '\s+'), x -> x <> ''),
        |      x -> length(x))) AS tok_chars,
        |    len(list_filter(string_split_regex(lower(text), '\s+'),
        |                    x -> x IN ('the', 'a', 'of', 'and'))) AS n_stop
        |  FROM documents)
        |SELECT doc_id, CAST(n_chars_m AS BIGINT) AS n_chars_m,
        |  CAST(n_tokens AS BIGINT) AS n_tokens,
        |  round(CAST(tok_chars AS DOUBLE) / n_tokens, 4) AS avg_tok_len,
        |  round(CAST(n_stop AS DOUBLE) / n_tokens, 4)    AS stop_ratio
        |FROM q
        |WHERE n_tokens > 0
        |ORDER BY doc_id""".stripMargin,
      "per-doc quality features: token counts, length, stopword ratio " +
        "(the SQL-registered quality_stats struct)") { (s, d) =>
      docs(s, d)
        // n_tokens > 0 ⟺ the text has any non-whitespace char (\S is
        // exactly the \s+ tokenizer's complement — trim() would differ
        // on tab/newline-only docs). The cheap predicate keeps the
        // struct out of the Filter node: a filter on q.n_tokens
        // evaluates the whole struct twice — once in Filter, once in
        // Project; Catalyst CSE doesn't span the two.
        .filter(col("text").rlike("\\S"))
        .withColumn("q", qualityStatsCol(col("text")))
        .select(
          col("doc_id"),
          col("q.n_chars").as("n_chars_m"),
          col("q.n_tokens").as("n_tokens"),
          col("q.avg_tok_len"),
          col("q.stop_ratio"))
        .orderBy("doc_id")
    },

    // Gopher-style repetition/diversity filters: the within-document
    // signals a corpus build thresholds on (Rae et al. 2021 §A1.1 —
    // fraction of duplicated n-grams, most-common-token dominance).
    // Every stat is an INTEGER ratio rounded at 4dp, so both engines
    // compute bit-identical doubles (no cross-engine float-sum drift).
    // Scale shape: n-gram stats are pure per-row codegen; only the
    // most-common-token count shuffles, one narrow (doc_id, token-count)
    // aggregation.
    Q("t18_repetition_stats",
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |                x -> x <> '') AS w
        |  FROM documents),
        |tn AS (SELECT doc_id, w, len(w) AS n FROM t WHERE len(w) > 0),
        |cnt AS (
        |  SELECT doc_id, tk, count(*) AS c
        |  FROM (SELECT doc_id, unnest(w) AS tk FROM tn)
        |  GROUP BY doc_id, tk),
        |agg AS (
        |  SELECT doc_id, sum(c) AS n_toks, max(c) AS maxc
        |  FROM cnt GROUP BY doc_id),
        |g AS (
        |  SELECT doc_id, n,
        |    round(CAST(len(list_distinct(w)) AS DOUBLE) / n, 4)
        |      AS distinct_ratio,
        |    CASE WHEN n >= 2 THEN round(1.0 -
        |      CAST(len(list_distinct(list_transform(range(1, n),
        |        i -> w[i] || ' ' || w[i+1]))) AS DOUBLE) / (n - 1), 4)
        |      ELSE 0.0 END AS dup_2gram_frac,
        |    CASE WHEN n >= 3 THEN round(1.0 -
        |      CAST(len(list_distinct(list_transform(range(1, n - 1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS DOUBLE)
        |        / (n - 2), 4)
        |      ELSE 0.0 END AS dup_3gram_frac
        |  FROM tn)
        |SELECT a.doc_id, CAST(a.n_toks AS BIGINT) AS n_toks,
        |  g.distinct_ratio,
        |  round(CAST(a.maxc AS DOUBLE) / a.n_toks, 4) AS top_tok_frac,
        |  g.dup_2gram_frac, g.dup_3gram_frac
        |FROM agg a JOIN g USING (doc_id)
        |ORDER BY a.doc_id""".stripMargin,
      "Gopher-style repetition stats: dup n-gram fractions, token dominance") { (s, d) =>
      val tok = docs(s, d)
        .withColumn("toks", expr(toksExpr))
        .filter(size(col("toks")) > 0)
        .select(col("doc_id"), col("toks"))
      val dominance = tok
        .select(col("doc_id"), explode(col("toks")).as("tk"))
        .groupBy("doc_id", "tk").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(sum("c").as("n_toks"), max("c").as("maxc"))
      def gramFrac(k: Int): Column = {
        val grams = expr(s"transform(sequence(1, size(toks) - ${k - 1}), " +
          s"i -> concat_ws(' ', ${(0 until k).map(j => s"element_at(toks, i + $j)").mkString(", ")}))")
        when(size(col("toks")) >= k, round(lit(1.0) -
          size(array_distinct(grams)).cast("double") /
            (size(col("toks")) - (k - 1)), 4))
          .otherwise(0.0)
      }
      val perRow = tok.select(
        col("doc_id"),
        round(size(array_distinct(col("toks"))).cast("double") /
          size(col("toks")), 4).as("distinct_ratio"),
        gramFrac(2).as("dup_2gram_frac"),
        gramFrac(3).as("dup_3gram_frac"))
      dominance.join(perRow, Seq("doc_id"))
        .select(col("doc_id"), col("n_toks"),
          col("distinct_ratio"),
          round(col("maxc").cast("double") / col("n_toks"), 4)
            .as("top_tok_frac"),
          col("dup_2gram_frac"), col("dup_3gram_frac"))
        .orderBy("doc_id")
    },

    // Deterministic content-hash train/val/test split — reproducible
    // held-out sets that survive re-runs, re-partitioning, and corpus
    // growth (a doc's assignment depends only on its text). Buckets are
    // the first two md5 hex chars (256 of them): train < 0xcc (~80%),
    // val < 0xe6 (~10%), test otherwise. Pure per-row codegen, no
    // shuffle; oracle-exact because md5 and string comparison agree
    // across engines.
    Q("t19_hash_split",
      """SELECT doc_id, substr(md5(text), 1, 2) AS bucket,
        |  CASE WHEN substr(md5(text), 1, 2) < 'cc' THEN 'train'
        |       WHEN substr(md5(text), 1, 2) < 'e6' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
      "content-hash split assignment: md5 bucket -> train/val/test") { (s, d) =>
      docs(s, d).select(
        col("doc_id"),
        substring(md5(col("text")), 1, 2).as("bucket"),
        when(substring(md5(col("text")), 1, 2) < "cc", "train")
          .when(substring(md5(col("text")), 1, 2) < "e6", "val")
          .otherwise("test").as("split"))
        .orderBy("doc_id")
    },

    // PII scrubbing: email/URL detection + redaction, the compliance
    // pass every web-scale corpus build runs before training (Dolma /
    // RedPajama ship the same regex-class rules). The synthetic corpus
    // contains no PII, so each doc gets a DETERMINISTIC contact line
    // appended (pure function of doc_id — the m04/m05 payload-synthesis
    // precedent) and the scrub is verified oracle-exactly on counts AND
    // on an md5 of the redacted text. Pure per-row codegen (regexp
    // count/replace), zero shuffle at any corpus size; both engines run
    // leftmost-greedy matching on backtracking-free character-class
    // patterns, so Java regex and RE2 agree.
    Q("t20_pii_scrub",
      """WITH aug AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |    '@example.com or https://host' || CAST(doc_id % 7 AS VARCHAR) ||
        |    '.example.org/d/' || CAST(doc_id AS VARCHAR) ||
        |    CASE WHEN doc_id % 3 = 0
        |         THEN ' mail2 x.y_z@sub.example.net' ELSE '' END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(t, 'https?://[^ ]+')) AS BIGINT)
        |    AS n_urls,
        |  substr(md5(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    'https?://[^ ]+', '<URL>', 'g')), 1, 8) AS clean_digest8
        |FROM aug
        |ORDER BY doc_id""".stripMargin,
      "PII scrub: email/URL counts + redacted-text digest via the " +
        "SQL-registered pii_scrub struct, pure codegen") { (s, d) =>
      docs(s, d)
        .withColumn("t", concat(
          col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or https://host"),
          (col("doc_id") % 7).cast("string"),
          lit(".example.org/d/"), col("doc_id").cast("string"),
          when(col("doc_id") % 3 === 0, " mail2 x.y_z@sub.example.net")
            .otherwise("")))
        .withColumn("p", piiScrubCol(col("t")))
        .select(
          col("doc_id"),
          col("p.n_emails"),
          col("p.n_urls"),
          substring(md5(col("p.clean")), 1, 8).as("clean_digest8"))
        .orderBy("doc_id")
    },

    // Token accounting: whitespace + BPE-ish regex token counts.
    Q("t08_token_counts",
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
        |       AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
        |       AS BIGINT) AS re_tokens
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
      "whitespace + regex (BPE-ish) token counts per doc (the " +
        "SQL-registered token_counts struct)") { (s, d) =>
      docs(s, d)
        .withColumn("tc", tokenCountsCol(col("text")))
        .select(col("doc_id"), col("tc.ws_tokens"), col("tc.re_tokens"))
        .orderBy("doc_id")
    },

    // Document fingerprinting via native codegen'd Catalyst expressions
    // (PolyHash64 / WinnowFingerprint — see graft.functions). Golden-
    // pinned; algebraic properties are covered by TextExprSpec.
    Q.golden("t10_fingerprint",
      Seq("doc_id", "content_hash", "winnow_fp"), "doc_id",
      "64-bit content hash + winnowing fingerprint per doc (custom exprs)") { (s, d) =>
      import graft.functions.TextFunctions._
      docs(s, d).select(
        col("doc_id"),
        poly_hash64(col("text")).as("content_hash"),
        winnow_fingerprint(col("text"), 16).as("winnow_fp"))
        .orderBy("doc_id")
    },

    // BM25 retrieval scoring (k1=1.2, b=0.75) for a fixed term set —
    // the ranking half of a retrieval-augmented data pipeline. Shape at
    // 100 TB: one tokenize pass, a per-doc tf aggregate over ONLY the
    // query terms (narrow), a 3-row df/avgdl broadcast, and a top-k.
    // No full inverted index is materialized for scoring a fixed query.
    Q("t11_bm25",
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
        |  FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
        |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
        |tf AS (
        |  SELECT doc_id, tok, count(*) AS tf FROM tok
        |  WHERE tok IN ('vector', 'join', 'filter') GROUP BY doc_id, tok),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        |scored AS (
        |  SELECT tf.doc_id,
        |    sum(ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1)
        |        * tf.tf * 2.2
        |        / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)))
        |      AS score
        |  FROM tf JOIN df ON tf.tok = df.tok
        |          JOIN dl ON tf.doc_id = dl.doc_id
        |          CROSS JOIN stats
        |  GROUP BY tf.doc_id)
        |SELECT doc_id, round(score, 4) AS bm25
        |FROM scored
        |ORDER BY round(score, 4) DESC, doc_id
        |LIMIT 50""".stripMargin,
      "BM25 top-50 docs for a fixed query-term set") { (s, d) =>
      // deliberately NOT cached (r18: measured 1.1-1.2x SLOWER with a
      // token-stream cache here — the columnar cache build of the full
      // exploded string stream costs more than the tokenize passes it
      // saves; unlike jaccardPairs there is no window shuffle to skip)
      val tok = docs(s, d).select(col("doc_id"),
        explode(expr(toksExpr)).as("tok"))
      val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val stats = dl.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
      val tf = tok.filter(col("tok").isin("vector", "join", "filter"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      tf.join(broadcast(df), Seq("tok"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .groupBy("doc_id")
        .agg(sum(
          log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
            col("tf") * 2.2 /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
          .as("score"))
        .select(col("doc_id"), round(col("score"), 4).as("bm25"))
        .orderBy(round(col("score"), 4).desc, col("doc_id"))
        .limit(50)
    },

    // Deterministic mixture sampling: per-source keep rates applied via
    // a reproducible arithmetic hash of the doc id — the "data mixing"
    // step of corpus assembly. Trivially parallel, zero shuffles beyond
    // the final order; rerunning yields the identical sample (the
    // property training pipelines need for resumable corpus builds).
    Q("t12_mixture_sample",
      """SELECT source, doc_id
        |FROM documents
        |WHERE (doc_id * 1103) % 1000 <
        |  CASE CAST(substr(source, 4) AS INT) % 4
        |    WHEN 0 THEN 800 WHEN 1 THEN 400 WHEN 2 THEN 200 ELSE 100 END
        |ORDER BY source, doc_id""".stripMargin,
      "reproducible per-source mixture sampling via arithmetic hash") { (s, d) =>
      docs(s, d)
        .filter(pmod(col("doc_id") * 1103, lit(1000)) <
          when(expr("CAST(substr(source, 4) AS INT) % 4") === 0, 800)
            .when(expr("CAST(substr(source, 4) AS INT) % 4") === 1, 400)
            .when(expr("CAST(substr(source, 4) AS INT) % 4") === 2, 200)
            .otherwise(100))
        .select("source", "doc_id")
        .orderBy("source", "doc_id")
    },

    // Context-length bucketing: histogram of documents by whitespace
    // token count for batch-shape planning. Integer-exact boundaries
    // (CASE thresholds, not float log2) so the oracle matches bit-for-
    // bit; one codegen pass + one tiny aggregate.
    Q("t13_length_buckets",
      """WITH t AS (
        |  SELECT len(list_filter(string_split_regex(text, '\s+'),
        |                         x -> x <> '')) AS n
        |  FROM documents)
        |SELECT
        |  CASE WHEN n < 16 THEN '<16' WHEN n < 32 THEN '16-31'
        |       WHEN n < 64 THEN '32-63' WHEN n < 128 THEN '64-127'
        |       WHEN n < 256 THEN '128-255' ELSE '>=256' END AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS total_tokens
        |FROM t
        |GROUP BY 1 ORDER BY min(n)""".stripMargin,
      "token-length histogram for batch-shape planning") { (s, d) =>
      docs(s, d)
        .select(expr("size(filter(split(text, '\\\\s+'), x -> x != ''))").as("n"))
        .groupBy(
          when(col("n") < 16, "<16").when(col("n") < 32, "16-31")
            .when(col("n") < 64, "32-63").when(col("n") < 128, "64-127")
            .when(col("n") < 256, "128-255").otherwise(">=256").as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n")).cast("long").as("total_tokens"))
        .orderBy(min(col("n")))
    },

    // Sequence packing: deterministic token-budget sharding — docs are
    // chunked per source in doc_id order into packs of <= 2048 tokens
    // by exclusive prefix sum (the standard contiguous packing used to
    // batch variable-length documents). One window over (source) +
    // one aggregate; integer-exact, so the oracle matches bit-for-bit.
    Q("t14_sequence_packing",
      """WITH t AS (
        |  SELECT source, doc_id,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |                    x -> x <> '')) AS n
        |  FROM documents),
        |packed AS (
        |  SELECT source, doc_id, n,
        |    CAST(floor((sum(n) OVER (PARTITION BY source ORDER BY doc_id
        |                             ROWS UNBOUNDED PRECEDING) - n) / 2048)
        |         AS BIGINT) AS pack_id
        |  FROM t)
        |SELECT source, pack_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS pack_tokens
        |FROM packed
        |GROUP BY source, pack_id
        |ORDER BY source, pack_id""".stripMargin,
      "token-budget sequence packing: per-source prefix-sum sharding") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val t = docs(s, d).select(col("source"), col("doc_id"),
        expr("size(filter(split(text, '\\\\s+'), x -> x != ''))")
          .cast("long").as("n"))
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t.withColumn("pack_id",
          floor((sum(col("n")).over(w) - col("n")) / 2048).cast("long"))
        .groupBy("source", "pack_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("pack_tokens"))
        .orderBy("source", "pack_id")
    },

    // Context-window CHUNKING — the inverse of t14's packing and the
    // other half of a training/RAG corpus build: long documents split
    // into fixed-size token windows with overlap (window 128, stride
    // 96 -> 32 overlapping tokens carry context across boundaries).
    // Scale shape: one generator explode per doc (narrow, pure
    // codegen — sequence/slice/array_join higher-order functions, no
    // UDF), zero shuffles before the presentation sort; at 100 TB the
    // chunker is a map-only pass whose output partitioning follows the
    // input's. The size(toks) > 0 filter is load-bearing: Spark's
    // sequence(0, -1, stride) throws where DuckDB's generate_series
    // returns empty.
    Q("t27_chunk_windows",
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'),
        |                x -> x <> '') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT t.doc_id, CAST(s.st // 96 AS BIGINT) AS chunk_id,
        |    t.toks[s.st + 1 : s.st + 128] AS chunk
        |  FROM t, LATERAL unnest(generate_series(0, len(t.toks) - 1, 96))
        |    AS s(st)
        |  WHERE len(t.toks) > 0)
        |SELECT doc_id, chunk_id,
        |  CAST(len(chunk) AS BIGINT) AS n_chunk_toks,
        |  array_to_string(chunk, ' ') AS chunk_text
        |FROM c
        |ORDER BY doc_id, chunk_id""".stripMargin,
      "token-window chunking: 128-token windows, stride 96 (32 overlap)") {
      (s, d) => chunkWindows(docs(s, d)).orderBy("doc_id", "chunk_id")
    },

    // Multimodal/binary plumbing: opaque binary payload + typed metadata.
    Q("t09_binary_metadata",
      """SELECT doc_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
        |  md5(text) AS digest
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
      "binary column metadata: byte length + content digest") { (s, d) =>
      docs(s, d).select(
        col("doc_id"),
        length(encode(col("text"), "UTF-8")).cast("long").as("byte_len"),
        md5(encode(col("text"), "UTF-8")).as("digest"))
        .orderBy("doc_id")
    }
  )
}
