package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.format.{GraftFormat, ZoneMaps}
import graft.format.GraftFormat.{ColStats, FragmentMeta}

/** Metadata-scale probe (r13 VERDICT #1): a 100 TB graft table is
  * ~10⁵ fragments × per-column zone maps carried in ONE manifest the
  * driver reads and walks in `planInputPartitions` — every other scale
  * probe grows DATA on a handful of fragments, so nothing bounded
  * manifest bytes, parse wall, or plan-to-partitions latency at a
  * realistic fragment count. This main synthesizes manifests at 10³ /
  * 10⁴ / 10⁵ fragments (metadata only: fragment 0 is a real parquet
  * file written by the real writer; the rest clone its zone-map shape
  * with shifted key ranges, so stats are realistic by construction and
  * a pruning query needs no synthetic data files) and measures each
  * stage of the planning path. Writes BENCH_META.json.
  *
  * Budget (pass/fail stamped in the artifact), at 10⁵ fragments:
  * manifest ≤ 100 MB, cold load (read+parse) ≤ 2 s, zone-map prune of
  * the full fragment list ≤ 1 s, filter-to-planned-partitions ≤ 2 s.
  * Reference analog: Lance caches column metadata at ~40 MB/column and
  * documents plan latency as metadata-bound (docs/src/performance.md
  * "Metadata Cache").
  */
object MetaBench {

  /** (table dir, fs, UNCOMMITTED manifest of `fragments` fragments):
    * fragment 0 is REAL — written by the real writer from a lineitem
    * slice, so its zone maps are footer-shaped — and fragments 1..n-1
    * are metadata clones with disjoint shifted integer key ranges
    * (like an append-ordered key column at 100 TB); doubles and
    * strings keep the seed's shape (realistic overlap). Callers commit
    * the manifest themselves (the bench times that commit). Shared
    * with MetaScaleSpec so the in-gate guard measures EXACTLY the
    * manifest shape the artifact certifies. */
  def syntheticTable(spark: SparkSession, sfDir: String, fragments: Int,
      seedRows: Int = 5000): (Path, org.apache.hadoop.fs.FileSystem,
      graft.format.GraftFormat.Manifest) = {
    val dir = new Path(TempDirs.create("graft-metabench").resolve("t.graft").toUri)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .orderBy("l_orderkey", "l_linenumber").limit(seedRows).coalesce(1)
    graft.connector.GraftWriter.write(fs, dir, li, overwrite = true)
    val m1 = GraftFormat.readLatest(fs, dir).get
    val seed = m1.fragments.head
    val longCols = Set("l_orderkey", "l_partkey", "l_suppkey")
    def shifted(k: Int): Map[String, ColStats] = seed.stats.map {
      case (c, cs) if longCols.contains(c) =>
        val lo = cs.min.get.toLong; val hi = cs.max.get.toLong
        val span = hi - lo + 1
        c -> ColStats(Some((lo + k * span).toString),
          Some((hi + k * span).toString), cs.nulls)
      case other => other
    }
    val synth = (1 until fragments).map { k =>
      seed.copy(id = seed.id + k, path = s"data/synth-$k.parquet",
        rowCount = 6000000L, deletedCount = 0L, deletionPath = None,
        sizeBytes = 1L << 30, stats = shifted(k))
    }
    (dir, fs, m1.copy(version = m1.version + 1,
      fragments = seed +: synth,
      maxFragmentId = seed.id + fragments - 1,
      createdAtMs = System.currentTimeMillis(), operation = "Append"))
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

    def ms(n: Long): Double = math.round(n / 1e5) / 10.0

    def probe(fragments: Int): Map[String, Any] = {
      val (dir, fs, m2) = MetaBench.syntheticTable(spark, sfDir, fragments)
      val seed = m2.fragments.head
      val schema = m2.schema

      val t0 = System.nanoTime()
      GraftFormat.commit(fs, dir, m2)
      val writeNs = System.nanoTime() - t0
      val manifestLen = fs.getFileStatus(
        GraftFormat.manifestPath(dir, m2.version)).getLen

      // single-shot sub-2s measurements on a busy JVM invert orderings
      // by GC/JIT noise (r15 VERDICT #2): every load_* and plan_*
      // metric below reports the median of 3 runs; bodies stash their
      // result in an outer var when one is wanted
      def medianNs(n: Int)(body: => Unit): Long = {
        val runs = (1 to n).map { _ =>
          val t = System.nanoTime(); body; System.nanoTime() - t
        }
        runs.sorted.apply(n / 2)
      }
      // cold load: bytes off disk + full parse (readManifest never
      // serves a checkpoint from cache, so each repeat pays the full
      // read + gunzip + parse)
      var loaded: GraftFormat.Manifest = null
      val loadNs = medianNs(3) {
        loaded = GraftFormat.readManifest(fs, dir, m2.version)
      }
      require(loaded.fragments.size == fragments, "roundtrip lost fragments")

      // O(delta) commit (r14 VERDICT #2): a one-fragment append on the
      // full-size table — the steady-state commit shape of a busy
      // 100 TB table. commit_ms above is the CHECKPOINT cost (the big
      // append is not delta-representable within the half-the-table
      // bound); this one stores O(1) bytes + the CAS.
      val m3 = loaded.copy(version = loaded.version + 1,
        fragments = loaded.fragments :+ seed.copy(
          id = loaded.maxFragmentId + 1, path = "data/synth-delta.parquet",
          deletionPath = None, deletedCount = 0L),
        maxFragmentId = loaded.maxFragmentId + 1,
        createdAtMs = System.currentTimeMillis(), operation = "Append")
      val t6 = System.nanoTime()
      GraftFormat.commit(fs, dir, m3, base = Some(loaded))
      val deltaNs = System.nanoTime() - t6
      val deltaLen = fs.getFileStatus(
        GraftFormat.manifestPath(dir, m3.version)).getLen
      // cold resolve THROUGH the delta: checkpoint read + 1 delta apply
      // resolve THROUGH the delta on the steady-reader path (r15
      // VERDICT #1): the checkpoint was pinned when this process read
      // (and committed) it, so the resolve reads the ~600 B delta and
      // folds it onto the cached base — the cost any process that has
      // touched the table once pays per new version. The genuinely
      // COLD worst case (nothing cached, full chain depth) is measured
      // separately below as load_head_depth_ms.
      var resolved: GraftFormat.Manifest = null
      val loadDeltaNs = medianNs(3) {
        resolved = GraftFormat.readManifest(fs, dir, m3.version)
      }
      require(resolved.fragments.size == fragments + 1,
        "delta resolution lost fragments")

      // steady-state CHURN: 33 successive one-fragment appends riding
      // through the checkpoint cadence (16). The single delta above
      // shows the best case; this is what a busy table pays FOREVER —
      // mostly ~600 B delta records plus the periodic full checkpoint,
      // whose cost the cadence amortizes into commit_amortized_ms. Also
      // resolves the head at max chain depth: the worst-case reader
      // (checkpoint + up to cadence-1 small delta reads).
      val churnN = 33
      var cur = resolved
      val perCommitNs = new Array[Long](churnN)
      var ci = 0
      val churnStartV = cur.version
      while (ci < churnN) {
        val base = cur
        cur = cur.copy(version = cur.version + 1,
          fragments = cur.fragments :+ seed.copy(
            id = cur.maxFragmentId + 1,
            path = s"data/synth-churn-$ci.parquet",
            deletionPath = None, deletedCount = 0L),
          maxFragmentId = cur.maxFragmentId + 1,
          createdAtMs = System.currentTimeMillis(), operation = "Append")
        val c0 = System.nanoTime()
        GraftFormat.commit(fs, dir, cur, base = Some(base))
        perCommitNs(ci) = System.nanoTime() - c0
        ci += 1
      }
      // rollover checkpoints materialize OUT-OF-BAND (r16 VERDICT #1):
      // the committer-visible worst case is now a delta-cost commit.
      // Quiesce the background swaps, then classify/size the stored
      // records — the quiesce time itself is reported (the real,
      // off-critical-path O(table) encode cost), and the boundary
      // records must have actually become checkpoints (a silently dead
      // materializer would otherwise grow cold-walk depth unbounded).
      val mw0 = System.nanoTime()
      require(GraftFormat.awaitMaterializations(),
        "churn checkpoint materialization stalled")
      val materializeWaitNs = System.nanoTime() - mw0
      var churnBytes = 0L
      var churnCheckpoints = 0
      val wasCheckpoint = new Array[Boolean](churnN)
      (0 until churnN).foreach { i =>
        val v = churnStartV + 1 + i
        churnBytes += fs.getFileStatus(
          GraftFormat.manifestPath(dir, v)).getLen
        // classify by what is NOW stored (r15 ADVICE: never assume the
        // slowest samples were the checkpoints)
        wasCheckpoint(i) = GraftFormat.isCheckpoint(fs, dir, v)
        if (wasCheckpoint(i)) churnCheckpoints += 1
      }
      require(churnCheckpoints >= 1,
        "a 33-commit churn must cross at least one cadence rollover")
      val amortizedNs = perCommitNs.sum / churnN
      // the committer-visible WORST case across the cadence: with
      // deferred materialization this must sit near the delta median,
      // not at the old 1.8 s inline checkpoint write
      val worstNs = perCommitNs.max
      // guard the degenerate case (every commit a checkpoint = delta
      // path lost): the bench must REPORT that regression via the
      // amortized budget, not crash on an empty median slice
      val deltaOnly = perCommitNs.indices
        .filterNot(wasCheckpoint).map(perCommitNs).sorted
      val medianDeltaNs =
        if (deltaOnly.isEmpty) amortizedNs else deltaOnly(deltaOnly.length / 2)
      // COLD depth-worst-case head resolution (r15 VERDICT #1): drop
      // every cached manifest first, so this measures what a brand-new
      // process pays to resolve a head at whatever chain depth the
      // churn ended on — one checkpoint read + up-to-cadence-1 delta
      // reads, now issued CONCURRENTLY by the chain prefetcher instead
      // of as sequential round trips.
      var deepResolved: GraftFormat.Manifest = null
      val loadHeadNs = medianNs(3) {
        graft.format.ManifestCache.clearAll() // cold EVERY repeat
        deepResolved = GraftFormat.readManifest(fs, dir, cur.version)
      }
      require(deepResolved.fragments.size == fragments + 1 + churnN,
        "churn resolution lost fragments")

      // long-lived CDC reader at churn scale (r15 VERDICT #6): ~10³
      // further one-fragment commits; after EACH, a reader syncs the
      // way the streaming source does — resolve the new head, walk the
      // (prev, head] range for the fragment transition. The committer's
      // own pin of each new head is dropped first so the reader pays
      // exactly what a separate process would (its own prior sync's
      // pins + depth hints only). Certified: version-record bytes per
      // synced version stay O(delta) — flat in fragment count — with
      // cadence rollovers served by the checkpoint-delta sidecar, and
      // the walk's end-version probes served from the pinned cache.
      val cdcN = 1000
      var cdcCur = deepResolved
      val pins0 = graft.format.ManifestCache.peekPinnedHits.get()
      var readerBytes = 0L
      var readerReads = 0L
      var syncNs = 0L
      var ci2 = 0
      while (ci2 < cdcN) {
        val base = cdcCur
        cdcCur = cdcCur.copy(version = cdcCur.version + 1,
          fragments = cdcCur.fragments :+ seed.copy(
            id = cdcCur.maxFragmentId + 1,
            path = s"data/synth-cdc-$ci2.parquet",
            deletionPath = None, deletedCount = 0L),
          maxFragmentId = cdcCur.maxFragmentId + 1,
          createdAtMs = System.currentTimeMillis(), operation = "Append")
        GraftFormat.commit(fs, dir, cdcCur, base = Some(base))
        graft.format.ManifestCache.unpin(fs, dir, cdcCur.version)
        val b0 = GraftFormat.versionBytesRead.get()
        val r0 = GraftFormat.versionReads.get()
        val s0 = System.nanoTime()
        val head = GraftFormat.readManifest(fs, dir, cdcCur.version)
        val excluded = GraftFormat.excludedAsOf(fs, dir,
          cdcCur.version - 1, head, knownVersions = Seq(cdcCur.version - 1))
        syncNs += System.nanoTime() - s0
        readerBytes += GraftFormat.versionBytesRead.get() - b0
        readerReads += GraftFormat.versionReads.get() - r0
        require(head.fragments.size == fragments + 1 + churnN + ci2 + 1,
          "cdc sync lost fragments")
        require((head.fragments.map(_.id).toSet -- excluded).size == 1,
          "cdc sync must surface exactly the one new fragment")
        ci2 += 1
      }
      val cdcPinnedHits =
        graft.format.ManifestCache.peekPinnedHits.get() - pins0

      // timestamp time travel on the ~10³-version history the churn
      // left behind (r16 VERDICT #3): the linear listVersions walk is
      // the order-safe read, but its per-version record reads must not
      // RECUR — createdAtMs is immutable once committed, so the warm
      // call re-reads only the newest record (generation witness) and
      // anything committed since
      val tsVersions = GraftFormat.listVersions(fs, dir).size
      val ttr0 = GraftFormat.versionReads.get()
      val ttColdNs = { val t = System.nanoTime()
        require(GraftFormat.versionAtTimestamp(fs, dir,
          cdcCur.createdAtMs).nonEmpty, "timestamp travel missed head")
        System.nanoTime() - t }
      val ttColdReads = GraftFormat.versionReads.get() - ttr0
      val ttr1 = GraftFormat.versionReads.get()
      val ttWarmNs = { val t = System.nanoTime()
        require(GraftFormat.versionAtTimestamp(fs, dir,
          cdcCur.createdAtMs).nonEmpty, "warm timestamp travel missed head")
        System.nanoTime() - t }
      val ttWarmReads = GraftFormat.versionReads.get() - ttr1

      // TWO-PROCESS CDC reader: a [[CdcChurnAgent]] child JVM commits
      // 200 further one-fragment appends while THIS process syncs —
      // no unpin simulation needed, the committer's caches live in the
      // other process, so the bytes measured are exactly a real
      // deployment's. Catch-up syncs (several versions per sync) are
      // allowed and normalized per synced VERSION.
      val cdc2pN = 200
      val agent = StormHarness.launchJvm("graft.CdcChurnAgent", Map(
        "GRAFT_CDC_DIR" -> dir.toUri.toString,
        "GRAFT_CDC_COMMITS" -> cdc2pN.toString,
        "GRAFT_CDC_SLEEP_MS" -> "40"))
      var lastSynced = cdcCur.version
      val target = cdcCur.version + cdc2pN
      var bytes2p = 0L
      var reads2p = 0L
      var syncs2p = 0L
      val child = try {
        // nanoTime is only meaningful as an elapsed DIFFERENCE (the
        // absolute value may be negative or wrap) — compare elapsed
        // against the timeout, never absolute time against a deadline
        val stallStart = System.nanoTime()
        val timeoutNs = 900L * 1000 * 1000 * 1000
        while (lastSynced < target) {
          require(System.nanoTime() - stallStart < timeoutNs,
            s"two-process CDC stalled at $lastSynced of $target")
          GraftFormat.latestVersion(fs, dir) match {
            case Some(head) if head > lastSynced =>
              val b0 = GraftFormat.versionBytesRead.get()
              val r0 = GraftFormat.versionReads.get()
              val hm = GraftFormat.readManifest(fs, dir, head)
              val excluded = GraftFormat.excludedAsOf(fs, dir, lastSynced,
                hm, knownVersions = Seq(lastSynced))
              bytes2p += GraftFormat.versionBytesRead.get() - b0
              reads2p += GraftFormat.versionReads.get() - r0
              syncs2p += 1
              // every synced version appended exactly one fragment
              require((hm.fragments.map(_.id).toSet -- excluded).size ==
                (head - lastSynced),
                s"two-process sync delivered the wrong fragment count")
              lastSynced = head
            case _ => Thread.sleep(10)
          }
        }
        StormHarness.await(agent, 120)
      } finally { agent.proc.destroyForcibly(); () }
      require(child._1 == 0, s"CdcChurnAgent exited ${child._1}")

      // LAGGED two-process variant (r16 VERDICT #5): the reader syncs
      // only every ~3 checkpoint cadences (48 versions at cadence 16),
      // so each head resolve sits several boundaries above its last
      // pin — the chained sidecar crossings must keep bytes/version
      // O(delta) where r16 paid a full checkpoint at each intermediate
      // boundary. Same child-JVM committer; catch-up walks normalized
      // per synced version as above.
      val lagN = 192 // 4 sync windows of ~3 cadences each
      val lagEvery = 48L
      val lagAgent = StormHarness.launchJvm("graft.CdcChurnAgent", Map(
        "GRAFT_CDC_DIR" -> dir.toUri.toString,
        "GRAFT_CDC_COMMITS" -> lagN.toString,
        "GRAFT_CDC_SLEEP_MS" -> "15"))
      var lagSynced = lastSynced
      val lagTarget = lastSynced + lagN
      var lagBytes = 0L
      var lagSyncs = 0L
      val lagChild = try {
        val lagStart = System.nanoTime()
        val timeoutNs = 900L * 1000 * 1000 * 1000
        while (lagSynced < lagTarget) {
          require(System.nanoTime() - lagStart < timeoutNs,
            s"lagged two-process CDC stalled at $lagSynced of $lagTarget")
          GraftFormat.latestVersion(fs, dir) match {
            case Some(head) if head - lagSynced >= lagEvery ||
                (head == lagTarget && head > lagSynced) =>
              val b0 = GraftFormat.versionBytesRead.get()
              val hm = GraftFormat.readManifest(fs, dir, head)
              val excluded = GraftFormat.excludedAsOf(fs, dir, lagSynced,
                hm, knownVersions = Seq(lagSynced))
              lagBytes += GraftFormat.versionBytesRead.get() - b0
              lagSyncs += 1
              require((hm.fragments.map(_.id).toSet -- excluded).size ==
                (head - lagSynced),
                "lagged two-process sync delivered the wrong fragment count")
              lagSynced = head
            case _ => Thread.sleep(10)
          }
        }
        StormHarness.await(lagAgent, 120)
      } finally { lagAgent.proc.destroyForcibly(); () }
      require(lagChild._1 == 0, s"lagged CdcChurnAgent exited ${lagChild._1}")

      // zone-map prune over the whole fragment list (the inner loop of
      // planInputPartitions), predicate selecting only fragment 0
      val keyMax = seed.stats("l_orderkey").max.get.toLong
      val pred = org.apache.spark.sql.sources.LessThanOrEqual(
        "l_orderkey", keyMax)
      val t2 = System.nanoTime()
      val kept = loaded.fragments.count(f => ZoneMaps.mayMatch(pred, schema, f))
      val pruneNs = System.nanoTime() - t2
      require(kept == 1, s"zone prune kept $kept fragments, expected 1")

      def tableDF = org.apache.spark.sql.GraftShim.tableDF(spark,
        new graft.connector.GraftTable(s"metabench:$dir", dir, loaded,
          fs.getConf))
      // plan_* medians adjudicate r15 VERDICT #2: the r15 artifact's
      // plan_packed > plan_full inversion at 10⁵ was
      // single-shot measurement order — packed ran last, cold JIT,
      // accumulated GC — not an algorithmic cost; repeats on the same
      // box show packed at or below full at every fragment count.
      // filter -> planned partitions: Catalyst + pushdown + zone prune +
      // split generation, no task execution
      var prunedParts = 0
      val planPrunedNs = medianNs(3) {
        prunedParts =
          tableDF.where(col("l_orderkey") <= keyMax).rdd.getNumPartitions
      }
      // unfiltered full-scan planning: every fragment splits into
      // maxPartitionBytes ranges (the 100 TB task-fleet shape)
      var fullParts = 0
      val planFullNs = medianNs(3) {
        fullParts = tableDF.rdd.getNumPartitions
      }
      // tightly-capped full-scan planning (r14 VERDICT #4): with
      // spark.graft.scan.maxPartitions=8192 the effective split widens
      // to ceil(total/8192) and the planned task count tracks the cap —
      // the scheduler-cost bound for a 100 TB scan (fragment-aligned:
      // whole fragments pack, large ones range-split at the wider size)
      var packedParts = 0
      val planPackedNs = medianNs(3) {
        spark.conf.set(graft.connector.GraftScan.MaxPartitionsConf, "8192")
        try packedParts = tableDF.rdd.getNumPartitions
        finally spark.conf.unset(graft.connector.GraftScan.MaxPartitionsConf)
      }
      // end-to-end: the pruned query actually runs (reads only the one
      // real fragment; 10⁵-1 synthetic files are never touched)
      val t5 = System.nanoTime()
      val rows = tableDF.where(col("l_orderkey") <= keyMax)
        .select("l_orderkey").collect().length
      val queryNs = System.nanoTime() - t5
      require(rows > 0, "pruned query returned nothing")
      fs.delete(dir.getParent, true)

      Map(
        "fragments" -> fragments,
        "manifest_mb" -> math.round(manifestLen / 1e4) / 100.0,
        "commit_ms" -> ms(writeNs),
        "commit_delta_ms" -> ms(deltaNs),
        "delta_bytes" -> deltaLen,
        "load_delta_ms" -> ms(loadDeltaNs),
        "load_ms" -> ms(loadNs),
        "prune_ms" -> ms(pruneNs),
        "plan_pruned_ms" -> ms(planPrunedNs),
        "plan_full_ms" -> ms(planFullNs),
        "plan_packed_ms" -> ms(planPackedNs),
        "full_partitions" -> fullParts,
        "full_partitions_packed" -> packedParts,
        "pruned_partitions" -> prunedParts,
        "query_pruned_ms" -> ms(queryNs),
        "churn_commits" -> churnN,
        "churn_checkpoints" -> churnCheckpoints,
        "churn_total_mb" -> math.round(churnBytes / 1e4) / 100.0,
        "commit_amortized_ms" -> ms(amortizedNs),
        "commit_delta_median_ms" -> ms(medianDeltaNs),
        "commit_worst_ms" -> ms(worstNs),
        "churn_materialize_wait_ms" -> ms(materializeWaitNs),
        "load_head_depth_ms" -> ms(loadHeadNs),
        "cdc_versions" -> cdcN,
        "cdc_bytes_per_sync" -> (readerBytes / cdcN).toDouble,
        "cdc_reads_per_sync" -> math.round(readerReads * 10.0 / cdcN) / 10.0,
        "cdc_sync_ms" -> ms(syncNs / cdcN),
        "cdc_pinned_hits" -> cdcPinnedHits,
        "ts_travel_versions" -> tsVersions,
        "ts_travel_cold_ms" -> ms(ttColdNs),
        "ts_travel_cold_reads" -> ttColdReads,
        "ts_travel_warm_ms" -> ms(ttWarmNs),
        "ts_travel_warm_reads" -> ttWarmReads.toDouble,
        "cdc2p_versions" -> cdc2pN,
        "cdc2p_syncs" -> syncs2p,
        "cdc2p_bytes_per_version" -> (bytes2p.toDouble / cdc2pN).round.toDouble,
        "cdc2p_reads_per_version" ->
          math.round(reads2p * 10.0 / cdc2pN) / 10.0,
        "cdc2p_lag_versions" -> lagN,
        "cdc2p_lag_syncs" -> lagSyncs,
        "cdc2p_lag_bytes_per_version" ->
          (lagBytes.toDouble / lagN).round.toDouble)
    }

    // 16-TABLE CONCURRENT ROLLOVER HERD (r17 VERDICT #5): a driver
    // serving many tables whose cadences roll over together queues
    // O(tables) O(table)-sized encodes behind the materialize pool.
    // Leg 1 (default backlog bound 32): all 16 defer; commits stay
    // delta-cost; queue depth / enqueue→start wait / drain time are
    // METERED, not inferred. Leg 2 (bound lowered to 4): the
    // inline-fallback engages — committers past the bound pay their own
    // O(table) write, so the queue (and reader chain depth) stays
    // bounded no matter how many tables roll over at once.
    def herdProbe(fragments: Int, tables: Int,
        maxBacklog: Option[Int]): Map[String, Any] = {
      val conf = new org.apache.hadoop.conf.Configuration(
        spark.sessionState.newHadoopConf())
      conf.setBoolean("fs.file.impl.disable.cache", true)
      maxBacklog.foreach(b =>
        conf.setInt(GraftFormat.MaterializeMaxBacklogKey, b))
      val states = (0 until tables).map { _ =>
        val (dir, _, m2) = MetaBench.syntheticTable(spark, sfDir, fragments,
          seedRows = 2000)
        val fs = dir.getFileSystem(conf)
        GraftFormat.commit(fs, dir, m2) // checkpoint, depth 0
        var cur = m2
        // advance to one commit BEFORE the cadence-16 rollover
        (1 to 15).foreach { k =>
          val base = cur
          cur = cur.copy(version = cur.version + 1,
            fragments = cur.fragments :+ cur.fragments.head.copy(
              id = cur.maxFragmentId + 1, path = s"data/herd-$k.parquet",
              deletionPath = None, deletedCount = 0L),
            maxFragmentId = cur.maxFragmentId + 1,
            createdAtMs = System.currentTimeMillis(), operation = "Append")
          GraftFormat.commit(fs, dir, cur, base = Some(base))
        }
        (dir, fs, cur)
      }
      GraftFormat.MaterializeMetrics.reset()
      // the herd: every table's rollover commit lands back-to-back
      val commitNs = states.map { case (dir, fs, cur) =>
        val next = cur.copy(version = cur.version + 1,
          fragments = cur.fragments :+ cur.fragments.head.copy(
            id = cur.maxFragmentId + 1, path = "data/herd-roll.parquet",
            deletionPath = None, deletedCount = 0L),
          maxFragmentId = cur.maxFragmentId + 1,
          createdAtMs = System.currentTimeMillis(), operation = "Append")
        val t = System.nanoTime()
        GraftFormat.commit(fs, dir, next, base = Some(cur))
        System.nanoTime() - t
      }
      val d0 = System.nanoTime()
      require(GraftFormat.awaitMaterializations(180000L),
        "herd materialization stalled")
      val drainNs = System.nanoTime() - d0
      val mm = GraftFormat.MaterializeMetrics
      states.foreach { case (dir, fs, _) => fs.delete(dir.getParent, true) }
      Map(
        "tables" -> tables,
        "fragments" -> fragments,
        "commit_worst_ms" -> ms(commitNs.max),
        "commit_median_ms" -> ms(commitNs.sorted.apply(tables / 2)),
        "queue_depth_max" -> mm.maxQueueDepth.get(),
        "wait_max_ms" -> ms(mm.maxWaitNanos.get()),
        "wait_mean_ms" -> ms(mm.totalWaitNanos.get() /
          math.max(1L, mm.completed.get() - mm.inlineFallbacks.get())),
        "inline_fallbacks" -> mm.inlineFallbacks.get(),
        "scheduled" -> mm.scheduled.get(),
        "drain_ms" -> ms(drainNs))
    }
    val herd = herdProbe(10000, 16, None)
    val herdCapped = herdProbe(10000, 16, Some(4))

    val results = Seq(1000, 10000, 100000).map(f => f.toString -> probe(f))
    val at1e5 = results.last._2
    val budget = Map[String, Double]("manifest_mb" -> 100.0,
      "load_ms" -> 2000.0, "prune_ms" -> 1000.0, "plan_pruned_ms" -> 2000.0,
      // steady-state append on a 10^5-fragment table must cost O(delta):
      // ~10x under the pre-delta full-rewrite commit (1535 ms in r14)
      "commit_delta_ms" -> 150.0,
      // ...and stay O(delta) AMORTIZED across the checkpoint cadence:
      // the periodic full-manifest write (~1.5 s at 10^5) divided by
      // the cadence (16) plus the per-delta cost — the price a busy
      // table pays per commit forever, not just between checkpoints
      "commit_amortized_ms" -> 400.0,
      // steady-reader resolve of a new delta version (checkpoint base
      // pinned): must be FAR under the cold checkpoint load (r15
      // VERDICT #1 — was 2000.2 ms when it re-read the chain cold)
      "load_delta_ms" -> 500.0,
      // cold depth-worst-case resolve (nothing cached, full chain
      // depth, prefetched concurrently): the cold-load budget applies
      // at ANY depth, not just to checkpoint heads
      "load_head_depth_ms" -> 2000.0,
      // long-lived CDC reader: version-record bytes per synced version
      // must stay O(delta) — ~600 B records incl. cadence rollovers
      // (sidecar-served) — never O(table) (a single 10^5-fragment
      // checkpoint read would blow this by ~400x)
      "cdc_bytes_per_sync" -> 8192.0,
      // ...and the same flatness CROSS-PROCESS (committer in a child
      // JVM, its caches unreachable): looser bound because catch-up
      // syncs read a lagged version's record twice (resolve + walk)
      // and a poll landing mid-rollover may occasionally pay one full
      // checkpoint — still ~80x under the O(table)-per-sync signal
      "cdc2p_bytes_per_version" -> 32768.0,
      // ...and even when the reader syncs only every ~3 cadences: the
      // chained sidecar crossings (r16 VERDICT #5) must keep each
      // intermediate boundary O(delta) — one 10⁵-fragment checkpoint
      // per 48-version window alone would be ~54 KB/version
      "cdc2p_lag_bytes_per_version" -> 32768.0,
      // warm timestamp travel is O(new versions): only the newest
      // record (the generation witness) may be re-read on a repeat
      // call over an unchanged ~10³-version history
      "ts_travel_warm_reads" -> 4.0,
      // the committer-visible WORST commit across a full cadence must
      // sit near the delta median (r16 VERDICT #1) — the O(table)
      // checkpoint encode (1817 ms inline at 10⁵ in r16) now runs
      // out-of-band. 400 ms tolerates a GC pause landing on any
      // sample while still refusing an inline checkpoint write.
      "commit_worst_ms" -> 400.0)
    // herd gates: with the default bound all 16 defer (no fallback) and
    // every commit stays delta-cost; with the bound at 4 the fallback
    // engages and the observed queue depth respects the cap (+1: depth
    // is sampled after the triggering add)
    val herdPass =
      herd("inline_fallbacks").asInstanceOf[Long] == 0L &&
      herd("commit_worst_ms").asInstanceOf[Double] <= 400.0 &&
      herdCapped("inline_fallbacks").asInstanceOf[Long] >= 1L &&
      herdCapped("queue_depth_max").asInstanceOf[Long] <= 5L
    val pass = herdPass && budget.forall { case (k, lim) =>
      at1e5(k).asInstanceOf[Double] <= lim }

    def jval(v: Any): String = v match {
      case s: String => "\"" + s + "\""
      case other => other.toString
    }
    def jobj(m: Map[String, Any]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + jval(v) }
        .mkString("{", ",", "}")
    val line = s"""{"metric":"meta_scale","pass":$pass,""" +
      s""""budget_at_1e5":${jobj(budget.map { case (k, v) => k -> (v: Any) })},""" +
      s""""herd":${jobj(herd)},"herd_capped":${jobj(herdCapped)},""" +
      results.map { case (f, r) => s""""f$f":${jobj(r)}""" }.mkString(",") + "}"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_META.json"), line + "\n")
    println(line)
    spark.stop()
  }
}
