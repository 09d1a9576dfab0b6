package graft.ops

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{GraftShim, SparkSession}
import org.apache.spark.sql.functions._

import graft.connector.{FragmentWriter, GraftTable, GraftWriter}
import graft.format.{BlobStore, GraftFormat}
import graft.format.GraftFormat.{FragmentMeta, Manifest}

/** Table-maintenance operations the reference does not ship but a
  * 100 TB lakehouse cannot live without:
  *
  *  - [[compact]]: rewrite fragments below a size threshold, or past a
  *    deleted-rows threshold, into full fragments, folding deletion
  *    vectors in (physical delete). Reads and the rewrite are
  *    distributed; the commit is one manifest CAS.
  *    Untouched fragments keep their ids, so time travel and streaming
  *    offsets stay valid for them.
  *  - [[vacuum]]: delete data/deletion/blob files not referenced by any
  *    retained manifest version (after dropping history older than
  *    `keepVersions`). Time travel works within the retained window.
  *    Blob sidecars are GC'd via a distributed descriptor scan over the
  *    retained fragments.
  *
  * All paths are Hadoop-FS (file://, hdfs://, s3a://, ...).
  */
object Maintenance {

  /** Callers that resolved a table through a catalog (the `CALL`
    * procedures) pass that catalog's per-table Configuration — vended
    * storage credentials included — so maintenance uses the same
    * FileSystem identity as every scan/write of the table. Bare-session
    * fallback only when no catalog conf is supplied. */
  private def resolvedConf(spark: SparkSession, c: Configuration): Configuration =
    Option(c).getOrElse(spark.sessionState.newHadoopConf())

  /** Newest modification time of any file under `p`, for the vacuum
    * orphan-grace check. Object-store "directories" are virtual with
    * mtime 0, so only contained FILES are dated; index segment dirs
    * hold a handful of files, so the recursion is cheap. Anything we
    * cannot date — an empty dir (an in-flight refresh creates the dir
    * before its first file lands) or a path deleted out from under us
    * by a concurrent vacuum/refresh — reads as Long.MaxValue, i.e.
    * "too new to touch": never delete what cannot be aged. */
  private def newestMtimeUnder(fs: FileSystem, p: Path): Long =
    try {
      val st = fs.getFileStatus(p)
      if (st.isFile) st.getModificationTime
      else {
        val times = fs.listStatus(p).toSeq.map { c =>
          if (c.isFile) c.getModificationTime else newestMtimeUnder(fs, c.getPath)
        }
        if (times.isEmpty) Long.MaxValue else times.max
      }
    } catch { case _: java.io.FileNotFoundException => Long.MaxValue }

  /** Compact fragments with fewer than `minRows` live rows or with more
    * than `materializeDeletionsThreshold` of their rows deleted (Lance's
    * compaction policy, default 0.1; 0 folds any deletion, 1 never
    * folds). Returns number of fragments compacted. The plain rewrite
    * rolls its output at ceil(live rows / nOut) rows, nOut = live rows /
    * `minRows` (>= 1), even when the scan planned one partition.
    *
    * `sortBy`: range-partition + sort the rewritten rows by these
    * columns, so each output fragment covers a DISJOINT value range —
    * the manifest zone maps then prune range/equality predicates down
    * to single fragments (the lakehouse OPTIMIZE ... SORT BY / Z-ORDER
    * play: clustering exists to make statistics selective).
    *
    * `zorderBy`: multi-dimensional clustering — rows are ordered by the
    * Morton interleave of per-column quantile-bucket ids (8 bits/dim),
    * so every output fragment covers a small hyper-rectangle and zone
    * maps prune predicates on ANY of the named columns, not just a
    * sort prefix. Numeric/date/timestamp columns only. Quantile
    * boundaries (255 doubles per dim, driver-side) make bucket
    * occupancy skew-proof; the interleave itself is pure codegen
    * arithmetic, so the rewrite stays whole-stage-compiled at any
    * scale. Mutually exclusive with `sortBy`; the scan plans nothing
    * from the recorded `zorder_by` property — the benefit is entirely
    * in the per-fragment statistics. */
  def compact(
      spark: SparkSession,
      dir: Path,
      minRows: Long = 1000000L,
      materializeDeletionsThreshold: Double = 0.1,
      sortBy: Seq[String] = Seq.empty,
      zorderBy: Seq[String] = Seq.empty,
      hadoopConf: Configuration = null): Int = {
    require(sortBy.isEmpty || zorderBy.isEmpty,
      "sortBy and zorderBy are mutually exclusive")
    require(materializeDeletionsThreshold >= 0.0 &&
      materializeDeletionsThreshold <= 1.0,
      s"materialize_deletions_threshold must be in [0, 1], got " +
        materializeDeletionsThreshold)
    val conf = resolvedConf(spark, hadoopConf)
    val fs = dir.getFileSystem(conf)
    val qualDir = fs.makeQualified(dir)
    val manifest = GraftFormat.readLatest(fs, qualDir).getOrElse(
      throw new IllegalArgumentException(s"not a graft table: $dir"))
    def foldsDeletes(f: FragmentMeta): Boolean =
      f.deletedCount > materializeDeletionsThreshold * f.rowCount
    // sorted compaction is a re-clustering OPTIMIZE: every fragment is
    // rewritten so the output covers disjoint sort-key ranges
    val recluster = sortBy.nonEmpty || zorderBy.nonEmpty
    val small = manifest.fragments.filter(f =>
      recluster || f.liveRows < minRows || foldsDeletes(f))
    // a requested RE-CLUSTERING must run even over a single clean
    // fragment (r19): the product is the sorted/z-ordered layout and
    // its zone-map selectivity, not fragment-count reduction — the old
    // early-exit silently skipped the rewrite (and never recorded
    // sort_by/zorder_by) on 1-fragment tables
    if (small.isEmpty ||
        (!recluster && small.size <= 1 && !small.exists(foldsDeletes)))
      return 0

    val live = scanLive(spark, conf, qualDir, manifest, small)
    // toward target-size fragments: one output per minRows-worth of
    // rows (>= 1); sorted compaction range-partitions first so output
    // fragments carry disjoint sort-key ranges
    val total = small.map(_.liveRows).sum
    val nOut = math.max(1, (total / math.max(1L, minRows)).toInt)
    val opts = GraftWriter.parquetOptions(spark, manifest.properties) ++
      GraftTable.storageOptions(spark, conf)
    val files = if (zorderBy.nonEmpty) {
      // phase spans are observability only (land as compact.* in bench
      // artifacts when a timed query runs this): the rewrite is three
      // passes — quantile cuts (narrow), the range-exchange sample of
      // __z (narrow), and the full data write
      val z = graft.BenchPhases.timed("compact.zorder_quantiles") {
        zValue(live, zorderBy)
      }
      graft.BenchPhases.timed("compact.zorder_write") {
        FragmentWriter.write(live.withColumn("__z", z)
          .repartitionByRange(nOut, col("__z"))
          .sortWithinPartitions("__z")
          .drop("__z"), qualDir, options = opts)
      }
    } else if (sortBy.isEmpty)
      FragmentWriter.write(live.coalesce(nOut), qualDir,
        maxRows = (total + nOut - 1) / nOut, options = opts)
    else {
      // tight range boundaries are the product here (zone-map
      // selectivity tracks how disjoint the output ranges are), so
      // sample harder than the exchange default while this write runs
      val sampleKey = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
      val prev = spark.conf.getOption(sampleKey)
      spark.conf.set(sampleKey, "1000")
      try
        FragmentWriter.write(live.repartitionByRange(nOut, sortBy.map(col): _*)
          .sortWithinPartitions(sortBy.map(col): _*), qualDir, options = opts)
      finally prev.fold(spark.conf.unset(sampleKey))(spark.conf.set(sampleKey, _))
    }

    val smallIds = small.map(_.id).toSet
    GraftFormat.commitWithRetry(fs, qualDir) { latestOpt =>
      val latest = latestOpt.getOrElse(
        throw new IllegalStateException(s"table vanished during compact: $dir"))
      // conflict safety: if a concurrent commit touched any compacted
      // fragment, abort rather than resurrect stale data
      val changed = latest.fragments.filter(f => smallIds.contains(f.id))
      if (changed.map(f => (f.id, f.deletionPath, f.deletedCount)).toSet !=
          small.map(f => (f.id, f.deletionPath, f.deletedCount)).toSet)
        throw new GraftFormat.CommitConflictException(
          "concurrent modification of fragments being compacted")
      var nextId = latest.maxFragmentId
      val newFrags = files.flatten.map { f => nextId += 1; f.toMeta(nextId) }
      latest.copy(
        version = latest.version + 1,
        fragments = latest.fragments.filterNot(f => smallIds.contains(f.id))
          ++ newFrags,
        maxFragmentId = nextId,
        createdAtMs = System.currentTimeMillis(),
        operation = "Compact",
        // sorted compaction rewrote EVERY fragment in sort order ->
        // record the clustering; a plain compact's coalesced rewrite
        // invalidates any previous flag
        properties =
          if (sortBy.nonEmpty)
            latest.properties -- GraftFormat.ClusteringProps +
              (GraftFormat.SortByProp -> sortBy.mkString(","))
          else if (zorderBy.nonEmpty)
            latest.properties -- GraftFormat.ClusteringProps +
              (GraftFormat.ZOrderByProp -> zorderBy.mkString(","))
          else latest.properties -- GraftFormat.ClusteringProps)
    }
    small.size
  }

  /** Morton z-value of `cols`: each column quantile-bucketed to 8 bits
    * (255 approx-quantile cut points computed driver-side — skew-proof
    * occupancy, tiny literals), then bit-interleaved into one LONG sort
    * key. All per-row work is codegen'd builtins (array filter +
    * shifts); nulls sort first via bucket 0. */
  private def zValue(live: org.apache.spark.sql.DataFrame,
      cols: Seq[String]): org.apache.spark.sql.Column = {
    val Bits = 8
    require(cols.nonEmpty && cols.size * Bits <= 56,
      s"zorderBy supports up to ${56 / Bits} columns")
    val schema = live.schema
    val numeric = cols.map { c =>
      val f = schema(c)
      f.dataType match {
        case _: org.apache.spark.sql.types.NumericType => col(c).cast("double")
        case org.apache.spark.sql.types.DateType =>
          datediff(col(c), lit("1970-01-01")).cast("double")
        case org.apache.spark.sql.types.TimestampType =>
          col(c).cast("double")
        case t => throw new IllegalArgumentException(
          s"zorderBy column '$c' has unsupported type ${t.simpleString} " +
            "(numeric/date/timestamp only)")
      }
    }
    val proj = live.select(numeric.zipWithIndex.map {
      case (c, i) => c.as(s"__zq$i") }: _*)
    val cuts: Seq[Array[Double]] = proj.stat.approxQuantile(
      cols.indices.map(i => s"__zq$i").toArray,
      (1 until (1 << Bits)).map(_.toDouble / (1 << Bits)).toArray,
      0.001).toSeq
    val buckets = numeric.zip(cuts).map { case (v, cut) =>
      // bucket = #cuts <= v, in [0, 255]; null -> 0 (sorts first)
      when(v.isNull, 0)
        .otherwise(size(filter(typedLit(cut.toSeq), b => v >= b)))
    }
    // interleave: bit i of dim j lands at position i*d + (d-1-j), so
    // the FIRST column owns the most significant bit of each round
    val d = buckets.size
    val terms = for {
      (b, j) <- buckets.zipWithIndex
      i <- 0 until Bits
    } yield shiftleft(
      shiftright(b.cast("long"), i).bitwiseAND(lit(1L)), i * d + (d - 1 - j))
    terms.reduce(_ + _)
  }

  /** The live rows of `frags`, read through graft's own scan over the
    * manifest restricted to them: the reader applies deletion vectors,
    * and blob columns come back as their physical descriptor structs
    * (the scan sees the physical schema), so a rewrite keeps every blob
    * reachable. Layout claims are dropped: the subset has none. */
  private def scanLive(spark: SparkSession, conf: Configuration,
      qualDir: Path, manifest: Manifest,
      frags: Seq[FragmentMeta]): org.apache.spark.sql.DataFrame = {
    val physical = manifest.copy(
      schemaJson = BlobStore.physicalSchema(
        manifest.schema, manifest.blobColumns).json,
      fragments = frags,
      properties = manifest.properties -- GraftFormat.ClusteringProps -
        "blob_columns")
    GraftShim.tableDF(spark,
      new GraftTable(s"rewrite:$qualDir", qualDir, physical, conf))
  }

  /** Bucketize: rewrite the whole table so every row lives in the
    * fragment of bucket `pmod(col, nBuckets)` (the graft bucket
    * function, exposed to Spark via the catalog's FunctionCatalog).
    * Two tables bucketized on their join key with the same bucket count
    * join WITHOUT a shuffle (storage-partitioned join): scans report
    * `KeyGroupedPartitioning(bucket(n, col))` and Spark co-locates the
    * matching buckets. The manifest records the layout
    * (`bucket_by` = "col:n", `bucket_fragments` = "bucket:fragId"
    * pairs); any commit adding fragments outside this rewrite drops the
    * claim. Requires an integral bucket column. Returns nBuckets. */
  def bucketize(spark: SparkSession, dir: Path, column: String,
      nBuckets: Int, hadoopConf: Configuration = null): Int = {
    require(nBuckets > 0, "nBuckets must be positive")
    val conf = resolvedConf(spark, hadoopConf)
    val fs = dir.getFileSystem(conf)
    val qualDir = fs.makeQualified(dir)
    val manifest = GraftFormat.readLatest(fs, qualDir).getOrElse(
      throw new IllegalArgumentException(s"not a graft table: $dir"))
    val colType = manifest.schema.fields.find(_.name == column).getOrElse(
      throw new IllegalArgumentException(s"no such column: $column")).dataType
    require(Seq("byte", "short", "integer", "long")
      .contains(colType.typeName),
      s"bucketize requires an integral column, got ${colType.sql}")

    val live = scanLive(spark, conf, qualDir, manifest, manifest.fragments)
    // exact bucket -> RDD partition -> one fragment per non-empty
    // bucket; the writer returns files by partition, i.e. by bucket
    val schema = live.schema
    val bucketed = live.withColumn("__b",
      pmod(col(column).cast("long"), lit(nBuckets.toLong)).cast("int"))
    val n = nBuckets
    val rdd = bucketed.rdd
      .map(r => (r.getAs[Int]("__b"), org.apache.spark.sql.Row(
        r.toSeq.dropRight(1): _*)))
      .partitionBy(new org.apache.spark.Partitioner {
        override def numPartitions: Int = n
        override def getPartition(key: Any): Int = key.asInstanceOf[Int]
      })
      .map(_._2)
    val written = FragmentWriter.write(spark.createDataFrame(rdd, schema),
      qualDir, options = GraftWriter.parquetOptions(spark, manifest.properties) ++
        GraftTable.storageOptions(spark, conf))

    val oldIds = manifest.fragments.map(_.id).toSet
    GraftFormat.commitWithRetry(fs, qualDir) { latestOpt =>
      val latest = latestOpt.getOrElse(
        throw new IllegalStateException(s"table vanished during bucketize: $dir"))
      if (latest.fragments.map(_.id).toSet != oldIds ||
          latest.fragments.exists(f =>
            manifest.fragments.find(_.id == f.id)
              .exists(o => o.deletionPath != f.deletionPath)))
        throw new GraftFormat.CommitConflictException(
          "concurrent modification during bucketize; re-run")
      var nextId = latest.maxFragmentId
      val pairs = written.zipWithIndex.flatMap { case (files, b) =>
        files.map { f => nextId += 1; (b, f.toMeta(nextId)) }
      }
      latest.copy(
        version = latest.version + 1,
        fragments = pairs.map(_._2),
        maxFragmentId = nextId,
        createdAtMs = System.currentTimeMillis(),
        operation = "Bucketize",
        properties = latest.properties -- GraftFormat.ClusteringProps +
          (GraftFormat.BucketByProp -> s"$column:$nBuckets") +
          (GraftFormat.BucketFragmentsProp ->
            pairs.map { case (b, f) => s"$b:${f.id}" }.mkString(",")))
    }
    nBuckets
  }

  /** Table history (DESCRIBE HISTORY analog): one row per retained
    * manifest version — version, operation, commit time, fragment/row
    * counts. Driver-side manifest reads only (O(versions) small JSON
    * files, no data I/O). */
  def history(spark: SparkSession, dir: Path,
      hadoopConf: Configuration = null): org.apache.spark.sql.DataFrame = {
    val conf = resolvedConf(spark, hadoopConf)
    val fs = dir.getFileSystem(conf)
    val qualDir = fs.makeQualified(dir)
    import spark.implicits._
    GraftFormat.listVersions(fs, qualDir).map { v =>
      val m = GraftFormat.readManifest(fs, qualDir, v)
      (m.version, m.operation, new java.sql.Timestamp(m.createdAtMs),
        m.fragments.size, m.liveRows,
        m.fragments.map(_.deletedCount).sum)
    }.toDF("version", "operation", "committed_at", "n_fragments",
      "live_rows", "deleted_rows")
      .orderBy(col("version").desc)
  }

  /** Roll the table back to retained version `toVersion` (RESTORE
    * analog — the undo for a bad write): commits a NEW version whose
    * fragments, schema, and properties are those of `toVersion`, so
    * history is preserved (the bad versions stay inspectable and
    * re-rollbackable until vacuumed) and every reader keeps snapshot
    * semantics. Metadata-only — no data file is read, copied, or
    * deleted; the old version's files are still present because vacuum
    * retention protects every retained manifest's references. Incremental
    * readers see rows the rollback re-surfaced as appends (they ARE
    * re-appends from that reader's perspective). Returns the committed
    * version. */
  def rollback(spark: SparkSession, dir: Path, toVersion: Long,
      hadoopConf: Configuration = null): Long = {
    val conf = resolvedConf(spark, hadoopConf)
    val fs = dir.getFileSystem(conf)
    val qualDir = fs.makeQualified(dir)
    val versions = GraftFormat.listVersions(fs, qualDir)
    require(versions.contains(toVersion),
      s"version $toVersion is not retained by $dir " +
        s"(retained: ${versions.headOption.getOrElse("none")}..${
          versions.lastOption.getOrElse("none")})")
    val target = GraftFormat.readManifest(fs, qualDir, toVersion)
    var committed = 0L
    GraftFormat.commitWithRetry(fs, qualDir) { latestOpt =>
      val latest = latestOpt.getOrElse(
        throw new IllegalStateException(s"table vanished during rollback: $dir"))
      require(latest.version != toVersion,
        s"table is already at version $toVersion")
      committed = latest.version + 1
      target.copy(
        version = committed,
        // future appends must never reuse ids minted after toVersion
        maxFragmentId = math.max(latest.maxFragmentId, target.maxFragmentId),
        createdAtMs = System.currentTimeMillis(),
        operation = "Rollback")
    }
    committed
  }

  /** Drop manifest history beyond the latest `keepVersions` versions,
    * then delete any data/deletion/blob/index file not referenced by a
    * retained manifest. `olderThanMs` > 0 additionally protects recent
    * history: a version is only dropped when its commit is at least
    * that old (the lakehouse retention guard — readers/streams pinned
    * to a recent snapshot keep working while old history ages out).
    *
    * The time guard alone cannot protect a pinned time-travel reader
    * from a misconfigured `olderThanMs = 0`, so a SECOND guard floors
    * the version count (Delta `retentionDurationCheck` / Iceberg
    * `min-snapshots-to-keep` precedent): the effective keep count is
    * at least `spark.graft.vacuum.minVersionsRetained` (default 2 —
    * latest plus one prior snapshot). Pass `minVersionsRetained >= 1`
    * to override per call (tests / operators who accept the risk);
    * -1 means "use the session conf".
    *
    * Unreferenced files split two ways (the streaming×maintenance storm
    * caught the difference): files referenced by a manifest DROPPED in
    * this pass are dead history and delete immediately, but a file
    * referenced by NO manifest at all may be an IN-FLIGHT two-phase
    * append (data/blob/index-segment files land on disk BEFORE their
    * manifest commits — deleting them fails the commit or strands a
    * reader on a vanished file). True orphans are crash debris, so they
    * age out instead: deleted only once older than `orphanGraceMs`
    * (conf `spark.graft.vacuum.orphanGraceMs`, default 24 h — long
    * enough to outlast any plausible distributed write; the Iceberg
    * remove_orphan_files default is 3 days, Delta's vacuum retention
    * 7 days). Returns (versionsDropped, filesDeleted).
    *
    * `dryRun = true` runs the full assessment — listing, retention
    * split, reference resolution, the distributed blob anti-join — and
    * returns the counts a real pass WOULD produce, but mutates nothing:
    * no file or manifest deletes, no cache purges or generation bumps
    * (Delta `VACUUM ... DRY RUN` / Iceberg precedent: at scale an
    * operator audits a destructive GC before firing it). The counts are
    * a point-in-time estimate; commits racing the dry run can shift the
    * real pass's numbers. */
  def vacuum(spark: SparkSession, dir: Path, keepVersions: Int = 10,
      olderThanMs: Long = 0L, hadoopConf: Configuration = null,
      minVersionsRetained: Int = -1, orphanGraceMs: Long = -1L,
      dryRun: Boolean = false): (Int, Int) = {
    require(keepVersions >= 1, "must keep at least the latest version")
    // sentinels are exactly -1: a 0 (or other nonsense) must fail loudly
    // rather than silently fall through to the session-conf default
    require(minVersionsRetained == -1 || minVersionsRetained >= 1,
      s"min_versions_retained must be >= 1 (or -1 = use " +
        s"spark.graft.vacuum.minVersionsRetained), got $minVersionsRetained")
    require(orphanGraceMs >= -1L,
      s"orphan_grace_ms must be >= 0 (or -1 = use " +
        s"spark.graft.vacuum.orphanGraceMs), got $orphanGraceMs")
    val floor =
      if (minVersionsRetained >= 1) minVersionsRetained
      else spark.conf
        .get("spark.graft.vacuum.minVersionsRetained", "2").toInt.max(1)
    val grace =
      if (orphanGraceMs >= 0L) orphanGraceMs
      else spark.conf
        .get("spark.graft.vacuum.orphanGraceMs", "86400000").toLong.max(0L)
    val effKeep = math.max(keepVersions, floor)
    val conf = resolvedConf(spark, hadoopConf)
    val fs = dir.getFileSystem(conf)
    val qualDir = fs.makeQualified(dir)
    val versions = GraftFormat.listVersions(fs, qualDir)
    // An EMPTY listing means this pass has no ground truth: either the
    // table's first commit is still in flight, or the listing blipped
    // on an established table. A committed table always retains at
    // least its head manifest, so empty ⇒ every file on disk is
    // potentially live-but-unprovable — the referenced set below would
    // be empty and the data/_deletions loop, the seg-* orphan check,
    // and the blob GC would all read live files as aged-out crash
    // debris. Delete nothing; the next pass with a real listing does
    // the GC. (Crash debris on a never-committed table is bounded and
    // dies with its dropTable.)
    if (versions.isEmpty) return (0, 0)
    val (drop0, keep0) = versions.splitAt(math.max(0, versions.size - effKeep))
    val cutoff = System.currentTimeMillis() - olderThanMs
    val (drop, keep) =
      if (olderThanMs <= 0L) (drop0, keep0)
      else {
        // drop the longest droppable PREFIX, never a partition: version
        // history must stay gap-free (incremental readers walk the
        // dense version range — manifests are consecutive CAS
        // integers), but createdAtMs is stamped from each committer's
        // wall clock, so cross-process clock skew can make it
        // non-monotone in version. A partition would then delete a
        // newer version while retaining an older one — a PERMANENT
        // mid-history hole every later walk fails on. Stopping at the
        // first too-recent manifest keeps the invariant: protecting a
        // version protects everything after it.
        // A manifest a CONCURRENT vacuum already deleted reads as
        // droppable: the racing pass judged it out of retention, and
        // the delete below is exists-guarded — never crash on the race.
        val d = drop0.takeWhile(v =>
          try GraftFormat.readManifest(fs, qualDir, v).createdAtMs <= cutoff
          catch { case _: java.io.FileNotFoundException => true })
        (d, drop0.drop(d.size) ++ keep0)
      }
    // delta-chain boundary (format_version 4): the oldest RETAINED
    // version must stay resolvable after its delta bases are dropped.
    // MATERIALIZE the boundary — rewrite it as an equivalent FULL
    // manifest while its bases still exist (same resolved content;
    // the wire kind is an encoding detail) — instead of widening
    // retention, which would make keepVersions granular to the
    // checkpoint cadence. Ordered BEFORE any manifest delete: a crash
    // in between leaves only extra history, never a stranded delta.
    // One read when already a checkpoint; racing vacuums/drops read
    // as done inside materializeCheckpoint.
    if (!dryRun && drop.nonEmpty && keep.nonEmpty)
      GraftFormat.materializeCheckpoint(fs, qualDir, keep.head)
    // same race on the retained side (two vacuums with different
    // keep_versions): a concurrently-deleted manifest contributes no
    // file references — matching the surviving history. The latest
    // versions can never go (every pass retains the >=2-version floor).
    val retained = keep.flatMap { v =>
      try Some(GraftFormat.readManifest(fs, qualDir, v))
      catch { case _: java.io.FileNotFoundException => None }
    }
    val referenced: Set[String] = retained.flatMap { m =>
      m.fragments.flatMap(f => f.path +: f.deletionPath.toSeq)
    }.toSet
    // dead history: referenced only by manifests dropped in THIS pass —
    // captured before their manifest files go, deletable immediately
    // (no grace: their version is out of every retention window). A
    // concurrent vacuum may have deleted a listed manifest already —
    // its files are that pass's responsibility, skip them here.
    val droppedRefs: Set[String] = drop.flatMap { v =>
      try GraftFormat.readManifest(fs, qualDir, v).fragments
        .flatMap(f => f.path +: f.deletionPath.toSeq)
      catch { case _: java.io.FileNotFoundException => Nil }
    }.toSet -- referenced
    if (!dryRun) {
      drop.foreach { v =>
        val p = new Path(GraftFormat.versionsDir(qualDir), s"$v.manifest.json")
        if (fs.exists(p)) fs.delete(p, false)
        // a dropped checkpoint's O(delta) CDC sidecar dies with it
        // (derived data; walks only consult sidecars inside retention)
        val sc = GraftFormat.checkpointDeltaPath(qualDir, v)
        if (fs.exists(sc)) fs.delete(sc, false)
      }
      // resurrection sweep (defense in depth for deferred checkpoint
      // materialization): a fault-delayed out-of-band swap landing
      // after a prior pass's delete leaves a below-prefix orphan — any
      // listed version under this pass's retention floor is one (the
      // prefix at or above it was just cut); the materializer's own
      // post-swap sweep catches most, this catches the stragglers
      if (keep.nonEmpty) GraftFormat.listVersions(fs, qualDir)
        .filter(_ < keep.head).foreach { v =>
          val p = GraftFormat.manifestPath(qualDir, v)
          if (fs.exists(p)) fs.delete(p, false)
          val sc = GraftFormat.checkpointDeltaPath(qualDir, v)
          if (fs.exists(sc)) fs.delete(sc, false)
        }
      // crash debris from the exclusive-create strategies (".tmp" files a
      // writer left behind by dying between write and link/rename): age
      // out anything older than a minute — an in-flight commit's temp is
      // always younger
      fs.listStatus(GraftFormat.versionsDir(qualDir)).foreach { st =>
        if (st.isFile && st.getPath.getName.startsWith(".") &&
          st.getPath.getName.endsWith(".tmp") &&
          st.getModificationTime < System.currentTimeMillis() - 60000L)
          fs.delete(st.getPath, false)
      }
      // dropped versions may sit in the pinned (time-travel) manifest cache
      if (drop.nonEmpty) graft.format.ManifestCache.purge(fs, qualDir)
    }
    var deleted = 0
    val orphanCutoffMs = System.currentTimeMillis() - grace
    for (sub <- Seq("data", "_deletions")) {
      val d = new Path(qualDir, sub)
      if (fs.exists(d)) fs.listStatus(d).foreach { st =>
        if (st.isFile) {
          val rel = s"$sub/${st.getPath.getName}"
          // dead history deletes now; a true orphan may be an in-flight
          // two-phase append's file — only crash debris (older than the
          // grace window) goes
          if (!referenced.contains(rel) && (droppedRefs.contains(rel) ||
              st.getModificationTime < orphanCutoffMs)) {
            if (!dryRun) fs.delete(st.getPath, false)
            deleted += 1
          }
        }
      }
    }
    // staging debris of OLDER graft writers, which staged fragments in
    // a `.staging-<uuid>` dir at the table root (current writers write
    // straight into data/): a writer killed before its move into data/
    // left a dir no manifest references. Age-gated on the newest
    // contained file like the other orphans; an empty dir has no age
    // evidence (newestMtimeUnder = MaxValue) and is never GC'd.
    fs.listStatus(qualDir).foreach { st =>
      if (st.isDirectory && st.getPath.getName.startsWith(".staging-") &&
          newestMtimeUnder(fs, st.getPath) < orphanCutoffMs) {
        if (!dryRun) fs.delete(st.getPath, true)
        deleted += 1
      }
    }
    // index sidecar GC: an _indices/<col>.<kind>/v=<N> directory is
    // reachable through manifest version N OR through a retained
    // version's segment manifest (incremental refresh references prior
    // index content rather than rewriting it — IndexSegments). Delete a
    // v=<N> dir only when N's manifest is dropped AND no retained
    // version references it; delete root-level seg-* delta segments
    // when no retained version references them. (Current-version
    // indexes are never touched: the latest manifest is always
    // retained.)
    val idxRoot = GraftFormat.indicesDir(qualDir)
    val retainedVersions = keep.toSet
    // versions BEYOND this pass's listing were committed by a racing
    // writer: their index dirs are the newest content, never stale.
    // (An EMPTY listing never reaches here — the whole pass bails
    // right after listVersions; the MinValue arm is defense-in-depth.)
    val maxRetained =
      if (retainedVersions.isEmpty) Long.MinValue
      else retainedVersions.max
    if (fs.exists(idxRoot)) {
      fs.listStatus(idxRoot).filter(_.isDirectory).foreach { colIdx =>
        val entries = fs.listStatus(colIdx.getPath).filter(_.isDirectory)
        val retainedVDirs = entries.map(_.getPath).filter { p =>
          p.getName.startsWith("v=") &&
            p.getName.stripPrefix("v=").toLongOption
              .exists(retainedVersions.contains)
        }
        val referenced = IndexSegments.referencedDirs(
          fs, colIdx.getPath, retainedVDirs.toSeq)
        entries.map(_.getPath).foreach { p =>
          val name = p.getName
          // a v=<N> dir with N beyond the listing (n >= maxRetained
          // fails the < check) was published by a commit + refresh
          // racing this pass — the newest index content, not stale
          // history; the next vacuum's fresh listing assesses it.
          val staleVersion = name.startsWith("v=") &&
            name.stripPrefix("v=").toLongOption
              .exists(n => !retainedVersions.contains(n) && n < maxRetained)
          // a seg-* dir an IN-FLIGHT refresh just wrote is not yet
          // referenced by any version manifest (the v=<V> publish comes
          // after the segment lands) — only age-outs are orphans. Dir
          // mtimes are unreliable on object stores, so use the newest
          // contained file.
          // referenced-set check FIRST: newestMtimeUnder is a recursive
          // remote listing — never pay it for a live (referenced)
          // segment on a routine vacuum
          val orphanSegment = name.startsWith("seg-") &&
            !referenced.contains(name) &&
            newestMtimeUnder(fs, p) < orphanCutoffMs
          if ((staleVersion && !referenced.contains(name)) || orphanSegment) {
            if (!dryRun) fs.delete(p, true)
            deleted += 1
          }
        }
      }
      // a resolution that started between the purge above and these
      // deletes may have re-cached a dying segment list; bumping the
      // table's generation AFTER the deletes invalidates it
      if (!dryRun) IndexSegments.invalidateUnder(fs, qualDir)
    }
    // blob sidecar GC: the live set stays DISTRIBUTED — candidate names
    // are left-anti-joined against the union of descriptor scans over
    // the retained fragments, so only the (small) unreferenced delete
    // list ever reaches the driver. The candidate LISTING is streamed
    // too: fs.listStatusIterator in bounded batches, never one driver
    // array — at 100 TB the blob dir holds billions of names (a
    // multi-GB driver array if listed eagerly), while a batch is a few
    // MB regardless of table size. The delete list after a routine
    // vacuum is near-empty either way.
    val blobDir = new Path(qualDir, BlobStore.BlobDirName)
    if (fs.exists(blobDir)) {
      import spark.implicits._
      val referencedDfs = retained
        .filter(m => m.blobColumns.nonEmpty && m.fragments.nonEmpty)
        .flatMap { m =>
          val phys = BlobStore.physicalSchema(m.schema, m.blobColumns)
          val paths = m.fragments.map(f => new Path(qualDir, f.path).toString)
          val df = spark.read.options(GraftTable.storageOptions(spark, conf))
            .schema(phys).parquet(paths: _*)
          m.blobColumns.map(c =>
            df.select(col(c).getField("file").as("f"))
              .where(col("f").isNotNull))
        }
      // the referenced-name scan is reused by every batch's anti-join:
      // cache it so N batches cost one descriptor scan, and drop the
      // cache before returning (no block-set outlives the vacuum)
      val referenced = referencedDfs.reduceOption(_ unionAll _)
        .map(_.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val batchSize = spark.conf
        .get("spark.graft.vacuum.blobBatchSize", "100000").toInt.max(1)
      val batch = scala.collection.mutable.ArrayBuffer.empty[String]
      def flush(): Unit = if (batch.nonEmpty) {
        val unreferenced: Seq[String] = referenced match {
          case None => batch.toSeq
          case Some(r) => batch.toSeq.toDF("f")
            .join(r, Seq("f"), "left_anti").as[String].collect().toSeq
        }
        unreferenced.foreach { rel =>
          if (!dryRun) fs.delete(new Path(qualDir, rel), false)
          deleted += 1
        }
        batch.clear()
      }
      val it = fs.listStatusIterator(blobDir)
      while (it.hasNext) {
        val st = it.next()
        // blob sidecars land BEFORE the manifest referencing their
        // descriptors commits (two-phase append): young unreferenced
        // blobs may be in flight, so only age-outs are GC candidates —
        // an overwritten generation's blobs go on the next vacuum past
        // the grace window (deferred, never lost)
        if (st.isFile && st.getModificationTime < orphanCutoffMs)
          batch += s"${BlobStore.BlobDirName}/${st.getPath.getName}"
        if (batch.size >= batchSize) flush()
      }
      flush()
      referenced.foreach(_.unpersist(blocking = false))
    }
    (drop.size, deleted)
  }
}
