package graft.format

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ThreadLocalRandom

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types.{DataType, StructType}

/** The graft table format: a Lance-semantics versioned columnar layout
  * implemented natively on parquet fragments.
  *
  * Layout of a table directory `<name>.graft/` (mirrors the reference's
  * observable layout, reference: test/resources/example_db/<table>.lance
  * and LanceRuntime.java:361-388):
  *
  *   _versions/<n>.manifest.json   one immutable manifest per committed
  *                                 version (MVCC; time travel resolves here)
  *   data/<uuid>.parquet           immutable fragment data files
  *   _deletions/<frag>-<v>-<uuid>.json
  *                                 merge-on-read deletion vectors
  *
  * All I/O goes through the Hadoop [[FileSystem]] API, so a table
  * directory may live on any Hadoop-supported store (file://, hdfs://,
  * s3a://, ...) — the reference's storage-options plumbing
  * (LanceMetadata.java:1319-1354) maps to the Hadoop configuration that
  * resolves the FileSystem.
  *
  * Concurrency: commits are optimistic-CAS — a manifest file is created
  * with create-exclusive semantics via a per-store strategy behind
  * [[createExclusive]]: O_EXCL CREATE_NEW on local filesystems,
  * conditional put (If-None-Match / if-generation-match, conflict
  * surfacing at create or close) on object stores, and temp-write +
  * atomic rename-no-overwrite on HDFS-likes; `graft.commit.exclusive`
  * overrides the scheme-based pick. Losing a race throws
  * [[CommitConflictException]] and the caller re-reads + retries. This is
  * deliberately stronger than the reference, which detects conflicts by
  * matching exception message strings (LanceMetadata.java:1492-1513).
  *
  * Scale notes: the manifest holds O(fragments) metadata only — including
  * per-fragment byte size and column min/max zone maps, so planning never
  * stats data files. Deletion vectors are per-fragment sidecars (at
  * 100 TB they'd be roaring bitmaps — the JSON encoding here is an
  * encoding detail behind the read/write helpers, not a design
  * constraint). Fragment data files are the unit of parallelism: one
  * Spark InputPartition each.
  */
object GraftFormat {

  /** Per-column fragment statistics (zone map entry): canonical string
    * renderings of min/max plus the null count. Absent entries mean "no
    * stats, never prune". The native analog of the reference's scalar
    * index skipping (LanceFragmentPageSource.java:126 useScalarIndex). */
  final case class ColStats(min: Option[String], max: Option[String], nulls: Long)

  /** One immutable data fragment + its (optional) deletion vector. */
  final case class FragmentMeta(
      id: Int,
      path: String,           // relative to table dir
      rowCount: Long,         // physical rows in the parquet file
      deletionPath: Option[String],
      deletedCount: Long,
      sizeBytes: Long = 0L,   // parquet file size (0 = unknown, legacy)
      stats: Map[String, ColStats] = Map.empty) {
    def liveRows: Long = rowCount - deletedCount
  }

  /** One committed table version. */
  final case class Manifest(
      version: Long,
      schemaJson: String,
      fragments: Seq[FragmentMeta],
      maxFragmentId: Int,
      createdAtMs: Long,
      operation: String,      // Append | Overwrite | Update | Create | Compact
      properties: Map[String, String] = Map.empty) {
    def schema: StructType =
      DataType.fromJson(schemaJson).asInstanceOf[StructType]
    def liveRows: Long = fragments.map(_.liveRows).sum
    /** Columns declared blob (out-of-line binary) via table property
      * `blob_columns` — reference: LanceTableProperties.java:32,44-48. */
    def blobColumns: Seq[String] = properties.get("blob_columns")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    /** Writer format version (S9; reference: LanceTableProperties.java:34-58).
      * 1 = round-1 manifests without sizeBytes/stats, plain JSON;
      * 2 = sizeBytes + zone-map stats, plain JSON;
      * 3 = same content, gzip wire encoding;
      * 4 = current: versions between full (checkpoint) manifests may be
      * O(changed-fragments) DELTAS against the previous version
      * (reference analog: Lance's `_transactions/<n>-<uuid>.txn`
      * commit entries, LanceMetadata.java:1368-1428 — commits append a
      * txn record instead of rewriting the fragment list). A table
      * pinned to an older version via the `format_version` property
      * keeps that version's exact wire format, so readers built for it
      * stay compatible; readers of THIS build sniff the encoding/kind
      * and read all four. */
    def formatVersion: Int =
      properties.get(FormatVersionProp).map(_.toInt).getOrElse(CurrentFormatVersion)
  }

  val FormatVersionProp = "format_version"
  val CurrentFormatVersion = 4

  /** Every N-th version is a full (checkpoint) manifest; versions
    * between are deltas, so a cold reader pays at most one checkpoint
    * read + N-1 small delta reads and a busy table's commit path writes
    * O(changed-fragments) bytes instead of O(table) (BENCH_META.json
    * measured 1535 ms / 2.58 MB per commit at 10⁵ fragments pre-delta).
    * Hadoop-conf key; <= 1 disables deltas entirely. */
  val CheckpointEveryKey = "graft.manifest.checkpointEvery"
  val DefaultCheckpointEvery = 16

  /** How cadence-rollover checkpoints get written (r16 VERDICT #1).
    * The O(table) checkpoint encode+write (1.8 s at 10⁵ fragments) must
    * not sit on the commit critical path — every 16th writer would
    * stall ~100x the delta median. When a rollover's transition is
    * delta-representable, the commit stores the O(delta) record stamped
    * depth 0 (a LOGICAL checkpoint: all cadence arithmetic — depth
    * hints, sidecar prediction, crossings — is untouched) and the full
    * manifest is materialized OUT-OF-BAND as a content-equivalent swap
    * (the vacuum-proven [[materializeCheckpoint]] mechanism). Until the
    * swap lands, chain walks simply descend PAST the boundary into the
    * previous cadence — always correct, just deeper; a walk that finds
    * an unmaterialized boundary below the head schedules its repair.
    *  - "async"  (default): committer materializes on a background
    *    daemon, readers repair orphans (crashed committers)
    *  - "inline": the r16 behavior — full manifest written in commit
    *  - "manual": defer, but only vacuum / an explicit
    *    [[materializeCheckpoint]] materializes (tests; maintenance-only
    *    deployments)
    * Non-representable rollovers and id-less histories always write the
    * full manifest inline — deferral is an optimization, never needed
    * for correctness. */
  val CheckpointMaterializeKey = "graft.manifest.checkpointMaterialize"
  private val warnedModes =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def materializeMode(fs: FileSystem): String = {
    val raw = Option(fs.getConf)
      .map(_.get(CheckpointMaterializeKey, "async")).getOrElse("async")
    raw match {
      case "async" | "inline" | "manual" => raw
      case other =>
        // a typo'd value must not silently become "manual" (defer
        // forever, nobody materializes — chains grow until a walk or
        // vacuum repairs): warn once and use the default
        if (warnedModes.add(other))
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"unknown $CheckpointMaterializeKey='$other' — using 'async' " +
              "(valid: async | inline | manual)")
        "async"
    }
  }

  /** The session's checkpoint cadence — ONE definition for the four
    * read/write sites that reason about rollovers (commit, the two
    * sidecar fast paths, the chain walk). */
  private def checkpointEvery(fs: FileSystem): Int = Option(fs.getConf)
    .map(_.getInt(CheckpointEveryKey, DefaultCheckpointEvery))
    .getOrElse(DefaultCheckpointEvery)

  /** Read + decode version `v`'s checkpoint-delta sidecar when it is a
    * well-formed transition from v-1; None when absent, torn, or the
    * wrong kind. Callers apply their OWN generation policy on the
    * returned record's properties (the walk throws typed, the fast
    * paths compare-and-skip) — sharing the guard here would silently
    * change one caller's semantics when the other's is edited. */
  private def readSidecarDelta(fs: FileSystem, table: Path,
      v: Long): Option[ManifestDelta] =
    try {
      decodeAny(readBytes(fs, checkpointDeltaPath(table, v))) match {
        case Left(d) if d.baseVersion == v - 1 => Some(d)
        case _ => None
      }
    } catch { case NonFatal(_) => None }

  /** Stable per-history identity ("generation"): stamped into version
    * 1's properties at creation and inherited by every later commit
    * (all write paths carry properties forward; REPLACE inherits it —
    * same version history). A DROP + re-CREATE at the same path starts
    * a NEW history with a new id. The streaming source and the batch
    * `expected_table_id` read option use it to detect a replaced
    * generation that version numbers alone cannot: the new history may
    * have reached or passed a checkpoint's version, making every
    * version-arithmetic check pass while the data underneath is a
    * different table's. (Delta's table id / Iceberg's table-uuid
    * precedent.) Tables created before this property existed have no
    * id; detection is skipped for them. */
  val TableIdProp = "graft.table_id"

  /** `props` with a fresh table id, unless one is already present. */
  def withTableId(props: Map[String, String]): Map[String, String] =
    if (props.contains(TableIdProp)) props
    else props + (TableIdProp -> java.util.UUID.randomUUID().toString)

  /** Set by sorted compaction: every fragment's rows are ascending in
    * these comma-separated columns (nulls first). Any commit that adds
    * fragments NOT produced by that rewrite must drop it — scans report
    * per-partition ordering from it, so a stale flag would let Spark
    * elide a sort that is actually needed. */
  val SortByProp = "sort_by"

  /** Set by bucketized rewrite: "col:n" — every row lives in the
    * fragment of bucket pmod(col, n) (see GraftBucketFunction). */
  val BucketByProp = "bucket_by"

  /** "bucketId:fragmentId" pairs (comma-joined) recorded by the
    * bucketized rewrite — binds each fragment to its bucket. */
  val BucketFragmentsProp = "bucket_fragments"

  /** Set by z-order compaction: fragments cover small hyper-rectangles
    * of these comma-separated columns. Informational only — the scan
    * plans nothing from it (the clustering's value is in the zone-map
    * stats themselves) — but dropped like the other clustering claims
    * once non-rewrite commits dilute the layout. */
  val ZOrderByProp = "zorder_by"

  /** Layout claims that any commit adding fragments outside the
    * producing rewrite must drop (scans plan from them). */
  val ClusteringProps: Seq[String] =
    Seq(SortByProp, BucketByProp, BucketFragmentsProp, ZOrderByProp)

  final class CommitConflictException(msg: String)
      extends RuntimeException(msg)

  /** A concurrent commit invalidated a row-level operation's snapshot
    * (the fragments it deletes from changed). Typed, non-retryable —
    * the reference aborts these via message matching
    * (LanceMetadata.java:1492-1513, TestLanceConnectorTest.java:393-410). */
  final class ConcurrentModificationException(msg: String)
      extends RuntimeException(msg)

  def versionsDir(table: Path): Path = new Path(table, "_versions")
  def dataDir(table: Path): Path = new Path(table, "data")
  def deletionsDir(table: Path): Path = new Path(table, "_deletions")
  def indicesDir(table: Path): Path = new Path(table, "_indices")

  def manifestPath(table: Path, v: Long): Path =
    new Path(versionsDir(table), s"$v.manifest.json")

  /** Companion CHECKPOINT-DELTA sidecar (r15 VERDICT #6, the O(delta)
    * CDC completion): when a cadence rollover forces a FULL manifest
    * but the commit's transition was delta-representable, the committer
    * also stores that transition here — so an incremental reader
    * crossing the checkpoint boundary reads O(changed-fragments) bytes
    * instead of the O(table) checkpoint it does not need (it already
    * holds version v-1 resolved). Best-effort and derived: absent or
    * unreadable sidecars fall back to the full record, and the suffix
    * keeps it invisible to the version listing (versionStats filters
    * on `.manifest.json`). */
  def checkpointDeltaPath(table: Path, v: Long): Path =
    new Path(versionsDir(table), s"$v.ckptdelta.json")

  /** Version-record read accounting: bytes/count of `_versions/` files
    * this process has read. The CDC-at-churn certification
    * (BENCH_META.json, MetaScaleSpec) asserts bytes-per-synced-version
    * stays flat in fragment count; monotonic, snapshot-and-diff. */
  val versionBytesRead = new java.util.concurrent.atomic.AtomicLong()
  val versionReads = new java.util.concurrent.atomic.AtomicLong()

  def exists(fs: FileSystem, table: Path): Boolean =
    try fs.getFileStatus(versionsDir(table)).isDirectory
    catch { case _: java.io.FileNotFoundException => false }

  def init(fs: FileSystem, table: Path): Unit = {
    fs.mkdirs(versionsDir(table))
    fs.mkdirs(dataDir(table))
    fs.mkdirs(deletionsDir(table))
  }

  // ONE definition of "the version history" for every caller —
  // listVersions, latestVersion and latestVersionStat previously each
  // re-implemented the listing + suffix filter + parse and disagreed on
  // stray non-numeric *.manifest.json names (crash vs skip); skipping
  // uniformly is the robust choice (a foreign file must not brick reads)
  private def versionStats(fs: FileSystem, table: Path)
      : Seq[(Long, org.apache.hadoop.fs.FileStatus)] = {
    if (!exists(fs, table)) return Seq.empty
    // the dir can vanish between the probe above and the listing (a
    // racing DROP): that is the same no-manifest-visible evidence as
    // the probe failing — an empty listing, which callers route
    // through their blip/drop rules — never an exception surfacing
    // from a pure read
    val listed =
      try fs.listStatus(versionsDir(table)).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    listed
      .filter(_.getPath.getName.endsWith(".manifest.json"))
      .flatMap { st =>
        st.getPath.getName.stripSuffix(".manifest.json").toLongOption
          .map(_ -> st)
      }
      .sortBy(_._1)
  }

  def listVersions(fs: FileSystem, table: Path): Seq[Long] =
    versionStats(fs, table).map(_._1)

  def latestVersion(fs: FileSystem, table: Path): Option[Long] =
    listVersions(fs, table).lastOption

  /** (version, manifest-file mtime, length) of the latest version, from
    * ONE listing — ManifestCache's revalidation identity: version
    * numbers restart on drop + re-create, so a same-number history swap
    * by ANOTHER process must still invalidate (the rewritten file's
    * mtime/length differ; in-process drops purge the cache directly). */
  def latestVersionStat(fs: FileSystem, table: Path): Option[(Long, Long, Long)] =
    versionStats(fs, table).lastOption.map { case (v, st) =>
      (v, st.getModificationTime, st.getLen)
    }

  /** Fragment ids of `endManifest` that carry NO rows appended after
    * version `from` — the exclusion set for incremental reads (the
    * batch `start_version` CDC option and the streaming source share
    * it): fragments already present at `from`, plus fragments
    * introduced by data-neutral Compact commits in the range.
    *
    * A Compact commit is data-neutral to a reader positioned at `from`
    * ONLY if every fragment it consumed was already readable at `from`.
    * If it consumed a fragment appended after `from` that this reader
    * has not yet delivered, its outputs CARRY those undelivered rows —
    * excluding them would silently lose data — so the outputs stay
    * deliverable and the read degrades to at-least-once (rows that
    * predate `from` reappear inside the compact outputs). Missing
    * history (vacuumed versions, unknown `from`) degrades the same
    * direction: deliver rather than lose. */
  def excludedAsOf(fs: FileSystem, table: Path, from: Long,
      endManifest: Manifest, knownVersions: Seq[Long] = null): Set[Int] = {
    // callers that pre-checked the listing (the streaming source's
    // failOnLostHistory gate) pass it in, so a vacuum landing between
    // their check and this walk cannot flip the `from`-missing branch
    // underneath them (TOCTOU: strict mode would silently re-deliver)
    val versions = Option(knownVersions).getOrElse(listVersions(fs, table))
    // an empty or inverted window (from at-or-past the end snapshot)
    // contains no appends at all
    if (from >= endManifest.version)
      return endManifest.fragments.map(_.id).toSet
    if (from <= 0L || !versions.contains(from)) return Set.empty
    // committed manifests are immutable: serve the walk from the pinned
    // cache so a steady incremental sync re-reads nothing (a 10k-version
    // table would otherwise pay O(versions) JSON reads per sync)
    try {
      // the end snapshot's generation id validates every pinned hit in
      // the walk (cross-process drop+re-create collides pinned keys)
      // without paying readPinned's fallback latest() lookup per call
      val genId = endManifest.properties.get(TableIdProp)
      val baseIds = ManifestCache.readPinned(fs, table, from, genId)
        .fragments.map(_.id).toSet
      var prev = baseIds
      var undelivered = Set.empty[Int] // appended after `from`, not yet read
      val excluded = Set.newBuilder[Int]
      excluded ++= baseIds
      // walk the DENSE (from, end] range, never the caller's listing:
      // commit versions are consecutive CAS integers within a
      // generation, and vacuum retention cuts a strict history PREFIX
      // (it cannot remove a version while keeping an older one), so
      // once `from` passed the membership gate above every version in
      // the range exists. A LISTING gap, by contrast, is a listing
      // artifact (partial-listing blip) — walking it would let an
      // unseen Append's fragments never enter `undelivered`, so a
      // later Compact's outputs classify as pure rewrites and its rows
      // are silently excluded: data loss. A version in the range that
      // is truly gone (vacuum racing this walk) surfaces typed below.
      def guardGen(props: Map[String, String], v: Long): Unit =
        for (want <- genId; got <- props.get(TableIdProp) if got != want)
          throw ManifestCache.WrongGeneration(table, v, want, Some(got))
      // cadence position of the previous hop (-1 = unknown): lets the
      // walk PREDICT which versions are checkpoints and probe their
      // O(delta) sidecar first, so a catch-up sync crossing N cadence
      // boundaries reads N small records instead of N full manifests
      // (r15 VERDICT #6 — at 10⁵ fragments each avoided checkpoint is
      // MBs of parse). A wrong prediction costs one 404 and falls back.
      var lastDepth = -1
      val every = checkpointEvery(fs)
      // absent/torn sidecar (non-representable rollover, pre-sidecar
      // history): None — the full record is the fallback; a PRESENT
      // sidecar from the wrong generation surfaces typed like any hop
      def sidecarTransition(v: Long): Option[(String, Set[Int], Set[Int], Set[Int])] =
        readSidecarDelta(fs, table, v).map { d =>
          guardGen(d.properties, v)
          val removed = d.removed.toSet
          val intro = d.upserts.iterator.map(_.id).filterNot(prev).toSet
          (d.operation, intro, removed, prev -- removed ++ intro)
        }
      ((from + 1L) to endManifest.version).foreach { v =>
        // the walk only needs each version's OPERATION and fragment-id
        // TRANSITION — a delta record carries both directly (removed =
        // consumed; upsert ids not in prev = introduced), so a steady
        // CDC sync reads O(changed-fragments) bytes per version instead
        // of resolving full manifests (at 10⁵ fragments a resolved
        // manifest is MBs of metadata per walked version). Versions
        // someone already resolved serve from the pinned cache for
        // free; predicted checkpoints read their O(delta) sidecar;
        // everything else reads its stored record once.
        val (op, introduced, consumed, nextPrev) =
          ManifestCache.peekPinned(fs, table, v, genId) match {
            case Some(m) =>
              lastDepth = -1 // pinned entries carry no cadence position
              val ids = m.fragments.map(_.id).toSet
              (m.operation, ids diff prev, prev diff ids, ids)
            case None =>
              val viaSidecar =
                if (every > 1 && lastDepth >= 0 && lastDepth + 1 >= every)
                  sidecarTransition(v)
                else None
              viaSidecar match {
                case Some(t) =>
                  lastDepth = 0 // the sidecar's version IS a checkpoint
                  t
                case None => decodeAny(readBytes(fs, manifestPath(table, v))) match {
                  case Right(m) =>
                    guardGen(m.properties, v)
                    lastDepth = 0
                    // pin the checkpoint so the NEXT overlapping walk (a
                    // second stream, a restarted sync) peeks it for free
                    ManifestCache.pinPeeked(fs, table, v, m)
                    val ids = m.fragments.map(_.id).toSet
                    (m.operation, ids diff prev, prev diff ids, ids)
                  case Left(d) =>
                    guardGen(d.properties, v)
                    lastDepth = d.depth
                    val removed = d.removed.toSet
                    val intro =
                      d.upserts.iterator.map(_.id).filterNot(prev).toSet
                    (d.operation, intro, removed, prev -- removed ++ intro)
                }
              }
          }
        if (op == "Compact") {
          if ((consumed intersect undelivered).isEmpty)
            excluded ++= introduced // rewrote only pre-`from` rows
          else {
            // outputs carry rows this reader never saw: deliverable
            undelivered = undelivered -- consumed ++ introduced
          }
        } else undelivered ++= introduced
        prev = nextPrev
      }
      excluded.result()
    } catch {
      // a vacuum (file vanished) or a drop + re-create (colliding
      // version now belongs to another generation) landed between the
      // caller's listing and this walk's manifest reads; surface both
      // typed so callers apply their own lost-history policy instead
      // of leaking a storage stack trace or mixing generations
      case e: java.io.FileNotFoundException =>
        throw LostHistoryDuringWalk(table, from, e)
      case e: ManifestCache.WrongGeneration =>
        throw LostHistoryDuringWalk(table, from, e)
    }
  }

  /** A concurrent history mutation invalidated a manifest the
    * incremental walk had already committed to reading: a vacuum
    * removed it (FileNotFoundException cause) or a drop + re-create
    * replaced it with another generation's file at the colliding
    * version number (WrongGeneration cause) — in both cases the
    * caller's own listing passed its gate first. Callers map this to
    * their lost-history policy: strict sources fail with their typed
    * error, default sources degrade to at-least-once re-delivery — the
    * same direction a vacuum landing BEFORE the listing degrades. */
  final case class LostHistoryDuringWalk(table: Path, from: Long,
      cause: Exception) extends RuntimeException(
    s"manifest history of $table was lost during the incremental " +
      s"walk from version $from", cause)

  /** Fragments of `neu` that are pure APPENDS since `old`: Some(delta)
    * when every fragment of `old` survives in `neu` untouched (same
    * path and deletion state), else None. The fast-path guard for
    * incremental index refresh — a mutated or compacted-away old
    * fragment means existing index entries could serve deleted rows, so
    * callers must fall back to a full rebuild. New fragments may carry
    * their own deletion vectors (the snapshot reader applies them). */
  def appendedDelta(old: Manifest, neu: Manifest): Option[Seq[FragmentMeta]] = {
    val byId = neu.fragments.map(f => f.id -> f).toMap
    val untouched = old.fragments.forall { f =>
      byId.get(f.id).exists(n => n.path == f.path &&
        n.deletionPath == f.deletionPath && n.deletedCount == f.deletedCount)
    }
    if (!untouched) None
    else {
      val oldIds = old.fragments.map(_.id).toSet
      Some(neu.fragments.filterNot(f => oldIds.contains(f.id)))
    }
  }

  // (tableKey, version) -> (createdAtMs, generation id): commit times
  // are IMMUTABLE once committed, so timestamp travel only ever reads a
  // version's record once per process (r16 VERDICT #3 — the linear
  // listVersions walk stays, but its reads don't recur). Only
  // id-stamped records are cached: the generation id is the one
  // evidence that distinguishes a drop + re-create reusing the same
  // version numbers from the history the entry was read under. Crude
  // size valve, not LRU — timestamp travel is rare and entries are
  // two boxed longs + a string.
  private val createdAtCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long), (Long, String)]
  private val CreatedAtCacheCap = 262144
  // TrieMap.size is O(n): amortize the cap probe to one real size() per
  // 4096 inserts instead of per lookup call
  private val createdAtInserts = new java.util.concurrent.atomic.AtomicLong()

  /** Latest version whose commit time is <= tsMs (reference semantics:
    * getVersionAtTimestamp walks listVersions, LanceRuntime.java:361-388).
    * Reads each version's stored RECORD only — both full manifests and
    * delta records carry createdAtMs — never resolving delta chains,
    * and each version's record AT MOST ONCE per process: createdAtMs is
    * immutable once committed, so repeat calls on a 10³-version table
    * read only the versions committed since the last call (plus the
    * newest record, re-read fresh as the generation witness every
    * cached entry is validated against). No binary search: createdAtMs
    * is stamped from each committer's wall clock, so cross-process skew
    * can make it non-monotone in version — the linear filter is the
    * only order-safe read. */
  def versionAtTimestamp(fs: FileSystem, table: Path, tsMs: Long): Option[Long] = {
    val versions = listVersions(fs, table)
    if (versions.isEmpty) return None
    val tk = depthKey(fs, table)
    def readRecord(v: Long): (Long, Option[String]) =
      readCreatedAtPrefix(fs, manifestPath(table, v)).getOrElse {
        // malformed/unexpected layout: the full parse is always correct
        val r = decodeAny(readBytes(fs, manifestPath(table, v)))
        (r.fold(_.createdAtMs, _.createdAtMs),
          r.fold(_.properties, _.properties).get(TableIdProp))
      }
    // the newest record is read FRESH: it is the one version whose
    // record a new commit always changes, and its generation id guards
    // every cache hit below against a same-path drop + re-create
    val (newestAt, genId) = readRecord(versions.last)
    val at = versions.map { v =>
      val createdAt =
        if (v == versions.last) newestAt
        else createdAtCache.get((tk, v)) match {
          case Some((ms, g)) if genId.contains(g) => ms
          case _ =>
            val (ms, id) = readRecord(v)
            for (g <- id) {
              createdAtCache.put((tk, v), (ms, g))
              if ((createdAtInserts.incrementAndGet() & 4095L) == 0L &&
                  createdAtCache.size > CreatedAtCacheCap)
                createdAtCache.clear()
            }
            ms
        }
      v -> createdAt
    }.filter(_._2 <= tsMs)
    at.lastOption.map(_._1)
  }

  // (createdAtMs, table id) from a record's DECOMPRESSED PREFIX: both
  // wire encodings (toJson / deltaJson) place createdAtMs and the
  // properties object before the O(table) fragment arrays, so timestamp
  // travel reads a few KB per version instead of gunzip+parsing a 10⁵-
  // fragment checkpoint (~2.6 MB / ~80 ms each — the cold pass over a
  // 10³-version history cost 82 s when it full-parsed every record).
  // A raw `"key":` byte sequence cannot occur INSIDE a JSON string
  // value (embedded quotes are \"-escaped by esc), so the top-level
  // scan cannot false-match a hostile schemaJson. None = layout not
  // recognized; the caller falls back to the full parse.
  private val createdAtRe = """[,{]"createdAtMs":(-?\d+)""".r
  private val tableIdRe =
    ("\"" + java.util.regex.Pattern.quote(TableIdProp) + "\":\"([^\"]*)\"").r
  private def readCreatedAtPrefix(fs: FileSystem,
      p: Path): Option[(Long, Option[String])] =
    try {
      val in = fs.open(p)
      try {
        val head = new Array[Byte](2)
        val h0 = in.read(); val h1 = in.read()
        head(0) = h0.toByte; head(1) = h1.toByte
        in.seek(0L)
        val stream: java.io.InputStream =
          if (h0 == 0x1f && h1 == 0x8b)
            new java.util.zip.GZIPInputStream(in, 8192)
          else in
        val sb = new java.lang.StringBuilder(8192)
        val buf = new Array[Byte](8192)
        var stop = false
        var result: Option[(Long, Option[String])] = None
        while (!stop && sb.length < (1 << 20)) {
          val r = stream.read(buf)
          if (r < 0) stop = true
          else sb.append(new String(buf, 0, r, UTF_8))
          val s = sb.toString
          // the fragment arrays mark the end of the header fields —
          // past either, the table-id verdict (present or not) is final
          val boundary = {
            val i = s.indexOf("\"fragments\":[")
            val j = s.indexOf("\"removed\":[")
            if (i >= 0 && j >= 0) math.min(i, j) else math.max(i, j)
          }
          if (boundary >= 0 || stop) {
            val hdr = if (boundary >= 0) s.substring(0, boundary) else s
            result = createdAtRe.findFirstMatchIn(hdr).map { m =>
              (m.group(1).toLong,
                tableIdRe.findFirstMatchIn(hdr).map(_.group(1)))
            }
            stop = true
          }
        }
        // accounting parity with readBytes: one version-record read of
        // prefix-length bytes
        if (result.isDefined && p.getParent != null &&
            p.getParent.getName == "_versions" &&
            !accountingSuppressed.get()) {
          versionBytesRead.addAndGet(math.min(sb.length, 1 << 20).toLong)
          versionReads.incrementAndGet()
        }
        result
      } finally in.close()
    } catch { case NonFatal(_) => None }

  // ------------------------------------------------------------- file I/O

  def readBytes(fs: FileSystem, p: Path): Array[Byte] = {
    // the stat'd length is a BUFFER HINT, never the read bound: a
    // checkpoint materialization can atomically REPLACE the file
    // between stat and open (delta record -> longer full manifest), and
    // trusting the stale length would hand gunzip a truncated prefix of
    // the new object (EOFException mid-swap). Reading to stream EOF is
    // correct on every store class — the opened stream is one
    // consistent object (POSIX holds the old inode; object stores
    // return one complete object).
    val hint = math.max(64, fs.getFileStatus(p).getLen.toInt)
    val in = fs.open(p)
    val buf = try {
      var arr = new Array[Byte](hint)
      var n = 0
      var eof = false
      while (!eof) {
        if (n == arr.length) arr = java.util.Arrays.copyOf(arr, arr.length * 2)
        val r = in.read(arr, n, arr.length - n)
        if (r < 0) eof = true else n += r
      }
      if (n == arr.length) arr else java.util.Arrays.copyOf(arr, n)
    } finally in.close()
    // version-record accounting (metadata path only — the parent-name
    // check is two string compares per manifest/delta read). Background
    // materializer threads don't count: their reads are off every
    // caller's critical path, and benches attribute the counters to the
    // foreground reader they instrument.
    val parent = p.getParent
    if (parent != null && parent.getName == "_versions" &&
        !accountingSuppressed.get()) {
      versionBytesRead.addAndGet(buf.length.toLong)
      versionReads.incrementAndGet()
    }
    buf
  }

  private val accountingSuppressed: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)

  /** Create-exclusive write: fails (returns false) if the file already
    * exists. On `file://` uses java.nio CREATE_NEW (atomic on POSIX);
    * elsewhere Hadoop `create(path, overwrite=false)` (atomic on HDFS). */
  /** Conf key selecting the exclusive-create strategy; default `auto`
    * picks by scheme. The seam the object-store conformance tests drive
    * (ref analog: the S3/LocalStack leg, T/LanceQueryRunner.java:174-193). */
  val ExclusiveStrategyKey = "graft.commit.exclusive"

  /** Schemes whose FileSystem implements create(overwrite=false) as a
    * CONDITIONAL put (surfacing the conflict as FileAlreadyExistsException
    * at create or close) rather than an atomic namenode create: S3
    * If-None-Match, GCS if-generation-match, ABFS ETag-guarded create. */
  private val ConditionalPutSchemes =
    Set("s3", "s3a", "s3n", "gs", "abfs", "abfss", "oss", "cos", "wasb", "wasbs")

  private[graft] def createExclusive(fs: FileSystem, p: Path,
      bytes: Array[Byte],
      orEquiv: Array[Byte] => Boolean = _ => false): Boolean = {
    val strategy = Option(fs.getConf)
      .map(_.get(ExclusiveStrategyKey, "auto")).getOrElse("auto") match {
      case "auto" =>
        if (fs.getScheme == "file") "create-new"
        else if (ConditionalPutSchemes(fs.getScheme)) "conditional"
        else "rename"
      case s => s
    }
    strategy match {
      case "create-new" => createNewLocal(p, bytes)
      case "conditional" => conditionalCreate(fs, p, bytes, orEquiv)
      case "rename" => tempRename(fs, p, bytes)
      case other => throw new IllegalArgumentException(
        s"$ExclusiveStrategyKey=$other (expected auto|create-new|conditional|rename)")
    }
  }

  /** Local filesystems: write a temp sibling, then hard-link it to the
    * final name — link creation is both EXCLUSIVE (FileAlreadyExists on a
    * lost race) and CONTENT-ATOMIC (a concurrent reader never observes a
    * created-but-empty manifest, which bare CREATE_NEW+write allows). */
  private def createNewLocal(p: Path, bytes: Array[Byte]): Boolean = {
    val local = java.nio.file.Paths.get(p.toUri.getPath)
    java.nio.file.Files.createDirectories(local.getParent)
    val tmp = local.resolveSibling(
      s".${local.getFileName}.${java.util.UUID.randomUUID()}.tmp")
    java.nio.file.Files.write(tmp, bytes)
    try {
      java.nio.file.Files.createLink(local, tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      // mounts without hard links surface EPERM as FileSystemException,
      // not only UnsupportedOperationException — fall back to plain
      // O_EXCL for any non-conflict failure (still atomic-exclusive,
      // just not content-atomic)
      case _: UnsupportedOperationException | _: java.io.IOException =>
        try {
          java.nio.file.Files.write(local, bytes,
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }

  /** Conf key naming the Hadoop path capability probed before trusting
    * create(overwrite=false) as a conditional put (override per store). */
  val ConditionalCapabilityKey = "graft.commit.conditional.capability"
  /** When "true", an unverified conditional-put connector REFUSES to
    * commit instead of warning — for deployments where a lost commit is
    * worse than an unavailable one. */
  val StrictExclusiveKey = "graft.commit.exclusive.strict"
  private val DefaultConditionalCapability = "fs.capability.conditional.create"
  private val warnedConditional =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The 'conditional' strategy is only safe when create(overwrite=false)
    * is a TRUE conditional put enforced by the store (S3 If-None-Match,
    * GCS if-generation-match, ABFS ETag-guarded create). Stock s3a before
    * Hadoop 3.4.1 — or 3.4.1+ with fs.s3a.create.conditional.enabled off —
    * implements it as a HEAD-check at create time, where two racing
    * committers can BOTH succeed and one manifest silently overwrites the
    * other (lost commit). Probe the connector's advertised path
    * capability; when it is absent, warn once per scheme by default or
    * refuse under [[StrictExclusiveKey]]. Known-good minimums:
    * hadoop-aws >= 3.4.1 with fs.s3a.create.conditional.enabled=true,
    * gcs-connector (generation-match create), abfs (ETag create). */
  private def verifyConditionalCapability(fs: FileSystem, p: Path): Unit = {
    val conf = Option(fs.getConf)
    val capability = conf.map(_.get(ConditionalCapabilityKey,
      DefaultConditionalCapability)).getOrElse(DefaultConditionalCapability)
    val verified =
      try fs.hasPathCapability(p, capability) catch { case _: Throwable => false }
    if (!verified) {
      val msg = s"FileSystem scheme '${fs.getScheme}' does not advertise " +
        s"path capability '$capability': create(overwrite=false) may be a " +
        "non-atomic HEAD-then-PUT and two racing committers could both " +
        "succeed (lost commit). Use hadoop-aws >= 3.4.1 with " +
        "fs.s3a.create.conditional.enabled=true (or your store's " +
        s"equivalent), or set $ExclusiveStrategyKey=rename where rename " +
        "is atomic."
      if (conf.exists(_.getBoolean(StrictExclusiveKey, false)))
        throw new IllegalStateException(
          s"$StrictExclusiveKey=true refuses unverified conditional put: $msg")
      else if (warnedConditional.add(fs.getScheme))
        org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
    }
  }

  /** Object stores with conditional put: the object only materializes at
    * close(), where a losing race surfaces as FileAlreadyExistsException.
    * The exists() pre-check is a cheap short-circuit, NOT load-bearing —
    * correctness comes from the conditional create/close. An incomplete
    * put never creates a partial object, so readers see all-or-nothing. */
  private def conditionalCreate(fs: FileSystem, p: Path, bytes: Array[Byte],
      orEquiv: Array[Byte] => Boolean = _ => false): Boolean = {
    verifyConditionalCapability(fs, p)
    if (fs.exists(p)) return false
    // shares the store's retry confs (graft.s3.retry.limit/baseMs) so
    // the ambiguity-resolution bound survives the same throttle windows
    // the idempotent-retry layer is budgeted for — a sustained 503
    // window that outlasts a hardcoded handful of PUT+GET pairs would
    // otherwise fail a commit the next pair would have landed — and so
    // a session tuning the backoff (S3FaultSpec keeps tests fast with
    // baseMs=5) tunes BOTH loops, not just one
    val maxAttempts = Option(fs.getConf)
      .map(_.getInt(graft.sources.S3LiteFileSystem.RetryLimitKey, 9))
      .getOrElse(9)
    val baseMs = Option(fs.getConf)
      .map(_.getLong(graft.sources.S3LiteFileSystem.RetryBaseMsKey, 50L))
      .getOrElse(50L) // same unset-default as the FS layer's retrying()
    var attempt = 0
    while (true) {
      attempt += 1
      try {
        val out = fs.create(p, false)
        try out.write(bytes) finally out.close()
        return true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => return false
        case e: java.io.IOException =>
          // AMBIGUOUS outcome: the conditional put failed transiently
          // (503 SlowDown, torn connection) and the client cannot know
          // whether the store applied it. A blind re-PUT is unsafe (our
          // own landed write answers 412 and reads as a lost race — the
          // caller would rebuild and commit the SAME rows at version+1:
          // duplication); a blind `false` is equally unsafe (the caller
          // rebuilds on top of its own manifest). Disambiguate by
          // CONTENT read-back: our exact bytes on disk = OUR put landed
          // (true); different bytes = a racer's commit landed (false);
          // absent = the put never took effect -> safe to re-attempt
          // the conditional create, bounded. (The old `if fs.exists(p)
          // => false` read a landed own-write as a lost race.)
          //
          // Layering note: S3LiteFileSystem performs the same read-back
          // inside its own conditional close() — that one heals TASK
          // writers (parquet attempt files) that never reach this
          // layer; this one covers generic FileSystems (hadoop-aws
          // throws plain IOEs). Both loops share the same conf'd
          // limit, so the nested worst case under an unhealable fault
          // window is ~limit² request pairs (~couple hundred at the
          // default 9) — bounded, and only reachable when the store is
          // down hard enough that failing the commit is the right call
          // (S3FaultSpec's typed-surfacing case drives it with a small
          // conf'd base to stay fast).
          val onDisk: Option[Boolean] =
            try {
              val in = fs.open(p)
              try {
                val disk = in.readAllBytes()
                // byte-identical = our put; else ask the caller's
                // EQUIVALENCE predicate — a deferred-checkpoint
                // materializer may have already re-encoded OUR landed
                // record as the content-equivalent full manifest, and
                // reading that as "a racer won" would rebuild + commit
                // the same rows at version+1 (duplication)
                Some(java.util.Arrays.equals(disk, bytes) || orEquiv(disk))
              }
              finally in.close()
            } catch { case _: java.io.FileNotFoundException => None }
          onDisk match {
            case Some(true) => return true
            case Some(false) => return false
            case None if attempt < maxAttempts =>
              // never applied: re-attempt the conditional put, but back
              // off exponentially first — the transient failure is
              // usually a 503/SlowDown window, and an immediate re-PUT
              // (plus its read-back GET) hammers an already-throttling
              // store (same shape as S3LiteFileSystem.retrying)
              try Thread.sleep(baseMs * (1L << math.min(attempt - 1, 6)))
              catch { case _: InterruptedException =>
                Thread.currentThread().interrupt(); throw e }
            case None => throw e
          }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** HDFS-likes without conditional put: write a hidden temp file, then
    * atomically rename onto the final name — rename-no-overwrite fails
    * (returns false) when the destination exists, giving CAS semantics,
    * and a writer crash mid-write leaves only an ignorable .tmp, never a
    * partial manifest at the committed path. */
  private def tempRename(fs: FileSystem, p: Path, bytes: Array[Byte]): Boolean = {
    if (fs.exists(p)) return false
    val tmp = new Path(p.getParent,
      s".${p.getName}.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    try {
      if (fs.rename(tmp, p)) true
      else { fs.delete(tmp, false); false }
    } catch {
      case _: java.io.IOException => fs.delete(tmp, false); false
    }
  }

  // ------------------------------------------------------- delta commits

  /** One O(changed-fragments) commit record (format_version 4): applied
    * to the resolved manifest of `baseVersion` (always version-1) it
    * reconstructs the full manifest of `version` exactly. `removed` are
    * fragment ids dropped from the base; `upserts` replace same-id base
    * fragments IN PLACE and append new ids at the end in listed order;
    * schema/properties/maxFragmentId travel whole (they are small).
    * `depth` = deltas since the last checkpoint, stamped so any process
    * can decide checkpoint cadence from the head file alone. */
  private[graft] final case class ManifestDelta(
      version: Long, baseVersion: Long, depth: Int, schemaJson: String,
      removed: Seq[Int], upserts: Seq[FragmentMeta], maxFragmentId: Int,
      createdAtMs: Long, operation: String, properties: Map[String, String])

  private[graft] def applyDelta(base: Manifest, d: ManifestDelta): Manifest = {
    require(base.version == d.baseVersion,
      s"delta ${d.version} applies to ${d.baseVersion}, got ${base.version}")
    val up = d.upserts.map(f => f.id -> f).toMap
    val removed = d.removed.toSet
    // upsert ids consumed by the base walk replace IN PLACE; the rest
    // append. Tracked with a small set sized to the DELTA, not an
    // O(base) id set — a chain fold applies cadence-many deltas to a
    // 10⁵-fragment base, and per-fold O(base) set builds dominated the
    // cold full-depth resolve (BENCH_META load_head_depth)
    val consumed = new java.util.HashSet[Integer](d.upserts.size * 2)
    val kept = base.fragments.iterator.flatMap { f =>
      val isUp = up.contains(f.id)
      if (isUp) consumed.add(f.id) // base id: in-place or removed, never appended
      if (removed(f.id)) None
      else if (isUp) Some(up(f.id))
      else Some(f)
    }.toVector
    val appended = d.upserts.filterNot(f => consumed.contains(f.id))
    Manifest(d.version, d.schemaJson, kept ++ appended, d.maxFragmentId,
      d.createdAtMs, d.operation, d.properties)
  }

  /** `m` as a delta against `base`, when representable: surviving
    * fragments must keep base's relative order and new fragments must
    * sit appended at the end — the shape every append/row-level/compact
    * commit produces. Reordering rewrites (Bucketize) and restores
    * (Rollback) return None and commit a full manifest instead; so does
    * a duplicate fragment id (never produced, never silently encoded). */
  private[graft] def computeDelta(base: Manifest, m: Manifest, depth: Int)
      : Option[ManifestDelta] = {
    if (m.version != base.version + 1) return None
    // single two-pointer walk, no hash-map of the full fragment list:
    // the diff runs on every eligible commit, and at 10⁵ fragments the
    // map-building formulation alone cost ~150 ms. Untouched fragments
    // are carried forward BY REFERENCE on every write path, so `eq`
    // short-circuits the deep equality for the unchanged bulk.
    // indexed views: parsed manifests carry Lists, and positional access
    // on a linear Seq turns this walk O(n²) (observed: a 1e5-fragment
    // diff pinned a core for minutes)
    val bf = base.fragments.toIndexedSeq
    val mf = m.fragments.toIndexedSeq
    val baseIds = new java.util.HashSet[Integer](bf.size * 2)
    bf.foreach(f => baseIds.add(f.id))
    val seen = new java.util.HashSet[Integer](mf.size * 2)
    val removed = Seq.newBuilder[Int]
    val upserts = Seq.newBuilder[FragmentMeta]
    var bi = 0
    var mi = 0
    // survivors: base order, changed ones in place
    while (mi < mf.size && baseIds.contains(mf(mi).id)) {
      val f = mf(mi)
      if (!seen.add(f.id)) return None // duplicate id: never encode
      while (bi < bf.size && bf(bi).id != f.id) {
        removed += bf(bi).id
        bi += 1
      }
      if (bi == bf.size) return None // survivor out of base order
      if ((f ne bf(bi)) && f != bf(bi)) upserts += f
      bi += 1
      mi += 1
    }
    while (bi < bf.size) { removed += bf(bi).id; bi += 1 }
    // appended news: anything after the survivor prefix must be new
    while (mi < mf.size) {
      val f = mf(mi)
      if (baseIds.contains(f.id) || !seen.add(f.id)) return None
      upserts += f
      mi += 1
    }
    Some(ManifestDelta(m.version, base.version, depth, m.schemaJson,
      removed.result(), upserts.result(), m.maxFragmentId, m.createdAtMs,
      m.operation, m.properties))
  }

  // Latest-known (version, chain depth) per table — lets commit decide
  // full-vs-delta without re-reading the base file's kind. Purely an
  // optimization: a missing/mismatched entry falls back to one raw
  // header read (storedDepth). One small tuple per table path (same
  // growth class as ManifestCache.gens).
  private val chainDepths =
    scala.collection.concurrent.TrieMap.empty[String, (Long, Int)]
  private def depthKey(fs: FileSystem, table: Path): String =
    fs.makeQualified(table).toUri.toString.stripSuffix("/")
  private def recordDepth(fs: FileSystem, table: Path, v: Long, d: Int): Unit = {
    val k = depthKey(fs, table)
    if (chainDepths.get(k).forall(_._1 <= v)) chainDepths.put(k, (v, d))
  }

  /** Chain depth of committed version `v`: 0 for a checkpoint, else the
    * delta's stamped depth. Served from the in-process map when it
    * matches, else one small raw read. */
  private def storedDepth(fs: FileSystem, table: Path, v: Long): Int =
    chainDepths.get(depthKey(fs, table)) match {
      case Some((ver, d)) if ver == v => d
      case _ =>
        decodeAny(readBytes(fs, manifestPath(table, v))) match {
          case Right(_) => 0
          case Left(d) => d.depth
        }
    }

  /** True when version `v`'s stored file is a FULL manifest (benches
    * and specs classify records with it; vacuum's boundary logic goes
    * through [[materializeCheckpoint]], which re-reads for itself).
    * Sniffs the record KIND from its first bytes — delta records
    * serialize with the fixed prefix `{"delta":true` (deltaJson) —
    * instead of parsing the whole record: at 10⁵ fragments a checkpoint
    * is MBs of gunzip + JSON walk just to answer one bit. */
  private[graft] def isCheckpoint(fs: FileSystem, table: Path, v: Long): Boolean = {
    val prefix = "{\"delta\":true".getBytes(UTF_8)
    // short reads are legal for any InputStream: every read below loops
    // to its requested length (a 1-byte first read of a gzip record
    // must not dodge the magic check and misclassify the kind)
    def readFully(in: java.io.InputStream, buf: Array[Byte]): Int = {
      var read = 0
      while (read < buf.length) {
        val r = in.read(buf, read, buf.length - read)
        if (r < 0) return read
        read += r
      }
      read
    }
    val in = fs.open(manifestPath(table, v))
    try {
      val head = new Array[Byte](2)
      val n = readFully(in, head)
      in.seek(0L)
      val stream: java.io.InputStream =
        if (n == 2 && head(0) == 0x1f.toByte && head(1) == 0x8b.toByte)
          new java.util.zip.GZIPInputStream(in, 1024)
        else in
      val buf = new Array[Byte](prefix.length)
      if (readFully(stream, buf) < buf.length)
        return true // shorter than any delta prefix: full
      !java.util.Arrays.equals(buf, prefix)
    } finally in.close()
  }

  /** Ensure version `v`'s stored file is a FULL manifest, rewriting a
    * delta record with the SAME resolved content — vacuum's boundary
    * materialization: the oldest retained version's delta bases are
    * about to be dropped, and widening retention instead would make
    * keepVersions granular to the checkpoint cadence. This is an
    * equivalent-content re-encode, not a commit: committed manifests
    * are immutable in their RESOLVED content, and both byte streams
    * decode to the same manifest, so a reader racing the swap is
    * correct either way. The swap is atomic per store class: local
    * filesystems rename-replace, object stores overwrite-PUT (readers
    * observe the old or the new complete object), HDFS-likes
    * FileContext-rename with OVERWRITE. Must run BEFORE any base
    * manifest is deleted — a crash after it leaves only extra history,
    * never a stranded delta. A version (or chain base) a RACING vacuum
    * or drop already removed reads as done — that pass owns the
    * boundary; nothing here can help it. */
  private[graft] def materializeCheckpoint(fs: FileSystem, table: Path,
      v: Long): Unit = materializeCheckpoint(fs, table, v, None)

  /** As above; `known` short-circuits the resolve when the caller (the
    * deferring committer, which just built the manifest) already holds
    * version `v`'s resolved content. The pre-write record read stays:
    * it is the already-a-checkpoint fast path AND the existence check —
    * a version vacuum removed must not be re-created here (the residual
    * read-then-write race is benign: a resurrected full manifest is
    * valid extra history that dense-range walks surface typed and the
    * next vacuum pass re-deletes). */
  private[graft] def materializeCheckpoint(fs: FileSystem, table: Path,
      v: Long, known: Option[Manifest]): Unit = {
    val p = manifestPath(table, v)
    val resolved =
      try {
        decodeAny(readBytes(fs, p)) match {
          case Right(_) => return // already a checkpoint: one read, done
          case Left(d0) =>
            // a drop + re-create can reuse version numbers: `known`
            // content may only replace a record of its OWN generation
            known.filter(k => k.version == v &&
                k.properties.get(TableIdProp).exists(
                  d0.properties.get(TableIdProp).contains))
              .getOrElse(resolveDelta(fs, table, v, d0))
        }
      } catch {
        case _: java.io.FileNotFoundException => return
        case _: ManifestCache.WrongGeneration => return
      }
    val bytes = encodeManifest(resolved)
    if (fs.getScheme == "file") {
      val local = java.nio.file.Paths.get(p.toUri.getPath)
      val tmp = local.resolveSibling(
        s".${local.getFileName}.${java.util.UUID.randomUUID()}.ckpt.tmp")
      java.nio.file.Files.write(tmp, bytes)
      java.nio.file.Files.move(tmp, local,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else if (ConditionalPutSchemes(fs.getScheme)) {
      // whole-object PUT: readers see the old or the new object
      val out = fs.create(p, true)
      try out.write(bytes) finally out.close()
    } else {
      // HDFS-likes: create(overwrite) would TRUNCATE in place (a torn
      // window for concurrent readers, and a crash destroys the old
      // bytes) — write a temp sibling and atomically rename over
      val tmp = new Path(p.getParent,
        s".${p.getName}.${java.util.UUID.randomUUID()}.ckpt.tmp")
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      try {
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          p.toUri, fs.getConf)
        fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      } catch {
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
          // no AbstractFileSystem binding (exotic schemes): fall back
          // to the overwrite-create, accepting its visibility caveat
          fs.delete(tmp, false)
          val out2 = fs.create(p, true)
          try out2.write(bytes) finally out2.close()
      }
    }
    // the version is now a checkpoint: refresh the cadence bookkeeping
    // if it happens to be the head entry (stale depth would only make
    // the next checkpoint come early — cosmetic, but free to fix)
    val k = depthKey(fs, table)
    chainDepths.get(k) match {
      case Some((ver, _)) if ver == v => chainDepths.put(k, (v, 0))
      case _ => ()
    }
    // RESURRECTION GUARD: the swap's pre-read existence check can go
    // stale while a fault-throttled store retries the write — a vacuum
    // that deleted `v` in between would leave this write as a
    // below-prefix ORPHAN (a gap above it), breaking the
    // contiguous-suffix listing invariant. Commits are sequential CAS
    // integers, so "some version above v exists but v+1 does not" can
    // ONLY mean vacuum cut the prefix at or above v+1: self-delete.
    // (Vacuum sweeps the same condition as defense in depth.)
    sweepIfOrphan(fs, table, v)
  }

  /** Delete version `v`'s record (+ sidecar) iff it sits BELOW a
    * listing gap — i.e. a racing vacuum already dropped it and the
    * write above resurrected it. Sound because histories are dense
    * WITHIN A GENERATION: v+1 is committed before any w > v+1, so
    * max > v with v+1 absent proves a vacuum cut — but only if v and
    * the listing max belong to the same generation. A drop + re-create
    * reuses version numbers, and a resurrected OLD-generation record
    * can sit above the new table's live head; without the generation
    * check the live head itself satisfies the gap condition and the
    * sweep would delete committed data. So: read both records'
    * table-id prefixes and sweep only when the generations provably
    * match; an id mismatch (or an unreadable/id-less record) means the
    * gap proves nothing — leave both, vacuum's generation-aware pass
    * owns that cleanup. Best-effort. */
  private[graft] def sweepIfOrphan(fs: FileSystem, table: Path, v: Long): Unit =
    try {
      val vs = listVersions(fs, table)
      if (vs.nonEmpty && vs.max > v && vs.contains(v) && !vs.contains(v + 1)) {
        val sameGeneration = (for {
          (_, vId) <- readCreatedAtPrefix(fs, manifestPath(table, v))
          (_, headId) <- readCreatedAtPrefix(fs, manifestPath(table, vs.max))
          a <- vId
          b <- headId
        } yield a == b).getOrElse(false)
        if (sameGeneration) {
          fs.delete(manifestPath(table, v), false)
          val sc = checkpointDeltaPath(table, v)
          if (fs.exists(sc)) fs.delete(sc, false)
          ManifestCache.purge(fs, table)
        }
      }
    } catch { case NonFatal(_) => () }

  // Out-of-band checkpoint materialization (r16 VERDICT #1): the
  // deferring committer and the walk's orphan repair both funnel here.
  // A small daemon pool bounds the concurrent O(table) encodes; the
  // pending set dedups (a burst of walks over one orphaned boundary
  // must schedule ONE repair). Failures are swallowed — materialization
  // is derived data; the next walk/vacuum repairs.
  //
  // BACKLOG GUARD (r17 VERDICT #5): a driver serving many tables whose
  // cadences roll over together would queue O(tables) O(table)-sized
  // encodes behind the pool while every reader walks over-deep chains.
  // Pool size is conf'd (graft.manifest.materializeThreads, default 2),
  // and once the pending backlog exceeds graft.manifest.
  // materializeMaxBacklog (default 32) the committer materializes
  // INLINE — paying its own O(table) write, the pre-deferral behavior,
  // which self-throttles the herd instead of letting the queue (and
  // reader chain depth) grow without bound. Queue depth and
  // enqueue→start wait are metered (MaterializeMetrics) so the backlog
  // is observable, not inferred (MetaBench records them under a
  // 16-table concurrent rollover churn).
  val MaterializeThreadsKey = "graft.manifest.materializeThreads"
  val MaterializeMaxBacklogKey = "graft.manifest.materializeMaxBacklog"
  val DefaultMaterializeMaxBacklog = 32

  object MaterializeMetrics {
    val scheduled = new java.util.concurrent.atomic.AtomicLong()
    val completed = new java.util.concurrent.atomic.AtomicLong()
    val inlineFallbacks = new java.util.concurrent.atomic.AtomicLong()
    val maxQueueDepth = new java.util.concurrent.atomic.AtomicLong()
    val totalWaitNanos = new java.util.concurrent.atomic.AtomicLong()
    val maxWaitNanos = new java.util.concurrent.atomic.AtomicLong()
    def reset(): Unit = {
      scheduled.set(0); completed.set(0); inlineFallbacks.set(0)
      maxQueueDepth.set(0); totalWaitNanos.set(0); maxWaitNanos.set(0)
    }
    private[GraftFormat] def observeWait(nanos: Long): Unit = {
      totalWaitNanos.addAndGet(nanos)
      var cur = maxWaitNanos.get()
      while (nanos > cur && !maxWaitNanos.compareAndSet(cur, nanos))
        cur = maxWaitNanos.get()
    }
    private[GraftFormat] def observeDepth(depth: Long): Unit = {
      var cur = maxQueueDepth.get()
      while (depth > cur && !maxQueueDepth.compareAndSet(cur, depth))
        cur = maxQueueDepth.get()
    }
  }

  // pool size is fixed at first use from the scheduling caller's conf
  private val materializePoolRef = new java.util.concurrent.atomic
    .AtomicReference[java.util.concurrent.ExecutorService]()
  private def materializePool(
      fs: FileSystem): java.util.concurrent.ExecutorService = {
    val existing = materializePoolRef.get()
    if (existing != null) return existing
    val threads = math.max(1, Option(fs.getConf)
      .map(_.getInt(MaterializeThreadsKey, 2)).getOrElse(2))
    val fresh = java.util.concurrent.Executors
      .newFixedThreadPool(threads, (r: Runnable) => {
        val t = new Thread(r, "graft-checkpoint-materialize")
        t.setDaemon(true)
        t
      })
    if (materializePoolRef.compareAndSet(null, fresh)) fresh
    else { fresh.shutdown(); materializePoolRef.get() }
  }
  private val materializePending =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val sweepPool = java.util.concurrent.Executors
    .newSingleThreadScheduledExecutor((r: Runnable) => {
      val t = new Thread(r, "graft-orphan-sweep")
      t.setDaemon(true)
      t
    })
  private[graft] def scheduleMaterialize(fs: FileSystem, table: Path,
      v: Long, known: Option[Manifest]): Unit = {
    val key = depthKey(fs, table) + "#" + v
    if (!materializePending.add(key)) return
    MaterializeMetrics.scheduled.incrementAndGet()
    val depth = materializePending.size().toLong
    MaterializeMetrics.observeDepth(depth)
    val maxBacklog = math.max(1, Option(fs.getConf)
      .map(_.getInt(MaterializeMaxBacklogKey, DefaultMaterializeMaxBacklog))
      .getOrElse(DefaultMaterializeMaxBacklog))
    if (depth > maxBacklog) {
      // herd rollover: the queue is already deeper than the bound —
      // this committer pays its own O(table) write inline (pre-deferral
      // behavior), throttling the herd instead of growing the queue
      MaterializeMetrics.inlineFallbacks.incrementAndGet()
      try materializeCheckpoint(fs, table, v, known)
      catch { case NonFatal(_) => () }
      finally {
        materializePending.remove(key)
        MaterializeMetrics.completed.incrementAndGet()
      }
      return
    }
    val enqueuedAt = System.nanoTime()
    materializePool(fs).submit(new Runnable {
      override def run(): Unit = {
        accountingSuppressed.set(java.lang.Boolean.TRUE)
        MaterializeMetrics.observeWait(System.nanoTime() - enqueuedAt)
        try {
          materializeCheckpoint(fs, table, v, known)
          // second resurrection sweep after a beat (off this pool, so
          // awaitMaterializations and the next swap don't wait on
          // hygiene): an in-progress vacuum pass may delete v's
          // NEIGHBOR just after the swap's own immediate sweep looked
          // (its deletes ride the same fault-retry stretches ours do)
          sweepPool.schedule(new Runnable {
            override def run(): Unit = {
              accountingSuppressed.set(java.lang.Boolean.TRUE)
              sweepIfOrphan(fs, table, v)
            }
          }, 1L, java.util.concurrent.TimeUnit.SECONDS)
        }
        catch { case NonFatal(_) => () }
        finally {
          materializePending.remove(key)
          MaterializeMetrics.completed.incrementAndGet()
        }
      }
    })
    ()
  }

  /** Block until every scheduled background materialization has drained
    * (or `timeoutMs` passes — returns whether the queue drained).
    * Benches and specs quiesce on this before classifying record kinds;
    * production code never needs it. */
  private[graft] def awaitMaterializations(timeoutMs: Long = 60000L): Boolean = {
    val start = System.nanoTime()
    while (!materializePending.isEmpty) {
      if (System.nanoTime() - start > timeoutMs * 1000000L) return false
      Thread.sleep(5L)
    }
    true
  }

  // ---------------------------------------------------------------- JSON
  // Hand-rolled, dependency-free codec for the manifest envelope; the
  // schema payload uses Spark's own StructType JSON form.

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def statJson(cs: ColStats): String = {
    def opt(o: Option[String]) = o.map(v => s""""${esc(v)}"""").getOrElse("null")
    s"""{"min":${opt(cs.min)},"max":${opt(cs.max)},"nulls":${cs.nulls}}"""
  }

  private def fragJson(f: FragmentMeta): String = {
    val del = f.deletionPath.map(p => s""""${esc(p)}"""").getOrElse("null")
    val stats = f.stats.toSeq.sortBy(_._1)
      .map { case (c, cs) => s""""${esc(c)}":${statJson(cs)}""" }.mkString(",")
    s"""{"id":${f.id},"path":"${esc(f.path)}","rowCount":${f.rowCount},""" +
      s""""deletionPath":$del,"deletedCount":${f.deletedCount},""" +
      s""""sizeBytes":${f.sizeBytes},"stats":{$stats}}"""
  }

  def toJson(m: Manifest): String = {
    val props = m.properties.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }.mkString(",")
    s"""{"version":${m.version},"operation":"${esc(m.operation)}",""" +
      s""""createdAtMs":${m.createdAtMs},"maxFragmentId":${m.maxFragmentId},""" +
      s""""schemaJson":"${esc(m.schemaJson)}","properties":{$props},""" +
      s""""fragments":[${m.fragments.map(fragJson).mkString(",")}]}"""
  }

  /** Drop zone-map stats of string-typed columns from every fragment.
    * Pre-gzip-era manifests merged string min/max across row groups
    * under UTF-16 code-unit Ordering.String, while this build compares
    * stats in code-point order (FragmentStats.codePointCompare) — for
    * row groups straddling a supplementary character and a BMP char in
    * [U+E000, U+FFFF] the persisted merged bound can sit on the wrong
    * side of the true bound in code-point order, so pruning with it is
    * UNSOUND (silent wrong results on pre-upgrade tables). Absent stats
    * never prune, so dropping them is the sound read of old manifests;
    * numeric/date/timestamp stats merge identically under both orders
    * and are kept. Gated on PLAIN-JSON WIRE in [[decodeAny]] — gzip and
    * code-point harvesting shipped in the same build, and pre-upgrade
    * writers never stamped `format_version`, so the property (which
    * DEFAULTS to current) cannot gate this. The same strip applies when
    * WRITING a v2-pinned manifest: this build harvests string stats in
    * code-point order, which a v2-era reader would compare in code-unit
    * order — the dual unsoundness. (Stats re-harvest on upgrade: any
    * compaction rewrite under the current format restores string
    * pruning.) */
  private def stripStringStats(m: Manifest): Manifest = {
    if (m.fragments.forall(_.stats.isEmpty)) return m
    val stringCols =
      try m.schema.fields.collect {
        case f if f.dataType == org.apache.spark.sql.types.StringType => f.name
      }.toSet
      catch { case NonFatal(_) => return m } // unparseable schema: leave as-is
    if (stringCols.isEmpty) m
    else m.copy(fragments = m.fragments.map { f =>
      if (f.stats.keysIterator.exists(stringCols)) f.copy(stats = f.stats -- stringCols)
      else f
    })
  }

  def fromJson(s: String): Manifest = parseAny(s) match {
    case Right(m) => m
    case Left(d) => throw new IllegalArgumentException(
      s"version ${d.version} is a delta record; resolve it via readManifest")
  }

  private def parseFrag(fAny: Any): FragmentMeta = {
    val f = fAny.asInstanceOf[Map[String, Any]]
    val stats = f.get("stats").map(_.asInstanceOf[Map[String, Any]].map {
      case (c, csAny) =>
        val cs = csAny.asInstanceOf[Map[String, Any]]
        c -> ColStats(
          Option(cs("min")).map(_.asInstanceOf[String]),
          Option(cs("max")).map(_.asInstanceOf[String]),
          cs("nulls").asInstanceOf[Double].toLong)
    }).getOrElse(Map.empty[String, ColStats])
    FragmentMeta(
      id = f("id").asInstanceOf[Double].toInt,
      path = f("path").asInstanceOf[String],
      rowCount = f("rowCount").asInstanceOf[Double].toLong,
      deletionPath = Option(f("deletionPath")).collect { case s: String => s },
      deletedCount = f("deletedCount").asInstanceOf[Double].toLong,
      // format_version 1 manifests lack these fields (S9 compatibility)
      sizeBytes = f.get("sizeBytes").map(_.asInstanceOf[Double].toLong).getOrElse(0L),
      stats = stats)
  }

  /** Parse one stored version record: a full manifest or (v4+) a delta.
    * Minimal recursive-descent JSON (objects/arrays/strings/numbers/
    * null only — exactly the manifest grammar). */
  private[graft] def parseAny(s: String): Either[ManifestDelta, Manifest] = {
    val root = new JsonParser(s).parseValue().asInstanceOf[Map[String, Any]]
    val props = root.get("properties")
      .map(_.asInstanceOf[Map[String, Any]].map {
        case (k, v) => k -> v.asInstanceOf[String]
      }).getOrElse(Map.empty[String, String])
    if (root.get("delta").contains(true))
      Left(ManifestDelta(
        version = root("version").asInstanceOf[Double].toLong,
        baseVersion = root("baseVersion").asInstanceOf[Double].toLong,
        depth = root("depth").asInstanceOf[Double].toInt,
        schemaJson = root("schemaJson").asInstanceOf[String],
        removed = root("removed").asInstanceOf[Seq[Any]]
          .map(_.asInstanceOf[Double].toInt),
        upserts = root("upserts").asInstanceOf[Seq[Any]].map(parseFrag),
        maxFragmentId = root("maxFragmentId").asInstanceOf[Double].toInt,
        createdAtMs = root("createdAtMs").asInstanceOf[Double].toLong,
        operation = root("operation").asInstanceOf[String],
        properties = props))
    else {
      val m = Manifest(
        version = root("version").asInstanceOf[Double].toLong,
        schemaJson = root("schemaJson").asInstanceOf[String],
        fragments = root("fragments").asInstanceOf[Seq[Any]].map(parseFrag),
        maxFragmentId = root("maxFragmentId").asInstanceOf[Double].toInt,
        createdAtMs = root("createdAtMs").asInstanceOf[Double].toLong,
        operation = root("operation").asInstanceOf[String],
        properties = props)
      Right(m)
    }
  }

  private def deltaJson(d: ManifestDelta): String = {
    val props = d.properties.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }.mkString(",")
    s"""{"delta":true,"version":${d.version},"baseVersion":${d.baseVersion},""" +
      s""""depth":${d.depth},"operation":"${esc(d.operation)}",""" +
      s""""createdAtMs":${d.createdAtMs},"maxFragmentId":${d.maxFragmentId},""" +
      s""""schemaJson":"${esc(d.schemaJson)}","properties":{$props},""" +
      s""""removed":[${d.removed.mkString(",")}],""" +
      s""""upserts":[${d.upserts.map(fragJson).mkString(",")}]}"""
  }

  /** Manifest wire encoding: gzip(JSON), sniffed by magic on read.
    * Motivated by the metadata-scale probe (BENCH_META.json): at 10⁵
    * fragments the plain-JSON manifest is ~73 MB and EVERY commit
    * rewrites the whole thing — a 100-version history carries 7.3 GB of
    * metadata and every cross-process planning pass ships 73 MB over
    * the wire (s3a). Gzip cuts it ~10× for ~100 ms of deflate at that
    * size. The encoding is gated on format_version >= 3 (r14 review:
    * keying it to the existing v2 would have changed what a v2 reader
    * can parse out from under it) — tables pinned to format_version
    * 1/2 keep plain JSON, and plain-JSON manifests (older tables,
    * hand-written test fixtures) remain readable forever via the
    * sniff; readers never need a flag. Java's GZIPOutputStream writes
    * a fixed zero-MTIME header, so the encoding is deterministic and
    * (mtime, len) cache-revalidation identity is unaffected. */
  private def gzipBytes(json: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(json.length / 8 + 64)
    val gz = new java.util.zip.GZIPOutputStream(bos, 64 * 1024)
    gz.write(json); gz.close()
    bos.toByteArray
  }

  private[format] def encodeManifest(m: Manifest): Array[Byte] = {
    val json = toJson(m).getBytes(UTF_8)
    if (m.formatVersion < 3) json // v1/v2 readers expect plain JSON
    else gzipBytes(json)
  }

  private def gunzipSniff(bytes: Array[Byte]): Array[Byte] =
    if (bytes.length >= 2 && bytes(0) == 0x1f.toByte &&
        bytes(1) == 0x8b.toByte) {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(bytes), 64 * 1024)
      try in.readAllBytes() finally in.close()
    } else bytes

  /** Decode one stored version record (full or delta), gzip-sniffed.
    *
    * Plain-JSON WIRE is the pre-v3 evidence that gates the string-stat
    * strip — not the `format_version` property, which pre-upgrade
    * writers never stamped (it DEFAULTS to current, so a property gate
    * silently skips exactly the manifests the strip exists for). Gzip
    * arrived in the same build as code-point stat harvesting, so a
    * gzip record always carries code-point-sound stats, and a plain
    * record was written either by a pre-code-point build (stats merged
    * in code-unit order — unsound to compare, strip) or by a current
    * build under a v1/v2 pin (string stats already stripped at write;
    * re-stripping is a no-op). */
  private[format] def decodeAny(bytes: Array[Byte])
      : Either[ManifestDelta, Manifest] = {
    val gzipped = bytes.length >= 2 && bytes(0) == 0x1f.toByte &&
      bytes(1) == 0x8b.toByte
    parseAny(new String(gunzipSniff(bytes), UTF_8)) match {
      case Right(m) if !gzipped => Right(stripStringStats(m))
      case other => other
    }
  }

  private[format] def decodeManifest(bytes: Array[Byte]): Manifest =
    decodeAny(bytes) match {
      case Right(m) => m
      case Left(d) => throw new IllegalArgumentException(
        s"version ${d.version} is a delta record; resolve it via readManifest")
    }

  /** Resolved manifest of `version`: a checkpoint reads directly; a
    * delta walks its chain back to the nearest checkpoint (<= the
    * checkpoint cadence hops, each a small file) and folds the deltas
    * forward. The pinned cache is consulted per hop — committed
    * manifests are immutable — so warm walks read nothing, and every
    * manifest this resolves (checkpoint or folded delta head) is PINNED
    * on the way out: a continuous reader's next resolve then walks
    * exactly ONE hop (the new version's record) instead of re-reading
    * the chain, which is what makes steady incremental sync O(delta)
    * bytes per version (r15 VERDICT #1/#6). */
  def readManifest(fs: FileSystem, table: Path, version: Long): Manifest = {
    // continuous-reader checkpoint fast path: when the depth arithmetic
    // says `version` rolled the cadence (so its stored record is an
    // O(table) full manifest) and this process holds version-1 resolved,
    // the committer's checkpoint-delta sidecar — O(changed-fragments)
    // bytes — resolves it without reading the checkpoint at all
    sidecarFastPath(fs, table, version) match {
      case Some(m) => return m
      case None => ()
    }
    decodeAny(readBytes(fs, manifestPath(table, version))) match {
      case Right(m) =>
        recordDepth(fs, table, version, 0)
        ManifestCache.pinPeeked(fs, table, version, m)
        m
      case Left(d0) => resolveDelta(fs, table, version, d0)
    }
  }

  // Per-table newest version whose sidecar lookup came back ABSENT:
  // the fast path's hint case (v == version, d == 0) fires on every
  // re-resolve of a known checkpoint head, so a checkpoint with no
  // sidecar (non-representable transition, pre-sidecar history) would
  // otherwise pay the 404 round trip on every readManifest of that
  // head. One (version, cachedAtNanos) per table — absence at OLDER
  // versions doesn't recur (the hint tracks the head). The entry
  // carries a TTL: a reader can probe in the window between the
  // record CAS and the commit's post-CAS sidecar write, and a
  // permanent negative would disable the O(delta) fast path for that
  // head in this process even though the sidecar lands milliseconds
  // later. Expiry re-probes — a genuinely sidecar-less head pays one
  // 404 per TTL instead of per resolve, still amortized away. A drop
  // + re-create at the same path could later have a sidecar at the
  // cached version; the stale negative entry then only skips an
  // optimization (full-record fallback, always correct).
  private val noSidecarAt =
    scala.collection.concurrent.TrieMap.empty[String, (Long, Long)]
  // var only so the spec can shrink the window; production default 30s
  private[graft] var NoSidecarTtlNanos = 30L * 1000000000L

  /** How many checkpoint boundaries one chain walk may CROSS via
    * sidecars (r16 VERDICT #5): a reader lagged k <= this many cadences
    * descends k * cadence O(delta) records instead of paying one
    * O(table) checkpoint read — at 10⁵ fragments that is ~8 x 16 x
    * 600 B vs 2.6 MB. Beyond the cap the checkpoint read wins on round
    * trips, so the walk stops crossing and reads it. */
  private val MaxCrossCadences = 8

  /** Resolve `version` by applying its checkpoint-delta sidecar to the
    * PINNED resolved manifest of version-1, when both exist and belong
    * to the same generation. Only attempted when the head-depth hint
    * predicts a cadence rollover — a wrong prediction costs one 404 and
    * falls through; a right one replaces an O(table) checkpoint read
    * with an O(delta) one. Negative lookups are cached per (table,
    * version) so a sidecar-less head is probed once, not per resolve.
    * Generation safety: the sidecar is read FRESH
    * from disk (it is the current history's file at that path — drops
    * delete the directory wholesale) and must carry the same table id
    * as the pinned base; id-less histories never take this path. */
  private def sidecarFastPath(fs: FileSystem, table: Path,
      version: Long): Option[Manifest] = {
    if (version <= 1L) return None
    val every = checkpointEvery(fs)
    if (every <= 1) return None
    val rollover = chainDepths.get(depthKey(fs, table)) match {
      // a continuous reader knows the PREVIOUS head's chain position:
      // the next version rolls the cadence when the chain is full
      case Some((v, d)) if v == version - 1 => d + 1 >= every
      // this process already knows `version` itself is a checkpoint
      // (it committed or previously resolved it) — e.g. a reader
      // re-resolving a head whose pin was evicted
      case Some((v, d)) if v == version => d == 0
      case _ => false
    }
    if (!rollover) return None
    noSidecarAt.get(depthKey(fs, table)) match {
      case Some((v, at)) if v == version =>
        if (System.nanoTime() - at < NoSidecarTtlNanos) return None
        noSidecarAt.remove(depthKey(fs, table))
      case _ => ()
    }
    val prev = ManifestCache.peekPinnedRaw(fs, table, version - 1)
      .getOrElse(return None)
    val prevId = prev.properties.get(TableIdProp).getOrElse(return None)
    // absent/torn sidecar or one from another generation: the full
    // record is the always-correct fallback
    val side = readSidecarDelta(fs, table, version)
    if (side.isEmpty)
      noSidecarAt.put(depthKey(fs, table), (version, System.nanoTime()))
    side
      .filter(_.properties.get(TableIdProp).contains(prevId))
      .map { d =>
        val m = applyDelta(prev, d)
        recordDepth(fs, table, version, 0)
        ManifestCache.pinPeeked(fs, table, version, m)
        m
      }
  }

  /** Fold version `version`'s delta chain back to its checkpoint.
    *
    * A RACING VACUUM can delete a chain base mid-walk: vacuum first
    * materializes the oldest retained version as a checkpoint, THEN
    * deletes the versions below it — so a base hop that 404s means the
    * chain now terminates at a materialized checkpoint at or above the
    * stranded hop. Re-reading `version`'s record and re-walking (bounded
    * retries) resolves through the new boundary; a reader must never
    * fail on a healthy, retained version just because vacuum ran. If the
    * re-read itself 404s, `version` was genuinely vacuumed/dropped —
    * propagate. */
  private[graft] def resolveDelta(fs: FileSystem, table: Path, version: Long,
      d0: ManifestDelta): Manifest = {
    // the generation pin survives retries: a retry must never silently
    // cross into a dropped+re-created table's history
    val expectId = d0.properties.get(TableIdProp)
    var head = d0
    var attempt = 0
    while (true) {
      // sidecar boundary-crossing only on the first attempt: a retry
      // means a vacuum raced the walk, and crossing could descend into
      // freshly-dropped history behind a stale pin — the plain walk
      // reads the materialized boundary instead, always correct
      try return resolveDeltaWalk(fs, table, version, head, expectId,
        allowCross = attempt == 0)
      catch {
        case e: java.io.FileNotFoundException =>
          attempt += 1
          if (attempt > 3) throw e // not vacuum cadence: corrupt chain
          decodeAny(readBytes(fs, manifestPath(table, version))) match {
            case Right(m) =>
              for (want <- expectId; got <- m.properties.get(TableIdProp)
                   if got != want)
                throw ManifestCache.WrongGeneration(table, version, want, Some(got))
              recordDepth(fs, table, version, 0)
              return m // the racing vacuum materialized `version` itself
            case Left(d) => head = d
          }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  // Chain-prefetch pool (r15 VERDICT #1): a cold depth-k resolve used to
  // read its k chain hops SEQUENTIALLY — over an object store that is k
  // round trips serialized behind each other. The hop FILE NAMES are
  // computable up front (every delta's base is version-1 and the head's
  // stamped depth bounds the chain), so the walk issues them
  // concurrently and consumes decoded records in order. Small daemon
  // pool: the reads are metadata-sized and latency-bound, not
  // CPU-bound.
  private lazy val prefetchPool = java.util.concurrent.Executors
    .newFixedThreadPool(8, (r: Runnable) => {
      val t = new Thread(r, "graft-manifest-prefetch")
      t.setDaemon(true)
      t
    })

  private def resolveDeltaWalk(fs: FileSystem, table: Path, version: Long,
      d0: ManifestDelta, expectId: Option[String],
      allowCross: Boolean = true): Manifest = {
    var deltas: List[ManifestDelta] = List(d0) // kept ascending
    val every = checkpointEvery(fs)
    // a STALE unmaterialized boundary at the head (depth-0 record well
    // past its commit time) means the deferring committer died before
    // its swap: repair it here, since no later commit will ever walk
    // it as a below-head hop. The age gate keeps the common case — a
    // reader racing the committer's in-flight swap by milliseconds —
    // from scheduling a duplicate O(table) encode; a skewed clock at
    // worst schedules a redundant content-equivalent swap.
    if (d0.depth == 0 && materializeMode(fs) == "async" &&
        System.currentTimeMillis() - d0.createdAtMs > 60000L)
      scheduleMaterialize(fs, table, version, None)
    // newest pinned gen-matching version within MaxCrossCadences below
    // `ckpt`: when one exists, the walk CROSSES the checkpoint at
    // `ckpt` via its O(delta) sidecar and keeps descending small delta
    // records toward the pin, instead of paying the O(table) checkpoint
    // read — the lagged long-lived reader's case. Crossings CHAIN (r16
    // VERDICT #5): a reader lagged several cadences crosses each
    // intermediate boundary via its own sidecar (the trigger re-fires
    // when the descent reaches depth 1 above the next boundary), capped
    // at MaxCrossCadences total so a pathologically lagged reader pays
    // one checkpoint instead of an unbounded delta descent. Only
    // id-carrying histories cross (the raw pinned probe has no other
    // generation guard).
    def crossPinnedBelow(ckpt: Long): Option[Long] =
      if (!allowCross || expectId.isEmpty || every <= 1) None
      else ((ckpt - 1) to math.max(1L, ckpt - every.toLong * MaxCrossCadences)
          by -1L).find { p =>
        ManifestCache.peekPinnedRaw(fs, table, p)
          .exists(_.properties.get(TableIdProp) == expectId)
      }
    val lo0 = math.max(1L, version - d0.depth) // the chain's checkpoint
    // the NEWEST pinned gen-matching version below the head, searched
    // down to MaxCrossCadences below the checkpoint (crossings never
    // reach further): the walk terminates there, so nothing at or below
    // it must be prefetched — an unbounded range here would read (and
    // at the checkpoint, fully parse) records the walk never consumes
    val newestPinned: Option[Long] =
      if (expectId.isEmpty) None
      else ((version - 1) to
          math.max(1L, lo0 - every.toLong * MaxCrossCadences) by -1L)
        .find(v => ManifestCache.peekPinned(fs, table, v, expectId).isDefined)
    val crossAt = newestPinned.filter(p =>
      allowCross && every > 1 && d0.depth >= 1 && p < lo0)
    // concurrent chain prefetch: the chain hops' file names are
    // computable (every delta's base is version-1; the head's stamped
    // depth locates the checkpoint), so the walk issues them
    // concurrently and consumes decoded records in order — only the
    // hops ABOVE the walk's stopping point (the newest pin, or the
    // checkpoint when nothing is pinned). With a crossing planned, the
    // checkpoint's O(table) record is NOT prefetched (the sidecar
    // replaces it) and the below-boundary deltas down to the pin are
    // prefetched instead. Failures are NOT surfaced here — the walk
    // falls back to its own raw read so the existing vacuum-race retry
    // logic stays the single error path.
    val prefetchVersions: Seq[Long] = newestPinned match {
      case Some(p) if p >= lo0 => (p + 1) until version
      case Some(p) if crossAt.isDefined =>
        // every boundary the chained crossing will hop over sits a
        // whole cadence apart below lo0 — none of their O(table)
        // records should be prefetched (each sidecar replaces one); a
        // wrong prediction (early checkpoint mid-cadence) just reads
        // that record raw when the walk gets there
        ((p + 1) until version).filterNot(v =>
          v <= lo0 && (lo0 - v) % every == 0)
      // pinned only below the boundary but crossing disallowed: the
      // walk stops at the checkpoint — same plan as the unpinned case
      case _ => if (d0.depth < 2) Seq.empty[Long] else lo0 until version
    }
    val prefetched: Map[Long, java.util.concurrent.Future[
        Either[ManifestDelta, Manifest]]] =
      prefetchVersions.map { v =>
        v -> prefetchPool.submit(
          new java.util.concurrent.Callable[Either[ManifestDelta, Manifest]] {
            override def call(): Either[ManifestDelta, Manifest] =
              decodeAny(readBytes(fs, manifestPath(table, v)))
          })
      }.toMap
    // a walk that stops early (a pin, a crossing) or fails cancels the
    // hop reads it did not consume
    try {
      // a prefetched record, unwrapped to the walk's own error surface
      // (FileNotFoundException must reach resolveDelta's retry loop raw)
      def fetch(v: Long): Either[ManifestDelta, Manifest] =
        prefetched.get(v) match {
          case Some(f) =>
            try f.get()
            catch {
              case e: java.util.concurrent.ExecutionException =>
                e.getCause match {
                  case c: Exception => throw c
                  case _ => throw e
                }
            }
          case None => decodeAny(readBytes(fs, manifestPath(table, v)))
        }
      // generation guard: the walk spans MULTIPLE reads, and a drop +
      // re-create landing between them restarts version numbers — an
      // unguarded walk could apply the dead generation's delta onto
      // the NEW generation's base (same version arithmetic, different
      // table) and resolve a franken-manifest. Every hop must carry
      // the head delta's id; a mismatch surfaces typed, and the
      // cache's latest() maps it to the no-manifest-visible evidence
      // rule (hold / re-list), like a mid-listing delete.
      def guard(props: Map[String, String], v: Long): Unit =
        for (want <- expectId; got <- props.get(TableIdProp) if got != want)
          throw ManifestCache.WrongGeneration(table, v, want, Some(got))
      // the sidecar at a predicted checkpoint hop, as a chain link: its
      // baseVersion is ckpt-1, so pushing it keeps the fold exact while
      // the walk descends PAST the boundary to the pinned version below.
      // Absent/torn/wrong-generation: None — read the record instead.
      def crossingSidecar(ckpt: Long): Option[ManifestDelta] =
        readSidecarDelta(fs, table, ckpt)
          .filter(_.properties.get(TableIdProp) == expectId)
      var base: Manifest = null
      var crossings = 0
      while (base == null) {
        val v = deltas.head.baseVersion
        ManifestCache.peekPinned(fs, table, v, expectId) match {
          case Some(m) => base = m
          case None =>
            // hop v is the current chain's checkpoint exactly when the
            // last-pushed delta sits at depth 1; cross it via sidecar
            // when a pin waits within reach below. Crossings CHAIN —
            // after descending the crossed cadence the trigger re-fires
            // at the next boundary — bounded by MaxCrossCadences total.
            val crossed =
              if (deltas.head.depth == 1 && crossings < MaxCrossCadences &&
                  crossPinnedBelow(v).isDefined)
                crossingSidecar(v)
              else None
            if (crossed.isDefined) crossings += 1
            crossed match {
              case Some(d) => deltas ::= d
              case None => fetch(v) match {
                case Right(m) =>
                  guard(m.properties, v)
                  // the chain's checkpoint is its largest read by far —
                  // pin it so the NEXT resolve over this chain (every
                  // subsequent delta commit until the cadence rolls) hops
                  // straight to a cache hit instead of re-reading MBs
                  ManifestCache.pinPeeked(fs, table, v, m)
                  base = m
                case Left(d) =>
                  guard(d.properties, v)
                  // a corrupt/cyclic chain must fail typed, never spin
                  require(d.baseVersion < v,
                    s"delta chain at $table does not descend: $v -> ${d.baseVersion}")
                  // a depth-0 delta BELOW the head is an unmaterialized
                  // deferred checkpoint whose committer died (or is
                  // slow) — at least one commit landed after it, so the
                  // committer's own swap is overdue: repair out-of-band
                  // (r16 VERDICT #1, "next reader materializes"). The
                  // head itself is never repaired from here — its
                  // committer owns the in-flight swap.
                  if (d.depth == 0 && materializeMode(fs) == "async")
                    scheduleMaterialize(fs, table, v, None)
                  deltas ::= d
              }
            }
        }
      }
      val resolved = deltas.foldLeft(base)(applyDelta)
      recordDepth(fs, table, version, d0.depth)
      // pin the RESOLVED head too: the next resolve over this table (the
      // next commit's base read, a streaming reader's next sync) then
      // walks exactly one hop — its own new record — instead of
      // re-folding the chain. Weight-bounded LRU in the cache keeps this
      // safe on busy 10⁵-fragment tables (resolved manifests share
      // fragment objects with their base, so the heap cost is the vector
      // spine, while the cache's weight accounting still treats them as
      // full-size — conservative).
      ManifestCache.pinPeeked(fs, table, version, resolved)
      resolved
    } finally prefetched.valuesIterator.foreach(_.cancel(true))
  }

  def readLatest(fs: FileSystem, table: Path): Option[Manifest] =
    latestVersion(fs, table).map(readManifest(fs, table, _))

  /** Atomic CAS commit of version m.version; throws on lost race.
    * format_version 1 tables are written without sizeBytes/stats content
    * (the fields serialize as 0/empty) to stay readable by v1 readers.
    *
    * `base` (the resolved manifest of m.version - 1, which every retry
    * loop already holds) enables O(changed-fragments) DELTA commits for
    * format_version >= 4 tables: when the change is delta-representable,
    * the chain since the last checkpoint is shorter than
    * [[CheckpointEveryKey]], and the delta touches at most half the
    * fragments, the stored record is the diff instead of the full
    * fragment list. base = None (or any ineligible case) writes a full
    * manifest — always correct, never required for correctness. */
  def commit(fs: FileSystem, table: Path, m: Manifest,
      base: Option[Manifest] = None): Unit = {
    // only the chain's first commit may need the layout dirs; for v2+
    // they exist by construction, and re-probing them here would sit on
    // the readLatest->CAS critical path (on an object store that is
    // real HTTP round trips, widening the race window under contention)
    if (m.version == 1L) init(fs, table)
    val toWrite =
      if (m.formatVersion >= 3) m
      // v2-pinned: strip string stats — this build harvests them in
      // code-point order, which a v2-era reader compares in code-unit
      // order (the dual of the read-side strip above)
      else if (m.formatVersion == 2) stripStringStats(m)
      else m.copy(fragments = m.fragments.map(_.copy(sizeBytes = 0L, stats = Map.empty)))
    val every = checkpointEvery(fs)
    // sizeable = small enough that readers win by reading it over the
    // full record (a delta touching most of the table is no smaller
    // than a checkpoint, and readers would pay the chain walk on top)
    def sizeable(b: Manifest)(d: ManifestDelta): Boolean =
      d.upserts.size + d.removed.size <= math.max(8, b.fragments.size / 2)
    // (stored-record delta, checkpoint-delta sidecar, deferred?): the
    // sidecar is the cadence-rollover case — the commit's version is a
    // logical CHECKPOINT, but when its transition is representable the
    // O(delta) record is stored beside it for incremental readers (r15
    // VERDICT #6), and (r16 VERDICT #1) the checkpoint itself is
    // DEFERRED: the stored record is that same depth-0 delta and the
    // O(table) full manifest is materialized out-of-band, so the
    // rollover committer pays delta cost like every other committer.
    // Depth 0 marks the logical checkpoint either way: as a sidecar it
    // is the v-1 -> v transition, never a chain link; as a deferred
    // record it keeps every cadence-arithmetic site unchanged (the
    // next commit stamps depth 1) while the plain chain walk simply
    // descends past it until the swap lands.
    val (asDelta, sidecar, deferred): (Option[ManifestDelta],
        Option[ManifestDelta], Boolean) =
      if (toWrite.formatVersion < 4 || every <= 1 || toWrite.version <= 1L ||
          !base.exists(_.version == toWrite.version - 1)) (None, None, false)
      else {
        val b = base.get
        // the depth lookup is an OPTIMIZATION input (full-vs-delta
        // choice), usually served from the in-process map — but its
        // fallback is a raw header read, and on a throttling object
        // store that read can fail where the commit itself would have
        // succeeded. A commit must never fail because a cadence hint
        // was unreadable: any failure degrades to "write a checkpoint",
        // which is always correct.
        val depth =
          try storedDepth(fs, table, b.version) + 1
          catch { case scala.util.control.NonFatal(_) => every }
        if (depth >= every) {
          val d = computeDelta(b, toWrite, 0).filter(sizeable(b))
          // deferral needs the generation id (the materializer's
          // content-swap guard) — id-less legacy histories and
          // non-representable rollovers write the checkpoint inline,
          // which is always correct
          if (d.isDefined && materializeMode(fs) != "inline" &&
              toWrite.properties.contains(TableIdProp))
            (d, d, true)
          else (None, d, false)
        }
        else (computeDelta(b, toWrite, depth).filter(sizeable(b)), None, false)
      }
    val bytes = asDelta match {
      case Some(d) => gzipBytes(deltaJson(d).getBytes(UTF_8))
      case None => encodeManifest(toWrite)
    }
    if (!createExclusive(fs, manifestPath(table, m.version), bytes,
        orEquiv = swapEquivalent(bytes, _)))
      throw new CommitConflictException(
        s"version ${m.version} already committed at $table")
    // depth is recorded only for OUR committed version (a lost race is
    // another process's version — its kind is unknown here)
    chainDepths.put(depthKey(fs, table),
      (m.version, asDelta.map(_.depth).getOrElse(0)))
    // best-effort, post-CAS, derived data: a crash or store error here
    // leaves a checkpoint without a sidecar — readers fall back to the
    // full record. Only id-stamped histories write one (the read paths
    // validate the sidecar against a pinned base BY generation id).
    for (d <- sidecar if toWrite.properties.contains(TableIdProp)) {
      try {
        val out = fs.create(checkpointDeltaPath(table, m.version), true)
        try out.write(gzipBytes(deltaJson(d).getBytes(UTF_8)))
        finally out.close()
      } catch { case NonFatal(_) => () }
    }
    // deferred rollover: materialize the O(table) checkpoint off the
    // commit critical path, reusing the resolved content this commit
    // already holds. Ordered AFTER the sidecar write so a reader that
    // observes the materialized checkpoint also finds its O(delta)
    // sidecar. "manual" mode leaves it to vacuum / explicit calls.
    if (deferred && materializeMode(fs) == "async")
      scheduleMaterialize(fs, table, m.version, Some(toWrite))
    // the committer holds the resolved content it just stored: pin it,
    // so this process's next base read / incremental sync resolves the
    // head without re-reading what it just wrote (on a 10⁵-fragment
    // table that re-read is MBs of parse per commit)
    ManifestCache.pinPeeked(fs, table, m.version, toWrite)
    // same-process readers must see this commit immediately, whatever the
    // manifest-cache TTL says
    ManifestCache.invalidateLatest(fs, table)
  }

  /** True when `disk` is OUR commit re-encoded by the deferred-checkpoint
    * swap: we stored a depth-0 delta record; a materializer (another
    * reader's repair, or a keep-1 vacuum racing an AMBIGUOUS conditional
    * put's read-back window) replaced it with the content-equivalent
    * full manifest. Matching requires the identity header (version,
    * createdAtMs, operation, maxFragmentId, generation id) AND every one
    * of our upserted fragments present by (id, path) with none of our
    * removals surviving — a RACING committer's record at the same
    * version cannot contain OUR staged fragment paths (every write
    * stages uniquely-named files), so identity headers alone (which two
    * same-millisecond committers could collide on) never decide. A
    * metadata/property-only delta (empty upserts AND removed) has no
    * fragment evidence at all — for it the header check is vacuous, so
    * a racing committer's already-materialized same-millisecond record
    * could be misread as ours and our property changes silently
    * dropped: treat that case as a lost race (false) and let the
    * caller's conflict path retry. Only the delta->full direction
    * exists: swaps never produce deltas, and byte-equality already
    * covers full=full. */
  private[graft] def swapEquivalent(mine: Array[Byte], disk: Array[Byte]): Boolean =
    try {
      (decodeAny(mine), decodeAny(disk)) match {
        case (Left(d), Right(m)) =>
          (d.upserts.nonEmpty || d.removed.nonEmpty) &&
          d.version == m.version && d.createdAtMs == m.createdAtMs &&
          d.operation == m.operation &&
          d.maxFragmentId == m.maxFragmentId &&
          d.properties.get(TableIdProp).isDefined &&
          d.properties.get(TableIdProp) == m.properties.get(TableIdProp) &&
          d.upserts.forall(u => m.fragments.exists(f =>
            f.id == u.id && f.path == u.path)) &&
          d.removed.forall(r => !m.fragments.exists(_.id == r))
        case _ => false
      }
    } catch { case NonFatal(_) => false }

  /** Retry loop for append-style commits: rebuild the manifest from the
    * freshest base on each conflict. The base each attempt read is
    * passed through to [[commit]] so eligible commits store deltas. */
  def commitWithRetry(fs: FileSystem, table: Path, maxAttempts: Int = 20)(
      build: Option[Manifest] => Manifest): Manifest = {
    var attempt = 0
    while (true) {
      attempt += 1
      val base = readLatest(fs, table)
      val m = build(base)
      try { commit(fs, table, m, base); return m }
      catch {
        case e: CommitConflictException if attempt < maxAttempts =>
          // jittered exponential backoff: N contending committers
          // otherwise re-collide every round (retry storm); cap keeps
          // worst-case commit latency bounded
          val capMs = math.min(200L, 5L << math.min(attempt, 5))
          Thread.sleep(ThreadLocalRandom.current().nextLong(capMs + 1))
        case NonFatal(e) => throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  // ------------------------------------------------------- deletion files

  /** Write a deletion vector (sorted distinct row indexes) for fragment
    * fragId at table version v. Safe to call from executors: the name is
    * UUID-unique and the file is invisible until a manifest references it. */
  def writeDeletionFile(fs: FileSystem, table: Path, fragId: Int, v: Long,
      rowIndexes: Array[Long]): String = {
    val name = s"$fragId-$v-${java.util.UUID.randomUUID()}.json"
    val p = new Path(deletionsDir(table), name)
    val sorted = rowIndexes.distinct.sorted
    val out = fs.create(p, false)
    try out.write(sorted.mkString("[", ",", "]").getBytes(UTF_8))
    finally out.close()
    s"_deletions/$name"
  }

  def readDeletionFile(fs: FileSystem, table: Path, relPath: String): Array[Long] =
    parseDeletionJson(new String(readBytes(fs, new Path(table, relPath)), UTF_8))

  /** Executor-side deletion-vector load from an absolute path/URI. */
  def readDeletionFileAbs(absPath: String, conf: Configuration): Array[Long] = {
    val p = new Path(absPath)
    parseDeletionJson(new String(readBytes(p.getFileSystem(conf), p), UTF_8))
  }

  private def parseDeletionJson(s0: String): Array[Long] = {
    val s = s0.trim
    if (s == "[]") Array.empty[Long]
    else s.stripPrefix("[").stripSuffix("]").split(",").map(_.trim.toLong)
  }

  /** Row address: (fragmentId << 32) | rowIndex — the reference's 64-bit
    * row identity (RowAddress.java:29-42). */
  def rowAddress(fragId: Int, rowIndex: Long): Long =
    (fragId.toLong << 32) | rowIndex
}

/** Tiny JSON parser for the manifest grammar (numbers parsed as Double;
  * manifest values stay under 2^53 so this is lossless). Also reused by
  * the REST namespace client for its small response envelopes. */
private[graft] final class JsonParser(s: String) {
  private var i = 0
  private def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
  def parseValue(): Any = {
    ws()
    s.charAt(i) match {
      case '{' => parseObj()
      case '[' => parseArr()
      case '"' => parseStr()
      case 'n' => i += 4; null
      case 't' => i += 4; true
      case 'f' => i += 5; false
      case _ => parseNum()
    }
  }
  private def parseObj(): Map[String, Any] = {
    i += 1; ws()
    val b = Map.newBuilder[String, Any]
    if (s.charAt(i) == '}') { i += 1; return b.result() }
    while (true) {
      ws()
      val k = parseStr()
      ws(); require(s.charAt(i) == ':'); i += 1
      b += k -> parseValue()
      ws()
      s.charAt(i) match {
        case ',' => i += 1
        case '}' => i += 1; return b.result()
        case c => throw new IllegalArgumentException(s"bad json at $i: $c")
      }
    }
    b.result()
  }
  private def parseArr(): Seq[Any] = {
    i += 1; ws()
    val b = Seq.newBuilder[Any]
    if (s.charAt(i) == ']') { i += 1; return b.result() }
    while (true) {
      b += parseValue()
      ws()
      s.charAt(i) match {
        case ',' => i += 1
        case ']' => i += 1; return b.result()
        case c => throw new IllegalArgumentException(s"bad json at $i: $c")
      }
    }
    b.result()
  }
  private def parseStr(): String = {
    require(s.charAt(i) == '"'); i += 1
    val sb = new StringBuilder
    while (s.charAt(i) != '"') {
      val c = s.charAt(i)
      if (c == '\\') {
        i += 1
        s.charAt(i) match {
          case '"' => sb += '"'
          case '\\' => sb += '\\'
          case 'n' => sb += '\n'
          case 'r' => sb += '\r'
          case 't' => sb += '\t'
          case 'u' =>
            sb += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar
            i += 4
          case o => sb += o
        }
      } else sb += c
      i += 1
    }
    i += 1
    sb.toString
  }
  private def parseNum(): Double = {
    val start = i
    while (i < s.length && (s.charAt(i).isDigit || "+-.eE".contains(s.charAt(i)))) i += 1
    s.substring(start, i).toDouble
  }
}
