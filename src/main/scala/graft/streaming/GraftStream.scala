package graft.streaming

import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}

import graft.connector.{GraftFragmentPartition, GraftTable}
import graft.format.GraftFormat

/** Structured Streaming source over a graft table: every committed
  * manifest version is a natural micro-batch offset (SURVEY.md section
  * 2.8 — absent from the reference, a designed-in extension here).
  *
  * A batch (fromVersion, toVersion] contains exactly the fragments that
  * joined the table in those commits — appends stream through, while
  * merge-on-read deletes and overwrites never rewrite an already-
  * streamed fragment id (fragment ids are never reused), so replays are
  * deterministic: offsets name manifest versions, data files are
  * immutable.
  *
  * Scale: planInputPartitions is O(new fragments); each partition is one
  * fragment read by the same vectorized reader as batch scans. The
  * `maxVersionsPerTrigger` read option bounds how much backlog one
  * micro-batch swallows (admission control / backpressure): a stream
  * started against a table with thousands of committed versions drains
  * them in bounded batches instead of planning the whole history at
  * once.
  */
final case class GraftOffset(version: Long, tableId: Option[String] = None)
  extends Offset {
  // the offset carries the HISTORY's identity alongside the version:
  // version numbers restart on drop + re-create, and once the new
  // history reaches the checkpoint's version, no version arithmetic
  // can tell the generations apart — the id can (Kafka offsets have
  // the same property via the topic; Delta sources persist reservoirId)
  override def json(): String = tableId match {
    case Some(id) =>
      // ids minted here are UUIDs, but a table created on a build that
      // predates the property's reservation can carry any string via
      // ALTER — an unescaped quote would corrupt the checkpoint log,
      // and a raw control character (the offset log is LINE-oriented)
      // would split the entry mid-offset
      val esc = id.flatMap {
        case '\\' => "\\\\"
        case '"' => "\\\""
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
      s"""{"version":$version,"table_id":"$esc"}"""
    case None => s"""{"version":$version}"""
  }
}

class GraftMicroBatchStream(table: GraftTable,
    options: Map[String, String] = Map.empty)
  extends MicroBatchStream with SupportsTriggerAvailableNow {

  private def fs = table.fs
  private def qualDir = fs.makeQualified(table.dir)

  private val maxVersionsPerTrigger: Option[Long] =
    options.get("maxversionspertrigger").map { v =>
      val n = v.toLong
      require(n > 0, s"maxVersionsPerTrigger must be positive, got $n")
      n
    }

  /** `.option("failOnLostHistory", "true")`: fail the query with a
    * typed error when the checkpoint's start version has been vacuumed
    * out of the manifest history, instead of the default degradation
    * (re-deliver the whole current snapshot — at-least-once, never
    * loss). The Kafka source's failOnDataLoss analog: a pipeline whose
    * sink cannot absorb duplicates wants the stream to STOP and name
    * the retention misconfiguration. */
  private val failOnLostHistory: Boolean =
    options.get("failonlosthistory").exists { v =>
      v.toLowerCase match {
        case "true" => true
        case "false" => false
        case other => throw new IllegalArgumentException(
          s"failOnLostHistory must be true or false, got '$other'")
      }
    }

  /** Last successfully OBSERVED (head version, generation id), seeded
    * with the stream-construction pin; all access under [[headLock]].
    * Tracking the last observation (not the construction pin) matters
    * after a mid-query drop + re-create: the pin still names the DEAD
    * generation for the query's lifetime, and persisting it into the
    * offset log on a later blip would make a strict restart fail
    * typed forever. */
  private var lastHead: (Long, Option[String]) =
    (table.manifest.version,
      table.manifest.properties.get(GraftFormat.TableIdProp))

  /** Serializes [[headState]]'s read-and-update (Spark may call
    * latestOffset and prepareForTriggerAvailableNow from different
    * driver threads). Serializing the READ — not just the update —
    * totally orders observations, so no "slow lister" whose read
    * started before a commit or a drop + re-create can complete after
    * a newer one and publish stale state; id-heuristic guards
    * (superseded-id sets, monotonic version rules across generations)
    * are all leakier than simply not allowing overlap. Metadata reads
    * at trigger cadence make the serialization cost irrelevant. */
  private val headLock = new Object

  /** (head version, generation id) of the CURRENT history, read from
    * ONE revalidated snapshot (`ttl=0` forces the freshness listing;
    * the body is re-read only when the version moved or the file is
    * not yet quiescent). Pairing a fresh head with a TTL-cached id
    * would let a drop + re-create pass the id check while planning
    * against the NEW history's listing — a strict stream would deliver
    * wrong-generation rows until the TTL lapsed. The id is None for
    * tables predating the table_id property.
    *
    * When no manifest is visible, the response depends on the
    * evidence: the table DIRECTORY missing is affirmative drop
    * evidence — expected_table_id and failOnLostHistory streams fail
    * typed (idling silently on a permanently-dropped table would be
    * indistinguishable from an empty backlog), while default streams
    * hold at [[lastHead]] and wait for a re-create (whose changed id
    * then restarts delivery, the documented at-least-once path). A
    * directory that EXISTS with no visible manifest is a listing blip
    * or a mid-create window: hold at lastHead — persisting (0, None)
    * here would regress the checkpoint to version 0 and permanently
    * downgrade it to a LEGACY checkpoint (generation detection
    * disabled), and a strict stream would die on a pure blip. */
  private def headState(): (Long, Option[String]) = headLock.synchronized {
    graft.format.ManifestCache.latest(fs, qualDir, ttlMs = 0L) match {
      case Some(m) =>
        val h = (m.version, m.properties.get(GraftFormat.TableIdProp))
        // observations are serialized (headLock), so a CHANGED id is
        // authoritative — the read that produced it started after the
        // re-create/restore. Within a generation the version still
        // maxes: a PARTIAL listing (not a stale thread — those cannot
        // exist under the lock) could report a regressed head, and the
        // strict from > head gate would kill a healthy query on it.
        lastHead =
          if (h._2 == lastHead._2) (math.max(h._1, lastHead._1), h._2)
          else h
        lastHead
      case None =>
        if ((expectedTableId.isDefined || failOnLostHistory) &&
            !fs.exists(qualDir))
          throw new IllegalStateException(
            s"[GRAFT_STREAM_LOST_HISTORY] ${table.name()}'s directory " +
              s"$qualDir is gone: the table was dropped. Restart from a " +
              "fresh checkpoint once it is re-created, or unset " +
              "failOnLostHistory / expected_table_id to wait for the " +
              "new generation.")
        lastHead
    }
  }

  /** True when the checkpointed offset and the observed current id
    * belong to different histories (drop + re-create). Detection needs
    * BOTH ids: legacy checkpoints and pre-property tables skip it
    * (version arithmetic remains their only guard). Callers read
    * [[headState]] ONCE and pass its id in, so the id the check
    * compared is the id the error names and the end offset carries. */
  private def generationChanged(start: GraftOffset,
      cur: Option[String]): Boolean =
    (start.tableId, cur) match {
      case (Some(s), Some(c)) => s != c
      case _ => false
    }

  private def lostGenerationError(start: GraftOffset,
      cur: Option[String]): Nothing =
    throw new IllegalStateException(
      s"[GRAFT_STREAM_LOST_HISTORY] ${table.name()} was dropped and " +
        s"re-created: checkpoint generation ${start.tableId.getOrElse("?")} " +
        s"does not match the table's current generation " +
        s"${cur.getOrElse("?")}. Restart from a fresh checkpoint, or " +
        "unset failOnLostHistory to stream the new table generation " +
        "from the beginning.")

  /** `.option("expected_table_id", id)` on a STREAM pins the generation
    * unconditionally (the batch read option's analog) — enforced here
    * because stream planning never passes through GraftScan's gate. */
  private val expectedTableId: Option[String] = options.get("expected_table_id")

  private def checkExpectedTableId(cur: Option[String]): Unit =
    expectedTableId.foreach { want =>
      if (!cur.contains(want)) throw new IllegalStateException(
        s"[GRAFT_STREAM_LOST_HISTORY] expected_table_id $want does not " +
          s"match the current generation ${cur.getOrElse("<none>")} of " +
          s"${table.name()}: the table was dropped and re-created (or " +
          "predates generation ids). Restart from a fresh checkpoint " +
          "against the new generation and bookmark its graft.table_id.")
    }

  override def initialOffset(): Offset = GraftOffset(0L, headState()._2)

  override def latestOffset(): Offset = {
    val (head, id) = headState()
    GraftOffset(head, id)
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def reportLatestOffset(): Offset = latestOffset()

  /** Trigger.AvailableNow pins the drain target here, so versions
    * committed after the stream starts wait for the next run. */
  // volatile: written by prepareForTriggerAvailableNow and read by
  // latestOffset on different driver threads (same threading model
  // that puts lastHead under headLock); without the fence the
  // microbatch thread could read a stale None and drain past the pin
  @volatile private var availableTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableTarget = Some(headState()._1)

  /** Admission control: cap a batch at `maxVersionsPerTrigger` manifest
    * versions past the start offset; the engine keeps triggering until
    * the backlog (or the AvailableNow target) drains. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val (head, cur) = headState()
    val startOff = start.asInstanceOf[GraftOffset]
    checkExpectedTableId(cur)
    // a changed generation id is DEFINITIVE drop + re-create evidence —
    // caught even when the new history has reached or passed the
    // checkpoint version, where every version-arithmetic check passes.
    // Strict mode fails typed; default mode restarts delivery from the
    // beginning of the new history (at-least-once, never loss).
    val genChanged = generationChanged(startOff, cur)
    if (genChanged && failOnLostHistory) lostGenerationError(startOff, cur)
    val from = if (genChanged) 0L else startOff.version
    // a checkpoint AHEAD of current history means the table was dropped
    // and re-created (or restored): the planned window would be empty
    // (to <= from), the checkpoint would silently regress, and the
    // recreated table's base rows would never be delivered. Strict mode
    // must fail here — planInputPartitions never sees the empty batch.
    // (Kafka's failOnDataLoss fails out-of-range offsets both ways.
    // Version arithmetic is the only guard for legacy checkpoints
    // without a generation id; the id check above subsumes it
    // otherwise.)
    if (failOnLostHistory && from > head)
      throw new IllegalStateException(
        s"[GRAFT_STREAM_LOST_HISTORY] checkpoint start version $from of " +
          s"${table.name()} is ahead of current history (latest $head): " +
          "the table was dropped and re-created or restored. Restart " +
          "from a fresh checkpoint, or unset failOnLostHistory to " +
          "resume against the new table generation.")
    val ceiling = availableTarget.fold(head)(math.min(head, _))
    GraftOffset(maxVersionsPerTrigger
      .fold(ceiling)(m => math.min(ceiling, from + m)), cur)
  }

  /** Inverse of [[GraftOffset.json]]'s escaping: left-to-right, so a
    * backslash-run followed by an escape never mis-pairs. Unknown
    * single-char escapes decode to the char itself (the escaper only
    * emits \\, \" and \u; leniency covers hand-edited checkpoints). */
  private def unescapeJsonString(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          // the hex guard keeps the leniency contract: \uZZZZ in a
          // hand-edited checkpoint decodes as a literal 'u' below
          // instead of crashing the restart with NumberFormatException
          case 'u' if i + 5 < s.length && s.substring(i + 2, i + 6)
              .forall(c => Character.digit(c, 16) >= 0) =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case o =>
            sb.append(o)
            i += 2
        }
      } else {
        sb.append(c)
        i += 1
      }
    }
    sb.toString
  }

  override def deserializeOffset(json: String): Offset = {
    // current offsets are {"version":N,"table_id":"..."}; checkpoints
    // from earlier builds are {"version":N} or a bare number — parse
    // leniently (a digits-only strip would swallow the id's hex digits)
    val version = """"version"\s*:\s*(\d+)""".r.findFirstMatchIn(json)
      .map(_.group(1).toLong)
    // the value grammar mirrors json()'s escaping: \", \\ and \uXXXX
    // stay part of the id (a bare [^"]+ would truncate at an escaped
    // quote and fabricate a permanent generation mismatch)
    val id = """"table_id"\s*:\s*"((?:[^"\\]|\\.)+)"""".r
      .findFirstMatchIn(json)
      .map(m => unescapeJsonString(m.group(1)))
    version match {
      case Some(v) => GraftOffset(v, id)
      case None =>
        val v = json.replaceAll("[^0-9]", "")
        GraftOffset(if (v.isEmpty) 0L else v.toLong)
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val startOff = start.asInstanceOf[GraftOffset]
    val endOff = end.asInstanceOf[GraftOffset]
    val to = endOff.version
    val cur = headState()._2
    checkExpectedTableId(cur)
    // generation re-check (latestOffset already gated, but AvailableNow
    // replays planInputPartitions on restart without re-consulting it):
    // strict fails typed, default restarts from the new history's start
    val genChanged = generationChanged(startOff, cur)
    if (genChanged && failOnLostHistory) lostGenerationError(startOff, cur)
    val from = if (genChanged) 0L else startOff.version
    // default mode: an empty or regressed window (restart replay of a
    // committed batch, dropped-and-recreated table) plans nothing and
    // needs no listing — only the strict gate below must order the
    // listing before the empty-window return
    if (!failOnLostHistory && to <= from) return Array.empty
    // an EMPTY listing while the engine holds an end offset > 0 is
    // affirmatively inconsistent — a committed history always retains
    // its head (vacuum never deletes it) — so it is a transient listing
    // blip or a concurrent drop, never vacuum evidence. Planning from
    // the construction pin here could deliver a DEAD generation's
    // files; retry briefly, then fail honestly in BOTH modes (a
    // restart re-plans the same [from, to] batch — at-least-once is
    // preserved; the strict vacuum gate below must not fire on this).
    var versions = GraftFormat.listVersions(fs, table.dir)
    var retries = 0
    while (versions.isEmpty && to > 0 && retries < 3) {
      Thread.sleep(50L << retries)
      versions = GraftFormat.listVersions(fs, table.dir)
      retries += 1
    }
    if (versions.isEmpty && to > 0)
      throw new IllegalStateException(
        s"[GRAFT_STREAM_UNLISTABLE_HISTORY] no manifest versions of " +
          s"${table.name()} are visible while batch [$from, $to] was " +
          "being planned: a transient listing failure, or the table " +
          "was concurrently dropped. Restarting the query re-plans " +
          "this batch; if the table was dropped, restart from a fresh " +
          "checkpoint once it is re-created.")
    // from == 0 is a fresh checkpoint (the whole snapshot IS the
    // correct first delivery); any other start version missing from
    // history means vacuum outran this stream's cadence (or the table
    // was replaced). Checked BEFORE the empty-window return so a
    // recreated table cannot slip past as an empty batch, and the SAME
    // listing feeds the walk below — a vacuum landing between two
    // listings must not flip the walk's from-missing branch after the
    // gate passed (TOCTOU: strict mode would silently re-deliver).
    // a listing that misses `from` is vacuum evidence only if the
    // manifest FILE is gone: a partial-listing blip can hide a
    // still-existing manifest, and killing a healthy strict query with
    // a retention remediation on a blip is the failure mode the
    // UNLISTABLE gate above closes for empty listings. A vacuum
    // landing between this probe and the walk still surfaces typed
    // via LostHistoryDuringWalk (the walk re-reads pinned manifests).
    val fromListed = from <= 0 || versions.contains(from)
    // the probe must hit the FILESYSTEM, not the pinned manifest cache:
    // the pinned tier is immutable/no-TTL, so a warm cache would answer
    // for a genuinely vacuumed manifest and make strict-mode semantics
    // depend on cache temperature (pass until a driver restart, then
    // fail typed on the same checkpoint)
    val fromOnDisk = fromListed ||
      fs.exists(GraftFormat.manifestPath(table.dir, from))
    if (failOnLostHistory && !fromOnDisk)
      throw new IllegalStateException(
        s"[GRAFT_STREAM_LOST_HISTORY] checkpoint start version $from of " +
          s"${table.name()} is no longer in the manifest history " +
          "(vacuumed); continuing would re-deliver the whole current " +
          "snapshot (at-least-once). Raise vacuum retention " +
          "(keep_versions / older_than_ms / min_versions_retained), or " +
          "unset failOnLostHistory to accept the re-delivery.")
    if (to <= from) return Array.empty
    val endManifest =
      // mid-trigger drop + re-create (observed id ≠ checkpoint id):
      // plan the NEW history (from = 0 above) — at `to` if it already
      // reached it, else at its head. The UNLISTABLE gate above
      // guarantees the listing is nonempty here.
      if (genChanged)
        GraftFormat.readManifest(fs, table.dir,
          if (versions.contains(to)) to else versions.last)
      else if (table.manifest.version == to && endOff.tableId.forall(id =>
        table.manifest.properties.get(GraftFormat.TableIdProp).contains(id)))
        // the pin IS the batch end (same version, same generation) —
        // manifests are immutable, so any listing gap is immaterial
        table.manifest
      else
        // generation-checked pinned read, on the LISTED path too: a
        // drop + re-create landing between headState's read (cur) and
        // the listing above can make the NEW history reach `to`, so a
        // raw readManifest would silently plan the new generation
        // under the old checkpoint's offsets — excluding its base
        // rows as already-delivered. And when the listing MISSES `to`
        // (partial-listing blip, or a vacuum/drop racing the plan),
        // this must never fall back to the construction pin: after a
        // mid-query drop + re-create the pin names the DEAD
        // generation's files. Legacy checkpoints (no id) keep version
        // arithmetic as their only guard, as everywhere else.
        // Residual: a warm pinned-cache hit for the checkpoint's OWN
        // generation can mask a drop + re-create landing after
        // headState's read in this same trigger — executors then fail
        // on the deleted files (noisy and safe, but untyped). Closing
        // it would need per-read revalidation; the next restart
        // resolves the generation typed.
        try graft.format.ManifestCache.readPinned(fs, table.dir, to,
          expectedId = endOff.tableId)
        catch {
          case e: graft.format.ManifestCache.WrongGeneration =>
            if (failOnLostHistory) lostGenerationError(startOff, e.got)
            // default mode: deliver nothing; the NEXT trigger observes
            // the changed id and restarts delivery from the new
            // history's start (the documented at-least-once path)
            else return Array.empty
          case e: java.io.FileNotFoundException =>
            // the batch's end manifest itself is gone: it cannot be
            // planned faithfully in ANY mode (default's usual degrade
            // — redeliver endManifest whole — needs endManifest).
            // Restarting re-plans against a live head.
            throw new IllegalStateException(
              s"[GRAFT_STREAM_LOST_HISTORY] manifest $to of " +
                s"${table.name()} vanished while batch [$from, $to] " +
                "was being planned (a vacuum or drop raced the " +
                "trigger). Restart the query to re-plan from a live " +
                "head; raise vacuum retention if this recurs.", e)
        }
    // Data-neutral Compact commits are excluded (their fragments carry
    // only already-streamed rows; re-delivering would duplicate). A
    // compact that consumed a not-yet-streamed append keeps its outputs
    // deliverable — at-least-once beats silent loss — and vacuumed
    // history degrades the same direction. Shared with the batch
    // `start_version` incremental read (GraftFormat.excludedAsOf).
    // a vacuum landing AFTER the gate's listing but before the walk's
    // manifest reads surfaces as LostHistoryDuringWalk: strict mode
    // keeps its typed-error contract (not a raw FileNotFoundException),
    // default mode degrades to the same at-least-once re-delivery a
    // vacuum landing before the listing would have produced
    // the walk itself runs over the DENSE (from, end] version range
    // internally (see excludedAsOf): the listing passed here feeds
    // only the from-membership gate, pinned by this trigger's own
    // observation so a racing vacuum cannot flip that branch mid-plan.
    // When the listing missed `from` but the disk probe found it (a
    // partial-listing blip), the probe result is folded in — otherwise
    // the walk would silently degrade a STRICT stream to full
    // redelivery right after its gate passed
    val excluded =
      try GraftFormat.excludedAsOf(fs, table.dir, from, endManifest,
        if (!fromListed && fromOnDisk) versions :+ from
        else versions)
      catch {
        case e: GraftFormat.LostHistoryDuringWalk =>
          // the remediation differs by cause: vacuum → raise retention;
          // drop + re-create (WrongGeneration) → retention is
          // irrelevant, the checkpoint must be restarted
          if (failOnLostHistory) throw new IllegalStateException(
            if (e.getCause.isInstanceOf[
                graft.format.ManifestCache.WrongGeneration])
              s"[GRAFT_STREAM_LOST_HISTORY] ${table.name()} was dropped " +
                s"and re-created while batch [$from, $to] was being " +
                "planned; continuing would re-deliver the whole new " +
                "generation (at-least-once). Restart from a fresh " +
                "checkpoint, or unset failOnLostHistory to accept the " +
                "re-delivery."
            else
              s"[GRAFT_STREAM_LOST_HISTORY] manifest history of " +
                s"${table.name()} was vacuumed while batch [$from, $to] " +
                "was being planned; continuing would re-deliver the whole " +
                "current snapshot (at-least-once). Raise vacuum retention " +
                "(keep_versions / older_than_ms / min_versions_retained), " +
                "or unset failOnLostHistory to accept the re-delivery.", e)
          else Set.empty[Int]
      }
    endManifest.fragments
      .filterNot(f => excluded.contains(f.id))
      .map { f =>
        GraftFragmentPartition(
          fragId = f.id,
          absPath = new org.apache.hadoop.fs.Path(qualDir, f.path).toString,
          // manifest-served size; only legacy v1 manifests (sizeBytes=0)
          // fall back to a driver-side stat
          fileSize =
            if (f.sizeBytes > 0) f.sizeBytes
            else fs.getFileStatus(
              new org.apache.hadoop.fs.Path(qualDir, f.path)).getLen,
          // streams see the fragment as appended (no deletion vector):
          // deletes are table-state, not stream events
          deletionAbsPath = None,
          limit = None): InputPartition
      }.toArray
  }

  override def createReaderFactory():
      org.apache.spark.sql.connector.read.PartitionReaderFactory = {
    import org.apache.spark.sql.{GraftShim, SparkSession}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = SparkSession.active
    val dataCols = table.dataSchema
    val parquetSchema = StructType(dataCols.fields :+
      StructField(GraftShim.rowIndexColumnName, LongType, nullable = true))
    val hadoopConf = spark.sessionState.newHadoopConf()
    val readFunc = GraftShim.parquetReaderFunc(
      spark, dataCols, parquetSchema, Seq.empty, hadoopConf)
    val specs: Seq[graft.connector.ProjSpec] =
      dataCols.fields.toSeq.zipWithIndex.map { case (f, i) =>
        graft.connector.NormalField(i, f.dataType.json, f.nullable)
      }
    new graft.connector.GraftReaderFactory(
      readFunc, dataCols.length, specs, countStar = false,
      graft.connector.SharedConf.broadcast(spark.sparkContext, hadoopConf))
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
