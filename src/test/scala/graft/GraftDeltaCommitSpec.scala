package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.format.GraftFormat
import graft.format.GraftFormat._

/** O(delta) manifest commits (format_version 4, r14 VERDICT #2):
  * versions between full checkpoints store only the changed fragments;
  * readers resolve latest = checkpoint + deltas. Reference analog:
  * Lance `_transactions/<n>-<uuid>.txn` (LanceMetadata.java:1368-1428).
  * CAS, crash atomicity and the version listing are untouched — the
  * stored file per version just got smaller. */
class GraftDeltaCommitSpec extends AnyFunSuite {

  private def freshFs(every: Int = GraftFormat.DefaultCheckpointEvery)
      : FileSystem = {
    val conf = new Configuration()
    conf.setBoolean("fs.file.impl.disable.cache", true)
    conf.setInt(GraftFormat.CheckpointEveryKey, every)
    FileSystem.getLocal(conf)
  }

  private val fs: FileSystem = freshFs()

  private def tmp(): Path = new Path(TestSpark.tempDir("delta").toUri)

  private val schemaJson = """{"type":"struct","fields":[]}"""

  private def frag(id: Int, rows: Long = 100L): FragmentMeta =
    FragmentMeta(id, s"data/f$id.parquet", rows, None, 0L, 1000L + id,
      Map("k" -> ColStats(Some(id.toString), Some((id + 9).toString), 0)))

  private def create(fsx: FileSystem, dir: Path, nFrags: Int): Manifest = {
    val m = Manifest(1L, schemaJson, (0 until nFrags).map(frag(_)),
      nFrags - 1, 1000L, "Create", GraftFormat.withTableId(Map.empty))
    GraftFormat.commit(fsx, dir, m)
    m
  }

  test("append chain stores deltas between checkpoints; every version " +
      "resolves to the exact full manifest") {
    val dir = tmp()
    var m = create(fs, dir, 40)
    val expected = scala.collection.mutable.Map(1L -> m)
    (2L to 10L).foreach { v =>
      val base = m
      m = m.copy(version = v,
        fragments = m.fragments :+ frag(m.maxFragmentId + 1),
        maxFragmentId = m.maxFragmentId + 1,
        createdAtMs = 1000L * v, operation = "Append")
      GraftFormat.commit(fs, dir, m, base = Some(base))
      expected(v) = m
    }
    // v1 is the checkpoint; 2..10 are deltas (cadence 16 not yet hit)
    assert(GraftFormat.isCheckpoint(fs, dir, 1L))
    (2L to 10L).foreach(v => assert(!GraftFormat.isCheckpoint(fs, dir, v),
      s"version $v should be a delta"))
    // deltas are O(changed): far smaller than the growing full manifest
    val full1 = fs.getFileStatus(GraftFormat.manifestPath(dir, 1L)).getLen
    val d10 = fs.getFileStatus(GraftFormat.manifestPath(dir, 10L)).getLen
    assert(d10 < full1, s"delta ($d10 B) not smaller than checkpoint ($full1 B)")
    // every version resolves exactly (time travel through the chain)
    (1L to 10L).foreach { v =>
      assert(GraftFormat.readManifest(fs, dir, v) == expected(v),
        s"version $v did not resolve to the committed manifest")
    }
  }

  test("checkpoint-delta sidecars (r15 VERDICT #6): written exactly at " +
      "delta-representable rollovers, resolve the checkpoint O(delta) " +
      "for a reader holding version-1, and fall back when deleted") {
    val fsx = freshFs(every = 4)
    val dir = tmp()
    // enough fragments that O(table) and O(delta) separate clearly
    // (records carry fixed schema/props/gzip overhead; BENCH_META
    // certifies the real separation at 10⁵: 609 B vs 2.6 MB)
    var m = create(fsx, dir, 400)
    (2L to 9L).foreach { v =>
      val base = m
      m = m.copy(version = v,
        fragments = m.fragments :+ frag(m.maxFragmentId + 1),
        maxFragmentId = m.maxFragmentId + 1,
        createdAtMs = 1000L * v, operation = "Append")
      GraftFormat.commit(fsx, dir, m, base = Some(base))
    }
    // cadence 4 from a v1 checkpoint: v5 and v9 are rollover checkpoints
    // (materialized out-of-band — quiesce before classifying kinds)
    assert(GraftFormat.awaitMaterializations(), "materialization stalled")
    (1L to 9L).foreach { v =>
      val isCkpt = GraftFormat.isCheckpoint(fsx, dir, v)
      val hasSidecar = fsx.exists(GraftFormat.checkpointDeltaPath(dir, v))
      assert(isCkpt == Set(1L, 5L, 9L).contains(v), s"kind at $v")
      // v1 (Create, no base) gets no sidecar; rollovers do
      assert(hasSidecar == Set(5L, 9L).contains(v), s"sidecar at $v")
    }
    // the sidecar is O(delta): far smaller than the checkpoint beside it
    val ckptLen = fsx.getFileStatus(GraftFormat.manifestPath(dir, 9L)).getLen
    val scLen =
      fsx.getFileStatus(GraftFormat.checkpointDeltaPath(dir, 9L)).getLen
    assert(scLen < ckptLen / 4,
      s"sidecar $scLen B not O(delta) vs checkpoint $ckptLen B")
    // continuous reader: resolve v8 (pins it), then resolve the v9
    // rollover — the sidecar path must serve it byte-cheaply and
    // EXACTLY (same resolved content as the stored checkpoint)
    graft.format.ManifestCache.clearAll()
    val v8 = GraftFormat.readManifest(fsx, dir, 8L)
    assert(v8.version == 8L)
    val b0 = GraftFormat.versionBytesRead.get()
    val v9 = GraftFormat.readManifest(fsx, dir, 9L)
    val sidecarBytes = GraftFormat.versionBytesRead.get() - b0
    assert(v9 == m, "sidecar fast path resolved different content")
    assert(sidecarBytes < ckptLen,
      s"rollover resolve read $sidecarBytes B — the O(table) checkpoint, " +
        "not the O(delta) sidecar")
    // deleted sidecar: the full record is the always-correct fallback
    graft.format.ManifestCache.clearAll()
    fsx.delete(GraftFormat.checkpointDeltaPath(dir, 9L), false)
    GraftFormat.readManifest(fsx, dir, 8L) // re-pin the reader state
    assert(GraftFormat.readManifest(fsx, dir, 9L) == m,
      "fallback after sidecar deletion must read the checkpoint")
  }

  test("a lagged reader CROSSES a checkpoint boundary backward via the " +
      "sidecar: resolving a head above a rollover from a pin below it " +
      "reads only O(delta) records, with the full-record fallback intact") {
    val fsx = freshFs(every = 4)
    val dir = tmp()
    var m = create(fsx, dir, 400) // v1 checkpoint
    val manifests = scala.collection.mutable.Map(1L -> m)
    (2L to 7L).foreach { v =>
      val base = m
      m = m.copy(version = v,
        fragments = m.fragments :+ frag(m.maxFragmentId + 1),
        maxFragmentId = m.maxFragmentId + 1,
        createdAtMs = 1000L * v, operation = "Append")
      GraftFormat.commit(fsx, dir, m, base = Some(base))
      manifests(v) = m
    }
    // cadence 4: v5 is the rollover checkpoint; the reader last synced
    // v4 (below the boundary) and now resolves v7 (above it, depth 2).
    // Rollover checkpoints materialize OUT-OF-BAND (r16 VERDICT #1) —
    // quiesce before classifying the record kind.
    assert(GraftFormat.awaitMaterializations(), "materialization stalled")
    assert(GraftFormat.isCheckpoint(fsx, dir, 5L))
    graft.format.ManifestCache.clearAll()
    assert(GraftFormat.readManifest(fsx, dir, 4L) == manifests(4L))
    val ckptLen = fsx.getFileStatus(GraftFormat.manifestPath(dir, 5L)).getLen
    val b0 = GraftFormat.versionBytesRead.get()
    val v7 = GraftFormat.readManifest(fsx, dir, 7L)
    val crossedBytes = GraftFormat.versionBytesRead.get() - b0
    assert(v7 == manifests(7L), "crossed resolve returned wrong content")
    assert(crossedBytes < ckptLen,
      s"crossing read $crossedBytes B >= the $ckptLen B checkpoint — " +
        "the walk paid the O(table) record despite a pin below the boundary")
    // fallback: with the sidecar gone, the same lagged resolve reads the
    // full checkpoint and still resolves exactly
    fsx.delete(GraftFormat.checkpointDeltaPath(dir, 5L), false)
    graft.format.ManifestCache.clearAll()
    assert(GraftFormat.readManifest(fsx, dir, 4L) == manifests(4L))
    assert(GraftFormat.readManifest(fsx, dir, 7L) == manifests(7L),
      "fallback resolve after sidecar deletion must still be exact")
  }

  test("checkpoint cadence: the chain re-checkpoints every N versions") {
    val fsx = freshFs(every = 4)
    val dir = tmp()
    var m = create(fsx, dir, 2)
    (2L to 12L).foreach { v =>
      val base = m
      m = m.copy(version = v,
        fragments = m.fragments :+ frag(m.maxFragmentId + 1),
        maxFragmentId = m.maxFragmentId + 1,
        createdAtMs = 1000L * v, operation = "Append")
      GraftFormat.commit(fsx, dir, m, base = Some(base))
    }
    // depth cycles 0,1,2,3 -> checkpoint: v1 full, v2-v4 deltas, v5 full...
    // (rollover checkpoints land out-of-band — quiesce first)
    assert(GraftFormat.awaitMaterializations(), "materialization stalled")
    val kinds = (1L to 12L).map(v => GraftFormat.isCheckpoint(fsx, dir, v))
    assert(kinds == Seq(true, false, false, false, true, false, false,
      false, true, false, false, false))
    // cold resolution from raw files only (fresh depth state lives in
    // the same process, but the read path never uses it)
    val head = GraftFormat.readManifest(fsx, dir, 12L)
    assert(head.fragments.size == 13 && head.version == 12L)
  }

  test("update/remove of existing fragments rides a delta, in place") {
    val dir = tmp()
    val m1 = create(fs, dir, 5)
    // fragment 2 gains a deletion vector; fragment 0 is removed
    val m2 = m1.copy(version = 2L,
      fragments = m1.fragments.filterNot(_.id == 0).map {
        case f if f.id == 2 =>
          f.copy(deletionPath = Some("_deletions/x.json"), deletedCount = 3L)
        case f => f
      },
      createdAtMs = 2000L, operation = "Update")
    GraftFormat.commit(fs, dir, m2, base = Some(m1))
    assert(!GraftFormat.isCheckpoint(fs, dir, 2L))
    assert(GraftFormat.readManifest(fs, dir, 2L) == m2)
  }

  test("non-delta-representable commits fall back to full manifests: " +
      "reorders, half-the-table rewrites, missing base") {
    val dir = tmp()
    val m1 = create(fs, dir, 20)
    // reorder (Bucketize shape): survivors out of base order
    val m2 = m1.copy(version = 2L, fragments = m1.fragments.reverse,
      createdAtMs = 2000L, operation = "Bucketize")
    GraftFormat.commit(fs, dir, m2, base = Some(m1))
    assert(GraftFormat.isCheckpoint(fs, dir, 2L))
    assert(GraftFormat.readManifest(fs, dir, 2L) == m2)
    // most-of-the-table change: delta would be no smaller
    val m3 = m2.copy(version = 3L,
      fragments = m2.fragments.map(f => f.copy(rowCount = f.rowCount + 1)),
      createdAtMs = 3000L, operation = "Update")
    GraftFormat.commit(fs, dir, m3, base = Some(m2))
    assert(GraftFormat.isCheckpoint(fs, dir, 3L))
    // no base passed: always full, always correct
    val m4 = m3.copy(version = 4L,
      fragments = m3.fragments :+ frag(100),
      maxFragmentId = 100, createdAtMs = 4000L, operation = "Append")
    GraftFormat.commit(fs, dir, m4)
    assert(GraftFormat.isCheckpoint(fs, dir, 4L))
    assert(GraftFormat.readManifest(fs, dir, 4L) == m4)
  }

  test("format_version <= 3 tables never write deltas") {
    val dir = tmp()
    val props = GraftFormat.withTableId(
      Map(GraftFormat.FormatVersionProp -> "3"))
    var m = Manifest(1L, schemaJson, Seq(frag(0)), 0, 1000L, "Create", props)
    GraftFormat.commit(fs, dir, m)
    (2L to 5L).foreach { v =>
      val base = m
      m = m.copy(version = v, fragments = m.fragments :+ frag(v.toInt),
        maxFragmentId = v.toInt, createdAtMs = 1000L * v, operation = "Append")
      GraftFormat.commit(fs, dir, m, base = Some(base))
    }
    (1L to 5L).foreach(v => assert(GraftFormat.isCheckpoint(fs, dir, v),
      s"v3-pinned table wrote a delta at version $v"))
  }

  test("commitWithRetry threads the base: steady appends store deltas") {
    val dir = tmp()
    create(fs, dir, 3)
    (2L to 6L).foreach { _ =>
      GraftFormat.commitWithRetry(fs, dir) { latestOpt =>
        val latest = latestOpt.get
        latest.copy(version = latest.version + 1,
          fragments = latest.fragments :+ frag(latest.maxFragmentId + 1),
          maxFragmentId = latest.maxFragmentId + 1,
          createdAtMs = 1000L * (latest.version + 1), operation = "Append")
      }
    }
    (2L to 6L).foreach(v => assert(!GraftFormat.isCheckpoint(fs, dir, v)))
    assert(GraftFormat.readManifest(fs, dir, 6L).fragments.size == 8)
  }

  test("vacuum materializes the retention boundary as a checkpoint so " +
      "every retained version stays resolvable — retention stays EXACT") {
    import TestSpark._
    val fsx = freshFs(every = 4)
    val dir = tmp()
    var m = create(fsx, dir, 2)
    val committed = scala.collection.mutable.Map(1L -> m)
    (2L to 12L).foreach { v =>
      val base = m
      m = m.copy(version = v, fragments = m.fragments :+ frag(v.toInt + 10),
        maxFragmentId = v.toInt + 10, createdAtMs = 1000L * v,
        operation = "Append")
      GraftFormat.commit(fsx, dir, m, base = Some(base))
      committed(v) = m
    }
    // v11 and v12 are deltas (v9 full, v10-12 deltas): a keep-2 cut
    // strands v11 without its bases UNLESS the boundary is rewritten as
    // an equivalent full manifest before the bases are dropped
    assert(!GraftFormat.isCheckpoint(fsx, dir, 11L))
    assert(!GraftFormat.isCheckpoint(fsx, dir, 12L))
    val (dropped, _) = graft.ops.Maintenance.vacuum(spark, dir,
      keepVersions = 2, minVersionsRetained = 2)
    val retained = GraftFormat.listVersions(fsx, dir)
    assert(retained == Seq(11L, 12L),
      s"retention must stay exact (keep 2), got $retained")
    assert(dropped == 10)
    // the boundary was materialized: now a checkpoint, SAME content
    assert(GraftFormat.isCheckpoint(fsx, dir, 11L),
      "vacuum must materialize the boundary as a full manifest")
    assert(GraftFormat.readManifest(fsx, dir, 11L) == committed(11L))
    // and the head delta still resolves against it
    assert(!GraftFormat.isCheckpoint(fsx, dir, 12L))
    assert(GraftFormat.readManifest(fsx, dir, 12L) == committed(12L))
  }

  test("a racing vacuum that materializes the head and drops chain " +
      "bases mid-walk: resolve retries through the new boundary") {
    val dir = tmp()
    var m = create(fs, dir, 5)
    (2L to 3L).foreach { v =>
      val base = m
      m = m.copy(version = v,
        fragments = m.fragments :+ frag(m.maxFragmentId + 1),
        maxFragmentId = m.maxFragmentId + 1,
        createdAtMs = 1000L * v, operation = "Append")
      GraftFormat.commit(fs, dir, m, base = Some(base))
    }
    assert(!GraftFormat.isCheckpoint(fs, dir, 3L))
    // the record a reader decoded BEFORE the vacuum ran: v3 as a delta
    val prior = GraftFormat.readManifest(fs, dir, 2L)
    val staleHead = GraftFormat.computeDelta(prior, m, depth = 2).get
    // vacuum's sequence: materialize the retained boundary, THEN drop
    // the bases under it — mid-walk, the reader sees v2/v1 vanish
    GraftFormat.materializeCheckpoint(fs, dir, 3L)
    fs.delete(GraftFormat.manifestPath(dir, 1L), false)
    fs.delete(GraftFormat.manifestPath(dir, 2L), false)
    // the stale walk 404s on its base hop; the retry re-reads v3 —
    // now a checkpoint — and must return the exact same content
    assert(GraftFormat.resolveDelta(fs, dir, 3L, staleHead) == m,
      "a reader holding a pre-vacuum delta record must resolve through " +
        "the materialized boundary, not fail on a healthy retained version")
  }

  test("delta-chain resolution pins its checkpoint: a warm re-resolve " +
      "reads nothing from the chain's base") {
    val dir = tmp()
    var m = create(fs, dir, 5)
    val base1 = m
    m = m.copy(version = 2L,
      fragments = m.fragments :+ frag(m.maxFragmentId + 1),
      maxFragmentId = m.maxFragmentId + 1,
      createdAtMs = 2000L, operation = "Append")
    GraftFormat.commit(fs, dir, m, base = Some(base1))
    // cold resolve walks v2 (delta) -> v1 (checkpoint) and PINS v1
    assert(GraftFormat.readManifest(fs, dir, 2L) == m)
    // deleting v1's file proves the warm walk serves it from the pinned
    // cache (this on-disk state is unreachable outside a test — vacuum
    // materializes before it drops — which is what makes it a sharp
    // probe: any re-read of the base would throw)
    fs.delete(GraftFormat.manifestPath(dir, 1L), false)
    assert(GraftFormat.readManifest(fs, dir, 2L) == m,
      "the chain's checkpoint must be served from the pinned cache on " +
        "a warm re-resolve")
  }

  test("a reader lagged MULTIPLE cadences chains boundary crossings: " +
      "resolving a head above TWO rollovers from a pin below both reads " +
      "only O(delta) records (r16 VERDICT #5)") {
    val fsx = freshFs(every = 4)
    val dir = tmp()
    var m = create(fsx, dir, 400) // v1 checkpoint
    val manifests = scala.collection.mutable.Map(1L -> m)
    (2L to 11L).foreach { v =>
      val base = m
      m = m.copy(version = v,
        fragments = m.fragments :+ frag(m.maxFragmentId + 1),
        maxFragmentId = m.maxFragmentId + 1,
        createdAtMs = 1000L * v, operation = "Append")
      GraftFormat.commit(fsx, dir, m, base = Some(base))
      manifests(v) = m
    }
    // cadence 4: v5 and v9 are rollover checkpoints; the reader last
    // synced v4 — BELOW BOTH — and now resolves v11 (depth 2 above v9)
    assert(GraftFormat.awaitMaterializations(), "materialization stalled")
    assert(GraftFormat.isCheckpoint(fsx, dir, 5L) &&
      GraftFormat.isCheckpoint(fsx, dir, 9L))
    graft.format.ManifestCache.clearAll()
    assert(GraftFormat.readManifest(fsx, dir, 4L) == manifests(4L))
    val ckptLen = fsx.getFileStatus(GraftFormat.manifestPath(dir, 9L)).getLen
    val b0 = GraftFormat.versionBytesRead.get()
    val v11 = GraftFormat.readManifest(fsx, dir, 11L)
    val crossedBytes = GraftFormat.versionBytesRead.get() - b0
    assert(v11 == manifests(11L), "chained crossing resolved wrong content")
    assert(crossedBytes < ckptLen,
      s"2-boundary lagged resolve read $crossedBytes B >= the $ckptLen B " +
        "checkpoint — the crossings did not chain")
    // fallback: with the INNER sidecar gone the walk crosses v9, then
    // reads the v5 checkpoint — still exact
    fsx.delete(GraftFormat.checkpointDeltaPath(dir, 5L), false)
    graft.format.ManifestCache.clearAll()
    assert(GraftFormat.readManifest(fsx, dir, 4L) == manifests(4L))
    assert(GraftFormat.readManifest(fsx, dir, 11L) == manifests(11L),
      "fallback resolve with a missing inner sidecar must stay exact")
  }

  // ---- deferred checkpoint materialization (r16 VERDICT #1) ----

  private def freshFsDefer(every: Int, mode: String): FileSystem = {
    val conf = new Configuration()
    conf.setBoolean("fs.file.impl.disable.cache", true)
    conf.setInt(GraftFormat.CheckpointEveryKey, every)
    conf.set(GraftFormat.CheckpointMaterializeKey, mode)
    FileSystem.getLocal(conf)
  }

  private def appendChain(fsx: FileSystem, dir: Path, from: Manifest,
      to: Long): scala.collection.mutable.Map[Long, Manifest] = {
    var m = from
    val committed = scala.collection.mutable.Map(from.version -> from)
    ((from.version + 1) to to).foreach { v =>
      val base = m
      m = m.copy(version = v,
        fragments = m.fragments :+ frag(m.maxFragmentId + 1),
        maxFragmentId = m.maxFragmentId + 1,
        createdAtMs = 1000L * v, operation = "Append")
      GraftFormat.commit(fsx, dir, m, base = Some(base))
      committed(v) = m
    }
    committed
  }

  test("deferred rollover (missing-checkpoint window): the boundary " +
      "stores an O(delta) record + sidecar; cadence arithmetic is " +
      "unchanged; every version resolves exactly through the window") {
    val fsx = freshFsDefer(every = 4, mode = "manual") // window frozen open
    val dir = tmp()
    val committed = appendChain(fsx, dir, create(fsx, dir, 400), 12L)
    // v5 and v9 are cadence boundaries — in the window they are DELTAS
    // (commit paid O(delta), not the O(table) encode) with sidecars
    assert(!GraftFormat.isCheckpoint(fsx, dir, 5L),
      "deferred boundary must store a delta record")
    assert(!GraftFormat.isCheckpoint(fsx, dir, 9L))
    assert(fsx.exists(GraftFormat.checkpointDeltaPath(dir, 5L)) &&
      fsx.exists(GraftFormat.checkpointDeltaPath(dir, 9L)),
      "deferred boundaries still write their CDC sidecars")
    // the boundary record is O(delta)-sized, like any other delta
    val b5 = fsx.getFileStatus(GraftFormat.manifestPath(dir, 5L)).getLen
    val c1 = fsx.getFileStatus(GraftFormat.manifestPath(dir, 1L)).getLen
    assert(b5 < c1 / 4, s"boundary record $b5 B is not O(delta) vs $c1 B")
    // cadence arithmetic unchanged: v6 stamps depth 1 against the
    // logical checkpoint at v5 (not depth 5 against v1), so the NEXT
    // rollover still lands on cadence at v9 — asserted via the record
    // bytes (deltaJson stamps `"depth":N` in the envelope)
    val d6bytes = GraftFormat.readBytes(fsx, GraftFormat.manifestPath(dir, 6L))
    val d6json = new String(
      new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(d6bytes)).readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(d6json.contains("\"depth\":1"),
      "the commit after a deferred boundary must stamp depth 1")
    // every version — below, at, and above BOTH open windows — resolves
    // exactly from a cold cache (the walk descends past the boundaries)
    graft.format.ManifestCache.clearAll()
    (1L to 12L).foreach { v =>
      assert(GraftFormat.readManifest(fsx, dir, v) == committed(v),
        s"version $v did not resolve exactly through the open window")
    }
    // manual materialization closes the window with identical content
    GraftFormat.materializeCheckpoint(fsx, dir, 9L)
    assert(GraftFormat.isCheckpoint(fsx, dir, 9L))
    graft.format.ManifestCache.clearAll()
    (9L to 12L).foreach { v =>
      assert(GraftFormat.readManifest(fsx, dir, v) == committed(v),
        s"version $v changed across materialization")
    }
  }

  test("async mode: the committer materializes the rollover out-of-band " +
      "and a reader's walk repairs an orphaned boundary below the head") {
    val fsManual = freshFsDefer(every = 4, mode = "manual")
    val dir = tmp()
    // build the orphan: boundary v5 deferred and never materialized
    // (its 'committer' uses manual mode = died before the swap)
    val committed = appendChain(fsManual, dir, create(fsManual, dir, 400), 7L)
    assert(!GraftFormat.isCheckpoint(fsManual, dir, 5L))
    // a cold reader in ASYNC mode resolves the head: correct content
    // now, and the below-head depth-0 hop schedules its repair
    val fsAsync = freshFsDefer(every = 4, mode = "async")
    graft.format.ManifestCache.clearAll()
    assert(GraftFormat.readManifest(fsAsync, dir, 7L) == committed(7L))
    assert(GraftFormat.awaitMaterializations(), "repair stalled")
    assert(GraftFormat.isCheckpoint(fsAsync, dir, 5L),
      "the walk must repair an orphaned deferred boundary")
    assert(GraftFormat.readManifest(fsAsync, dir, 5L) == committed(5L))
    // and a fresh async committer defers + materializes its own rollover
    appendChain(fsAsync, dir, committed(7L), 9L)
    assert(GraftFormat.awaitMaterializations(), "materialization stalled")
    assert(GraftFormat.isCheckpoint(fsAsync, dir, 9L),
      "async committer must materialize its rollover out-of-band")
  }

  test("vacuum through an open deferral window: the retention boundary " +
      "materializes even when cadence checkpoints were never written") {
    import TestSpark._
    val fsx = freshFsDefer(every = 4, mode = "manual")
    val dir = tmp()
    val committed = appendChain(fsx, dir, create(fsx, dir, 5), 11L)
    // v5 and v9 are unmaterialized; cut retention to [10, 11] — the
    // boundary v10's chain descends through BOTH open windows to v1
    assert(!GraftFormat.isCheckpoint(fsx, dir, 5L) &&
      !GraftFormat.isCheckpoint(fsx, dir, 9L))
    val (dropped, _) = graft.ops.Maintenance.vacuum(spark, dir,
      keepVersions = 2, minVersionsRetained = 2,
      hadoopConf = fsx.getConf)
    assert(dropped == 9, s"expected 9 dropped, got $dropped")
    assert(GraftFormat.listVersions(fsx, dir) == Seq(10L, 11L))
    assert(GraftFormat.isCheckpoint(fsx, dir, 10L),
      "vacuum must materialize the retention boundary through the window")
    graft.format.ManifestCache.clearAll()
    assert(GraftFormat.readManifest(fsx, dir, 10L) == committed(10L))
    assert(GraftFormat.readManifest(fsx, dir, 11L) == committed(11L))
  }

  test("resurrection sweep: a version below a listing gap is deleted; " +
      "contiguous-suffix members and the head never are") {
    val fsx = freshFsDefer(every = 4, mode = "manual")
    val dir = tmp()
    appendChain(fsx, dir, create(fsx, dir, 5), 10L)
    // simulate the swap-vs-vacuum race's END STATE: a vacuum cut
    // versions 2..5 but a stale materializer write left version 1
    // behind (below the gap) — exactly what the post-swap sweep and
    // vacuum's below-floor sweep exist to remove
    (2L to 5L).foreach { v =>
      fsx.delete(GraftFormat.manifestPath(dir, v), false)
      val sc = GraftFormat.checkpointDeltaPath(dir, v)
      if (fsx.exists(sc)) fsx.delete(sc, false)
    }
    assert(GraftFormat.listVersions(fsx, dir) == (Seq(1L) ++ (6L to 10L)))
    // a member of the contiguous suffix is NOT an orphan (v+1 exists)
    GraftFormat.sweepIfOrphan(fsx, dir, 7L)
    assert(fsx.exists(GraftFormat.manifestPath(dir, 7L)),
      "sweep must never delete a contiguous-suffix member")
    // the head is NOT an orphan (nothing above it)
    GraftFormat.sweepIfOrphan(fsx, dir, 10L)
    assert(fsx.exists(GraftFormat.manifestPath(dir, 10L)),
      "sweep must never delete the head")
    // the below-gap orphan IS swept, sidecar and all
    GraftFormat.sweepIfOrphan(fsx, dir, 1L)
    assert(!fsx.exists(GraftFormat.manifestPath(dir, 1L)),
      "below-gap orphan must be swept")
    assert(GraftFormat.listVersions(fsx, dir) == (6L to 10L),
      "history must be a contiguous suffix after the sweep")
  }

  test("generation-guarded sweep (r17-close ADVICE): a resurrected " +
      "OLD-generation record above a re-created table's head never gets " +
      "the live head swept; a same-generation below-gap orphan still is") {
    val fsx = freshFsDefer(every = 4, mode = "manual")
    val dir = tmp()
    // generation A: versions 1..6; save v6's raw record bytes
    appendChain(fsx, dir, create(fsx, dir, 5), 6L)
    val oldGenV6 = GraftFormat.readBytes(fsx, GraftFormat.manifestPath(dir, 6L))
    // drop + re-create at the same path: generation B, versions 1..2
    (1L to 6L).foreach { v =>
      fsx.delete(GraftFormat.manifestPath(dir, v), false)
      val sc = GraftFormat.checkpointDeltaPath(dir, v)
      if (fsx.exists(sc)) fsx.delete(sc, false)
    }
    graft.format.ManifestCache.clearAll()
    appendChain(fsx, dir, create(fsx, dir, 3), 2L)
    // the documented materializer-vs-drop race's end state: gen A's v6
    // record resurrected ABOVE gen B's live head (v2)
    val out = fsx.create(GraftFormat.manifestPath(dir, 6L), true)
    try out.write(oldGenV6) finally out.close()
    assert(GraftFormat.listVersions(fsx, dir) == Seq(1L, 2L, 6L))
    // v2 satisfies the RAW gap condition (max 6 > 2, no v3) but is the
    // LIVE head of generation B — the generation check must refuse
    GraftFormat.sweepIfOrphan(fsx, dir, 2L)
    assert(fsx.exists(GraftFormat.manifestPath(dir, 2L)),
      "generation-blind sweep deleted a live committed version")
    // v1 is gen B's contiguous prefix under the same stale max — also kept
    GraftFormat.sweepIfOrphan(fsx, dir, 1L)
    assert(fsx.exists(GraftFormat.manifestPath(dir, 1L)))
    // the same shape WITHIN one generation still sweeps: resurrect gen
    // B's v1 below a genuine vacuum cut. Rebuild: gen B history 1..6,
    // vacuum-style delete of 2..5 leaves [1, 6] — same-gen gap at v1.
    val dir2 = tmp()
    appendChain(fsx, dir2, create(fsx, dir2, 3), 6L)
    (2L to 5L).foreach { v =>
      fsx.delete(GraftFormat.manifestPath(dir2, v), false)
      val sc = GraftFormat.checkpointDeltaPath(dir2, v)
      if (fsx.exists(sc)) fsx.delete(sc, false)
    }
    GraftFormat.sweepIfOrphan(fsx, dir2, 1L)
    assert(!fsx.exists(GraftFormat.manifestPath(dir2, 1L)),
      "same-generation below-gap orphan must still be swept")
  }

  test("property-only delta never swap-matches (r17-close ADVICE): an " +
      "ambiguous read-back with no fragment evidence is a lost race") {
    val fsx = freshFsDefer(every = 4, mode = "manual")
    val dir = tmp()
    // commits 2..4 append; commit 5 (the cadence boundary) changes ONLY
    // a property — its delta has empty upserts/removed, so the swap
    // equivalence check has no fragment paths to decide with
    var m = create(fsx, dir, 5)
    (2L to 4L).foreach { v =>
      val base = m
      m = m.copy(version = v,
        fragments = m.fragments :+ frag(m.maxFragmentId + 1),
        maxFragmentId = m.maxFragmentId + 1,
        createdAtMs = 1000L * v, operation = "Append")
      GraftFormat.commit(fsx, dir, m, base = Some(base))
    }
    val base = m
    m = m.copy(version = 5L, createdAtMs = 5000L, operation = "Append",
      properties = m.properties + ("owner" -> "us"))
    GraftFormat.commit(fsx, dir, m, base = Some(base))
    assert(!GraftFormat.isCheckpoint(fsx, dir, 5L),
      "setup: the property-only commit must have stored a DELTA record")
    val mine = GraftFormat.readBytes(fsx, GraftFormat.manifestPath(dir, 5L))
    // sanity: the stored record is a property-only delta, and the swap
    // to OUR OWN materialized full manifest must now read as NOT ours —
    // conservatively losing a race we might have won beats silently
    // dropping a racer's property change
    GraftFormat.materializeCheckpoint(fsx, dir, 5L)
    val disk = GraftFormat.readBytes(fsx, GraftFormat.manifestPath(dir, 5L))
    assert(!GraftFormat.swapEquivalent(mine, disk),
      "a property-only delta must never swap-match: no fragment evidence")
  }

  test("noSidecarAt negative cache expires (r17-close ADVICE): a probe " +
      "in the CAS-to-sidecar window must not disable the O(delta) fast " +
      "path forever") {
    val fsx = freshFs(every = 4)
    val dir = tmp()
    var m = create(fsx, dir, 400)
    val manifests = scala.collection.mutable.Map(1L -> m)
    (2L to 5L).foreach { v =>
      val base = m
      m = m.copy(version = v,
        fragments = m.fragments :+ frag(m.maxFragmentId + 1),
        maxFragmentId = m.maxFragmentId + 1,
        createdAtMs = 1000L * v, operation = "Append")
      GraftFormat.commit(fsx, dir, m, base = Some(base))
      manifests(v) = m
    }
    assert(GraftFormat.awaitMaterializations(), "materialization stalled")
    val sidecar = GraftFormat.checkpointDeltaPath(dir, 5L)
    assert(fsx.exists(sidecar), "v5 rollover must carry a sidecar")
    // simulate the race: hide the sidecar, resolve the rollover from a
    // pin below it — the fast path 404s and caches the negative
    val hidden = new Path(sidecar.getParent, sidecar.getName + ".hidden")
    fsx.rename(sidecar, hidden)
    graft.format.ManifestCache.clearAll()
    assert(GraftFormat.readManifest(fsx, dir, 4L) == manifests(4L))
    assert(GraftFormat.readManifest(fsx, dir, 5L) == manifests(5L))
    // the sidecar "lands milliseconds later"
    fsx.rename(hidden, sidecar)
    val ckptLen = fsx.getFileStatus(GraftFormat.manifestPath(dir, 5L)).getLen
    def rolloverBytes(): Long = {
      graft.format.ManifestCache.clearAll()
      assert(GraftFormat.readManifest(fsx, dir, 4L) == manifests(4L))
      val b0 = GraftFormat.versionBytesRead.get()
      assert(GraftFormat.readManifest(fsx, dir, 5L) == manifests(5L))
      GraftFormat.versionBytesRead.get() - b0
    }
    // within the TTL the cached negative still routes to the full
    // record (correct, just not O(delta))
    assert(rolloverBytes() >= ckptLen,
      "negative cache should still hold inside the TTL")
    // after expiry the fast path re-probes and finds the sidecar
    val saved = GraftFormat.NoSidecarTtlNanos
    try {
      GraftFormat.NoSidecarTtlNanos = 0L
      assert(rolloverBytes() < ckptLen,
        "expired negative must re-probe and take the O(delta) sidecar path")
    } finally GraftFormat.NoSidecarTtlNanos = saved
  }

  test("ambiguous-commit equivalence: a materialized swap of OUR record " +
      "reads as ours; a racer's same-version/same-ms record never does") {
    val fsx = freshFsDefer(every = 4, mode = "manual")
    def buildTo5(lastPath: String): (Path, Array[Byte]) = {
      val dir = tmp()
      // FIXED generation id + deterministic createdAtMs (1000*v): two
      // racing committers can collide on every identity header field —
      // only the staged fragment PATHS must decide
      var m = Manifest(1L, schemaJson, (0 until 5).map(frag(_)), 4, 1000L,
        "Create", Map(GraftFormat.TableIdProp -> "fixed-gen-id"))
      GraftFormat.commit(fsx, dir, m)
      (2L to 5L).foreach { v =>
        val base = m
        val path = if (v == 5L) lastPath else s"data/f${v + 100}.parquet"
        m = m.copy(version = v,
          fragments = m.fragments :+ frag(m.maxFragmentId + 1)
            .copy(path = path),
          maxFragmentId = m.maxFragmentId + 1,
          createdAtMs = 1000L * v, operation = "Append")
        GraftFormat.commit(fsx, dir, m, base = Some(base))
      }
      val deltaBytes =
        GraftFormat.readBytes(fsx, GraftFormat.manifestPath(dir, 5L))
      (dir, deltaBytes)
    }
    // OUR commit: boundary v5 deferred (record = delta bytes)
    val (dir, mine) = buildTo5("data/ours-uuid-1.parquet")
    // the swap replaces it with the content-equivalent full manifest
    GraftFormat.materializeCheckpoint(fsx, dir, 5L)
    val swapped = GraftFormat.readBytes(fsx, GraftFormat.manifestPath(dir, 5L))
    assert(GraftFormat.swapEquivalent(mine, swapped),
      "the materialized full manifest of OUR delta must read as ours")
    // a RACER with identical identity headers but its own staged file
    val (dir2, _) = buildTo5("data/racer-uuid-2.parquet")
    GraftFormat.materializeCheckpoint(fsx, dir2, 5L)
    val racer = GraftFormat.readBytes(fsx, GraftFormat.manifestPath(dir2, 5L))
    assert(!GraftFormat.swapEquivalent(mine, racer),
      "a racer's commit must never read as ours — that would report " +
        "success for rows that were never committed")
    // direction guard: full vs full / delta vs delta never match here
    assert(!GraftFormat.swapEquivalent(swapped, swapped.clone()),
      "byte-equality owns the full=full case; equivalence must not")
  }

  test("computeDelta/applyDelta invariants under random commit shapes") {
    val rnd = new scala.util.Random(7)
    var base = Manifest(1L, schemaJson, (0 until 20).map(frag(_)), 19,
      1000L, "Create", GraftFormat.withTableId(Map.empty))
    (1 to 50).foreach { i =>
      // random mutation preserving the delta-representable shape:
      // remove some, mutate some, append some
      val survivors = base.fragments.filter(_ => rnd.nextDouble() > 0.1)
        .map(f => if (rnd.nextDouble() < 0.2)
          f.copy(deletedCount = f.deletedCount + 1, rowCount = f.rowCount) else f)
      val news = (0 until rnd.nextInt(3))
        .map(j => frag(base.maxFragmentId + 1 + j))
      val m = base.copy(version = base.version + 1,
        fragments = survivors ++ news,
        maxFragmentId = base.maxFragmentId + news.size,
        createdAtMs = base.createdAtMs + 1000L,
        operation = if (news.nonEmpty) "Append" else "Update")
      GraftFormat.computeDelta(base, m, depth = 1) match {
        case Some(d) =>
          assert(GraftFormat.applyDelta(base, d) == m,
            s"round $i: applyDelta(base, computeDelta(base, m)) != m")
        case None => fail(s"round $i: representable shape not encoded")
      }
      base = m
    }
  }
}
