package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.format.GraftFormat
import graft.format.GraftFormat.{FragmentMeta, Manifest}

/** Model-based property for the provenance walk
  * ([[GraftFormat.excludedAsOf]]) that both the streaming source and
  * the batch `start_version` incremental read stand on. The
  * streaming×maintenance storm exercises ONE stochastic interleaving
  * per run; this property enumerates hundreds of random histories of
  * appends, partial compacts, overwrites, and vacuum-style history
  * truncation, and checks the walk's contract at every possible start
  * offset:
  *
  *  1. NO LOSS, always: every row appended inside the window that is
  *     still present in the end snapshot is delivered.
  *  2. EXACTLY-ONCE when clean: if the start version is still in
  *     history and no compact in the window consumed a fragment
  *     introduced inside the window, delivery is exactly the window's
  *     appends — no pre-window row reappears.
  *  3. Full re-delivery on lost history: a truncated (vacuumed) start
  *     version degrades to delivering the whole end snapshot — the
  *     documented at-least-once direction, never loss.
  */
class ProvenanceWalkPropertySpec extends AnyFunSuite {

  // cadence 3: random histories (3-11 versions) then cross checkpoint
  // rollovers routinely, so the property also covers the
  // checkpoint-delta SIDECAR path (r16) — commits write sidecars at
  // rollovers and the walk's predicted-checkpoint probe consumes them —
  // alongside plain delta records and full manifests
  private val fs: FileSystem = {
    val conf = new Configuration()
    conf.setInt(GraftFormat.CheckpointEveryKey, 3)
    // bypass Hadoop's FS cache (keyed on scheme+authority, NOT conf):
    // a cached instance would silently ignore the cadence-3 conf above
    // — or worse, leak cadence 3 into every other suite's getLocal
    conf.setBoolean("fs.file.impl.disable.cache", true)
    FileSystem.getLocal(conf)
  }
  private val schemaJson = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("k",
      org.apache.spark.sql.types.LongType))).json

  // ---------------------------------------------------------- model ops
  private sealed trait Op
  private case class Append(rows: Int) extends Op
  private case class Compact(seed: Long) extends Op // folds a random subset
  private case object Overwrite extends Op          // full replace, new rows
  private case object Truncate extends Op           // drop oldest half of history

  // the property body, parameterized by FILESYSTEM so the same model
  // runs against both checkpoint-materialization modes: "async" (the
  // default — background swaps race the walks, as production readers
  // see) and "manual" (every cadence boundary stays an OPEN deferral
  // window for the walk's whole lifetime — the crashed-committer
  // worst case held open deliberately)
  private def walkProperty(fs: FileSystem, runs: Int): Unit = {
    import org.scalacheck.{Gen, Prop, Test => SCTest}

    val genOp: Gen[Op] = Gen.frequency(
      6 -> Gen.chooseNum(1, 4).map(Append),
      3 -> Gen.long.map(Compact),
      1 -> Gen.const(Overwrite),
      1 -> Gen.const(Truncate))
    val genHistory: Gen[List[Op]] = for {
      n <- Gen.chooseNum(2, 10)
      ops <- Gen.listOfN(n, genOp)
      first <- Gen.chooseNum(1, 4).map(Append)
    } yield first :: ops

    val prop = Prop.forAll(genHistory) { ops =>
      val dir = fs.makeQualified(new Path(
        TestSpark.tempDir("graft-pwalk").toUri))
      // model state
      var nextRow = 0L
      var nextFrag = 0
      var version = 0L
      var live = Map.empty[Int, Set[Long]]        // fragId -> rows
      var introducedAt = Map.empty[Int, Long]     // fragId -> version
      var rowVersion = Map.empty[Long, Long]      // rowId -> appended version
      var remaining = Vector.empty[Long]          // versions still on disk
      var committed = Vector.empty[Long]
      // compacts: (version, consumed fragIds)
      var compacts = Vector.empty[(Long, Set[Int])]

      // base threaded like every production retry loop: eligible commits
      // store O(delta) records, so the property walks REAL mixed
      // delta/checkpoint histories (appends/compacts ride deltas,
      // overwrites fall back to full manifests)
      var prevManifest: Option[Manifest] = None
      // generation-stamped like every real history (withTableId at v1):
      // the id activates the pinned-cache serving and the sidecar write
      // inside commit/walk — id-less histories skip both paths
      val tableId = java.util.UUID.randomUUID().toString
      def commit(op: String): Unit = {
        version += 1
        val m = Manifest(version, schemaJson,
          live.toSeq.sortBy(_._1).map { case (id, rows) =>
            FragmentMeta(id, s"data/f$id.parquet", rows.size.toLong, None, 0L)
          },
          maxFragmentId = nextFrag, createdAtMs = System.currentTimeMillis(),
          operation = op,
          properties = Map(GraftFormat.TableIdProp -> tableId))
        GraftFormat.commit(fs, dir, m, base = prevManifest)
        prevManifest = Some(m)
        remaining :+= version
        committed :+= version
      }
      def newRows(n: Int, v: Long): Set[Long] = {
        val rows = (nextRow until nextRow + n).toSet
        nextRow += n
        rows.foreach(r => rowVersion += r -> v)
        rows
      }
      def addFragment(rows: Set[Long], v: Long): Unit = {
        live += nextFrag -> rows
        introducedAt += nextFrag -> v
        nextFrag += 1
      }

      try {
      ops.foreach {
        case Append(n) =>
          addFragment(newRows(n, version + 1), version + 1)
          commit("Append")
        case Compact(seed) if live.size >= 2 =>
          val rnd = new scala.util.Random(seed)
          val ids = live.keys.toSeq.sorted
          val k = 2 + rnd.nextInt(ids.size - 1) // fold 2..all fragments
          val picked = rnd.shuffle(ids).take(k).toSet
          val merged = picked.flatMap(live)
          live = live.view.filterKeys(!picked.contains(_)).toMap
          addFragment(merged, version + 1)
          compacts :+= (version + 1, picked)
          commit("Compact")
        case Compact(_) => // nothing to fold
        case Overwrite =>
          live = Map.empty
          addFragment(newRows(3, version + 1), version + 1)
          commit("Overwrite")
        case Truncate if remaining.size >= 2 =>
          val cut = remaining(remaining.size / 2)
          // vacuum's contract: the new oldest version is materialized
          // as a full manifest BEFORE its delta bases are dropped —
          // the property exercises the materialization path too
          GraftFormat.materializeCheckpoint(fs, dir, cut)
          remaining.filter(_ < cut).foreach { v =>
            fs.delete(new Path(GraftFormat.versionsDir(dir),
              s"$v.manifest.json"), false)
            // vacuum's contract: a dropped version's sidecar dies too
            fs.delete(GraftFormat.checkpointDeltaPath(dir, v), false)
          }
          remaining = remaining.filter(_ >= cut)
        case Truncate => // nothing to drop
      }

      // cold walks first: the commits above pinned every version, which
      // would route EVERY check through the cache; clearing here makes
      // the first from-walk read records/sidecars raw while later
      // from-walks re-hit what the walk itself re-pinned — both paths
      // covered within one history
      graft.format.ManifestCache.clearAll()
      val end = GraftFormat.readManifest(fs, dir, version)
      val endRows: Set[Long] = end.fragments.flatMap(f => live(f.id)).toSet

      val checks = (0L +: committed).distinct.map { from =>
        val excluded = GraftFormat.excludedAsOf(fs, dir, from, end)
        val delivered: Set[Long] = end.fragments
          .filterNot(f => excluded.contains(f.id)).flatMap(f => live(f.id)).toSet
        val windowRows =
          endRows.filter(r => rowVersion(r) > from && rowVersion(r) <= version)
        val lostHistory = from > 0 && !remaining.contains(from)
        // a compact in the window that consumed a fragment introduced
        // inside the window makes its output deliverable (documented
        // at-least-once direction)
        val tainted = compacts.exists { case (v, consumed) =>
          v > from && v <= version &&
            consumed.exists(id => introducedAt(id) > from)
        }
        val noLoss = Prop(windowRows.subsetOf(delivered)) :|
          s"LOST ROWS from=$from: ${windowRows -- delivered} (ops=$ops)"
        val exact =
          if (lostHistory) Prop(delivered == endRows) :|
            s"lost-history from=$from must deliver the whole snapshot " +
              s"(got ${delivered.size} of ${endRows.size}; ops=$ops)"
          else if (!tainted) Prop(delivered == windowRows) :|
            s"DUPLICATES from=$from: ${delivered -- windowRows} " +
              s"delivered beyond the window on a clean history (ops=$ops)"
          else Prop(delivered.subsetOf(endRows)) :| "delivered ⊆ snapshot"
        // the caller's listing feeds ONLY the from-membership gate:
        // the walk ranges over the dense (from, end] versions
        // internally, so a GAPPY listing (partial-listing blip) that
        // still contains `from` must walk identically — a gappy walk
        // once let a Compact's outputs classify as pure rewrites and
        // silently excluded never-delivered rows
        val rnd = new scala.util.Random(from * 7919 + ops.hashCode())
        val gappy = remaining.filter(v => v == from || rnd.nextBoolean())
        val gapSame =
          Prop(GraftFormat.excludedAsOf(fs, dir, from, end, gappy)
            == excluded) :|
            s"a gappy listing changed the walk (from=$from, ops=$ops)"
        // and one that MISSES a live `from` degrades to full
        // redelivery (at-least-once), never loss — except at
        // from >= end.version, where the empty-window early return
        // correctly precedes the membership gate
        val noFromSafe =
          if (from > 0 && from < end.version && remaining.contains(from)) {
            val e = GraftFormat.excludedAsOf(fs, dir, from, end,
              remaining.filterNot(_ == from))
            val d = end.fragments.filterNot(f => e.contains(f.id))
              .flatMap(f => live(f.id)).toSet
            Prop(d == endRows) :|
              s"listing missing from=$from must fully redeliver (ops=$ops)"
          } else Prop(true)
        noLoss && exact && gapSame && noFromSafe
      }
      checks.reduce(_ && _)
      } finally fs.delete(dir, true)
    }

    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(runs), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: excludedAsOf never loses window appends, is exact on " +
      "clean histories, and re-delivers the snapshot on lost history") {
    walkProperty(fs, 300)
  }

  test("property: the same walk invariants hold with every deferred " +
      "checkpoint window held OPEN (manual materialization — the " +
      "crashed-committer worst case)") {
    val conf = new Configuration()
    conf.setInt(GraftFormat.CheckpointEveryKey, 3)
    conf.set(GraftFormat.CheckpointMaterializeKey, "manual")
    conf.setBoolean("fs.file.impl.disable.cache", true)
    walkProperty(FileSystem.getLocal(conf), 150)
  }

  test("a vacuum racing the walk (listing passed, manifest then deleted) " +
      "surfaces as typed LostHistoryDuringWalk, not FileNotFoundException") {
    val dir = fs.makeQualified(new Path(
      TestSpark.tempDir("graft-pwalk-race").toUri))
    try {
      (1L to 3L).foreach { v =>
        GraftFormat.commit(fs, dir, Manifest(v, schemaJson,
          (0 until v.toInt).map(i =>
            FragmentMeta(i, s"data/f$i.parquet", 1L, None, 0L)),
          maxFragmentId = v.toInt,
          createdAtMs = System.currentTimeMillis(), operation = "Append"))
      }
      // the caller's gate: the listing still contains version 1
      val versions = GraftFormat.listVersions(fs, dir)
      assert(versions.contains(1L))
      val end = GraftFormat.readManifest(fs, dir, 3L)
      // the race: a vacuum drops version 1 and purges the pinned cache
      // AFTER the listing but before the walk reads the manifest
      fs.delete(new Path(GraftFormat.versionsDir(dir),
        "1.manifest.json"), false)
      graft.format.ManifestCache.purge(fs, dir)
      val e = intercept[GraftFormat.LostHistoryDuringWalk] {
        GraftFormat.excludedAsOf(fs, dir, 1L, end, versions)
      }
      assert(e.from == 1L)
      assert(e.getCause.isInstanceOf[java.io.FileNotFoundException])
    } finally fs.delete(dir, true)
  }
}
