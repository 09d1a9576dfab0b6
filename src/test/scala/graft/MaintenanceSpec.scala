package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.format.GraftFormat
import graft.ops.Maintenance

class MaintenanceSpec extends AnyFunSuite {
  import TestSpark._

  private val fs: FileSystem = FileSystem.getLocal(new Configuration())

  private lazy val wh: String = {
    val dir = Files.createTempDirectory("graft-maint-wh").toString
    spark.conf.set("spark.sql.catalog.mt", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.mt.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS mt.db")
    dir
  }

  test("compact folds small fragments + deletion vectors; data unchanged") {
    wh
    spark.sql("DROP TABLE IF EXISTS mt.db.c")
    spark.sql("CREATE TABLE mt.db.c (k BIGINT)")
    // 5 small appends -> 5+ fragments
    (0 until 5).foreach(i =>
      spark.sql(s"INSERT INTO mt.db.c SELECT id + ${i * 100} FROM range(100)"))
    spark.sql("DELETE FROM mt.db.c WHERE k < 45")
    val dir = new Path(Paths.get(wh, "db", "c.graft").toUri)
    val before = GraftFormat.readLatest(fs, dir).get
    assert(before.fragments.size >= 5)
    assert(before.fragments.exists(_.deletedCount > 0))
    val checksum = spark.table("mt.db.c").agg(sum("k"), count(lit(1))).head

    val n = Maintenance.compact(spark, dir, minRows = 1000)
    assert(n >= 5)
    val after = GraftFormat.readLatest(fs, dir).get
    assert(after.operation == "Compact")
    assert(after.fragments.size < before.fragments.size)
    assert(after.fragments.forall(_.deletedCount == 0), "deletes not folded")
    assert(spark.table("mt.db.c").agg(sum("k"), count(lit(1))).head == checksum)
    // pre-compact version still time-travelable
    assert(spark.sql(
      s"SELECT count(*) FROM mt.db.c VERSION AS OF ${before.version}")
      .head.getLong(0) == checksum.getLong(1))
  }

  test("sorted compaction: fragments carry disjoint ranges, zone maps prune to 1") {
    wh
    spark.sql("DROP TABLE IF EXISTS mt.db.srt")
    spark.sql("CREATE TABLE mt.db.srt (k BIGINT, v STRING)")
    // interleaved appends: every fragment spans the whole key range, so
    // zone maps cannot prune anything
    (0 until 4).foreach(i => spark.sql(
      s"INSERT INTO mt.db.srt SELECT id * 4 + $i, concat('v', id) FROM range(0, 1000, 1, 1)"))
    val dir = new Path(Paths.get(wh, "db", "srt.graft").toUri)
    def planned(f: org.apache.spark.sql.DataFrame): Int =
      f.queryExecution.executedPlan.collectLeaves().collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputPartitions.size
      }.sum
    val q = () => spark.table("mt.db.srt").where(col("k") >= 1000 && col("k") < 2000)
    assert(planned(q()) == 4, "interleaved fragments: no pruning possible")
    val checksum = spark.table("mt.db.srt").agg(sum("k"), count(lit(1))).head

    val n = Maintenance.compact(spark, dir, minRows = 1000, sortBy = Seq("k"))
    assert(n == 4)
    val after = GraftFormat.readLatest(fs, dir).get
    assert(after.fragments.size == 4)
    // fragments now cover disjoint k ranges -> the same query plans at
    // most 2 (range-partitioner boundaries are sampled, so the filter
    // window may straddle one boundary)
    val ranges = after.fragments.map(f =>
      f.stats.get("k").map(s => s"[${s.min}..${s.max}]").getOrElse("[?]"))
    assert(planned(q()) <= 2,
      s"sorted compaction should let zone maps prune most fragments; " +
        s"fragment k-ranges: ${ranges.mkString(", ")}")
    assert(q().count() == 1000)
    assert(spark.table("mt.db.srt").agg(sum("k"), count(lit(1))).head == checksum)
  }

  test("zorder compaction: zone maps prune point predicates on EVERY " +
      "z-order dimension, not just a sort prefix") {
    wh
    spark.sql("DROP TABLE IF EXISTS mt.db.zo")
    spark.sql("CREATE TABLE mt.db.zo (x BIGINT, y BIGINT, v STRING)")
    // a full 64x64 grid scattered across 4 interleaved fragments: no
    // dimension is clustered, so every predicate scans everything
    (0 until 4).foreach(i => spark.sql(
      s"""INSERT INTO mt.db.zo
         |SELECT (id * 4 + $i) % 64, (id * 4 + $i) div 64, concat('v', id)
         |FROM range(0, 1024, 1, 1)""".stripMargin))
    val dir = new Path(Paths.get(wh, "db", "zo.graft").toUri)
    def planned(f: org.apache.spark.sql.DataFrame): Int =
      f.queryExecution.executedPlan.collectLeaves().collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputPartitions.size
      }.sum
    val qx = () => spark.table("mt.db.zo").where(col("x") === 7)
    val qy = () => spark.table("mt.db.zo").where(col("y") === 9)
    assert(planned(qx()) == 4 && planned(qy()) == 4,
      "interleaved fragments: no pruning possible")
    val checksum = spark.table("mt.db.zo")
      .agg(sum("x"), sum("y"), count(lit(1))).head

    val n = Maintenance.compact(spark, dir, minRows = 256,
      zorderBy = Seq("x", "y"))
    assert(n == 4)
    val after = GraftFormat.readLatest(fs, dir).get
    assert(after.fragments.size == 16)
    assert(after.properties(GraftFormat.ZOrderByProp) == "x,y")
    // 16 fragments tile the 64x64 grid in z-order ~squares, so a point
    // predicate on EITHER dimension intersects only the tiles crossing
    // one grid line — a strict subset. A single-column sort would prune
    // x but leave y unprunable (every fragment spans all of y).
    val px = planned(qx())
    val py = planned(qy())
    assert(px <= 8, s"x-point predicate planned $px of 16 fragments")
    assert(py <= 8, s"y-point predicate planned $py of 16 fragments")
    // correctness: nothing lost or duplicated by the rewrite
    assert(qx().count() == 64 && qy().count() == 64)
    assert(spark.table("mt.db.zo")
      .agg(sum("x"), sum("y"), count(lit(1))).head == checksum)
    // a later append dilutes the layout -> the claim is dropped
    spark.sql("INSERT INTO mt.db.zo VALUES (999, 999, 'tail')")
    assert(!GraftFormat.readLatest(fs, dir).get.properties
      .contains(GraftFormat.ZOrderByProp))
  }

  test("zorder quantile buckets keep output fragments balanced under " +
      "90% key skew") {
    wh
    spark.sql("DROP TABLE IF EXISTS mt.db.zskew")
    spark.sql("CREATE TABLE mt.db.zskew (x BIGINT, y BIGINT)")
    // 90% of rows share x=7; uniform min/max bucketing would dump them
    // into one bucket (one giant fragment); equal-frequency quantile
    // cuts spread them across the y dimension instead
    spark.sql(
      """INSERT INTO mt.db.zskew
        |SELECT CASE WHEN id % 10 < 9 THEN 7 ELSE id % 64 END, id % 97
        |FROM range(0, 4000, 1, 1)""".stripMargin)
    val dir = new Path(Paths.get(wh, "db", "zskew.graft").toUri)
    spark.sql("INSERT INTO mt.db.zskew VALUES (999, 999)") // force 2 frags
    Maintenance.compact(spark, dir, minRows = 500, zorderBy = Seq("x", "y"))
    val frags = GraftFormat.readLatest(fs, dir).get.fragments
    assert(frags.size >= 4, s"expected >=4 fragments, got ${frags.size}")
    val rows = frags.map(_.rowCount)
    assert(rows.max <= rows.min * 4,
      s"skewed key must not produce a dominant fragment: $rows")
    assert(spark.table("mt.db.zskew").count() == 4001)
  }

  test("TopN pushdown over a sorted table plans only the fragment prefix") {
    wh
    spark.sql("DROP TABLE IF EXISTS mt.db.topn")
    spark.sql("CREATE TABLE mt.db.topn (k BIGINT, v STRING)")
    (0 until 4).foreach(i => spark.sql(
      s"INSERT INTO mt.db.topn SELECT id * 4 + $i, concat('v', id) FROM range(0, 1000, 1, 1)"))
    val dir = new Path(Paths.get(wh, "db", "topn.graft").toUri)
    def planned(f: org.apache.spark.sql.DataFrame): Int =
      f.queryExecution.executedPlan.collectLeaves().collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputPartitions.size
      }.sum
    val topn = () => spark.table("mt.db.topn").orderBy("k").limit(5)
    // unsorted: TopN must scan everything (reference behavior — it
    // declines TopN pushdown outright, BaseLanceConnectorTest:120-121)
    assert(planned(topn()) == 4)
    val expected = topn().collect().map(_.getLong(0)).toSeq
    assert(expected == Seq(0L, 1L, 2L, 3L, 4L))

    Maintenance.compact(spark, dir, minRows = 1000, sortBy = Seq("k"))
    // sorted: fragments are in ascending range order, so ORDER BY k
    // LIMIT 5 plans exactly the first fragment
    assert(planned(topn()) == 1,
      "TopN over the sort prefix must plan only the leading fragment")
    assert(topn().collect().map(_.getLong(0)).toSeq == expected)
    // descending TopN is the mirror image: plan only the fragment SUFFIX
    val desc = spark.table("mt.db.topn").orderBy(col("k").desc).limit(5)
    assert(planned(desc) == 1, "descending TopN must plan only the tail")
    assert(desc.collect().map(_.getLong(0)).toSeq ==
      Seq(3999L, 3998L, 3997L, 3996L, 3995L))
    // ... covering n live rows backwards when n spans fragments
    val descWide = spark.table("mt.db.topn")
      .orderBy(col("k").desc).limit(1500)
    assert(planned(descWide) == 2,
      "DESC TopN spanning fragments must plan the covering suffix")
    assert(descWide.collect().map(_.getLong(0)).toSeq ==
      (2500L until 4000L).reverse)
    // guards: mixed directions, filtered TopN, non-prefix column all
    // decline (scan everything, stay correct)
    val mixed = spark.table("mt.db.topn")
      .orderBy(col("k").desc, col("v").asc).limit(5)
    assert(planned(mixed) == 4, "mixed-direction TopN must not push")
    val filtered = spark.table("mt.db.topn")
      .filter(col("v") === "v999").orderBy("k").limit(5)
    assert(filtered.count() == 4)
    val byV = spark.table("mt.db.topn").orderBy("v").limit(5)
    assert(planned(byV) == 4, "non-sort-column TopN must not push")
    // deletion vectors: suffix planning must count LIVE rows — after
    // deleting the top 100 keys, DESC top-5 comes from the same tail
    // fragment (900 live) and a 1000-row DESC TopN must reach one
    // fragment deeper
    spark.sql("DELETE FROM mt.db.topn WHERE k >= 3900")
    val descDel = spark.table("mt.db.topn").orderBy(col("k").desc).limit(5)
    assert(planned(descDel) == 1, "DESC TopN over a deleted tail: 1 fragment")
    assert(descDel.collect().map(_.getLong(0)).toSeq ==
      Seq(3899L, 3898L, 3897L, 3896L, 3895L))
    val descDeep = spark.table("mt.db.topn")
      .orderBy(col("k").desc).limit(1000)
    assert(planned(descDeep) == 2,
      "900 live tail rows cannot cover a 1000-row DESC TopN")
    assert(descDeep.count() == 1000)
    // an append drops sort_by -> pushdown stops, results stay right
    spark.sql("INSERT INTO mt.db.topn VALUES (-1, 'first')")
    assert(planned(spark.table("mt.db.topn").orderBy("k").limit(5)) == 5)
    assert(spark.table("mt.db.topn").orderBy("k").limit(2)
      .collect().map(_.getLong(0)).toSeq == Seq(-1L, 0L))
  }

  test("vacuum drops old versions and unreferenced files; recent history intact") {
    wh
    val dir = new Path(Paths.get(wh, "db", "c.graft").toUri)
    val versionsBefore = GraftFormat.listVersions(fs, dir)
    val nVersionsBefore = versionsBefore.size
    def dataFiles(): Long = Files.list(Paths.get(wh, "db", "c.graft", "data"))
      .filter(Files.isRegularFile(_)).count()
    val dataFilesBefore = dataFiles()
    // keep the compacted head AND the DELETE version before it: the
    // fragments the DELETE version still references must survive,
    // while whatever only older versions referenced goes
    val (dropped, deleted) = Maintenance.vacuum(spark, dir, keepVersions = 2)
    assert(dropped == nVersionsBefore - 2)
    assert(deleted > 0, "expected unreferenced pre-compaction files removed")
    val dataFilesKept2 = dataFiles()
    assert(dataFilesKept2 < dataFilesBefore)
    val retained = versionsBefore(nVersionsBefore - 2)
    assert(spark.sql(s"SELECT count(*) FROM mt.db.c VERSION AS OF $retained")
      .head.getLong(0) == 455, "a retained non-head version lost its files")
    // keeping only the head makes the DELETE version's fragments and
    // deletion vector dead too
    val (dropped1, deleted1) = Maintenance.vacuum(spark, dir,
      keepVersions = 1, minVersionsRetained = 1)
    assert(dropped1 == 1)
    assert(deleted1 > 0, "expected the DELETE version's files removed")
    assert(dataFiles() < dataFilesKept2)
    // latest still reads fine
    assert(spark.table("mt.db.c").count() == 455)
    // dropped versions now fail cleanly
    assert(intercept[Exception] {
      spark.sql("SELECT * FROM mt.db.c VERSION AS OF 1").collect()
    }.getMessage.contains("does not exist"))
  }

  test("sorted compaction reports per-partition ordering; appends clear it") {
    wh
    spark.sql("DROP TABLE IF EXISTS mt.db.ord")
    spark.sql("CREATE TABLE mt.db.ord (k BIGINT, v STRING)")
    (0 until 3).foreach(i => spark.sql(
      s"INSERT INTO mt.db.ord SELECT id * 3 + $i, concat('v', id) FROM range(0, 500, 1, 1)"))
    val dir = new Path(Paths.get(wh, "db", "ord.graft").toUri)
    def sortExecs(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.SortExec => s
      }.size
    val q = () => spark.table("mt.db.ord").sortWithinPartitions("k")
    assert(sortExecs(q()) == 1, "unsorted table: the sort must be planned")

    Maintenance.compact(spark, dir, minRows = 500, sortBy = Seq("k"))
    assert(GraftFormat.readLatest(fs, dir).get.properties("sort_by") == "k")
    // the scan now reports ascending-k per partition -> Spark elides the
    // in-partition sort entirely
    assert(sortExecs(q()) == 0,
      "sorted table: reported ordering must elide the sort\n" +
        q().queryExecution.executedPlan)
    // and the data really is sorted within every partition
    import spark.implicits._
    val violations = q().select("k").as[Long].mapPartitions { it =>
      var prev = Long.MinValue; var bad = 0L
      it.foreach { k => if (k < prev) bad += 1; prev = k }
      Iterator.single(bad)
    }.collect().sum
    assert(violations == 0, "rows not ascending within a partition")

    // an unsorted append invalidates the flag -> the sort comes back
    spark.sql("INSERT INTO mt.db.ord VALUES (-1, 'x')")
    assert(!GraftFormat.readLatest(fs, dir).get.properties.contains("sort_by"))
    assert(sortExecs(q()) == 1, "append must clear the ordering flag")
  }

  test("history lists versions newest-first with operations and row counts") {
    wh
    spark.sql("DROP TABLE IF EXISTS mt.db.h")
    spark.sql("CREATE TABLE mt.db.h (k BIGINT)")
    // single input partition -> one fragment, so the delete is partial
    // (a deletion vector), not a fully-deleted-fragment drop
    spark.sql("INSERT INTO mt.db.h SELECT id FROM range(0, 10, 1, 1)")
    spark.sql("DELETE FROM mt.db.h WHERE k >= 8")
    val dir = new Path(Paths.get(wh, "db", "h.graft").toUri)
    val h = Maintenance.history(spark, dir).collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(3L, 2L, 1L), "newest first")
    assert(h.map(_.getString(1)).toSeq == Seq("Delete", "Append", "Create"))
    assert(h.head.getLong(4) == 8 && h.head.getLong(5) == 2,
      s"latest version: 8 live rows, 2 deleted; got ${h.head}")
    assert(h(1).getLong(4) == 10 && h(1).getLong(5) == 0)
  }

  test("vacuum time retention: recent history survives keepVersions") {
    wh
    spark.sql("DROP TABLE IF EXISTS mt.db.ret")
    spark.sql("CREATE TABLE mt.db.ret (k BIGINT)")
    (0 until 3).foreach(i => spark.sql(s"INSERT INTO mt.db.ret VALUES ($i)"))
    val dir = new Path(Paths.get(wh, "db", "ret.graft").toUri)
    // all four versions committed milliseconds ago: a 1h retention
    // window protects them from keepVersions = 1
    val (dropped, _) = Maintenance.vacuum(spark, dir, keepVersions = 1,
      olderThanMs = 3600 * 1000L)
    assert(dropped == 0)
    assert(spark.sql("SELECT count(*) FROM mt.db.ret VERSION AS OF 1")
      .head().getLong(0) == 0)
    // without the window the same call drops them
    val (dropped2, _) = Maintenance.vacuum(spark, dir, keepVersions = 1,
      minVersionsRetained = 1)
    assert(dropped2 == 3)
    assert(spark.table("mt.db.ret").count() == 3)
  }

  test("vacuum never deletes a v=<N> index dir BEYOND its version " +
      "listing (index published by a commit racing the pass)") {
    wh
    spark.sql("DROP TABLE IF EXISTS mt.db.racei")
    spark.sql("CREATE TABLE mt.db.racei (k BIGINT)")
    (0 until 3).foreach(i => spark.sql(s"INSERT INTO mt.db.racei VALUES ($i)"))
    val dir = new Path(Paths.get(wh, "db", "racei.graft").toUri)
    val head = GraftFormat.readLatest(fs, dir).get.version
    // an index refresh publishing for a version committed AFTER
    // vacuum's listing: v=<head+1> exists while the listing tops out
    // at <head>. It is the newest index content, not stale history.
    val tooNew = new Path(GraftFormat.indicesDir(dir), s"k.btree/v=${head + 1}")
    fs.mkdirs(tooNew)
    val out = fs.create(new Path(tooNew, "part-0.json"), true)
    try out.write("{}".getBytes("UTF-8")) finally out.close()
    // and a genuinely dropped version's dir goes as before
    val stale = new Path(GraftFormat.indicesDir(dir), "k.btree/v=1")
    fs.mkdirs(stale)
    val out2 = fs.create(new Path(stale, "part-0.json"), true)
    try out2.write("{}".getBytes("UTF-8")) finally out2.close()
    Maintenance.vacuum(spark, dir, keepVersions = 2, minVersionsRetained = 2)
    assert(fs.exists(tooNew),
      "vacuum deleted an index dir published for a version newer than " +
        "its listing — the current index yanked from under its readers")
    assert(!fs.exists(stale), "the dropped version's index dir must go")
    spark.sql("DROP TABLE mt.db.racei")
  }

  test("vacuum with an EMPTY version listing deletes no index dirs " +
      "(racing the table's first commit, or a listing blip)") {
    wh
    val dir = new Path(Paths.get(wh, "db", "emptyv.graft").toUri)
    GraftFormat.init(fs, dir) // layout exists, no manifests committed yet
    val vdir = new Path(GraftFormat.indicesDir(dir), "k.btree/v=1")
    fs.mkdirs(vdir)
    val out = fs.create(new Path(vdir, "part-0.json"), true)
    try out.write("{}".getBytes("UTF-8")) finally out.close()
    Maintenance.vacuum(spark, dir, keepVersions = 1, minVersionsRetained = 1)
    assert(fs.exists(vdir),
      "an empty listing means every version is beyond it — an inverted " +
        "guard would delete the just-published index of a racing commit")
    fs.delete(dir, true)
  }

  test("vacuum with an EMPTY version listing deletes NOTHING — not data, " +
      "not deletion vectors, not blobs, not index segments") {
    // the v= index guard above is only half the contract: an empty
    // listing (blip, or racing the first commit) also empties the
    // referenced-file set, and the data/_deletions loop, the seg-*
    // orphan check, and the blob GC would then treat every live file
    // past the grace window as crash debris — permanent data loss on
    // an established table whose listing blipped. Empty listing means
    // the pass has no ground truth: bail, delete nothing.
    wh
    val dir = new Path(Paths.get(wh, "db", "emptyall.graft").toUri)
    GraftFormat.init(fs, dir) // layout exists, no manifests visible
    def plant(rel: String): Path = {
      val p = new Path(dir, rel)
      fs.mkdirs(p.getParent)
      val out = fs.create(p, false)
      try out.write(Array[Byte](1, 2, 3)) finally out.close()
      p
    }
    val data = plant("data/live.parquet")
    val dv = plant("_deletions/live.dv")
    val blob = plant(s"${graft.format.BlobStore.BlobDirName}/live.bin")
    val seg = plant("_indices/k.btree/seg-live/part-0.json")
    // grace 0 = every file reads as past the window; only the empty
    // listing stands between these live files and deletion
    val (dropped, deleted) = Maintenance.vacuum(spark, dir,
      keepVersions = 1, minVersionsRetained = 1, orphanGraceMs = 0)
    assert(dropped == 0 && deleted == 0,
      s"empty-listing vacuum must be a no-op, got ($dropped, $deleted)")
    for (p <- Seq(data, dv, blob, seg)) assert(fs.exists(p),
      s"empty-listing vacuum deleted a live file: $p")
    fs.delete(dir, true)
  }

  test("vacuum time retention never punches a mid-history hole: a " +
      "clock-skewed recent manifest protects everything after it") {
    wh
    spark.sql("DROP TABLE IF EXISTS mt.db.skew")
    spark.sql("CREATE TABLE mt.db.skew (k BIGINT)")
    (0 until 4).foreach(i => spark.sql(s"INSERT INTO mt.db.skew VALUES ($i)"))
    val dir = new Path(Paths.get(wh, "db", "skew.graft").toUri)
    // cross-process clock skew: v1 and v3 read as committed an hour
    // ago while v2 (between them) reads as recent — createdAtMs is
    // NOT monotone in version. A partition-based time filter would
    // drop {1, 3} and keep 2: a permanent hole at 3 that every dense
    // incremental walk (streaming + batch start_version) fails on.
    val old = System.currentTimeMillis() - 3600 * 1000L - 60000L
    for (v <- Seq(1L, 3L)) {
      val m = GraftFormat.readManifest(fs, dir, v)
      val out = fs.create(GraftFormat.manifestPath(dir, v), true)
      try out.write(
        GraftFormat.toJson(m.copy(createdAtMs = old)).getBytes("UTF-8"))
      finally out.close()
    }
    graft.format.ManifestCache.purge(fs, dir)
    val (dropped, _) = Maintenance.vacuum(spark, dir, keepVersions = 1,
      olderThanMs = 3600 * 1000L, minVersionsRetained = 1)
    // only the prefix up to the first protected manifest goes
    assert(dropped == 1, s"expected the v1 prefix only, dropped $dropped")
    assert(GraftFormat.listVersions(fs, dir) == Seq(2L, 3L, 4L, 5L),
      "time retention must cut a prefix, never punch a hole")
    spark.sql("DROP TABLE mt.db.skew")
  }

  test("vacuum orphan grace: a young never-referenced file (in-flight " +
      "two-phase append) survives; dead history still deletes now") {
    // the streaming x maintenance storm caught vacuum deleting a data
    // file an in-flight INSERT had written but not yet committed a
    // manifest for — unreferenced-by-any-manifest files must age out,
    // not die instantly
    wh
    spark.sql("DROP TABLE IF EXISTS mt.db.og")
    spark.sql("CREATE TABLE mt.db.og (k BIGINT)")
    (0 until 3).foreach(i => spark.sql(s"INSERT INTO mt.db.og VALUES ($i)"))
    val dir = new Path(Paths.get(wh, "db", "og.graft").toUri)
    // plant a young orphan: on disk, referenced by no manifest — the
    // exact on-disk state of an append between its file write and its
    // manifest CAS
    val orphan = new Path(dir, "data/in-flight-append.parquet")
    val out = fs.create(orphan, false)
    try out.write(Array[Byte](1, 2, 3)) finally out.close()
    Maintenance.vacuum(spark, dir, keepVersions = 2, minVersionsRetained = 1)
    assert(fs.exists(orphan),
      "vacuum deleted a young orphan — an in-flight append's data file")
    // dead history (referenced only by manifests dropped this pass) has
    // no grace: version 1's file went in the same call
    assert(GraftFormat.listVersions(fs, dir).size == 2)
    // crash debris: the same orphan past the grace window goes
    val (_, deleted) = Maintenance.vacuum(spark, dir, keepVersions = 2,
      minVersionsRetained = 1, orphanGraceMs = 0)
    assert(!fs.exists(orphan), "aged-out orphan must be GC'd")
    assert(deleted >= 1)
    spark.sql("DROP TABLE mt.db.og")
  }

  test("vacuum minVersionsRetained floor: keep_versions=1 with " +
      "olderThanMs=0 still retains a prior snapshot by default") {
    // r11 VERDICT stretch #7: the time guard cannot protect a pinned
    // time-travel reader from a misconfigured olderThanMs=0 — the
    // version-count floor (default 2) can.
    wh
    spark.sql("DROP TABLE IF EXISTS mt.db.floor")
    spark.sql("CREATE TABLE mt.db.floor (k BIGINT)")
    (0 until 2).foreach(i => spark.sql(s"INSERT INTO mt.db.floor VALUES ($i)"))
    val dir = new Path(Paths.get(wh, "db", "floor.graft").toUri)
    assert(GraftFormat.listVersions(fs, dir).size == 3)
    val (dropped, _) = Maintenance.vacuum(spark, dir, keepVersions = 1)
    assert(dropped == 1, "default floor of 2 must retain latest + 1 prior")
    // the pinned reader one snapshot back keeps working
    assert(spark.sql("SELECT count(*) FROM mt.db.floor VERSION AS OF 2")
      .head().getLong(0) == 1)
    // a raised session floor wins over keep_versions; restore after
    spark.conf.set("spark.graft.vacuum.minVersionsRetained", "5")
    try {
      spark.sql("INSERT INTO mt.db.floor VALUES (9)")
      val (d2, _) = Maintenance.vacuum(spark, dir, keepVersions = 1)
      assert(d2 == 0, "session floor of 5 must protect all 3 versions")
    } finally spark.conf.unset("spark.graft.vacuum.minVersionsRetained")
    // the explicit opt-out (SQL surface) restores keep_versions=1
    val row = spark.sql("CALL mt.system.vacuum(`table` => 'db.floor', " +
      "keep_versions => 1, min_versions_retained => 1)").head
    assert(row.getInt(0) == 2, s"opt-out should drop 2 priors, got $row")
    assert(GraftFormat.listVersions(fs, dir).size == 1)
    assert(spark.table("mt.db.floor").count() == 3)
    spark.sql("DROP TABLE mt.db.floor")
  }

  test("vacuum GCs index sidecars of dropped versions, keeps current ones") {
    import graft.ops.VectorIndex
    wh
    spark.sql("DROP TABLE IF EXISTS mt.db.vgc")
    spark.sql("CREATE TABLE mt.db.vgc (vec_id BIGINT, embedding ARRAY<FLOAT>)")
    spark.sql("""INSERT INTO mt.db.vgc
      |SELECT id, array(CAST(id AS FLOAT), CAST(id * 2 AS FLOAT))
      |FROM range(0, 50)""".stripMargin)
    val dir = new Path(Paths.get(wh, "db", "vgc.graft").toUri)
    val v1 = VectorIndex.build(spark, dir, "vec_id", "embedding")
    VectorIndex.Ivf.build(spark, dir, "vec_id", "embedding", nLists = 4)
    spark.sql("INSERT INTO mt.db.vgc SELECT id, array(CAST(id AS FLOAT), 0.0F) " +
      "FROM range(50, 60)")
    val v2 = VectorIndex.build(spark, dir, "vec_id", "embedding")
    assert(VectorIndex.indexedVersions(spark, dir, "embedding") == Seq(v1, v2))

    Maintenance.vacuum(spark, dir, keepVersions = 1, minVersionsRetained = 1)
    // v1's LSH and IVF sidecars are garbage; v2's LSH survives and the
    // current-version read still works
    assert(VectorIndex.indexedVersions(spark, dir, "embedding") == Seq(v2))
    assert(!fs.exists(new Path(VectorIndex.Ivf.root(dir, "embedding"), s"v=$v1")))
    assert(VectorIndex.readCurrent(spark, dir, "embedding").get.count() == 60)
  }

  test("vacuum dry_run reports what a real pass would delete and " +
      "mutates nothing") {
    // at 100 TB an operator audits a destructive GC before firing it
    // (Delta VACUUM DRY RUN precedent): the assessment must run the
    // full pipeline — retention split, reference resolution, orphan
    // aging — and touch nothing
    wh
    spark.sql("DROP TABLE IF EXISTS mt.db.dry")
    spark.sql("CREATE TABLE mt.db.dry (k BIGINT)")
    (0 until 4).foreach(_ =>
      spark.sql("INSERT INTO mt.db.dry SELECT id FROM range(50)"))
    val dir = new Path(Paths.get(wh, "db", "dry.graft").toUri)
    // an aged orphan a real pass would GC (grace 0 below)
    val orphan = new Path(dir, "data/crash-debris.parquet")
    val out = fs.create(orphan, false)
    try out.write(Array[Byte](1)) finally out.close()
    val before = GraftFormat.listVersions(fs, dir)
    val dataBefore =
      fs.listStatus(new Path(dir, "data")).map(_.getPath.getName).toSet
    val d = spark.sql("CALL mt.system.vacuum(`table` => 'db.dry', " +
      "keep_versions => 1, min_versions_retained => 1, " +
      "orphan_grace_ms => 0, dry_run => true)").head
    assert(d.getInt(0) >= 3 && d.getInt(1) >= 1, d.toString)
    assert(GraftFormat.listVersions(fs, dir) == before,
      "dry run dropped manifest versions")
    assert(fs.listStatus(new Path(dir, "data"))
      .map(_.getPath.getName).toSet == dataBefore,
      "dry run deleted data files")
    assert(fs.exists(orphan), "dry run GC'd the orphan")
    // the full history is still readable after the dry run
    assert(spark.sql("SELECT count(*) FROM mt.db.dry VERSION AS OF 2")
      .head().getLong(0) == 50)
    // the real pass deletes exactly what the dry run reported
    val r = spark.sql("CALL mt.system.vacuum(`table` => 'db.dry', " +
      "keep_versions => 1, min_versions_retained => 1, " +
      "orphan_grace_ms => 0)").head
    assert((r.getInt(0), r.getInt(1)) == (d.getInt(0), d.getInt(1)),
      s"dry-run estimate $d diverged from the real pass $r")
    assert(!fs.exists(orphan), "real pass must GC the aged orphan")
    assert(GraftFormat.listVersions(fs, dir).size == 1)
    assert(spark.table("mt.db.dry").count() == 200)
    spark.sql("DROP TABLE mt.db.dry")
  }

  test("SQL maintenance surface: CALL system.compact/vacuum/history/" +
      "bucketize through the catalog") {
    wh
    spark.sql("DROP TABLE IF EXISTS mt.db.sq")
    spark.sql("CREATE TABLE mt.db.sq (k BIGINT)")
    (0 until 4).foreach(i =>
      spark.sql(s"INSERT INTO mt.db.sq SELECT id + ${i * 50} FROM range(50)"))
    val dir = new Path(Paths.get(wh, "db", "sq.graft").toUri)
    assert(GraftFormat.readLatest(fs, dir).get.fragments.size >= 4)

    // compact via SQL, named args + default min_rows
    val c = spark.sql("CALL mt.system.compact(`table` => 'db.sq')").head
    assert(c.getInt(0) >= 4, c.toString)
    assert(GraftFormat.readLatest(fs, dir).get.fragments.size == 1)
    assert(spark.table("mt.db.sq").count() == 200)

    // history via SQL: one row per version, newest first
    val h = spark.sql("CALL mt.system.history('db.sq')").collect()
    assert(h.length == GraftFormat.listVersions(fs, dir).size)
    assert(h.head.getString(1) == "Compact")
    assert(h.map(_.getLong(0)).toSeq == h.map(_.getLong(0)).toSeq.sorted.reverse)

    // vacuum via SQL drops pre-compact history (explicit floor opt-out:
    // the default minVersionsRetained=2 would keep one pre-compact
    // version alive)
    val v = spark.sql(
      "CALL mt.system.vacuum(`table` => 'db.sq', keep_versions => 1, " +
        "min_versions_retained => 1)").head
    assert(v.getInt(0) >= 4, v.toString) // versions dropped
    assert(v.getInt(1) > 0, v.toString)  // files deleted
    assert(spark.table("mt.db.sq").count() == 200)

    // bucketize via SQL positions the table for storage-partitioned joins
    val b = spark.sql("CALL mt.system.bucketize('db.sq', 'k', 4)").head
    assert(b.getInt(0) == 4, b.toString)
    assert(spark.table("mt.db.sq").count() == 200)

    // rollback via SQL: restore the pre-bucketize snapshot, history kept
    val preRollback = GraftFormat.readLatest(fs, dir).get.version
    val r = spark.sql(
      s"CALL mt.system.rollback(`table` => 'db.sq', version => ${preRollback - 1})").head
    assert(r.getLong(0) == preRollback - 1 && r.getLong(1) == preRollback + 1,
      r.toString)
    val rolled = GraftFormat.readLatest(fs, dir).get
    assert(rolled.operation == "Rollback" && rolled.version == preRollback + 1)
    assert(spark.table("mt.db.sq").count() == 200)
    // the rolled-past version is still inspectable (history preserved)
    assert(spark.sql(s"SELECT * FROM mt.db.sq VERSION AS OF $preRollback")
      .count() == 200)
    // rolling back to an unretained version fails loudly
    intercept[Exception](spark.sql(
      "CALL mt.system.rollback(`table` => 'db.sq', version => 99)"))

    // zorder compaction via SQL (csv arg -> Maintenance.compact zorderBy)
    spark.sql("DROP TABLE IF EXISTS mt.db.sqz")
    spark.sql("CREATE TABLE mt.db.sqz (x BIGINT, y BIGINT)")
    (0 until 2).foreach(i => spark.sql(
      s"INSERT INTO mt.db.sqz SELECT id % 16, id div 16 FROM range(256)"))
    val z = spark.sql(
      "CALL mt.system.compact(`table` => 'db.sqz', min_rows => 64, " +
        "zorder_by => 'x,y')").head
    assert(z.getInt(0) >= 2, z.toString) // every input fragment rewritten
    val zdir = new Path(Paths.get(wh, "db", "sqz.graft").toUri)
    assert(GraftFormat.readLatest(fs, zdir).get
      .properties(GraftFormat.ZOrderByProp) == "x,y")
    assert(spark.table("mt.db.sqz").count() == 512)

    // unknown procedure fails cleanly
    val e = intercept[Exception](spark.sql("CALL mt.system.nope('db.sq')"))
    assert(e.getMessage.toLowerCase.contains("routine"), e.getMessage)

    // procedures resolve ONLY under the system namespace
    val e2 = intercept[Exception](
      spark.sql("CALL mt.anything.compact(`table` => 'db.sq')"))
    assert(e2.getMessage.toLowerCase.contains("routine")
      || e2.getMessage.contains("system"), e2.getMessage)
  }
}
