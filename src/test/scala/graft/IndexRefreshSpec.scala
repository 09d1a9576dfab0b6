package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{IndexSegments, ScalarIndex, TextIndex, VectorIndex}

/** Incremental index refresh-on-append (reference analog: Lance's
  * automatic index updates over newly-written fragments,
  * docs/src/performance.md "Index Usage"): refresh indexes ONLY the
  * appended fragments, publishes a merge-on-read segment list, costs
  * O(delta) by job metrics, and falls back to a full rebuild whenever
  * the append-only fast path would be unsound. */
class IndexRefreshSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val wh: String = {
    val dir = tempDir("graft-ir-wh").toString
    spark.conf.set("spark.sql.catalog.ir", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.ir.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ir.db")
    dir
  }

  private def tablePath(name: String) =
    new Path(s"file:$wh/db/$name.graft")

  private def fs = tablePath("x").getFileSystem(spark.sessionState.newHadoopConf())

  /** Total records read cluster-wide while `body` runs (listener-bus
    * flush by polling to a stable value). */
  private def recordsRead(body: => Unit): Long = {
    val acc = new java.util.concurrent.atomic.AtomicLong()
    val l = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) acc.addAndGet(m.inputMetrics.recordsRead)
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      var prev = -1L
      var spins = 0
      while (acc.get() != prev && spins < 40) {
        prev = acc.get(); Thread.sleep(100); spins += 1
      }
      acc.get()
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def plannedPartitions(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.collectLeaves().collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.size
    }.sum

  // ------------------------------------------------------------- scalar

  test("scalar refresh: appended fragment joins pruning without re-scanning " +
      "the corpus; stale-version lookups unchanged") {
    wh
    spark.sql("DROP TABLE IF EXISTS ir.db.s")
    spark.sql("CREATE TABLE ir.db.s (k BIGINT, s STRING)")
    // 4 interleaved fragments: every k in [0,4000) lives in exactly one
    (0 until 4).foreach { i =>
      spark.sql(s"INSERT INTO ir.db.s SELECT id * 4 + $i, concat('grp', $i) " +
        "FROM range(0, 1000, 1, 1)")
    }
    val dir = tablePath("s")
    val v1 = ScalarIndex.build(spark, dir, "k")
    ScalarIndex.clearCaches()
    // append 50 brand-new values as one fragment
    spark.sql("INSERT INTO ir.db.s SELECT id + 4000, 'delta' FROM range(0, 50, 1, 1)")
    val reads = recordsRead {
      val v2 = ScalarIndex.refresh(spark, dir, "k")
      assert(v2 == v1 + 1)
    }
    // O(delta): the 4000-row base corpus is never re-scanned — refresh
    // reads the 50 appended rows plus index metadata (posting keys)
    assert(reads < 4000 + 50 + 4200,
      s"refresh read $reads records — smells like a corpus re-scan")
    ScalarIndex.clearCaches()
    val all = spark.table("ir.db.s")
    // old value: exactly the one old fragment; new value: the delta one
    assert(plannedPartitions(all.filter(col("k") === 1501L)) == 1)
    assert(all.filter(col("k") === 1501L).count() == 1)
    assert(plannedPartitions(all.filter(col("k") === 4010L)) == 1)
    assert(all.filter(col("k") === 4010L).count() == 1)
    // absent value still prunes everything across both segments
    assert(plannedPartitions(all.filter(col("k") === 999999L)) == 0)
    // ndv survives the merge for the CBO feed (≈4050 distinct)
    val ndv = ScalarIndex.ndvAt(fs, dir, v1 + 1, "k").get
    assert(ndv > 3600 && ndv < 4500, s"merged ndv off: $ndv")
    // the prior version's monolithic index still answers (time travel)
    val oldFrags = ScalarIndex.fragmentsForValues(fs, dir, v1, "k",
      org.apache.spark.sql.types.LongType, Seq(1501L)).get
    assert(oldFrags.size == 1)
  }

  test("scalar refresh falls back to a full rebuild when old fragments were " +
      "mutated (DELETE)") {
    wh
    spark.sql("DROP TABLE IF EXISTS ir.db.sm")
    spark.sql("CREATE TABLE ir.db.sm (k BIGINT, s STRING)")
    spark.sql("INSERT INTO ir.db.sm SELECT id, 'a' FROM range(0, 100, 1, 1)")
    val dir = tablePath("sm")
    ScalarIndex.build(spark, dir, "k")
    spark.sql("DELETE FROM ir.db.sm WHERE k < 10")
    spark.sql("INSERT INTO ir.db.sm SELECT id + 100, 'b' FROM range(0, 10, 1, 1)")
    ScalarIndex.clearCaches()
    val v = ScalarIndex.refresh(spark, dir, "k")
    // fallback rebuild is monolithic: no segment manifest
    val vdir = new Path(ScalarIndex.indexRoot(fs.makeQualified(dir), "k"), s"v=$v")
    assert(!fs.exists(IndexSegments.manifestPath(vdir)),
      "mutated history must trigger a monolithic rebuild")
    ScalarIndex.clearCaches()
    val all = spark.table("ir.db.sm")
    assert(all.filter(col("k") === 105L).count() == 1)
    assert(all.filter(col("k") === 5L).count() == 0)
  }

  // --------------------------------------------------------------- text

  test("text refresh: BM25 over segments equals a full rebuild score for " +
      "score; duplicate doc_id appends fall back to rebuild") {
    wh
    for (t <- Seq("d", "dtwin", "ddup")) spark.sql(s"DROP TABLE IF EXISTS ir.db.$t")
    Tables.load(spark, sf, "documents").createOrReplaceTempView("ir_docs")
    spark.sql("CREATE TABLE ir.db.d AS SELECT * FROM ir_docs")
    val dir = tablePath("d")
    val v1 = TextIndex.build(spark, dir, "doc_id", "text")
    spark.sql("INSERT INTO ir.db.d VALUES " +
      "(999991, 'vector join filter vector', 'en', 'web', 26), " +
      "(999992, 'filter filter join', 'en', 'web', 18)")
    val v2 = TextIndex.refresh(spark, dir, "doc_id", "text")
    assert(v2 == v1 + 1)
    // twin table with the identical corpus, indexed monolithically
    spark.sql("CREATE TABLE ir.db.dtwin AS SELECT * FROM ir.db.d")
    TextIndex.build(spark, tablePath("dtwin"), "doc_id", "text")
    val terms = Seq("vector", "join", "filter")
    val seg = TextIndex.searchCurrent(spark, dir, "text", terms, 50)
      .get.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val mono = TextIndex.searchCurrent(spark, tablePath("dtwin"), "text", terms, 50)
      .get.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(seg == mono, s"segmented BM25 diverged: ${seg.take(3)} vs ${mono.take(3)}")
    assert(seg.exists(_._1 == 999991L), "appended doc must rank")

    // duplicate doc_id in the delta -> tf/dl facts would double-count:
    // refresh must detect and rebuild monolithically
    spark.sql("CREATE TABLE ir.db.ddup AS SELECT * FROM ir_docs")
    val ddir = tablePath("ddup")
    TextIndex.build(spark, ddir, "doc_id", "text")
    val existing = spark.table("ir.db.ddup").select("doc_id").head().getLong(0)
    spark.sql(s"INSERT INTO ir.db.ddup VALUES ($existing, 'vector join', 'en', 'web', 11)")
    val vd = TextIndex.refresh(spark, ddir, "doc_id", "text")
    val vdir = new Path(TextIndex.indexRoot(fs.makeQualified(ddir), "text"), s"v=$vd")
    assert(!fs.exists(IndexSegments.manifestPath(vdir)),
      "duplicate ids must trigger a monolithic rebuild")
    assert(TextIndex.searchCurrent(spark, ddir, "text", terms, 50).isDefined)
  }

  // ------------------------------------------------------------- vector

  test("ivf refresh: frozen centroids, delta-only assignment; lsh refresh " +
      "equals a rebuild exactly") {
    val dir = new Path(tempDir("graft-ivfr").resolve("e.graft").toUri)
    val lfs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val e = Tables.load(spark, sf, "embeddings")
    graft.connector.GraftWriter.write(lfs, dir, e, overwrite = true)
    val n = e.count()
    import graft.ops.VectorIndex.Ivf
    Ivf.build(spark, dir, "vec_id", "embedding", nLists = 8)
    val (cents1, _) = Ivf.readCurrent(spark, dir, "embedding").get
    val pinned = cents1.collect().map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)
    VectorIndex.build(spark, dir, "vec_id", "embedding")

    val delta = e.limit(7)
      .select((col("vec_id") + 500000).as("vec_id"), col("embedding"), col("label"))
    graft.connector.GraftWriter.write(lfs, dir, delta, overwrite = false)

    val reads = recordsRead {
      Ivf.refresh(spark, dir, "vec_id", "embedding", nLists = 8)
      VectorIndex.refresh(spark, dir, "vec_id", "embedding")
    }
    assert(reads < n, s"refresh read $reads records over a $n-row corpus " +
      "— smells like a re-scan/retrain")

    val (cents2, assign2) = Ivf.readCurrent(spark, dir, "embedding").get
    assert(cents2.collect().map(r => (r.getInt(0), r.getSeq[Double](1)))
      .sortBy(_._1).sameElements(pinned), "refresh must not retrain centroids")
    assert(assign2.count() == n + 7, "every row incl. delta must be assigned")
    // delta assignments equal a fresh nearest-centroid computation
    val cArr = pinned.map(_._2.toArray)
    val got = assign2.filter(col("vec_id") >= 500000L).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    delta.select("vec_id", "embedding").collect().foreach { r =>
      val want = Ivf.nearest(cArr, r.getSeq[Float](1))
      assert(got(r.getLong(0)) == want, s"delta row ${r.getLong(0)} misassigned")
    }
    // LSH: stateless bucketing -> segment union IS the rebuild
    val seg = VectorIndex.readCurrent(spark, dir, "embedding").get
    val full = graft.operators.VectorOps
      .withLshBucket(e.select("vec_id", "embedding")
        .unionAll(delta.select("vec_id", "embedding")), "embedding")
      .select("vec_id", "bucket")
    assert(seg.except(full).isEmpty && full.except(seg).isEmpty,
      "refreshed LSH index must equal scan-time bucketing exactly")
  }

  test("pq refresh: frozen codebooks encode the delta; ADC probe serves all rows") {
    val dir = new Path(tempDir("graft-pqr").resolve("e.graft").toUri)
    val lfs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val e = Tables.load(spark, sf, "embeddings")
    graft.connector.GraftWriter.write(lfs, dir, e, overwrite = true)
    import graft.ops.VectorIndex.Pq
    Pq.build(spark, dir, "vec_id", "embedding", nLists = 8, m = 8)
    val (_, books1, _) = Pq.readCurrent(spark, dir, "embedding").get
    val booksPinned = books1.collect().map(r =>
      (r.getInt(0), r.getInt(1), r.getSeq[Double](2))).sortBy(t => (t._1, t._2))
    graft.connector.GraftWriter.write(lfs, dir,
      e.limit(4).select((col("vec_id") + 600000).as("vec_id"),
        col("embedding"), col("label")),
      overwrite = false)
    Pq.refresh(spark, dir, "vec_id", "embedding", nLists = 8, m = 8)
    val (_, books2, codes2) = Pq.readCurrent(spark, dir, "embedding").get
    assert(books2.collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
      .sortBy(t => (t._1, t._2)).sameElements(booksPinned),
      "refresh must not retrain codebooks")
    assert(codes2.count() == e.count() + 4)
    assert(codes2.filter(col("vec_id") >= 600000L).count() == 4)
    assert(codes2.select(length(col("code"))).distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(8), "delta codes must be m bytes")
  }

  // ------------------------------------------------------------- vacuum

  test("vacuum keeps index dirs referenced by a retained refresh chain, " +
      "drops unreferenced ones; search still answers") {
    wh
    spark.sql("DROP TABLE IF EXISTS ir.db.vc")
    Tables.load(spark, sf, "documents").limit(120).createOrReplaceTempView("ir_vc")
    spark.sql("CREATE TABLE ir.db.vc AS SELECT * FROM ir_vc")
    val dir = tablePath("vc")
    val v1 = TextIndex.build(spark, dir, "doc_id", "text")
    spark.sql("INSERT INTO ir.db.vc VALUES (888801, 'vector join probe', 'en', 'web', 17)")
    val v2 = TextIndex.refresh(spark, dir, "doc_id", "text")
    val root = TextIndex.indexRoot(fs.makeQualified(dir), "text")
    val segs = IndexSegments.read(fs, new Path(root, s"v=$v2")).get.segments
    assert(segs.contains(s"v=$v1") && segs.exists(_.startsWith("seg-")),
      s"refresh chain malformed: $segs")
    // plant an orphan segment with a file in it: nothing references it
    // -> vacuum garbage once past the orphan grace window. (An EMPTY
    // orphan dir is deliberately never GC'd — it cannot be dated, and
    // an in-flight refresh creates its dir before the first file lands)
    val orphanFile = new Path(root, "seg-orphan-test/part-0.parquet")
    val ofOut = fs.create(orphanFile, false)
    try ofOut.write(Array[Byte](1)) finally ofOut.close()

    // retain only the latest version: v1's manifest drops, but v=1's
    // index content is REFERENCED by v=2's segment manifest -> survives.
    // orphanGraceMs=0: the planted orphan is seconds old and would be
    // (correctly) treated as a possibly-in-flight refresh otherwise
    graft.ops.Maintenance.vacuum(spark, dir, keepVersions = 1,
      minVersionsRetained = 1, orphanGraceMs = 0)
    assert(graft.format.GraftFormat.listVersions(fs, dir) == Seq(v2))
    assert(fs.exists(new Path(root, s"v=$v1")),
      "index content referenced by a retained refresh chain must survive vacuum")
    assert(!fs.exists(new Path(root, "seg-orphan-test")),
      "unreferenced segments are garbage")
    val hits = TextIndex.searchCurrent(spark, dir, "text",
      Seq("vector", "join"), 20).get.collect()
    assert(hits.exists(_.getLong(0) == 888801L),
      "post-vacuum search must still serve the refreshed chain")
  }

  test("text refresh disjointness: metadata range fast path reads no " +
      "postings; overlapping-but-disjoint ids still refresh exactly") {
    wh
    // case 1: monotone append (delta ids above every prior id) — the
    // per-segment doc_min/doc_max metadata proves disjointness; the
    // postings parquet must not be read at all
    spark.sql("DROP TABLE IF EXISTS ir.db.tr")
    spark.sql("CREATE TABLE ir.db.tr (doc_id BIGINT, text STRING)")
    spark.sql("INSERT INTO ir.db.tr SELECT id, concat('alpha bravo doc', id) " +
      "FROM range(0, 2000, 1, 2)")
    val dir = tablePath("tr")
    TextIndex.build(spark, dir, "doc_id", "text")
    spark.sql("INSERT INTO ir.db.tr SELECT id + 5000, 'charlie delta' " +
      "FROM range(0, 100, 1, 1)")
    val reads = recordsRead {
      TextIndex.refresh(spark, dir, "doc_id", "text")
    }
    // delta rows + segment meta rows only — far under the ~4000+ term
    // rows a postings doc_id scan would add
    assert(reads < 1000, s"range fast path still read $reads records")

    // case 2: interleaved ids (ranges overlap, ids disjoint): the exact
    // postings check runs and must NOT force a rebuild
    spark.sql("DROP TABLE IF EXISTS ir.db.tri")
    spark.sql("CREATE TABLE ir.db.tri (doc_id BIGINT, text STRING)")
    spark.sql("INSERT INTO ir.db.tri SELECT id * 2, 'echo foxtrot' " +
      "FROM range(0, 500, 1, 1)")
    val dirI = tablePath("tri")
    val vI = TextIndex.build(spark, dirI, "doc_id", "text")
    spark.sql("INSERT INTO ir.db.tri SELECT id * 2 + 1, 'golf hotel' " +
      "FROM range(0, 50, 1, 1)")
    val v2 = TextIndex.refresh(spark, dirI, "doc_id", "text")
    assert(v2 == vI + 1)
    val rootI = TextIndex.indexRoot(fs.makeQualified(dirI), "text")
    assert(fs.exists(IndexSegments.manifestPath(new Path(rootI, s"v=$v2"))),
      "overlapping ranges with disjoint ids must refresh as a segment, " +
        "not rebuild")
    val hits = TextIndex.searchCurrent(spark, dirI, "text",
      Seq("golf"), 5).get.collect()
    assert(hits.nonEmpty && hits.forall(_.getLong(0) % 2 == 1))
  }

  test("text refresh chain: 3 refreshes keep BM25 exact vs a monolithic " +
      "rebuild and carry ranges forward in the manifest") {
    wh
    spark.sql("DROP TABLE IF EXISTS ir.db.chain")
    spark.sql("CREATE TABLE ir.db.chain (doc_id BIGINT, text STRING)")
    spark.sql("INSERT INTO ir.db.chain SELECT id, " +
      "concat('common filler w', id % 50) FROM range(0, 1000, 1, 2)")
    val dir = tablePath("chain")
    val v1 = TextIndex.build(spark, dir, "doc_id", "text")
    // three appends, each refreshed: 4 segments total
    (1 to 3).foreach { i =>
      spark.sql(s"INSERT INTO ir.db.chain SELECT id + ${i * 10000}, " +
        s"concat('common unique$i w', id % 50) FROM range(0, 200, 1, 1)")
      assert(TextIndex.refresh(spark, dir, "doc_id", "text") == v1 + i)
    }
    val root = TextIndex.indexRoot(fs.makeQualified(dir), "text")
    val m = IndexSegments.read(fs, new Path(root, s"v=${v1 + 3}")).get
    assert(m.segments.length == 4, s"chain segments: ${m.segments}")
    // every segment's doc range rides the manifest (range:<seg>), so the
    // NEXT refresh's disjointness check costs zero meta reads
    assert(m.segments.forall(s => m.extra.contains(s"range:$s")),
      s"carried ranges incomplete: ${m.extra.keys}")
    // BM25 over the 4-segment union: docs from every batch rank, and a
    // term unique to one delta only surfaces that delta's docs
    val hits = TextIndex.searchCurrent(spark, dir, "text",
      Seq("unique2"), 10).get.collect()
    assert(hits.nonEmpty && hits.forall { r =>
      val id = r.getLong(0); id >= 20000 && id < 20200 })
    // common-term totals stay exact across segments: compare the BM25
    // score against a fresh monolithic rebuild (same totals -> same
    // score for the same doc)
    val viaChain = TextIndex.searchCurrent(spark, dir, "text",
      Seq("common"), 5).get.collect().map(r => (r.getLong(0), r.getDouble(1)))
    // monolithic rebuild at the same version: build() itself must
    // invalidate the cached segment resolution — no manual cache clear
    TextIndex.build(spark, dir, "doc_id", "text")
    val viaRebuild = TextIndex.searchCurrent(spark, dir, "text",
      Seq("common"), 5).get.collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(viaChain.map(_._1).sameElements(viaRebuild.map(_._1)))
    viaChain.zip(viaRebuild).foreach { case ((_, a), (_, b)) =>
      assert(math.abs(a - b) < 1e-9, s"segment BM25 drifted: $a vs $b") }
  }

  // -------------------------------------------------- resolution cache

  test("segment-list resolution is cached across queries; purge invalidates") {
    wh
    spark.sql("DROP TABLE IF EXISTS ir.db.segc")
    spark.sql("CREATE TABLE ir.db.segc (k BIGINT, s STRING)")
    spark.sql("INSERT INTO ir.db.segc SELECT id, 'a' FROM range(0, 500, 1, 1)")
    val dir = tablePath("segc")
    val v1 = ScalarIndex.build(spark, dir, "k")
    spark.sql("INSERT INTO ir.db.segc SELECT id + 500, 'b' FROM range(0, 50, 1, 1)")
    val v2 = ScalarIndex.refresh(spark, dir, "k")
    assert(v2 == v1 + 1)

    val qual = fs.makeQualified(dir)
    val root = ScalarIndex.indexRoot(qual, "k")
    val vdir = new Path(root, s"v=$v2")
    IndexSegments.clearCache()

    val d1 = IndexSegments.dataDirs(fs, root, vdir)
    assert(d1.size == 2, s"expected prior + delta segment, got $d1")
    val misses = IndexSegments.cacheMisses.get()
    val hits = IndexSegments.cacheHits.get()
    val d2 = IndexSegments.dataDirs(fs, root, vdir)
    assert(d2.map(_.toString) == d1.map(_.toString))
    assert(IndexSegments.cacheMisses.get() == misses &&
      IndexSegments.cacheHits.get() == hits + 1,
      "second resolution must be a pure cache hit (zero FS reads)")

    // real queries resolve through the same cache: two index-pruned
    // scans cost zero additional misses
    ScalarIndex.clearCaches()
    val before = IndexSegments.cacheMisses.get()
    val t = spark.table("ir.db.segc")
    assert(t.filter(org.apache.spark.sql.functions.col("k") === 10L).count() == 1)
    assert(t.filter(org.apache.spark.sql.functions.col("k") === 510L).count() == 1)
    assert(IndexSegments.cacheMisses.get() <= before + 1,
      "per-query re-resolution: segment manifest read more than once")

    // drop purges the resolution (same event that purges manifests)
    spark.sql("DROP TABLE ir.db.segc")
    val m2 = IndexSegments.cacheMisses.get()
    assert(IndexSegments.dataDirs(fs, root, vdir).isEmpty)
    assert(IndexSegments.cacheMisses.get() == m2 + 1,
      "drop must invalidate cached segment resolutions for the table")
  }

  test("invalidateUnder stops at the path boundary: dropping table 't' " +
      "must not evict sibling 't2' resolutions") {
    wh
    for (n <- Seq("sib", "sib2")) {
      spark.sql(s"DROP TABLE IF EXISTS ir.db.$n")
      spark.sql(s"CREATE TABLE ir.db.$n (k BIGINT, s STRING)")
      spark.sql(s"INSERT INTO ir.db.$n SELECT id, 'a' FROM range(0, 200, 1, 1)")
    }
    val v1 = ScalarIndex.build(spark, tablePath("sib"), "k")
    val v2 = ScalarIndex.build(spark, tablePath("sib2"), "k")

    val root2 = ScalarIndex.indexRoot(fs.makeQualified(tablePath("sib2")), "k")
    val vdir2 = new Path(root2, s"v=$v2")
    IndexSegments.clearCache()
    val d2 = IndexSegments.dataDirs(fs, root2, vdir2) // warm sib2
    assert(d2.nonEmpty)

    // invalidate sib's table path — "sib" is a strict prefix of "sib2",
    // so a boundary-less startsWith would evict sib2's entry too
    IndexSegments.invalidateUnder(fs, fs.makeQualified(tablePath("sib")))
    val hits = IndexSegments.cacheHits.get()
    assert(IndexSegments.dataDirs(fs, root2, vdir2).map(_.toString) ==
      d2.map(_.toString))
    assert(IndexSegments.cacheHits.get() == hits + 1,
      "sibling table's cached resolution was evicted by a prefix match " +
        "without a path-separator boundary")
    spark.sql("DROP TABLE ir.db.sib")
    spark.sql("DROP TABLE ir.db.sib2")
    assert(v1 >= 1)
  }

  test("a dataDirs racing DROP NAMESPACE cannot re-cache the dying " +
      "segment list") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ir.db9")
    spark.sql("CREATE TABLE ir.db9.rt (k BIGINT, s STRING)")
    spark.sql("INSERT INTO ir.db9.rt SELECT id, 'a' FROM range(0, 200, 1, 1)")
    val dir = new Path(s"file:$wh/db9/rt.graft")
    val v = ScalarIndex.build(spark, dir, "k")
    val root = ScalarIndex.indexRoot(fs.makeQualified(dir), "k")
    val vdir = new Path(root, s"v=$v")
    IndexSegments.clearCache()

    // A FileSystem whose exists() of the version dir fires the FULL
    // namespace drop (purge + delete + per-table re-purge) exactly
    // inside dataDirs' window between its generation snapshot and its
    // cache put — the TOCTOU the advice flagged: the resolution
    // snapshots the TABLE-path generation, so only a post-delete bump
    // of that SAME key can make the guard fire.
    var fired = false
    val racingFs = new org.apache.hadoop.fs.FilterFileSystem(fs) {
      override def exists(p: Path): Boolean = {
        val r = super.exists(p)
        if (!fired && p.toString.contains("v=")) {
          fired = true
          spark.sql("DROP NAMESPACE ir.db9 CASCADE")
        }
        r
      }
    }
    IndexSegments.dataDirs(racingFs, root, vdir)
    assert(fired, "race hook did not fire")
    // the racing resolution read the pre-delete state; it must NOT have
    // been cached — a cached entry here would serve the dead segment
    // list (TTL-less) for ever
    val misses = IndexSegments.cacheMisses.get()
    assert(IndexSegments.dataDirs(fs, root, vdir).isEmpty,
      "dropped namespace's segment list served from cache post-delete")
    assert(IndexSegments.cacheMisses.get() == misses + 1)
  }

  test("invalidateUnder on a NAMESPACE path bumps existing child-table " +
      "generations, bounded at the path separator") {
    // dropNamespace captures child tables before the delete, but a
    // table created BETWEEN the capture and the delete is covered only
    // by the namespace-path sweep — which must reach the TABLE-path
    // generation an in-flight dataDirs snapshotted, or the resolution
    // finishes after the sweep, sees its key unmoved, and re-caches
    // the dead generation's segment list (TTL-less).
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ir.db9")
    spark.sql("CREATE TABLE ir.db9.late (k BIGINT)")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ir.db9x")
    spark.sql("CREATE TABLE ir.db9x.t (k BIGINT)")
    val child = fs.makeQualified(new Path(s"file:$wh/db9/late.graft"))
    val sibling = fs.makeQualified(new Path(s"file:$wh/db9x/t.graft"))
    val g0 = IndexSegments.generationOf(fs, child) // materialize the key
    val s0 = IndexSegments.generationOf(fs, sibling)
    IndexSegments.invalidateUnder(fs, fs.makeQualified(new Path(s"file:$wh/db9")))
    assert(IndexSegments.generationOf(fs, child) == g0 + 1,
      "a namespace-path invalidation must bump the child TABLE key an " +
        "in-flight dataDirs snapshots")
    assert(IndexSegments.generationOf(fs, sibling) == s0,
      "generation bump crossed the path boundary into sibling " +
        "namespace db9x (db9 is its strict prefix)")
    spark.sql("DROP TABLE ir.db9.late")
    spark.sql("DROP TABLE ir.db9x.t")
  }

  test("DROP NAMESPACE bumps each child TABLE's generation after the " +
      "delete, not just the namespace key") {
    // The discriminating invariant behind the race above: an in-flight
    // dataDirs snapshots the TABLE-path generation (tableKeyOf). If it
    // starts after dropNamespace's pre-delete purge and completes after
    // the delete, only a POST-delete bump of that same table key makes
    // its guard fire. A namespace-path bump is invisible to it — so the
    // table generation must move twice across the drop (pre + post).
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ir.db8")
    spark.sql("CREATE TABLE ir.db8.gt (k BIGINT)")
    spark.sql("INSERT INTO ir.db8.gt VALUES (1)")
    val dir = fs.makeQualified(new Path(s"file:$wh/db8/gt.graft"))
    val g0 = IndexSegments.generationOf(fs, dir)
    spark.sql("DROP NAMESPACE ir.db8 CASCADE")
    assert(IndexSegments.generationOf(fs, dir) >= g0 + 2,
      "post-delete per-table purge missing: a resolution racing the " +
        "delete could re-cache the dying generation")
  }

  // --------------------------------------------------------------- drift

  test("embedding drift on refresh (r17 VERDICT #3): a distribution-" +
      "shifted append escalates to a full retrain; a same-distribution " +
      "append keeps the frozen structure; maxRatio<=0 disables") {
    import graft.ops.VectorIndex
    import graft.ops.VectorIndex.{Ivf, Pq}
    def freshTable(name: String): Path = {
      val dir = new Path(tempDir(s"graft-drift-$name").resolve("e.graft").toUri)
      val lfs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      graft.connector.GraftWriter.write(lfs, dir,
        Tables.load(spark, sf, "embeddings"), overwrite = true)
      dir
    }
    val e = Tables.load(spark, sf, "embeddings")
    def shifted(n: Int, off: Long) = e.limit(n)
      .select((col("vec_id") + off).as("vec_id"),
        expr("transform(embedding, x -> x + 10.0F)").as("embedding"),
        col("label"))
    val lfs = tablePath("x").getFileSystem(spark.sessionState.newHadoopConf())

    // ---- IVF: shifted append retrains
    val d1 = freshTable("ivf")
    val v1 = Ivf.build(spark, d1, "vec_id", "embedding", nLists = 8)
    val anchor = VectorIndex.readDriftMean(lfs,
      new Path(Ivf.root(d1, "embedding"), s"v=$v1"))
    assert(anchor.exists(_ > 0), "build must persist a drift anchor")
    val pinned = Ivf.readCurrent(spark, d1, "embedding").get._1.collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)
    graft.connector.GraftWriter.write(lfs, d1, shifted(50, 500000L),
      overwrite = false)
    val v2 = Ivf.refresh(spark, d1, "vec_id", "embedding", nLists = 8)
    val dec = VectorIndex.lastDriftDecision.get()
    assert(dec != null && dec.escalated,
      s"a +10/dim shifted delta must escalate, got $dec")
    assert(dec.anchorMean.exists(a => dec.deltaMean > a * 1.5))
    // escalation = full retrain: monolithic version (no segment
    // manifest), centroids re-trained over the combined corpus
    val dest1 = new Path(Ivf.root(d1, "embedding"), s"v=$v2")
    assert(!lfs.exists(IndexSegments.manifestPath(dest1)),
      "escalated refresh must publish a monolithic rebuild")
    val cents2 = Ivf.readCurrent(spark, d1, "embedding").get._1.collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)
    assert(!cents2.sameElements(pinned),
      "retrain must move the centroids toward the shifted mass")
    assert(Ivf.readCurrent(spark, d1, "embedding").get._2.count() ==
      e.count() + 50)
    // the retrain re-anchors: next same-distribution refresh is calm
    assert(VectorIndex.readDriftMean(lfs, dest1).exists(_ > anchor.get),
      "rebuild must write a fresh anchor over the combined corpus")

    // ---- IVF: same-distribution append does NOT retrain (cost stays
    // O(delta)) — frozen centroids + segment manifest + tiny read set
    val d2 = freshTable("ivf2")
    Ivf.build(spark, d2, "vec_id", "embedding", nLists = 8)
    graft.connector.GraftWriter.write(lfs, d2,
      e.limit(50).select((col("vec_id") + 900000L).as("vec_id"),
        col("embedding"), col("label")), overwrite = false)
    val n = e.count()
    val reads = recordsRead {
      Ivf.refresh(spark, d2, "vec_id", "embedding", nLists = 8)
    }
    val dec2 = VectorIndex.lastDriftDecision.get()
    assert(dec2 != null && !dec2.escalated,
      s"same-distribution delta must not retrain, got $dec2")
    assert(reads < n, s"no-drift refresh read $reads of $n — not O(delta)")
    assert(lfs.exists(IndexSegments.manifestPath(
      new Path(Ivf.root(d2, "embedding"),
        s"v=${Ivf.indexedVersions(spark, d2, "embedding").max}"))),
      "no-drift refresh must stay on the segment path")

    // ---- disabled guard: shifted append stays frozen at maxRatio<=0
    val d3 = freshTable("ivf3")
    Ivf.build(spark, d3, "vec_id", "embedding", nLists = 8)
    graft.connector.GraftWriter.write(lfs, d3, shifted(50, 700000L),
      overwrite = false)
    spark.conf.set(VectorIndex.DriftMaxRatioKey, "0")
    try {
      Ivf.refresh(spark, d3, "vec_id", "embedding", nLists = 8)
      assert(!VectorIndex.lastDriftDecision.get().escalated,
        "maxRatio=0 must disable escalation")
    } finally spark.conf.unset(VectorIndex.DriftMaxRatioKey)

    // ---- PQ: shifted append retrains codebooks too
    val d4 = freshTable("pq")
    val pv1 = Pq.build(spark, d4, "vec_id", "embedding", nLists = 8, m = 8)
    assert(VectorIndex.readDriftMean(lfs,
      new Path(Pq.root(d4, "embedding"), s"v=$pv1")).exists(_ > 0))
    graft.connector.GraftWriter.write(lfs, d4, shifted(50, 800000L),
      overwrite = false)
    val pv2 = Pq.refresh(spark, d4, "vec_id", "embedding", nLists = 8, m = 8)
    assert(VectorIndex.lastDriftDecision.get().escalated,
      "PQ refresh over a shifted delta must escalate")
    assert(!lfs.exists(IndexSegments.manifestPath(
      new Path(Pq.root(d4, "embedding"), s"v=$pv2"))),
      "escalated PQ refresh must publish a monolithic rebuild")
    assert(Pq.readCurrent(spark, d4, "embedding").get._3.count() ==
      e.count() + 50)
  }
}
