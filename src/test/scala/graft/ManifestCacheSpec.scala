package graft

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.format.{GraftFormat, ManifestCache}

/** The manifest/snapshot cache contract (reference analog: dataset cache
  * keyed (path, version) with TTL + invalidation,
  * LanceRuntime.java:149-183):
  *  - repeated loadTable within the TTL does ZERO manifest FS reads
  *  - every local commit path (INSERT/DELETE/CTAS/ALTER) invalidates
  *  - a concurrent EXTERNAL commit (another process writing the manifest
  *    file directly) is picked up once the TTL lapses
  *  - DROP + re-CREATE at the same path never serves the old generation
  */
class ManifestCacheSpec extends AnyFunSuite {
  import TestSpark._

  private val wh =
    tempDir("graft-mcache").toString

  private def setup(ttlMs: Long): Unit = {
    spark.conf.set("spark.sql.catalog.mc", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.mc.warehouse", wh)
    spark.conf.set("spark.graft.manifest.cache.ttl.ms", ttlMs.toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS mc.db")
  }

  private def fs = new Path(wh)
    .getFileSystem(spark.sessionState.newHadoopConf())

  private def tdir(name: String) = fs.makeQualified(
    new Path(new Path(wh, "db"), name + ".graft"))

  private def freshTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS mc.db.$name")
    spark.sql(s"CREATE TABLE mc.db.$name (id BIGINT, v STRING)")
    spark.sql(s"INSERT INTO mc.db.$name VALUES (1, 'a'), (2, 'b')")
  }

  test("repeated loadTable within TTL reads the manifest once") {
    setup(ttlMs = 60000)
    freshTable("t1")
    spark.table("mc.db.t1").count() // prime the cache
    val h0 = ManifestCache.hits.get()
    val m0 = ManifestCache.misses.get()
    (1 to 5).foreach(_ => assert(spark.table("mc.db.t1").count() == 2))
    assert(ManifestCache.misses.get() == m0,
      "cached loads must not re-read the manifest")
    assert(ManifestCache.hits.get() >= h0 + 5)
  }

  test("local commits invalidate immediately even with a huge TTL") {
    setup(ttlMs = 3600000)
    freshTable("t2")
    assert(spark.table("mc.db.t2").count() == 2)
    spark.sql("INSERT INTO mc.db.t2 VALUES (3, 'c')")
    assert(spark.table("mc.db.t2").count() == 3,
      "INSERT must be visible immediately")
    spark.sql("DELETE FROM mc.db.t2 WHERE id = 1")
    assert(spark.table("mc.db.t2").count() == 2,
      "DELETE must be visible immediately")
    spark.sql("ALTER TABLE mc.db.t2 ADD COLUMN extra STRING")
    assert(spark.table("mc.db.t2").columns.contains("extra"),
      "ALTER must be visible immediately")
  }

  test("external commit: stale within TTL, picked up after revalidation") {
    setup(ttlMs = 3600000)
    freshTable("t3")
    val dir = tdir("t3")
    assert(spark.table("mc.db.t3").count() == 2)
    // simulate ANOTHER PROCESS committing: write the next manifest file
    // directly, bypassing GraftFormat.commit (and its invalidation hook)
    val latest = GraftFormat.readLatest(fs, dir).get
    val next = latest.copy(version = latest.version + 1,
      fragments = Seq.empty, operation = "Overwrite",
      createdAtMs = System.currentTimeMillis())
    val p = new Path(new Path(dir, "_versions"),
      s"${next.version}.manifest.json")
    val out = fs.create(p, false)
    try out.write(GraftFormat.toJson(next).getBytes("UTF-8"))
    finally out.close()
    // within the TTL the cached (stale) snapshot is served — that is the
    // documented staleness bound
    assert(spark.table("mc.db.t3").count() == 2)
    // ttl=0 forces revalidation on every load: the listing sees the new
    // version and the manifest is re-read
    spark.conf.set("spark.graft.manifest.cache.ttl.ms", "0")
    assert(spark.table("mc.db.t3").count() == 0,
      "external commit must be visible after TTL expiry")
  }

  test("ttl=0 revalidates with a listing but skips the re-parse when unchanged") {
    setup(ttlMs = 0)
    // the quiesce window deliberately re-reads recently-written
    // manifests (same-second re-create ambiguity); this test's subject
    // is the quiescent fast path, so disable the window rather than
    // sleep past it
    spark.conf.set("spark.graft.manifest.cache.quiesce.ms", "0")
    try {
      freshTable("t4")
      spark.table("mc.db.t4").count()
      val r0 = ManifestCache.revalidations.get()
      val m0 = ManifestCache.misses.get()
      (1 to 3).foreach(_ => spark.table("mc.db.t4").count())
      assert(ManifestCache.revalidations.get() >= r0 + 3)
      assert(ManifestCache.misses.get() == m0,
        "unchanged version must not re-read the manifest body")
    } finally spark.conf.unset("spark.graft.manifest.cache.quiesce.ms")
  }

  test("quiesce.ms=0 short-circuits the guard even when the store clock " +
      "runs ahead of the client (mtime in the future)") {
    // the opt-out must mean "trust every stat match", not "require
    // bodyReadAtMs - mtime >= 0": bodyReadAtMs is the CLIENT clock and
    // mtime the STORE clock, so under skew the subtraction reads
    // negative and a relied-on `>= 0` would re-read the body on every
    // revalidation of a guard the user disabled — and re-stamp
    // bodyReadAtMs to a still-skewed now, so it never self-heals
    setup(ttlMs = 0)
    spark.conf.set("spark.graft.manifest.cache.quiesce.ms", "0")
    try {
      freshTable("t4s")
      val head = GraftFormat.listVersions(fs, tdir("t4s")).max
      val mpath = GraftFormat.manifestPath(tdir("t4s"), head)
      // store clock an hour ahead of the client
      fs.setTimes(mpath, System.currentTimeMillis() + 3600 * 1000L, -1)
      ManifestCache.purge(fs, tdir("t4s"))
      spark.table("mc.db.t4s").count() // miss: primes bodyReadAtMs=now
      val r0 = ManifestCache.revalidations.get()
      val m0 = ManifestCache.misses.get()
      (1 to 3).foreach(_ => spark.table("mc.db.t4s").count())
      assert(ManifestCache.revalidations.get() >= r0 + 3)
      assert(ManifestCache.misses.get() == m0,
        "disabled quiesce guard must trust the stat match under skew")
    } finally spark.conf.unset("spark.graft.manifest.cache.quiesce.ms")
  }

  test("revalidation re-reads a stat-identical manifest inside the " +
      "quiesce window (same-second drop + re-create ambiguity)") {
    setup(ttlMs = 0)
    // pin the window far above any CI scheduling delay: the test's
    // premise is "the file is still young when revalidated", and the
    // default 2 s can lapse under load between commit and assert
    spark.conf.set("spark.graft.manifest.cache.quiesce.ms", "3600000")
    try quiesceBody() finally
      spark.conf.unset("spark.graft.manifest.cache.quiesce.ms")
  }

  private def quiesceBody(): Unit = {
    freshTable("t4q")
    val dir = tdir("t4q")
    // re-write the head as PLAIN json so the plain-json swap below is
    // length-identical by construction (commits are gzip on the wire
    // now; the cache sniffs both encodings)
    val latest = GraftFormat.readLatest(fs, dir).get
    val vp = new Path(new Path(dir, "_versions"),
      s"${latest.version}.manifest.json")
    locally {
      val out = fs.create(vp, true)
      try out.write(GraftFormat.toJson(latest).getBytes("UTF-8"))
      finally out.close()
    }
    ManifestCache.purge(fs, dir)
    spark.table("mc.db.t4q").count() // prime
    // simulate ANOTHER PROCESS swapping the head manifest with one of
    // IDENTICAL length at the same version — 1-second-mtime stores make
    // this stat-indistinguishable when it lands in the same second
    val st0 = fs.getFileStatus(vp)
    val swapped = latest.copy(properties = latest.properties +
      (GraftFormat.TableIdProp -> java.util.UUID.randomUUID().toString))
    val bytes = GraftFormat.toJson(swapped).getBytes("UTF-8")
    assert(bytes.length == st0.getLen.toInt,
      "test setup: swapped manifest must be stat-identical in length")
    val out = fs.create(vp, true)
    try out.write(bytes) finally out.close()
    // pin the mtime back to the cached entry's — the stat triple is now
    // IDENTICAL; only the quiesce window can force the re-read
    fs.setTimes(vp, st0.getModificationTime, -1)
    // ttl=0 forces revalidation; the file is young (< quiesce window),
    // so even a (version, mtime, len) match must re-read the body
    val served = ManifestCache.latest(fs, dir, ttlMs = 0).get
    assert(served.properties.get(GraftFormat.TableIdProp) ==
      swapped.properties.get(GraftFormat.TableIdProp),
      "stat-identical swap inside the quiesce window was served stale")
  }

  test("drop + recreate at the same path never serves the old generation") {
    setup(ttlMs = 3600000)
    freshTable("t5")
    assert(spark.table("mc.db.t5").count() == 2)
    spark.sql("DROP TABLE mc.db.t5")
    spark.sql("CREATE TABLE mc.db.t5 (x DOUBLE)")
    val cols = spark.table("mc.db.t5").columns.toSeq
    assert(cols == Seq("x"), s"stale generation served: $cols")
  }

  test("time-travel manifests are served from the pinned cache") {
    setup(ttlMs = 60000)
    freshTable("t6")
    spark.sql("INSERT INTO mc.db.t6 VALUES (9, 'z')")
    assert(spark.sql("SELECT * FROM mc.db.t6 VERSION AS OF 1").count() == 0)
    val ph0 = ManifestCache.pinnedHits.get()
    assert(spark.sql("SELECT * FROM mc.db.t6 VERSION AS OF 2").count() == 2)
    assert(spark.sql("SELECT * FROM mc.db.t6 VERSION AS OF 2").count() == 2)
    assert(ManifestCache.pinnedHits.get() > ph0,
      "repeated VERSION AS OF must hit the pinned cache")
  }

  test("cross-process drop + re-create: the pinned tier must not serve " +
      "the dead generation at a colliding (table, version) key") {
    setup(ttlMs = 0) // latest tier revalidates every load
    freshTable("t9") // v1 create, v2 insert
    val dir = tdir("t9")
    val oldId = GraftFormat.readLatest(fs, dir)
      .flatMap(_.properties.get(GraftFormat.TableIdProp))
      .getOrElse(fail("table id not stamped"))
    // warm the pinned tier at version 2 (old generation)
    assert(spark.sql("SELECT * FROM mc.db.t9 VERSION AS OF 2").count() == 2)
    // ANOTHER PROCESS drops and re-creates: raw fs delete + direct
    // writes, bypassing every in-process purge hook
    fs.delete(dir, true)
    graft.connector.GraftWriter.write(fs, dir,
      spark.range(5).toDF("n"), overwrite = false) // v1, fresh id
    graft.connector.GraftWriter.write(fs, dir,
      spark.range(5, 9).toDF("n"), overwrite = false) // v2 — key collides
    val served = ManifestCache.readPinned(fs, dir, 2L)
    assert(!served.properties.get(GraftFormat.TableIdProp).contains(oldId),
      "pinned tier served the dead generation's manifest after a " +
        "cross-process drop + re-create")
    assert(served.fragments.map(_.rowCount).sum == 9)
    fs.delete(dir, true)
    spark.sql("DROP TABLE IF EXISTS mc.db.t9")
  }

  test("pinned tier evicts an id-carrying hit when the current " +
      "generation has NO id (pre-generation-id build re-created it)") {
    setup(ttlMs = 0)
    freshTable("t10")
    val dir = tdir("t10")
    val oldId = GraftFormat.readLatest(fs, dir)
      .flatMap(_.properties.get(GraftFormat.TableIdProp)).get
    assert(spark.sql("SELECT * FROM mc.db.t10 VERSION AS OF 2").count() == 2)
    // cross-process re-create by a build WITHOUT generation ids: the
    // in-history invariant (id presence is monotone — withTableId keeps,
    // ALTER cannot unset) makes id-carrying-hit + idless-current a
    // DEFINITIVE generation mismatch, not a skip-the-check case
    fs.delete(dir, true)
    GraftFormat.init(fs, dir)
    val old = ManifestCache.readPinned(fs, dir, 2L) // still cached pre-write
    assert(old.properties.get(GraftFormat.TableIdProp).contains(oldId))
    (1L to 2L).foreach { v =>
      val nm = old.copy(version = v, fragments = Seq.empty,
        operation = if (v == 1) "Create" else "Append",
        createdAtMs = System.currentTimeMillis(),
        properties = old.properties - GraftFormat.TableIdProp)
      val p = new Path(new Path(dir, "_versions"), s"$v.manifest.json")
      val out = fs.create(p, false)
      try out.write(GraftFormat.toJson(nm).getBytes("UTF-8"))
      finally out.close()
    }
    val served = ManifestCache.readPinned(fs, dir, 2L)
    assert(!served.properties.contains(GraftFormat.TableIdProp),
      "pinned tier served the dead id-carrying generation over an " +
        "idless current generation")
    fs.delete(dir, true)
    spark.sql("DROP TABLE IF EXISTS mc.db.t10")
  }

  test("a pinned read that returns another generation's manifest " +
      "throws WrongGeneration instead of mixing generations") {
    setup(ttlMs = 0)
    freshTable("t11")
    val dir = tdir("t11")
    val curId = GraftFormat.readLatest(fs, dir)
      .flatMap(_.properties.get(GraftFormat.TableIdProp)).get
    ManifestCache.purge(fs, dir) // cold pinned tier: force the read path
    val e = intercept[ManifestCache.WrongGeneration](
      ManifestCache.readPinned(fs, dir, 2L,
        expectedId = Some("some-other-generation")))
    assert(e.got.contains(curId) && e.version == 2L)
    // and the walk maps it to its typed lost-history error
    val end = GraftFormat.readLatest(fs, dir).get
      .copy(properties = Map(GraftFormat.TableIdProp -> "some-other-generation"))
    val e2 = intercept[GraftFormat.LostHistoryDuringWalk](
      GraftFormat.excludedAsOf(fs, dir, 1L, end))
    assert(e2.getCause.isInstanceOf[ManifestCache.WrongGeneration])
    spark.sql("DROP TABLE mc.db.t11")
  }

  test("a stat match is trusted only when the BODY was read after " +
      "quiescence: a same-second swap landing after the body read is " +
      "re-read, not served stale forever") {
    setup(ttlMs = 0)
    freshTable("t13")
    val dir = tdir("t13")
    // re-write the committed manifest as PLAIN json first: the swap
    // below is plain json too, so length-equality is by construction
    // (a gzip-encoded original and a plain swap would differ in length
    // and miss the point of the test — the cache sniffs both encodings)
    val v = GraftFormat.readLatest(fs, dir).get.version
    val p = GraftFormat.manifestPath(dir, v)
    val m = GraftFormat.readManifest(fs, dir, v)
    locally {
      val out = fs.create(p, true)
      try out.write(GraftFormat.toJson(m).getBytes("UTF-8"))
      finally out.close()
    }
    ManifestCache.purge(fs, dir)
    assert(ManifestCache.latest(fs, dir, ttlMs = 0L).isDefined) // body read
    val bodyReadBy = System.currentTimeMillis()
    val st = fs.getFileStatus(p)
    // same-second swap: another generation's manifest at the same
    // version with IDENTICAL length and mtime (the object-store
    // 1-second-granularity collision) — different table_id, reversed
    // so the byte length cannot change
    val oldId = m.properties(GraftFormat.TableIdProp)
    val newId = oldId.reverse
    assert(newId != oldId)
    val out = fs.create(p, true)
    try out.write(GraftFormat.toJson(m.copy(properties =
      m.properties + (GraftFormat.TableIdProp -> newId))).getBytes("UTF-8"))
    finally out.close()
    fs.setTimes(p, st.getModificationTime, -1)
    assert(fs.getFileStatus(p).getLen == st.getLen,
      "test setup: the swap must preserve the byte length")
    // choose the quiesce window BETWEEN (bodyReadAt - mtime) and
    // (now - mtime): the file must LOOK old enough to trust on a
    // now-based check while the cached body predates quiescence.
    // The floor mirrors the conf clamp (sub-second windows cannot
    // deliver the quiesce guarantee and clamp up to 1 s).
    val gap = math.max(bodyReadBy - st.getModificationTime + 250, 1000L)
    spark.conf.set("spark.graft.manifest.cache.quiesce.ms", gap.toString)
    try {
      while (System.currentTimeMillis() - st.getModificationTime < gap + 100)
        Thread.sleep(50)
      val served = ManifestCache.latest(fs, dir, ttlMs = 0L).get
      assert(served.properties.get(GraftFormat.TableIdProp)
        .contains(newId),
        "a pre-swap body was served on a stat match the swap made " +
          "ambiguous — the trust check must compare the body-read " +
          "time against mtime, not `now`")
    } finally spark.conf.unset("spark.graft.manifest.cache.quiesce.ms")
    spark.sql("DROP TABLE IF EXISTS mc.db.t13")
  }

  test("sessionMaxEntries saturates at Int.MaxValue instead of " +
      "wrapping negative on a Long-range conf value") {
    setup(ttlMs = 0)
    spark.conf.set("spark.graft.manifest.cache.max.entries", "3000000000")
    try assert(ManifestCache.sessionMaxEntries == Int.MaxValue)
    finally spark.conf.unset("spark.graft.manifest.cache.max.entries")
  }

  test("a commit racing latest() cannot reinstate the pre-commit manifest") {
    setup(ttlMs = 3600000)
    freshTable("t8")
    val dir = tdir("t8")
    ManifestCache.invalidateLatest(fs, dir) // start cold
    // A FileSystem whose _versions listing triggers a concurrent commit +
    // invalidation exactly inside latest()'s window between its version
    // listing and its entries.put — the TOCTOU the generation counter
    // guards against.
    var fired = false
    val racingFs = new org.apache.hadoop.fs.FilterFileSystem(fs) {
      override def listStatus(p: Path): Array[org.apache.hadoop.fs.FileStatus] = {
        val r = super.listStatus(p)
        if (!fired && p.toString.endsWith("_versions")) {
          fired = true
          val latest = GraftFormat.readLatest(fs, dir).get
          val next = latest.copy(version = latest.version + 1,
            fragments = Seq.empty, operation = "Overwrite",
            createdAtMs = System.currentTimeMillis())
          val vp = new Path(new Path(dir, "_versions"),
            s"${next.version}.manifest.json")
          val out = fs.create(vp, false)
          try out.write(GraftFormat.toJson(next).getBytes("UTF-8"))
          finally out.close()
          ManifestCache.invalidateLatest(fs, dir)
        }
        r
      }
    }
    val seen = ManifestCache.latest(racingFs, dir, ttlMs = 3600000).get
    assert(fired, "race hook did not fire")
    // the in-flight read may legitimately return the pre-commit manifest,
    // but it must NOT be cached: the next load within the TTL must see
    // the racing commit's version
    val after = ManifestCache.latest(fs, dir, ttlMs = 3600000).get
    assert(after.version == seen.version + 1,
      "stale manifest was reinstated after a racing commit")
  }

  test("DROP NAMESPACE CASCADE purges cached tables like dropTable") {
    setup(ttlMs = 3600000)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS mc.db2")
    spark.sql("CREATE TABLE mc.db2.c1 (id BIGINT, v STRING)")
    spark.sql("INSERT INTO mc.db2.c1 VALUES (1, 'a')")
    // warm both tiers: latest via a plain read, pinned via time travel
    assert(spark.table("mc.db2.c1").count() == 1)
    spark.sql("SELECT * FROM mc.db2.c1 VERSION AS OF 1").count()
    spark.sql("DROP NAMESPACE mc.db2 CASCADE")
    spark.sql("CREATE NAMESPACE mc.db2")
    spark.sql("CREATE TABLE mc.db2.c1 (x DOUBLE)")
    assert(spark.table("mc.db2.c1").columns.toSeq == Seq("x"),
      "latest tier served the dropped generation")
    assert(spark.sql("SELECT * FROM mc.db2.c1 VERSION AS OF 1")
      .columns.toSeq == Seq("x"),
      "pinned tier served the dropped generation's manifest")
  }

  test("session TTL is honored on threads without an active session") {
    setup(ttlMs = 1000)
    spark.conf.set("spark.graft.manifest.cache.ttl.ms", "-1")
    try {
      @volatile var got = 0L
      val t = new Thread(() => {
        org.apache.spark.sql.SparkSession.clearActiveSession()
        got = ManifestCache.sessionTtlMs
      })
      t.start(); t.join()
      assert(got == -1L,
        "configured TTL ignored on a thread with no active session")
    } finally
      spark.conf.set("spark.graft.manifest.cache.ttl.ms", "1000")
  }

  test("latest tier is LRU-bounded by max.entries; evicted tables re-read") {
    setup(ttlMs = 3600000)
    try {
      spark.conf.set("spark.graft.manifest.cache.max.entries", "4")
      ManifestCache.clearAll()
      val names = (1 to 8).map(i => s"lru$i")
      names.foreach { n =>
        spark.sql(s"DROP TABLE IF EXISTS mc.db.$n")
        spark.sql(s"CREATE TABLE mc.db.$n (id BIGINT)")
        spark.sql(s"INSERT INTO mc.db.$n VALUES (1)")
        assert(spark.table(s"mc.db.$n").count() == 1)
      }
      assert(ManifestCache.latestTierSize <= 4,
        "latest tier must stay within spark.graft.manifest.cache.max.entries")
      // the evicted (oldest) table still answers correctly — at the
      // cost of a re-read, not a wrong snapshot
      val m0 = ManifestCache.misses.get()
      assert(spark.table("mc.db.lru1").count() == 1)
      assert(ManifestCache.misses.get() > m0,
        "an evicted table must be a cache miss, never a stale hit")
      names.foreach(n => spark.sql(s"DROP TABLE IF EXISTS mc.db.$n"))
    } finally
      spark.conf.set("spark.graft.manifest.cache.max.entries",
        ManifestCache.DefaultMaxEntries.toString)
  }

  test("vacuum purges pinned entries for dropped versions") {
    setup(ttlMs = 60000)
    freshTable("t7")
    (1 to 3).foreach(i => spark.sql(s"INSERT INTO mc.db.t7 VALUES ($i, 'x')"))
    // warm the pinned cache with an old version, then vacuum it away
    spark.sql("SELECT * FROM mc.db.t7 VERSION AS OF 1").count()
    graft.ops.Maintenance.vacuum(spark, tdir("t7"), keepVersions = 1,
      minVersionsRetained = 1)
    intercept[Exception] {
      spark.sql("SELECT * FROM mc.db.t7 VERSION AS OF 1").count()
    }
  }

  test("both cache tiers evict by FRAGMENT WEIGHT, not entry count " +
      "(a 10^5-fragment manifest is tens of MB on-heap)") {
    setup(ttlMs = 60000)
    // three 2-fragment tables against a 3-fragment budget: entry-count
    // bounds (1024 / 256) never fire here, so any survival beyond one
    // entry per tier proves weight eviction is broken
    spark.conf.set("spark.graft.manifest.cache.max.fragments", "3")
    try {
      ManifestCache.clearAll()
      Seq("w1", "w2", "w3").foreach { t =>
        freshTable(t) // create + insert = 1 data fragment, 2 versions
        spark.sql(s"INSERT INTO mc.db.$t VALUES (3, 'c')") // 2nd fragment
      }
      Seq("w1", "w2", "w3").foreach { t =>
        assert(ManifestCache.latest(fs, tdir(t)).nonEmpty)
        val head = GraftFormat.latestVersion(fs, tdir(t)).get
        ManifestCache.readPinned(fs, tdir(t), head)
      }
      // the bound is WEIGHT, not count: zero-fragment manifests (the
      // empty creates, pinned as chain checkpoints) may all stay — only
      // total fragment metas must respect the budget
      assert(ManifestCache.latestTierWeight <= 3,
        s"latest tier carries ${ManifestCache.latestTierWeight} fragment " +
          "metas against a 3-fragment budget")
      assert(ManifestCache.pinnedTierWeight <= 3,
        s"pinned tier carries ${ManifestCache.pinnedTierWeight} fragment " +
          "metas against a 3-fragment budget")
      // the most recent insert must have SURVIVED (never evict the key
      // just inserted), so w3 serves warm
      val before = ManifestCache.pinnedHits.get()
      ManifestCache.readPinned(fs, tdir("w3"),
        GraftFormat.latestVersion(fs, tdir("w3")).get)
      assert(ManifestCache.pinnedHits.get() == before + 1,
        "the just-inserted manifest must survive its own eviction pass")
    } finally spark.conf.unset("spark.graft.manifest.cache.max.fragments")
  }

  test("cross-process drop + re-create at the SAME head version is " +
      "detected on revalidation (file identity, not just number)") {
    setup(ttlMs = 200)
    freshTable("xp") // generation A: v1 create + v2 insert
    val dir = tdir("xp")
    val idA = ManifestCache.latest(fs, dir).get
      .properties(GraftFormat.TableIdProp)
    // simulate ANOTHER process's drop + re-create: build generation B
    // with the same two-version shape elsewhere, then swap it in with
    // raw FS ops — none of the in-process purge hooks fire, and the new
    // head version number EQUALS the cached one, so a version-only
    // revalidation would re-cache the dead generation forever
    spark.sql("DROP TABLE IF EXISTS mc.db.xp2")
    spark.sql("CREATE TABLE mc.db.xp2 (id BIGINT, v STRING)")
    spark.sql("INSERT INTO mc.db.xp2 VALUES (9, 'z')")
    fs.delete(dir, true)
    assert(fs.rename(tdir("xp2"), dir))
    Thread.sleep(250) // TTL lapses -> the next latest() must revalidate
    val idB = ManifestCache.latest(fs, dir).get
      .properties(GraftFormat.TableIdProp)
    assert(idB != idA, "revalidation served the dead generation's manifest")
  }
}
