package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.format.GraftFormat
import graft.format.GraftFormat._

/** Format-core unit tests: CAS commit semantics, version/timestamp
  * resolution, deletion-file roundtrips (mirrors the reference's
  * metadata-layer unit tests, TestLanceMetadata / TestLanceTableHandle). */
class GraftFormatSpec extends AnyFunSuite {

  private val fs: FileSystem = FileSystem.getLocal(new Configuration())

  private def tmp(): Path =
    new Path(TestSpark.tempDir("fmt").toUri)

  private def manifest(v: Long, op: String = "Append",
      ts: Long = -1L): Manifest =
    Manifest(v, """{"type":"struct","fields":[]}""", Seq.empty, -1,
      if (ts == -1L) 1000L * v else ts, op)

  test("CAS commit: second commit of the same version conflicts") {
    val dir = tmp()
    GraftFormat.commit(fs, dir, manifest(1))
    intercept[CommitConflictException] {
      GraftFormat.commit(fs, dir, manifest(1))
    }
    GraftFormat.commit(fs, dir, manifest(2))
    assert(GraftFormat.listVersions(fs, dir) == Seq(1L, 2L))
  }

  test("commitWithRetry rebuilds from the freshest base after losing a race") {
    val dir = tmp()
    GraftFormat.commit(fs, dir, manifest(1))
    var attempts = 0
    val m = GraftFormat.commitWithRetry(fs, dir) { latest =>
      attempts += 1
      // simulate a concurrent writer sneaking in before our 1st attempt
      if (attempts == 1) GraftFormat.commit(fs, dir, manifest(2))
      manifest(latest.get.version + 1)
    }
    assert(attempts == 2)
    assert(m.version == 3)
    assert(GraftFormat.listVersions(fs, dir) == Seq(1L, 2L, 3L))
  }

  test("commitWithRetry gives up after maxAttempts") {
    val dir = tmp()
    GraftFormat.commit(fs, dir, manifest(1))
    intercept[CommitConflictException] {
      GraftFormat.commitWithRetry(fs, dir, maxAttempts = 3) { _ =>
        manifest(1) // always stale -> always conflicts
      }
    }
  }

  test("versionAtTimestamp resolves latest version at-or-before ts") {
    val dir = tmp()
    GraftFormat.commit(fs, dir, manifest(1, ts = 1000))
    GraftFormat.commit(fs, dir, manifest(2, ts = 2000))
    GraftFormat.commit(fs, dir, manifest(3, ts = 3000))
    assert(GraftFormat.versionAtTimestamp(fs, dir, 999).isEmpty)
    assert(GraftFormat.versionAtTimestamp(fs, dir, 1000).contains(1L))
    assert(GraftFormat.versionAtTimestamp(fs, dir, 2500).contains(2L))
    assert(GraftFormat.versionAtTimestamp(fs, dir, 99999).contains(3L))
  }

  test("versionAtTimestamp memoizes createdAtMs: repeat calls read O(new versions)") {
    val dir = tmp()
    val props = GraftFormat.withTableId(Map.empty)
    (1L to 40L).foreach { v =>
      GraftFormat.commit(fs, dir,
        manifest(v, ts = 1000 * v).copy(properties = props))
    }
    GraftFormat.versionAtTimestamp(fs, dir, 999999) // warm the cache
    val r0 = GraftFormat.versionReads.get()
    assert(GraftFormat.versionAtTimestamp(fs, dir, 15500).contains(15L))
    val warmReads = GraftFormat.versionReads.get() - r0
    // only the newest record (the generation witness) is re-read
    assert(warmReads <= 2, s"warm timestamp travel read $warmReads records")
    // new commits since the last call are the only additional reads
    GraftFormat.commit(fs, dir,
      manifest(41L, ts = 41000).copy(properties = props))
    val r1 = GraftFormat.versionReads.get()
    assert(GraftFormat.versionAtTimestamp(fs, dir, 999999).contains(41L))
    assert(GraftFormat.versionReads.get() - r1 <= 2,
      "incremental timestamp travel re-read old records")
    // generation safety: a drop + re-create reusing version numbers
    // must NOT serve the dead history's commit times
    fs.delete(dir, true)
    val props2 = GraftFormat.withTableId(Map.empty)
    (1L to 3L).foreach { v =>
      GraftFormat.commit(fs, dir,
        manifest(v, ts = 500000 + v).copy(properties = props2))
    }
    assert(GraftFormat.versionAtTimestamp(fs, dir, 400000).isEmpty,
      "stale cached createdAtMs leaked across a drop + re-create")
  }

  test("deletion file roundtrip: sorted, deduplicated") {
    val dir = tmp()
    GraftFormat.init(fs, dir)
    val rel = GraftFormat.writeDeletionFile(fs, dir, 7, 2,
      Array(5L, 1L, 5L, 3L, 1L))
    assert(GraftFormat.readDeletionFile(fs, dir, rel).sameElements(
      Array(1L, 3L, 5L)))
    val empty = GraftFormat.writeDeletionFile(fs, dir, 8, 2, Array.empty[Long])
    assert(GraftFormat.readDeletionFile(fs, dir, empty).isEmpty)
  }

  test("row address packs fragment id and row index") {
    assert(GraftFormat.rowAddress(0, 0) == 0L)
    assert(GraftFormat.rowAddress(1, 0) == (1L << 32))
    assert(GraftFormat.rowAddress(3, 42) == ((3L << 32) | 42L))
  }

  test("manifest json handles special characters and properties") {
    val m = Manifest(1, """{"k":"v\n\t\"quoted\""}""",
      Seq(FragmentMeta(0, "data/a b.parquet", 10, None, 0)),
      0, 123, "Create", Map("blob_columns" -> "a,b", "note" -> "x\"y"))
    assert(GraftFormat.fromJson(GraftFormat.toJson(m)) == m)
  }

  test("manifest json roundtrips sizeBytes and zone-map stats") {
    val m = Manifest(3, """{"type":"struct","fields":[]}""",
      Seq(FragmentMeta(0, "data/a.parquet", 10, None, 0, 2048,
        Map("k" -> ColStats(Some("1"), Some("99"), 2),
          "s" -> ColStats(Some("aa"), Some("zz"), 0),
          "allnull" -> ColStats(None, None, 10)))),
      0, 123, "Append")
    assert(GraftFormat.fromJson(GraftFormat.toJson(m)) == m)
  }

  test("manifests commit gzip-encoded (metadata scale); plain-JSON and " +
      "format_version 1 manifests remain readable via the magic sniff") {
    val m = Manifest(1, """{"type":"struct","fields":[]}""",
      Seq(FragmentMeta(0, "data/a.parquet", 10, None, 0, 2048,
        Map("k" -> ColStats(Some("1"), Some("99"), 2)))),
      0, 123, "Create", Map("note" -> "zipped"))
    val dir = tmp()
    GraftFormat.commit(fs, dir, m)
    val raw = {
      val p = GraftFormat.manifestPath(dir, 1)
      val in = fs.open(p)
      try {
        val b = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
        in.readFully(0, b); b
      } finally in.close()
    }
    assert(raw(0) == 0x1f.toByte && raw(1) == 0x8b.toByte,
      "format v3 (current) manifest must be gzip on the wire")
    assert(GraftFormat.readManifest(fs, dir, 1) == m)
    // a table PINNED to format_version 2 keeps plain JSON — readers
    // built for v2 stay byte-compatible with what they declare
    val dirV2 = tmp()
    GraftFormat.commit(fs, dirV2, m.copy(
      properties = Map(GraftFormat.FormatVersionProp -> "2")))
    val inV2 = fs.open(GraftFormat.manifestPath(dirV2, 1))
    val firstV2 = try inV2.read() finally inV2.close()
    assert(firstV2 == '{'.toInt, "format v2 manifest must stay plain JSON")
    assert(GraftFormat.readManifest(fs, dirV2, 1).fragments.head
      .stats.nonEmpty, "v2 keeps stats content")
    // a plain-JSON manifest (pre-gzip table / hand-written fixture)
    // decodes through the same reader
    val m2 = m.copy(version = 2, operation = "Append")
    val out = fs.create(GraftFormat.manifestPath(dir, 2), true)
    try out.write(GraftFormat.toJson(m2).getBytes("UTF-8"))
    finally out.close()
    assert(GraftFormat.readManifest(fs, dir, 2) == m2)
    // format_version 1 commits stay plain JSON (v1-reader compatible)
    val dir2 = tmp()
    GraftFormat.commit(fs, dir2, m.copy(
      properties = Map(GraftFormat.FormatVersionProp -> "1")))
    val p1 = GraftFormat.manifestPath(dir2, 1)
    val in1 = fs.open(p1)
    val first = try in1.read() finally in1.close()
    assert(first == '{'.toInt, "format v1 manifest must stay plain JSON")
  }

  test("pre-gzip-era string zone-map stats are dropped on read by WIRE " +
      "evidence (plain JSON), not the defaulting format_version property") {
    // an r2-era writer stamped NO format_version (the property defaults
    // to current on read), merged string stats in code-unit order, and
    // wrote plain JSON — the plain wire is the only reliable evidence
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    val m = Manifest(1, schema.json,
      Seq(FragmentMeta(0, "data/a.parquet", 10, None, 0, 2048,
        Map("s" -> ColStats(Some("a"), Some("z"), 0),
          "k" -> ColStats(Some("1"), Some("9"), 0)))),
      0, 123, "Create") // properties EMPTY: formatVersion defaults to 4
    val dir = tmp()
    GraftFormat.init(fs, dir)
    val out = fs.create(GraftFormat.manifestPath(dir, 1), true)
    try out.write(GraftFormat.toJson(m).getBytes("UTF-8"))
    finally out.close()
    val back = GraftFormat.readManifest(fs, dir, 1)
    assert(back.fragments.head.stats.get("s").isEmpty,
      "plain-wire string stats were merged in code-unit order: never prune on them")
    assert(back.fragments.head.stats.get("k").contains(
      ColStats(Some("1"), Some("9"), 0)),
      "numeric stats merge identically under both orders: keep them")
    // the SAME manifest committed by THIS build (gzip wire) keeps its
    // string stats — they were harvested in code-point order
    val dir2 = tmp()
    GraftFormat.commit(fs, dir2, m)
    assert(GraftFormat.readManifest(fs, dir2, 1)
      .fragments.head.stats.contains("s"))
  }

  test("format_version 1 manifests are written without sizeBytes/stats") {
    val m = Manifest(1, """{"type":"struct","fields":[]}""",
      Seq(FragmentMeta(0, "data/a.parquet", 10, None, 0, 2048,
        Map("k" -> ColStats(Some("1"), Some("9"), 0)))),
      0, 123, "Create", Map(GraftFormat.FormatVersionProp -> "1"))
    val dir = tmp()
    GraftFormat.commit(fs, dir, m)
    val back = GraftFormat.readManifest(fs, dir, 1)
    assert(back.formatVersion == 1)
    assert(back.fragments.head.sizeBytes == 0L)
    assert(back.fragments.head.stats.isEmpty)
  }

  test("a chain walk that fails stops the hop reads it did not consume") {
    val dir = tmp()
    val conf = new Configuration()
    conf.set(CheckpointMaterializeKey, "inline")
    val local = FileSystem.newInstanceLocal(conf)
    // a checkpoint at version 1 and deltas 2..9: the cold walk of 9
    // prefetches hops 1..8 at once and consumes 8 first
    val frag = FragmentMeta(0, "data/0.parquet", 10L, None, 0L, 100L)
    var cur = manifest(1).copy(fragments = Seq(frag), maxFragmentId = 0)
    GraftFormat.commit(local, dir, cur)
    (2 to 9).foreach { v =>
      val next = cur.copy(version = v, fragments = cur.fragments :+
        frag.copy(id = v, path = s"data/$v.parquet"), maxFragmentId = v)
      GraftFormat.commit(local, dir, next, base = Some(cur))
      cur = next
    }
    assert(!GraftFormat.isCheckpoint(local, dir, 9L))
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val interrupted = new java.util.concurrent.atomic.AtomicInteger()
    val gate = new java.util.concurrent.CountDownLatch(1)
    // hops 1..7 hold their reads open; hop 8 fails once all 7 are open
    val walkFs = new org.apache.hadoop.fs.FilterFileSystem(local) {
      override def open(p: Path, bufferSize: Int) = {
        val v = p.getName.stripSuffix(".manifest.json").toLong
        if (v == 8L) {
          val deadline = System.nanoTime() + 10000000000L
          while (started.get < 7 && System.nanoTime() < deadline) Thread.sleep(5L)
          throw new java.io.IOException("injected read failure at hop 8")
        }
        if (v < 8L) {
          started.incrementAndGet()
          try gate.await(30L, java.util.concurrent.TimeUnit.SECONDS)
          catch {
            case e: InterruptedException =>
              interrupted.incrementAndGet()
              throw new java.io.InterruptedIOException(e.toString)
          }
        }
        super.open(p, bufferSize)
      }
    }
    graft.format.ManifestCache.clearAll()
    try {
      val e = intercept[Exception](GraftFormat.readManifest(walkFs, dir, 9L))
      assert(TestSpark.rootMsgs(e).contains("injected read failure at hop 8"))
      assert(started.get == 7)
      val deadline = System.nanoTime() + 10000000000L
      while (interrupted.get < 7 && System.nanoTime() < deadline) Thread.sleep(5L)
      assert(interrupted.get == 7, "hop reads kept running after the walk failed")
    } finally {
      gate.countDown()
      local.close()
    }
  }
}
