package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  test("graft table streams: versions are micro-batch offsets") {
    val wh = tempDir("graft-stream-wh").toString
    spark.conf.set("spark.sql.catalog.gs", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gs.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gs.db")
    spark.sql("CREATE TABLE gs.db.ev (k BIGINT, v STRING)")
    spark.sql("INSERT INTO gs.db.ev VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO gs.db.ev VALUES (3, 'c')")

    val ckpt = tempDir("graft-ckpt").toString
    val out = tempDir("graft-stream-out").toString
    def runOnce(): Unit = {
      val q = spark.readStream.table("gs.db.ev")
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
    }
    runOnce()
    val first = spark.read.parquet(out).collect().map(_.getLong(0)).sorted
    assert(first.sameElements(Array(1L, 2L, 3L)),
      s"first run should stream existing rows, got ${first.mkString(",")}")

    // append more rows; a new AvailableNow run from the same checkpoint
    // must see ONLY the new fragments (offset = manifest version) — no
    // re-delivery of already-streamed fragments
    spark.sql("INSERT INTO gs.db.ev VALUES (4, 'd'), (5, 'd')")
    runOnce()
    val all = spark.read.parquet(out).collect().map(_.getLong(0)).sorted
    assert(all.sameElements(Array(1L, 2L, 3L, 4L, 5L)),
      s"expected exactly-once delivery of all rows, got ${all.mkString(",")}")
  }

  test("a compact consuming a not-yet-streamed append cannot lose rows " +
      "(one micro-batch spans append + compact)") {
    val wh = tempDir("graft-stream-cl-wh").toString
    spark.conf.set("spark.sql.catalog.gcl", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcl.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcl.db")
    spark.sql("CREATE TABLE gcl.db.ev (k BIGINT)")
    spark.sql("INSERT INTO gcl.db.ev VALUES (1), (2)")
    val ckpt = tempDir("graft-cl-ckpt").toString
    val out = tempDir("graft-cl-out").toString
    def runOnce(): Unit = {
      val q = spark.readStream.table("gcl.db.ev")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    runOnce() // checkpoint now points past the first append
    // ONE un-streamed batch window containing an append AND a compact
    // that consumes it: the compact's outputs carry the new rows, so
    // excluding them as "data-neutral" would silently lose k=3
    spark.sql("INSERT INTO gcl.db.ev VALUES (3)")
    val dir = new org.apache.hadoop.fs.Path(
      java.nio.file.Paths.get(wh, "db", "ev.graft").toUri)
    graft.ops.Maintenance.compact(spark, dir, minRows = 10)
    runOnce()
    val got = spark.read.parquet(out).collect().map(_.getLong(0)).toSeq
    assert(got.contains(3L),
      s"append consumed by compact was lost by the stream: got $got")
    // at-least-once is the documented degradation: already-streamed
    // rows may reappear inside the compact outputs, but none vanish
    assert(Set(1L, 2L, 3L).subsetOf(got.toSet))
  }

  test("streaming across schema evolution: ADD COLUMN mid-stream " +
      "delivers old-schema rows; appends after DROP null-fill") {
    // a long-lived pipeline's table evolves under it; each AvailableNow
    // drain resolves the CURRENT schema, and fragments written under
    // other schema generations must still read (parquet evolution:
    // extra columns prune, missing columns null-fill)
    val wh = tempDir("graft-sev-wh").toString
    spark.conf.set("spark.sql.catalog.sev", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.sev.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS sev.db")
    spark.sql("CREATE TABLE sev.db.ev (k BIGINT)")
    spark.sql("INSERT INTO sev.db.ev VALUES (1)")
    val ckpt = tempDir("graft-sev-ckpt").toString
    val out = tempDir("graft-sev-out").toString
    def drain(): Unit = {
      val q = spark.readStream.table("sev.db.ev")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .option("mergeSchema", "true")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    drain()
    assert(spark.read.parquet(out).count() == 1)
    // evolve: add a column, append a row carrying it
    spark.sql("ALTER TABLE sev.db.ev ADD COLUMN tag STRING")
    spark.sql("INSERT INTO sev.db.ev VALUES (2, 'new')")
    drain()
    val afterAdd = spark.read.option("mergeSchema", "true").parquet(out)
    assert(afterAdd.count() == 2)
    // the new drain resolved the evolved schema: k=2 carries its tag,
    // and k=1 (delivered pre-evolution) has no tag column value
    val r2 = afterAdd.where("k = 2").head()
    assert(r2.getAs[String]("tag") == "new")
    // drop the column; an append under the NARROWER schema still flows
    spark.sql("ALTER TABLE sev.db.ev DROP COLUMN tag")
    spark.sql("INSERT INTO sev.db.ev VALUES (3)")
    drain()
    val fin = spark.read.option("mergeSchema", "true").parquet(out)
    assert(fin.where("k = 3").count() == 1)
    assert(fin.select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L), "schema evolution lost or duplicated stream rows")
    // batch view agrees: current schema is (k), all three rows live
    assert(spark.table("sev.db.ev").columns.toSeq == Seq("k"))
    assert(spark.table("sev.db.ev").count() == 3)
    spark.sql("DROP TABLE sev.db.ev")
  }

  test("failOnLostHistory: a vacuumed-away checkpoint version fails " +
      "typed; the default silently re-delivers (at-least-once, no loss)") {
    val wh = tempDir("graft-flh-wh").toString
    spark.conf.set("spark.sql.catalog.flh", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.flh.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS flh.db")
    spark.sql("CREATE TABLE flh.db.ev (k BIGINT)")
    (0 until 3).foreach(i => spark.sql(s"INSERT INTO flh.db.ev VALUES ($i)"))
    val ckpt = tempDir("graft-flh-ckpt").toString
    val out = tempDir("graft-flh-out").toString
    def drain(strict: Boolean): Unit = {
      var r = spark.readStream
      if (strict) r = r.option("failOnLostHistory", "true")
      val q = r.table("flh.db.ev")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    drain(strict = true) // checkpoint now at version 4
    assert(spark.read.parquet(out).count() == 3)
    // more appends, then vacuum the checkpointed version away
    (3 until 5).foreach(i => spark.sql(s"INSERT INTO flh.db.ev VALUES ($i)"))
    val dir = new org.apache.hadoop.fs.Path(
      java.nio.file.Paths.get(wh, "db", "ev.graft").toUri)
    graft.ops.Maintenance.vacuum(spark, dir, keepVersions = 1,
      minVersionsRetained = 1)
    // strict: typed stop naming the retention misconfiguration —
    // a sink that cannot absorb duplicates must not get them
    val e = intercept[Exception](drain(strict = true))
    assert(rootMsgs(e).contains("GRAFT_STREAM_LOST_HISTORY"), rootMsgs(e))
    // default: degrade to re-delivery — every row present, none lost
    drain(strict = false)
    val got = spark.read.parquet(out).collect().map(_.getLong(0)).toSeq
    assert((0L until 5L).toSet.subsetOf(got.toSet),
      s"lost rows after history-loss re-delivery: $got")
    // the failed strict drain committed nothing downstream: the default
    // drain delivered the snapshot exactly once on top of the original
    assert(got.size == 3 + 5, s"unexpected delivery count: $got")
    spark.sql("DROP TABLE flh.db.ev")
  }

  test("failOnLostHistory: a checkpoint AHEAD of history (table dropped " +
      "+ re-created) fails typed instead of silently regressing") {
    val wh = tempDir("graft-flh2-wh").toString
    spark.conf.set("spark.sql.catalog.flh2", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.flh2.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS flh2.db")
    spark.sql("CREATE TABLE flh2.db.ev (k BIGINT)")
    (0 until 4).foreach(i => spark.sql(s"INSERT INTO flh2.db.ev VALUES ($i)"))
    val ckpt = tempDir("graft-flh2-ckpt").toString
    val out = tempDir("graft-flh2-out").toString
    def drain(strict: Boolean): Unit = {
      var r = spark.readStream
      if (strict) r = r.option("failOnLostHistory", "true")
      val q = r.table("flh2.db.ev")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    drain(strict = true) // checkpoint at version 5
    assert(spark.read.parquet(out).count() == 4)
    // drop + re-create at the same name/path: new generation has
    // versions [1, 2] — the checkpoint (5) is now AHEAD of history
    spark.sql("DROP TABLE flh2.db.ev")
    spark.sql("CREATE TABLE flh2.db.ev (k BIGINT)")
    spark.sql("INSERT INTO flh2.db.ev VALUES (100)")
    // strict: typed stop — without it the empty (5, 2] batch would
    // silently regress the checkpoint and the new generation's base
    // rows (k=100, committed at version <= 5) would NEVER be delivered.
    // (The generation-id check fires here — both histories carry ids;
    // the version-arithmetic ahead-check remains as the legacy guard
    // for checkpoints/tables that predate graft.table_id.)
    val e = intercept[Exception](drain(strict = true))
    assert(rootMsgs(e).contains("GRAFT_STREAM_LOST_HISTORY") &&
      rootMsgs(e).contains("generation"), rootMsgs(e))
    spark.sql("DROP TABLE flh2.db.ev")
  }

  test("failOnLostHistory: drop + re-create is caught by the generation " +
      "id even when the NEW history reaches the checkpoint version " +
      "(where every version-arithmetic check passes)") {
    val wh = tempDir("graft-gid-wh").toString
    spark.conf.set("spark.sql.catalog.gid", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gid.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gid.db")
    spark.sql("CREATE TABLE gid.db.ev (k BIGINT)")
    (0 until 3).foreach(i => spark.sql(s"INSERT INTO gid.db.ev VALUES ($i)"))
    val ckpt = tempDir("graft-gid-ckpt").toString
    val out = tempDir("graft-gid-out").toString
    def drain(strict: Boolean): Unit = {
      var r = spark.readStream
      if (strict) r = r.option("failOnLostHistory", "true")
      val q = r.table("gid.db.ev")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    drain(strict = true) // checkpoint at version 4, generation A
    assert(spark.read.parquet(out).count() == 3)
    // new generation B advances PAST the checkpoint version: head = 5
    // >= 4, and version 4 exists in B's history — the ahead-check and
    // the vacuumed-version gate both pass; only the id differs
    spark.sql("DROP TABLE gid.db.ev")
    spark.sql("CREATE TABLE gid.db.ev (k BIGINT)")
    (10 until 14).foreach(i => spark.sql(s"INSERT INTO gid.db.ev VALUES ($i)"))
    val e = intercept[Exception](drain(strict = true))
    assert(rootMsgs(e).contains("GRAFT_STREAM_LOST_HISTORY") &&
      rootMsgs(e).contains("generation"), rootMsgs(e))
    // the failed strict drain delivered nothing and regressed nothing
    assert(spark.read.parquet(out).count() == 3)
    spark.sql("DROP TABLE gid.db.ev")
  }

  test("default mode across drop + re-create: the new generation's " +
      "base rows are re-delivered from the start of its history — " +
      "never silently lost") {
    val wh = tempDir("graft-gid2-wh").toString
    spark.conf.set("spark.sql.catalog.gid2", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gid2.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gid2.db")
    spark.sql("CREATE TABLE gid2.db.ev (k BIGINT)")
    (0 until 3).foreach(i => spark.sql(s"INSERT INTO gid2.db.ev VALUES ($i)"))
    val ckpt = tempDir("graft-gid2-ckpt").toString
    val out = tempDir("graft-gid2-out").toString
    def drain(): Unit = {
      val q = spark.readStream.table("gid2.db.ev")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    drain() // checkpoint at version 4, generation A; rows 0,1,2 out
    // generation B reaches head 5 >= 4: without the id, versions 1-4's
    // rows (10,11,12) would be skipped as "already streamed" and only
    // version 5's row (13) would ever arrive
    spark.sql("DROP TABLE gid2.db.ev")
    spark.sql("CREATE TABLE gid2.db.ev (k BIGINT)")
    (10 until 14).foreach(i => spark.sql(s"INSERT INTO gid2.db.ev VALUES ($i)"))
    drain()
    val got = spark.read.parquet(out).collect().map(_.getLong(0)).toSeq
    assert((10L until 14L).forall(got.contains),
      s"new generation's base rows lost: $got")
    spark.sql("DROP TABLE gid2.db.ev")
  }

  test("streaming source over s3a: versions as offsets, incremental " +
      "drains, every byte over HTTP") {
    // cross of the streaming subsystem with the object-store deployment
    // (the batch matrix covers s3a; streams read manifests + fragments
    // through the same FileSystem seam and must behave identically)
    val srv = graft.sources.S3LiteServer.shared
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3a.impl", classOf[graft.sources.S3LiteFileSystem].getName)
    hc.set(graft.sources.S3LiteFileSystem.EndpointKey, srv.endpoint)
    spark.conf.set("spark.sql.catalog.s3st", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.s3st.warehouse", "s3a://s3stwh/wh")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS s3st.db")
    spark.sql("DROP TABLE IF EXISTS s3st.db.ev")
    spark.sql("CREATE TABLE s3st.db.ev (k BIGINT, v STRING)")
    spark.sql("INSERT INTO s3st.db.ev VALUES (1, 'a'), (2, 'b')")
    val ckpt = tempDir("graft-s3st-ckpt").toString
    val out = tempDir("graft-s3st-out").toString
    def runOnce(): Unit = {
      val q = spark.readStream.table("s3st.db.ev")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    val gets0 = srv.gets.get()
    runOnce()
    assert(spark.read.parquet(out).count() == 2)
    assert(srv.gets.get() > gets0, "stream read nothing over HTTP")
    // incremental: only the new version's fragment flows
    spark.sql("INSERT INTO s3st.db.ev VALUES (3, 'c')")
    runOnce()
    val got = spark.read.parquet(out).collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 2L, 3L), s"incremental s3a drain broke: $got")
    // a third drain with no new commits delivers nothing
    runOnce()
    assert(spark.read.parquet(out).count() == 3)
    spark.sql("DROP TABLE s3st.db.ev")
  }

  test("head blip/drop semantics hold over s3a: hold-at-lastHead on an " +
      "empty listing, typed strict failure on an affirmative drop") {
    // the local-FS blip test's object-store twin: exists() is a prefix
    // probe and listings are HTTP pages here, so the evidence rules
    // (empty listing = blip while the prefix is alive; prefix gone =
    // drop) must be re-proven against the s3a seam, not assumed
    val srv = graft.sources.S3LiteServer.shared
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3a.impl", classOf[graft.sources.S3LiteFileSystem].getName)
    hc.set(graft.sources.S3LiteFileSystem.EndpointKey, srv.endpoint)
    spark.conf.set("spark.sql.catalog.s3bl", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.s3bl.warehouse", "s3a://s3blwh/wh")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS s3bl.db")
    spark.sql("DROP TABLE IF EXISTS s3bl.db.t")
    spark.sql("CREATE TABLE s3bl.db.t (k BIGINT)")
    spark.sql("INSERT INTO s3bl.db.t VALUES (1)") // v2
    val dir = new org.apache.hadoop.fs.Path("s3a://s3blwh/wh/db/t.graft")
    val fs = dir.getFileSystem(hc)
    val m = graft.format.GraftFormat.readLatest(fs, dir).get
    val id = m.properties(graft.format.GraftFormat.TableIdProp)
    import graft.streaming.GraftOffset
    val gtable = new graft.connector.GraftTable("s3bl.db.t", dir, m, hc)
    val s = new graft.streaming.GraftMicroBatchStream(gtable)
    assert(s.latestOffset() == GraftOffset(2, Some(id)))
    // blip: the manifest prefix empties but the table prefix stays
    // alive through its data objects — hold at the last observed head
    fs.delete(new org.apache.hadoop.fs.Path(dir, "_versions"), true)
    assert(s.latestOffset() == GraftOffset(2, Some(id)),
      "an empty s3a manifest listing must hold the last observed head")
    // affirmative drop: the whole prefix is gone
    fs.delete(dir, true)
    val strict = new graft.streaming.GraftMicroBatchStream(gtable,
      Map("failonlosthistory" -> "true"))
    val e = intercept[IllegalStateException](strict.latestOffset())
    assert(e.getMessage.contains("GRAFT_STREAM_LOST_HISTORY") &&
      e.getMessage.contains("dropped"), e.getMessage)
    // default mode still holds and waits for a re-create
    assert(s.latestOffset() == GraftOffset(2, Some(id)))
    spark.sql("DROP TABLE IF EXISTS s3bl.db.t")
  }

  test("expected_table_id on a STREAM pins the generation: mismatch " +
      "fails typed (the option must never be silently ignored)") {
    val wh = tempDir("graft-seid-wh").toString
    spark.conf.set("spark.sql.catalog.seid", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.seid.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS seid.db")
    spark.sql("CREATE TABLE seid.db.ev (k BIGINT)")
    spark.sql("INSERT INTO seid.db.ev VALUES (1)")
    val id = spark.sql("SHOW TBLPROPERTIES seid.db.ev").collect()
      .find(_.getString(0) == "graft.table_id").get.getString(1)
    val out = tempDir("graft-seid-out").toString
    def drain(want: String, ckpt: String): Unit = {
      val q = spark.readStream.option("expected_table_id", want)
        .table("seid.db.ev")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    // matching pin streams normally
    drain(id, tempDir("graft-seid-c1").toString)
    assert(spark.read.parquet(out).count() == 1)
    // a stale bookmark (e.g. from before a drop + re-create) fails
    // typed instead of silently streaming the wrong generation
    val e = intercept[Exception](
      drain("stale-id", tempDir("graft-seid-c2").toString))
    assert(rootMsgs(e).contains("GRAFT_STREAM_LOST_HISTORY") &&
      rootMsgs(e).contains("expected_table_id"), rootMsgs(e))
    spark.sql("DROP TABLE seid.db.ev")
  }

  test("offset json carries the generation id and parses legacy " +
      "checkpoint forms") {
    val wh = tempDir("graft-off-wh").toString
    spark.conf.set("spark.sql.catalog.goff", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.goff.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS goff.db")
    spark.sql("CREATE TABLE goff.db.t (k BIGINT)")
    val dir = new org.apache.hadoop.fs.Path(
      java.nio.file.Paths.get(wh, "db", "t.graft").toUri)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dir.getFileSystem(conf)
    val m = graft.format.GraftFormat.readManifest(fs, dir, 1L)
    assert(m.properties.contains(graft.format.GraftFormat.TableIdProp),
      "CREATE TABLE must stamp graft.table_id")
    val s = new graft.streaming.GraftMicroBatchStream(
      new graft.connector.GraftTable("goff.db.t", dir, m, conf))
    import graft.streaming.GraftOffset
    // legacy r11-and-earlier checkpoint forms parse unchanged
    assert(s.deserializeOffset("""{"version":5}""") == GraftOffset(5, None))
    assert(s.deserializeOffset("7") == GraftOffset(7, None))
    // current form round-trips (a digits-strip would swallow id hex)
    val off = GraftOffset(5, Some("ab3-12f"))
    assert(off.json == """{"version":5,"table_id":"ab3-12f"}""")
    assert(s.deserializeOffset(off.json) == off)
    // a malformed \uXXXX in a hand-edited checkpoint decodes leniently
    // (literal chars) instead of crashing the restart with
    // NumberFormatException
    assert(s.deserializeOffset(
      "{\"version\":3,\"table_id\":\"a\\uZZZZ\"}")
      == GraftOffset(3, Some("auZZZZ")))
    // a truncated \uXX at end-of-string likewise stays literal
    assert(s.deserializeOffset(
      "{\"version\":3,\"table_id\":\"a\\u12\"}")
      == GraftOffset(3, Some("au12")))
    spark.sql("DROP TABLE goff.db.t")
  }

  test("planInputPartitions never plans the construction pin's dead " +
      "generation: empty listings fail typed, partial listings read " +
      "the end manifest pinned") {
    val wh = tempDir("graft-plan-wh").toString
    spark.conf.set("spark.sql.catalog.gplan", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gplan.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gplan.db")
    spark.sql("CREATE TABLE gplan.db.t (k BIGINT)")
    spark.sql("INSERT INTO gplan.db.t VALUES (1)") // v2, fragment 0
    val dir = new org.apache.hadoop.fs.Path(
      java.nio.file.Paths.get(wh, "db", "t.graft").toUri)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dir.getFileSystem(conf)
    val m1 = graft.format.GraftFormat.readManifest(fs, dir, 1L)
    val id = m1.properties(graft.format.GraftFormat.TableIdProp)
    import graft.streaming.GraftOffset
    // pin the stream at v1 so the pin can never satisfy a [1,2] batch
    val s = new graft.streaming.GraftMicroBatchStream(
      new graft.connector.GraftTable("gplan.db.t", dir, m1, conf))
    // warm the pinned tier with v2 (what a prior trigger's walk does)
    graft.format.ManifestCache.readPinned(fs, dir, 2L)
    // PARTIAL listing blip: v2's manifest file vanishes from the
    // listing but the pinned tier still holds it — the batch plans
    // from the pinned end manifest, NOT the v1 construction pin
    val v2file = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(dir, "_versions"), "2.manifest.json")
    val v2bytes = {
      val in = fs.open(v2file)
      try { val b = new Array[Byte](fs.getFileStatus(v2file).getLen.toInt)
        in.readFully(0, b); b } finally in.close()
    }
    fs.delete(v2file, false)
    val parts = s.planInputPartitions(
      GraftOffset(1L, Some(id)), GraftOffset(2L, Some(id)))
    assert(parts.length == 1,
      s"expected v2's single appended fragment, got ${parts.length}")
    // EMPTY listing (all manifests unlistable): planning fails typed
    // in both modes instead of falling back to any pin — after the
    // bounded retry
    val vdir = new org.apache.hadoop.fs.Path(dir, "_versions")
    val saved = fs.listStatus(vdir).map(_.getPath)
    saved.foreach(p => fs.delete(p, false))
    val e = intercept[IllegalStateException](s.planInputPartitions(
      GraftOffset(1L, Some(id)), GraftOffset(2L, Some(id))))
    assert(e.getMessage.contains("GRAFT_STREAM_UNLISTABLE_HISTORY") &&
      !e.getMessage.contains("vacuum"), e.getMessage)
    // COLD pinned tier + end manifest truly gone: typed lost-history
    // (the batch cannot be planned faithfully), never the dead pin
    val out = fs.create(new org.apache.hadoop.fs.Path(vdir,
      "1.manifest.json"), true)
    try out.write(graft.format.GraftFormat.toJson(m1).getBytes("UTF-8"))
    finally out.close()
    graft.format.ManifestCache.purge(fs, dir)
    val e2 = intercept[IllegalStateException](s.planInputPartitions(
      GraftOffset(1L, Some(id)), GraftOffset(2L, Some(id))))
    assert(e2.getMessage.contains("GRAFT_STREAM_LOST_HISTORY") &&
      e2.getMessage.contains("vanished"), e2.getMessage)
    // restore v2 so the drop below sees a consistent table
    val out2 = fs.create(v2file, true)
    try out2.write(v2bytes) finally out2.close()
    spark.sql("DROP TABLE gplan.db.t")
  }

  test("headState holds the last OBSERVED head through a listing blip " +
      "and fails typed only on an affirmative drop") {
    val wh = tempDir("graft-blip-wh").toString
    spark.conf.set("spark.sql.catalog.gblip", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gblip.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gblip.db")
    spark.sql("CREATE TABLE gblip.db.t (k BIGINT)")
    spark.sql("INSERT INTO gblip.db.t VALUES (1)") // v2
    val dir = new org.apache.hadoop.fs.Path(
      java.nio.file.Paths.get(wh, "db", "t.graft").toUri)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dir.getFileSystem(conf)
    val m = graft.format.GraftFormat.readLatest(fs, dir).get
    val idA = m.properties(graft.format.GraftFormat.TableIdProp)
    import graft.streaming.GraftOffset
    val gtable = new graft.connector.GraftTable("gblip.db.t", dir, m, conf)
    val s = new graft.streaming.GraftMicroBatchStream(gtable)
    assert(s.latestOffset() == GraftOffset(2, Some(idA)))
    // cross-process drop + re-create: generation B restarts at v1
    fs.delete(dir, true)
    graft.format.GraftFormat.init(fs, dir)
    val nm = m.copy(version = 1L, fragments = Seq.empty,
      operation = "Create", createdAtMs = System.currentTimeMillis(),
      properties = m.properties +
        (graft.format.GraftFormat.TableIdProp -> "generation-b"))
    val p = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(dir, "_versions"), "1.manifest.json")
    val out = fs.create(p, false)
    try out.write(graft.format.GraftFormat.toJson(nm).getBytes("UTF-8"))
    finally out.close()
    // a successful listing observes generation B — lastHead advances
    assert(s.latestOffset() == GraftOffset(1, Some("generation-b")))
    // BLIP: manifests unlistable but the table directory survives —
    // hold at the last OBSERVED head (generation B), never the
    // construction pin (generation A, which is dead: persisting it
    // would fail a strict restart forever) and never (0, None) (which
    // regresses the checkpoint and downgrades it to legacy)
    fs.delete(new org.apache.hadoop.fs.Path(dir, "_versions"), true)
    assert(s.latestOffset() == GraftOffset(1, Some("generation-b")))
    // default mode survives even an affirmative drop (waits for the
    // re-create whose changed id restarts delivery)
    fs.delete(dir, true)
    assert(s.latestOffset() == GraftOffset(1, Some("generation-b")))
    // strict / expected_table_id streams fail typed on the affirmative
    // drop — idling silently on a permanently-dropped table would be
    // indistinguishable from an empty backlog
    for (opts <- Seq(Map("failonlosthistory" -> "true"),
        Map("expected_table_id" -> idA))) {
      val strict = new graft.streaming.GraftMicroBatchStream(gtable, opts)
      val e = intercept[IllegalStateException](strict.latestOffset())
      assert(e.getMessage.contains("GRAFT_STREAM_LOST_HISTORY") &&
        e.getMessage.contains("dropped"), e.getMessage)
    }
    // a RESTORE of a prior generation's files is the authoritative
    // current state (head observations are serialized, so a changed
    // id can only come from a read that started after the on-disk
    // change — never from a stale racing thread): the head follows it,
    // and the id change routes through the usual drop+re-create
    // policies (strict fails typed, default restarts delivery)
    graft.format.GraftFormat.init(fs, dir)
    val back = m.copy(version = 2L, createdAtMs = System.currentTimeMillis())
    (1L to 2L).foreach { v =>
      val bm = back.copy(version = v, fragments = Seq.empty,
        operation = if (v == 1) "Create" else "Append")
      val bp = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(dir, "_versions"), s"$v.manifest.json")
      val bout = fs.create(bp, false)
      try bout.write(graft.format.GraftFormat.toJson(bm).getBytes("UTF-8"))
      finally bout.close()
    }
    assert(s.latestOffset() == GraftOffset(2, Some(idA)),
      "a restored generation must be observed as the current state")
    spark.sql("DROP TABLE IF EXISTS gblip.db.t")
  }

  test("head observations stay totally ordered under concurrent readers " +
      "racing drop + re-create churn: no reader ever sees a superseded " +
      "generation, and no reader ever crashes on a mid-listing delete") {
    // the headLock serialization's load-bearing claim is that reads are
    // ordered, not just updates — so a reader's OWN observation
    // sequence can never step backward to a generation a later-starting
    // read already superseded, no matter how the churn interleaves.
    // Six readers hammer latestOffset (ttl=0 listings) while the driver
    // drops and re-creates the table; each drop opens a real
    // dir-vanishes-mid-listing window, so this also pins the evidence
    // rule that a racing delete reads as an EMPTY listing (hold at
    // lastHead), never as an uncaught FileNotFoundException.
    val wh = tempDir("graft-hstress-wh").toString
    spark.conf.set("spark.sql.catalog.ghs", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.ghs.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ghs.db")
    spark.sql("CREATE TABLE ghs.db.t (k BIGINT)")
    spark.sql("INSERT INTO ghs.db.t VALUES (1)")
    val dir = new org.apache.hadoop.fs.Path(
      java.nio.file.Paths.get(wh, "db", "t.graft").toUri)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dir.getFileSystem(conf)
    val m = graft.format.GraftFormat.readLatest(fs, dir).get
    def idOf(): String = graft.format.GraftFormat.readLatest(fs, dir).get
      .properties(graft.format.GraftFormat.TableIdProp)
    val gens = scala.collection.mutable.ArrayBuffer(idOf())
    import graft.streaming.GraftOffset
    val s = new graft.streaming.GraftMicroBatchStream(
      new graft.connector.GraftTable("ghs.db.t", dir, m, conf))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val perThread = Array.fill(6)(
      scala.collection.mutable.ArrayBuffer.empty[GraftOffset])
    val threads = perThread.map { buf =>
      val t = new Thread(() => {
        try while (!stop.get())
          buf += s.latestOffset().asInstanceOf[GraftOffset]
        catch { case e: Throwable => failure.compareAndSet(null, e) }
      })
      t.setDaemon(true); t.start(); t
    }
    try {
      for (_ <- 0 until 5) {
        spark.sql("INSERT INTO ghs.db.t VALUES (2)")
        spark.sql("DROP TABLE ghs.db.t")
        spark.sql("CREATE TABLE ghs.db.t (k BIGINT)")
        spark.sql("INSERT INTO ghs.db.t VALUES (1)")
        gens += idOf()
      }
    } finally stop.set(true)
    threads.foreach(_.join(30000))
    assert(failure.get() == null,
      s"a reader crashed during churn: ${failure.get()}")
    val order = gens.zipWithIndex.toMap
    assert(order.size == gens.size, "generation ids must be unique")
    for ((buf, i) <- perThread.zipWithIndex) {
      assert(buf.nonEmpty, s"reader $i made no observations")
      val idx = buf.toSeq.map { o =>
        val id = o.tableId.getOrElse(
          fail(s"reader $i observed an id-less offset: $o"))
        order.getOrElse(id, fail(s"reader $i observed unknown id $id"))
      }
      assert(idx.zip(idx.tail).forall { case (a, b) => a <= b },
        s"reader $i stepped back to a superseded generation: $idx")
      // within one generation the observed head version never regresses
      // (shared lastHead maxes within an id; a regression means a
      // partial listing leaked through the serialization)
      buf.toSeq.zip(buf.toSeq.tail).foreach { case (a, b) =>
        if (a.tableId == b.tableId) assert(a.version <= b.version,
          s"reader $i saw version regress within a generation: $a -> $b")
      }
    }
    spark.sql("DROP TABLE IF EXISTS ghs.db.t")
  }

  test("offset json round-trips ANY generation id string (escaping " +
      "property): quotes and backslashes survive the checkpoint log") {
    // a pre-reservation build could have ALTERed graft.table_id to an
    // arbitrary string; a lossy round-trip fabricates a permanent
    // generation mismatch (default mode: unbounded re-delivery loop)
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val s = {
      val wh = tempDir("graft-offprop-wh").toString
      spark.conf.set("spark.sql.catalog.gop", "graft.catalog.GraftCatalog")
      spark.conf.set("spark.sql.catalog.gop.warehouse", wh)
      spark.sql("CREATE NAMESPACE IF NOT EXISTS gop.db")
      spark.sql("CREATE TABLE gop.db.t (k BIGINT)")
      val dir = new org.apache.hadoop.fs.Path(
        java.nio.file.Paths.get(wh, "db", "t.graft").toUri)
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = dir.getFileSystem(conf)
      new graft.streaming.GraftMicroBatchStream(
        new graft.connector.GraftTable("gop.db.t", dir,
          graft.format.GraftFormat.readManifest(fs, dir, 1L), conf))
    }
    val genId = Gen.nonEmptyListOf(Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf('"', '\\', '-', '_', '{', '}', ':'),
      // control characters would split Spark's LINE-oriented offset
      // log mid-entry if not \u-escaped — newline and tab especially
      Gen.choose(0, 31).map(_.toChar)))
      .map(_.mkString)
    val prop = Prop.forAll(genId, Gen.choose(0L, 1000000L)) { (id, v) =>
      val off = graft.streaming.GraftOffset(v, Some(id))
      s.deserializeOffset(off.json()) == off
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, s"offset json round-trip violated: ${res.status}")
    spark.sql("DROP TABLE gop.db.t")
  }

  test("strict stream detects a cross-process drop + re-create even " +
      "inside the manifest-cache TTL window") {
    // latestOffset must read the head version and the generation id
    // from ONE consistent snapshot: a fresh listing paired with a
    // TTL-cached id lets a drop + re-create pass the id check while
    // planning against the NEW history's listing — a strict stream
    // would deliver wrong-generation data until the TTL lapses.
    val wh = tempDir("graft-ttlgen-wh").toString
    spark.conf.set("spark.sql.catalog.gttl", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gttl.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gttl.db")
    spark.sql("CREATE TABLE gttl.db.t (k BIGINT)")
    spark.sql("INSERT INTO gttl.db.t VALUES (1)") // v2
    val dir = new org.apache.hadoop.fs.Path(
      java.nio.file.Paths.get(wh, "db", "t.graft").toUri)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dir.getFileSystem(conf)
    val m = graft.format.GraftFormat.readLatest(fs, dir).get
    val idA = m.properties(graft.format.GraftFormat.TableIdProp)
    val prevTtl = spark.conf.get("spark.graft.manifest.cache.ttl.ms", null)
    try {
      // warm the latest-tier cache with a huge TTL (old generation)
      spark.conf.set("spark.graft.manifest.cache.ttl.ms", "3600000")
      graft.format.ManifestCache.latest(fs, dir)
      // ANOTHER PROCESS drops + re-creates past the checkpoint version:
      // raw fs delete + direct manifest writes — no in-process commit
      // hook fires, so the warmed cache entry (generation A) survives
      fs.delete(dir, true)
      graft.format.GraftFormat.init(fs, dir)
      (1L to 3L).foreach { v =>
        val nm = m.copy(version = v, fragments = Seq.empty,
          operation = if (v == 1) "Create" else "Append",
          createdAtMs = System.currentTimeMillis(),
          properties = m.properties +
            (graft.format.GraftFormat.TableIdProp -> "fresh-generation-b"))
        val p = new org.apache.hadoop.fs.Path(
          new org.apache.hadoop.fs.Path(dir, "_versions"),
          s"$v.manifest.json")
        val out = fs.create(p, false)
        try out.write(graft.format.GraftFormat.toJson(nm).getBytes("UTF-8"))
        finally out.close()
      }
      val s = new graft.streaming.GraftMicroBatchStream(
        new graft.connector.GraftTable("gttl.db.t", dir, m, conf),
        Map("failonlosthistory" -> "true"))
      import org.apache.spark.sql.connector.read.streaming.ReadLimit
      val e = intercept[IllegalStateException](s.latestOffset(
        graft.streaming.GraftOffset(2L, Some(idA)),
        ReadLimit.allAvailable()))
      assert(e.getMessage.contains("GRAFT_STREAM_LOST_HISTORY"),
        e.getMessage)
    } finally {
      if (prevTtl == null)
        spark.conf.unset("spark.graft.manifest.cache.ttl.ms")
      else spark.conf.set("spark.graft.manifest.cache.ttl.ms", prevTtl)
      spark.sql("DROP TABLE IF EXISTS gttl.db.t")
    }
  }

  test("streaming across CREATE OR REPLACE: replacement rows are " +
      "delivered (fragment ids are never reused within one history)") {
    val wh = tempDir("graft-rep-wh").toString
    spark.conf.set("spark.sql.catalog.grep", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.grep.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS grep.db")
    spark.sql("CREATE TABLE grep.db.rep (k BIGINT)")
    spark.sql("INSERT INTO grep.db.rep VALUES (1)") // fragment id 0
    val ckpt = tempDir("graft-rep-ckpt").toString
    val out = tempDir("graft-rep-out").toString
    def runOnce(): Unit = {
      val q = spark.readStream.table("grep.db.rep")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    runOnce()
    assert(spark.read.parquet(out).collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L)))
    // REPLACE continues the version history (Overwrite commit) — its
    // fragments MUST take fresh ids: a reused id 0 would be excluded by
    // the provenance walk (it matches the checkpoint's base set) and
    // the replacement rows would silently never stream
    spark.sql("CREATE OR REPLACE TABLE grep.db.rep AS SELECT 100L AS k")
    runOnce()
    val all = spark.read.parquet(out).collect().map(_.getLong(0)).sorted
    assert(all.sameElements(Array(1L, 100L)),
      s"replacement rows lost: got ${all.mkString(",")}")
    spark.sql("DROP TABLE grep.db.rep")
  }

  test("streaming x maintenance storm: live appends + compact + vacuum " +
      "race AvailableNow drains on one checkpoint — zero loss, no " +
      "phantom duplicates") {
    // r11 VERDICT stretch #6: the last untested interaction between the
    // streaming source's provenance walk (GraftFormat.excludedAsOf),
    // Maintenance.compact's fragment rewrites, and vacuum's history
    // drops + cache purges — all live at once. Contract under storm:
    //  - ZERO LOST APPENDS, always;
    //  - within one drain, no row delivered twice;
    //  - across drains, a re-delivery may only repeat a row an earlier
    //    drain already delivered (the documented at-least-once
    //    degradation when a compact consumes not-yet-streamed appends
    //    or vacuum drops the checkpoint's start version) — a k first
    //    seen twice would be a real exactly-once bug.
    val wh = tempDir("graft-storm-wh").toString
    spark.conf.set("spark.sql.catalog.stm", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.stm.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS stm.db")
    spark.sql("DROP TABLE IF EXISTS stm.db.storm")
    spark.sql("CREATE TABLE stm.db.storm (k BIGINT)")
    val dir = new org.apache.hadoop.fs.Path(
      java.nio.file.Paths.get(wh, "db", "storm.graft").toUri)
    val ckpt = tempDir("graft-storm-ckpt").toString
    val out = tempDir("graft-storm-out").toString
    val totalAppends = 40
    val appendsDone = new java.util.concurrent.atomic.AtomicInteger()
    val appendErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val maintErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)

    val appender = new Thread(() => {
      try {
        (0 until totalAppends).foreach { i =>
          spark.sql(s"INSERT INTO stm.db.storm VALUES ($i)")
          appendsDone.incrementAndGet()
          Thread.sleep(30)
        }
      } catch { case t: Throwable => appendErr.set(t) }
    }, "storm-appender")
    val maintenance = new Thread(() => {
      try {
        while (!stop.get()) {
          graft.ops.Maintenance.compact(spark, dir, minRows = 1000000)
          // time-based retention covering the longest in-flight drain —
          // the production contract (Delta/Iceberg precedent): vacuum
          // cannot see a remote reader's pinned version, so retention
          // must outlast reader duration: 180s here vs drain()'s 120s
          // budget, so even a drain that exhausts its budget on a
          // loaded box cannot have its pinned version aged out mid-run.
          // A first draft of this storm vacuumed on version COUNT alone
          // (keepVersions=40) and proved the point: compact churns >40
          // versions during one multi-second drain, the drain's pinned
          // manifest ages out, and its data file is GC'd mid-task (a
          // retryable stream failure, not silent loss). The vacuum path
          // still fully runs here: listing, manifest walk, cache
          // purges, file-ref GC.
          graft.ops.Maintenance.vacuum(spark, dir, keepVersions = 40,
            olderThanMs = 180000L)
          Thread.sleep(60)
        }
      } catch { case t: Throwable => maintErr.set(t) }
    }, "storm-maintenance")
    appender.start(); maintenance.start()

    def drain(): Unit = {
      val q = spark.readStream.table("stm.db.storm")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      // a timed-out drain must not leave the query running: the next
      // drain() on the same checkpoint would throw a confusing
      // concurrent-query error instead of naming the slow drain
      if (!q.awaitTermination(120000)) {
        q.stop()
        fail("drain exceeded 120s — AvailableNow did not terminate")
      }
    }
    def counts(): Map[Long, Long] =
      spark.read.parquet(out).groupBy("k").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap

    var prev = Map.empty[Long, Long]
    var drains = 0
    // keep draining while the appender works, then close out the tail
    while (appender.isAlive) {
      drain(); drains += 1
      val now = counts()
      // within-drain uniqueness + no phantom duplicates: a k whose
      // count grew by more than 1 in one drain, or a first appearance
      // with count > 1, was double-delivered in a single batch
      now.foreach { case (k, c) =>
        val before = prev.getOrElse(k, 0L)
        assert(c - before <= 1,
          s"k=$k delivered ${c - before} times in drain $drains")
      }
      prev = now
      Thread.sleep(150)
    }
    appender.join(); stop.set(true); maintenance.join()
    drain() // final close-out after all appends committed
    // storm-infrastructure failures must name themselves: an appender
    // that died of CAS-retry exhaustion would otherwise be misreported
    // by the loss assertion below as storage-layer data loss
    assert(appendErr.get() == null,
      s"appender thread died mid-storm after ${appendsDone.get()} of " +
        s"$totalAppends appends: ${appendErr.get()}")
    assert(appendsDone.get() == totalAppends)
    assert(maintErr.get() == null,
      s"maintenance thread died mid-storm: ${maintErr.get()}")
    val fin = counts()
    assert(fin.keySet == (0L until totalAppends).toSet,
      s"lost appends: missing ${(0L until totalAppends).toSet -- fin.keySet}")
    val dupes = fin.filter(_._2 > 1)
    // re-deliveries only ever repeat already-delivered rows; each drain
    // delivers a row at most once, so no count can exceed drain count
    dupes.foreach { case (k, c) => assert(c <= drains + 1,
      s"k=$k delivered $c times across ${drains + 1} drains") }
    // the TABLE itself (batch view) is exact regardless of stream
    // degradation: maintenance never altered the data
    assert(spark.table("stm.db.storm").groupBy("k").count()
      .collect().forall(_.getLong(1) == 1))
    spark.sql("DROP TABLE stm.db.storm")
  }

  test("streaming incremental dedup: flatMapGroupsWithState keeps " +
      "first-seen docs across micro-batches") {
    val wh = tempDir("graft-sdedup-wh").toString
    spark.conf.set("spark.sql.catalog.sd", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.sd.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS sd.db")
    // the extra `src` column pins the pass-through contract: every input
    // column must survive the state function (end-of-r8 ADVICE — the old
    // impl silently projected down to 3 renamed columns)
    spark.sql(
      "CREATE TABLE sd.db.crawl (doc_id BIGINT, body STRING, src STRING)")
    // snapshot 1: 'aa' duplicated within the batch (ids 1 and 2)
    spark.sql("INSERT INTO sd.db.crawl VALUES " +
      "(2, 'aa', 'web'), (1, 'aa', 'books'), (3, 'bb', 'web')")

    val ckpt = tempDir("graft-sdedup-ckpt").toString
    val out = tempDir("graft-sdedup-out").toString
    def runOnce(): Unit = {
      val q = graft.streaming.StreamingDedup.firstSeen(
        spark.readStream.table("sd.db.crawl"), "doc_id", "body")
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    runOnce()
    // output = ORIGINAL schema + trailing content_hash
    assert(spark.read.parquet(out).columns.toSeq ==
      Seq("doc_id", "body", "src", "content_hash"))
    val first = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("body"),
        r.getAs[String]("src"))).sorted
    assert(first.sameElements(Array((1L, "aa", "books"), (3L, "bb", "web"))),
      s"within-batch dup must keep min doc_id; got ${first.mkString(",")}")

    // snapshot 2: 'aa'/'bb' seen in an EARLIER batch (cross-batch
    // state hit), 'cc' genuinely new
    spark.sql("INSERT INTO sd.db.crawl VALUES " +
      "(10, 'aa', 'web'), (11, 'cc', 'web'), (12, 'bb', 'web')")
    runOnce()
    val all = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("body")).sorted
    assert(all.sameElements(Array(1L -> "aa", 3L -> "bb", 11L -> "cc")),
      s"cross-batch dups must be dropped by state; got ${all.mkString(",")}")
    // the hash column is the real md5 of the winning text
    assert(spark.read.parquet(out).where(col("doc_id") === 11L)
      .head().getAs[String]("content_hash") ==
      java.security.MessageDigest.getInstance("MD5")
        .digest("cc".getBytes("UTF-8")).map("%02x".format(_)).mkString)
  }

  test("streaming NEAR-dup: LSH bucket state emits cross-batch " +
      "candidate pairs") {
    val wh = tempDir("graft-snd-wh").toString
    spark.conf.set("spark.sql.catalog.snd", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.snd.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS snd.db")
    spark.sql("CREATE TABLE snd.db.crawl (doc_id BIGINT, body STRING)")
    val same = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // batch 1: docs 1/2 near-identical (within-batch pair), 3 unrelated
    spark.sql("INSERT INTO snd.db.crawl VALUES " +
      s"(1, '$same'), (2, '$same extra'), " +
      "(3, 'totally different words nothing shared here at all today ok')")

    val ckpt = tempDir("graft-snd-ckpt").toString
    val out = tempDir("graft-snd-out").toString
    def runOnce(): Unit = {
      val q = graft.streaming.StreamingDedup.lshCandidates(
        spark.readStream.table("snd.db.crawl"), "doc_id", "body")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    runOnce()
    def pairs() = spark.read.parquet(out)
      .dropDuplicates("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs() == Set(1L -> 2L),
      s"within-batch near-dup pair expected; got ${pairs()}")
    // batch 2: doc 10 duplicates the batch-1 docs (cross-batch STATE
    // hit), doc 11 unrelated — earlier doc is always a_id
    spark.sql("INSERT INTO snd.db.crawl VALUES " +
      s"(10, '$same'), " +
      "(11, 'another unrelated document with its own vocabulary entirely')")
    runOnce()
    assert(pairs() == Set(1L -> 2L, 1L -> 10L, 2L -> 10L),
      s"cross-batch pairs expected; got ${pairs()}")
    // estimates are the signature-agreement fraction: identical texts
    // (1, 10) agree on every permutation
    val est110 = spark.read.parquet(out)
      .where(col("a_id") === 1L && col("b_id") === 10L)
      .head().getDouble(2)
    assert(est110 == 1.0, s"identical docs must estimate 1.0, got $est110")
  }

  test("streaming NEAR-dup bounds a degenerate mega-bucket batch: " +
      "only the 2*bucketCap smallest ids are buffered, deterministically") {
    val wh = tempDir("graft-mb-wh").toString
    spark.conf.set("spark.sql.catalog.mb", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.mb.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS mb.db")
    spark.sql("CREATE TABLE mb.db.crawl (doc_id BIGINT, body STRING)")
    // 40 identical docs in ONE batch: every (band, hash) group sees all
    // 40. With bucketCap=4 the batch window holds the 8 smallest ids —
    // ids 1..4 fill state, ids 5..8 emit against them, ids 9..40 fall
    // outside the window (the documented recall-for-boundedness trade)
    val same = "omega psi chi phi upsilon tau sigma rho pi omicron words"
    spark.sql("INSERT INTO mb.db.crawl VALUES " +
      (1L to 40L).map(i => s"($i, '$same')").mkString(", "))
    val ckpt = tempDir("graft-mb-ckpt").toString
    val out = tempDir("graft-mb-out").toString
    val q = graft.streaming.StreamingDedup.lshCandidates(
      spark.readStream.table("mb.db.crawl"), "doc_id", "body",
      bucketCap = 4)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.read.parquet(out).dropDuplicates("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // emissions: ids 1..4 fill state as they process (pairs among
    // themselves), ids 5..8 each emit against the full state {1..4}
    val expect = (for {
      b <- 1L to 8L; a <- 1L until b
      if a <= 4L
    } yield a -> b).toSet
    assert(got == expect,
      s"window must cap at the 8 smallest ids; got ${got.toSeq.sorted}")
  }

  test("stateful dedup runs under the RocksDB state store provider " +
      "(the claimed cluster deployment shape)") {
    // same scenario as the exact-dedup test, but with the state store
    // the 100 TB docs point at — proves the Bucket/Boolean state
    // encoders survive RocksDB serialization, not just the in-memory
    // HDFS-backed provider the other tests default to
    val wh = tempDir("graft-rdb-wh").toString
    spark.conf.set("spark.sql.catalog.rdb", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.rdb.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS rdb.db")
    spark.sql("CREATE TABLE rdb.db.crawl (doc_id BIGINT, body STRING)")
    val same = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    spark.sql("INSERT INTO rdb.db.crawl VALUES " +
      s"(1, '$same'), (2, 'one unrelated document body here'), (3, '$same')")
    val ckptE = tempDir("graft-rdb-ckpt-e").toString
    val ckptN = tempDir("graft-rdb-ckpt-n").toString
    val outE = tempDir("graft-rdb-out-e").toString
    val outN = tempDir("graft-rdb-out-n").toString
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provider)
    spark.conf.set(provider,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def runBoth(): Unit = {
        val qe = graft.streaming.StreamingDedup.firstSeen(
          spark.readStream.table("rdb.db.crawl"), "doc_id", "body")
          .writeStream.format("parquet")
          .option("path", outE).option("checkpointLocation", ckptE)
          .trigger(Trigger.AvailableNow()).start()
        val qn = graft.streaming.StreamingDedup.lshCandidates(
          spark.readStream.table("rdb.db.crawl"), "doc_id", "body")
          .writeStream.format("parquet")
          .option("path", outN).option("checkpointLocation", ckptN)
          .trigger(Trigger.AvailableNow()).start()
        qe.awaitTermination(120000); qn.awaitTermination(120000)
      }
      runBoth()
      assert(spark.read.parquet(outE).collect()
        .map(_.getAs[Long]("doc_id")).sorted.toSeq == Seq(1L, 2L))
      assert(spark.read.parquet(outN).dropDuplicates("a_id", "b_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set(1L -> 3L))
      // second batch exercises RocksDB state RECOVERY in a new query
      spark.sql(s"INSERT INTO rdb.db.crawl VALUES (10, '$same')")
      runBoth()
      assert(spark.read.parquet(outE).collect()
        .map(_.getAs[Long]("doc_id")).sorted.toSeq == Seq(1L, 2L),
        "cross-batch dup must be dropped by recovered RocksDB state")
      assert(spark.read.parquet(outN).dropDuplicates("a_id", "b_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set(1L -> 3L, 1L -> 10L, 3L -> 10L))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(provider, v)
        case None => spark.conf.unset(provider)
      }
    }
  }

  test("graft streaming SINK: stream graft->graft with per-epoch commits") {
    val wh = tempDir("graft-sink-wh").toString
    spark.conf.set("spark.sql.catalog.gk", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gk.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gk.db")
    spark.sql("CREATE TABLE gk.db.src (k BIGINT, v STRING)")
    spark.sql("CREATE TABLE gk.db.dst (k BIGINT, v STRING)")
    spark.sql("INSERT INTO gk.db.src VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO gk.db.src VALUES (3, 'c')")

    val ckpt = tempDir("graft-sink-ckpt").toString
    def runOnce(): Unit = {
      val q = spark.readStream.table("gk.db.src")
        .withColumn("v", upper(col("v")))
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .toTable("gk.db.dst")
      q.awaitTermination(60000)
    }
    runOnce()
    assert(spark.table("gk.db.dst").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "A"), (2L, "B"), (3L, "C")))

    // incremental: new source rows flow through; dst versions advance by
    // exactly the committed epochs, stamped with the epoch property
    spark.sql("INSERT INTO gk.db.src VALUES (4, 'd')")
    runOnce()
    assert(spark.table("gk.db.dst").count() == 4)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      new org.apache.hadoop.conf.Configuration())
    val dir = new org.apache.hadoop.fs.Path(
      java.nio.file.Paths.get(wh, "db", "dst.graft").toUri)
    val m = graft.format.GraftFormat.readLatest(fs, dir).get
    assert(m.operation == "Append")
    assert(m.properties.keys.exists(_.startsWith("stream_epoch.")),
      "epoch idempotence marker missing from manifest")
    // the sink table is a normal graft table: DML + time travel work on it
    spark.sql("DELETE FROM gk.db.dst WHERE k = 1")
    assert(spark.table("gk.db.dst").count() == 3)
  }

  test("maxVersionsPerTrigger bounds backlog per micro-batch, no loss/dup") {
    val wh = tempDir("graft-adm-wh").toString
    spark.conf.set("spark.sql.catalog.ga", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.ga.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ga.db")
    spark.sql("CREATE TABLE ga.db.ev (k BIGINT)")
    (1 to 3).foreach(i => spark.sql(s"INSERT INTO ga.db.ev VALUES ($i)"))

    val ckpt = tempDir("graft-adm-ckpt").toString
    val out = tempDir("graft-adm-out").toString
    val q = spark.readStream
      .option("maxVersionsPerTrigger", "1")
      .table("ga.db.ev")
      .writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    // all three appends delivered exactly once...
    val rows = spark.read.parquet(out).collect().map(_.getLong(0)).sorted
    assert(rows.sameElements(Array(1L, 2L, 3L)),
      s"expected exactly-once drain, got ${rows.mkString(",")}")
    // ...across one micro-batch per version (4 versions: create + 3
    // inserts; the create commit carries no fragments)
    val batches = new java.io.File(ckpt, "offsets").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(batches >= 4,
      s"expected >= 4 bounded micro-batches (1 version each), got $batches")
  }

  test("watermarked windowed aggregation over the graft streaming source") {
    // event-time tumbling windows + watermark on top of our source:
    // late data beyond the watermark is dropped by Spark's stateful
    // operator; the state store, not the source, handles dedup/expiry.
    val wh = tempDir("graft-wm-wh").toString
    spark.conf.set("spark.sql.catalog.gw", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gw.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gw.db")
    spark.sql("CREATE TABLE gw.db.clicks (user_id BIGINT, ts TIMESTAMP)")
    spark.sql("""INSERT INTO gw.db.clicks VALUES
      |(1, TIMESTAMP '2026-01-01 00:00:10'),
      |(1, TIMESTAMP '2026-01-01 00:00:40'),
      |(2, TIMESTAMP '2026-01-01 00:01:05'),
      |(1, TIMESTAMP '2026-01-01 00:02:30')""".stripMargin)

    val ckpt = tempDir("graft-wm-ckpt").toString
    val out = tempDir("graft-wm-out").toString
    def runOnce(): Seq[(String, Long, Long)] = {
      val q = spark.readStream.table("gw.db.clicks")
        .withWatermark("ts", "1 minute")
        .groupBy(window(col("ts"), "1 minute"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("w"), col("user_id"), col("n"))
        .writeStream
        .format("parquet")
        .option("path", out)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      spark.read.parquet(out)
        .collect().map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getLong(2)))
        .sortBy(x => (x._1, x._2)).toSeq
    }
    // run 1: append mode emits exactly the windows the watermark CLOSES.
    // The run's data batch sets the watermark to max ts - 1m =
    // 00:01:30, and the trailing no-new-data batch (AvailableNow keeps
    // triggering until the target drains) emits windows whose END <=
    // 00:01:30 — only the 00:00 window; 00:01 and 00:02 stay in state
    assert(runOnce() == Seq(("2026-01-01 00:00:00.0", 1L, 2L)))

    // run 2: the 00:05 row advances the watermark to 00:04:00 -> the
    // 00:01 and 00:02 windows close; 00:05 stays open
    spark.sql(
      "INSERT INTO gw.db.clicks VALUES (2, TIMESTAMP '2026-01-01 00:05:00')")
    assert(runOnce() == Seq(
      ("2026-01-01 00:00:00.0", 1L, 2L),
      ("2026-01-01 00:01:00.0", 2L, 1L),
      ("2026-01-01 00:02:00.0", 1L, 1L)))

    // run 3: watermark 00:08:00 closes the 00:05 window
    spark.sql(
      "INSERT INTO gw.db.clicks VALUES (1, TIMESTAMP '2026-01-01 00:09:00')")
    assert(runOnce() == Seq(
      ("2026-01-01 00:00:00.0", 1L, 2L),
      ("2026-01-01 00:01:00.0", 2L, 1L),
      ("2026-01-01 00:02:00.0", 1L, 1L),
      ("2026-01-01 00:05:00.0", 2L, 1L)))
  }

  test("multimodal feature extraction is deterministic and complete") {
    val df = SparkEntry.queries("m01_multimodal_features")(spark, sf)
    val rows = df.collect()
    assert(rows.length == Tables.load(spark, sf, "documents").count())
    rows.foreach { r =>
      assert(r.getAs[Long]("byte_len") > 0)
      assert(r.getAs[Double]("mean_byte") > 0)
      assert(r.getAs[Int]("n_frames") ==
        ((r.getAs[Long]("byte_len") + 15) / 16).toInt)
    }
    // determinism across runs
    val again = SparkEntry.queries("m01_multimodal_features")(spark, sf).collect()
    assert(rows.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("decoder seam: ServiceLoader swaps implementations by conf") {
    import graft.operators.MediaDecoder
    // a registered non-default decoder takes over when selected ...
    spark.conf.set(MediaDecoder.DecoderConf, "test-constant")
    try {
      val swapped = SparkEntry.queries("m01_multimodal_features")(spark, sf)
        .collect()
      assert(swapped.nonEmpty)
      assert(swapped.forall(r => r.getAs[Int]("width") == 42
        && r.getAs[Int]("height") == 24),
        "selected decoder was not used")
      // ... an unknown codec fails loudly, naming what IS available
      spark.conf.set(MediaDecoder.DecoderConf, "nope")
      val e = intercept[Exception] {
        SparkEntry.queries("m01_multimodal_features")(spark, sf).collect()
      }
      assert(e.getMessage.contains("nope") ||
        Option(e.getCause).exists(_.getMessage.contains("nope")))
    } finally spark.conf.unset(MediaDecoder.DecoderConf)
    // default (stub) restored
    assert(SparkEntry.queries("m01_multimodal_features")(spark, sf)
      .collect().exists(_.getAs[Int]("width") != 42))
  }

  test("bmp decoder parses real pixel data, agreeing with the JDK's " +
      "own BMP reader") {
    import graft.operators.{BmpCodec, BmpMediaDecoder}
    // a 5x3 image with a known gradient
    val (w, h) = (5, 3)
    val rgb = Array.tabulate(w * h * 3)(i => (i * 7 % 256).toByte)
    val bmp = BmpCodec.encode24(w, h, rgb)
    // independent oracle: the JDK's ImageIO BMP codec must read back the
    // identical dimensions and pixels our encoder wrote and our decoder
    // parses
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bmp))
    assert(img.getWidth == w && img.getHeight == h)
    var sum = 0L
    for (y <- 0 until h; x <- 0 until w) {
      val p = img.getRGB(x, y)
      sum += ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
      val src = (y * w + x) * 3
      assert(((p >> 16) & 0xff) == (rgb(src) & 0xff) &&
        ((p >> 8) & 0xff) == (rgb(src + 1) & 0xff) &&
        (p & 0xff) == (rgb(src + 2) & 0xff),
        s"pixel ($x,$y) round-trip mismatch")
    }
    val expectMean = math.rint(sum.toDouble / (w * h * 3) * 10000) / 10000
    val row = new BmpMediaDecoder().decode(7L, bmp)
    assert(row.getInt(2) == w && row.getInt(3) == h)
    assert(row.getDouble(4) == expectMean,
      s"mean ${row.getDouble(4)} != ImageIO-derived $expectMean")
    assert(row.getInt(5) == 1)
    // malformed payloads fail loudly, never silently fabricate features
    intercept[IllegalArgumentException](
      new BmpMediaDecoder().decode(1L, Array[Byte](1, 2, 3)))
    // the m04 gate query drives the same decoder through the seam,
    // partition-parallel over real encoded images
    val m04 = SparkEntry.queries("m04_bmp_decode")(spark, sf).collect()
    assert(m04.nonEmpty && m04.forall(r =>
      r.getAs[Int]("width") >= 4 && r.getAs[Int]("n_frames") == 1))
  }

  test("png decoder inflates + unfilters real scanlines, agreeing with " +
      "the JDK's own PNG reader across all five filter types") {
    import graft.operators.{PngCodec, PngMediaDecoder}
    val (w, h) = (7, 5)
    val rgb = Array.tabulate(w * h * 3)(i => (i * 13 % 256).toByte)
    for (filter <- 0 to 4) {
      val png = PngCodec.encodeRGB(w, h, rgb, filter)
      // independent oracle: ImageIO must read back identical pixels
      // from our deflated, filtered encoding
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(png))
      assert(img != null, s"ImageIO rejected our PNG (filter $filter)")
      assert(img.getWidth == w && img.getHeight == h)
      var sum = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val p = img.getRGB(x, y)
        val src = (y * w + x) * 3
        assert(((p >> 16) & 0xff) == (rgb(src) & 0xff) &&
          ((p >> 8) & 0xff) == (rgb(src + 1) & 0xff) &&
          (p & 0xff) == (rgb(src + 2) & 0xff),
          s"pixel ($x,$y) mismatch under filter $filter")
        sum += ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
      }
      val expectMean = math.rint(sum.toDouble / (w * h * 3) * 10000) / 10000
      val row = new PngMediaDecoder().decode(9L, png)
      assert(row.getInt(2) == w && row.getInt(3) == h)
      assert(row.getDouble(4) == expectMean,
        s"mean ${row.getDouble(4)} != ImageIO-derived $expectMean " +
          s"(filter $filter)")
    }
    // the JDK's own encoder (which picks its own filters and emits
    // ancillary chunks we must skip) round-trips through our decoder
    val img2 = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val src = (y * w + x) * 3
      img2.setRGB(x, y, ((rgb(src) & 0xff) << 16) |
        ((rgb(src + 1) & 0xff) << 8) | (rgb(src + 2) & 0xff))
    }
    val jdkOut = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img2, "png", jdkOut)
    val (w2, h2, ch2, _) = PngCodec.decode(jdkOut.toByteArray)
    assert(w2 == w && h2 == h && (ch2 == 3 || ch2 == 4))
    // malformed payloads fail loudly, never silently fabricate features
    intercept[IllegalArgumentException](
      new PngMediaDecoder().decode(1L, Array[Byte](1, 2, 3)))
    // a single flipped bit inside a chunk body must fail the stored
    // CRC32 check, not decode to wrong features (r9 ADVICE)
    val corrupt = PngCodec.encodeRGB(w, h, rgb, 0).clone()
    corrupt(45) = (corrupt(45) ^ 0x10).toByte // inside IDAT data
    val ex = intercept[IllegalArgumentException](PngCodec.decode(corrupt))
    assert(ex.getMessage.contains("CRC"), s"wrong failure: ${ex.getMessage}")
    // the m06 gate query drives the same decoder through the seam
    val m06 = SparkEntry.queries("m06_png_decode")(spark, sf).collect()
    assert(m06.nonEmpty && m06.forall(r =>
      r.getAs[Int]("width") >= 4 && r.getAs[Int]("n_frames") == 1))
  }

  test("wav decoder parses real PCM frames, agreeing with the JDK's " +
      "own WAV reader") {
    import graft.operators.{WavCodec, WavMediaDecoder}
    // a 2-channel clip with a known sawtooth
    val (rate, channels, frames) = (16000, 2, 37)
    val samples = Array.tabulate[Short](frames * channels)(i =>
      ((i * 311 % 2048) - 1024).toShort)
    val wav = WavCodec.encode16(rate, channels, samples)
    // independent oracle: the JDK's javax.sound WAV parser must read
    // back the identical format + frame count our encoder wrote and our
    // decoder parses
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    assert(in.getFormat.getSampleRate.toInt == rate &&
      in.getFormat.getChannels == channels &&
      in.getFormat.getSampleSizeInBits == 16 &&
      in.getFrameLength.toInt == frames)
    // the JDK stream yields the same little-endian PCM bytes we wrote
    val pcm = in.readAllBytes()
    assert(pcm.length == frames * channels * 2)
    var sum = 0L
    for (i <- 0 until frames * channels) {
      val s = ((pcm(i * 2) & 0xff) | (pcm(i * 2 + 1) << 8)).toShort
      assert(s == samples(i), s"sample $i round-trip mismatch")
      sum += math.abs(s.toInt)
    }
    val expectMean =
      math.rint(sum.toDouble / (frames * channels) / 256.0 * 10000) / 10000
    val row = new WavMediaDecoder().decode(7L, wav)
    assert(row.getInt(2) == rate && row.getInt(3) == channels)
    assert(row.getDouble(4) == expectMean,
      s"mean ${row.getDouble(4)} != javax.sound-derived $expectMean")
    assert(row.getInt(5) == frames)
    // chunk walker: extra chunks before data are skipped, not fatal
    val listChunk = Array[Byte]('L', 'I', 'S', 'T', 4, 0, 0, 0, 1, 2, 3, 4)
    val padded = wav.take(12) ++ listChunk ++ wav.drop(12)
    val riffSize = padded.length - 8
    padded(4) = riffSize.toByte; padded(5) = (riffSize >> 8).toByte
    padded(6) = (riffSize >> 16).toByte; padded(7) = (riffSize >> 24).toByte
    assert(WavCodec.decode(padded) == ((rate, channels, frames, expectMean)))
    // malformed payloads fail loudly, never silently fabricate features
    intercept[IllegalArgumentException](
      new WavMediaDecoder().decode(1L, Array[Byte](1, 2, 3)))
    // the m05 gate query drives the same decoder through the seam,
    // partition-parallel over real encoded audio
    val m05 = SparkEntry.queries("m05_wav_decode")(spark, sf).collect()
    assert(m05.nonEmpty && m05.forall(r =>
      r.getAs[Int]("width") >= 8000 && r.getAs[Int]("n_frames") >= 64))
  }

  test("wav codec roundtrip holds for arbitrary rates/channels/samples " +
      "(ScalaCheck)") {
    import graft.operators.WavCodec
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val genClip = for {
      rate <- Gen.choose(1, 192000)
      channels <- Gen.choose(1, 8)
      frames <- Gen.choose(0, 200)
      samples <- Gen.listOfN(frames * channels,
        Gen.choose(Short.MinValue.toInt, Short.MaxValue.toInt).map(_.toShort))
    } yield (rate, channels, samples.toArray)
    val prop = Prop.forAll(genClip) { case (rate, channels, samples) =>
      val (r, c, f, mean) = WavCodec.decode(
        WavCodec.encode16(rate, channels, samples))
      val n = samples.length
      val expect = if (n == 0) 0.0
        else math.rint(samples.map(s => math.abs(s.toInt).toLong).sum
          .toDouble / n / 256.0 * 10000) / 10000
      r == rate && c == channels && f == n / channels && mean == expect
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, s"wav roundtrip violated: ${res.status}")
  }
}

/** Registered via META-INF/services in TEST resources only — proves a
  * deployment can add codecs without touching the operator. */
final class TestConstantDecoder extends graft.operators.MediaDecoder {
  override def codec: String = "test-constant"
  override def decode(docId: Long, payload: Array[Byte])
      : org.apache.spark.sql.Row =
    org.apache.spark.sql.Row(docId, payload.length.toLong, 42, 24, 1.0,
      1)
}
