package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The SECOND PROCESS of the two-JVM concurrency storm (r12 VERDICT
  * ask #2): a standalone main that appends / compacts / vacuums — and
  * optionally drops + re-creates — a graft table while another JVM
  * streams it and commits CAS writes. Every cross-process contract in
  * the format layer (CAS commit chains, ManifestCache revalidation by
  * (version, mtime, len), generation ids across drop+re-create, vacuum
  * race tolerance) was previously proven only by same-JVM simulation;
  * this agent makes the second process real, over file:// and — via
  * `GRAFT_STORM_ENDPOINT`, real HTTP to the other process's
  * [[graft.sources.S3LiteServer]] — over s3a:// (the reference's
  * LocalStack matrix is inherently two-process,
  * plugin/trino-lance: T/LanceQueryRunner.java:174-193).
  *
  * Env contract (set by [[StormHarness.launchAgent]]):
  *  - GRAFT_STORM_DIR       table directory URI (file:/... or s3a://...)
  *  - GRAFT_STORM_KEYS      "start:count" — appends one row per key,
  *                          one CAS commit each
  *  - GRAFT_STORM_ENDPOINT  optional S3 endpoint (enables the s3a fs)
  *  - GRAFT_STORM_MAINT     "true" → compact + vacuum after every append
  *  - GRAFT_STORM_DROP_RECREATE "true" → halfway through, delete the
  *                          table directory and start a NEW history
  *                          (fresh generation id minted at its v1)
  *  - GRAFT_STORM_DELETE    "true" → after every 4th append, row-level
  *                          DELETE the key appended 3 earlier (its own
  *                          keys at offsets 0, 4, 8, … — deterministic,
  *                          so the primary can assert the exact final
  *                          set). Runs through the SQL catalog (the dir
  *                          must be warehouse/db/name.graft-shaped) and
  *                          retries the statement on a typed
  *                          ConcurrentModificationException, exactly
  *                          like a second engine would
  *  - GRAFT_STORM_SLEEP_MS  pacing between appends (default 25)
  *  - GRAFT_STORM_CRASH     "staged" | "adopted" | "dv" → at append
  *                          index GRAFT_STORM_CRASH_AT, perform the
  *                          two-phase append only UP TO the named
  *                          protocol point and then `Runtime.halt(137)`
  *                          — no shutdown hooks, no finally blocks, no
  *                          Spark stop: the JVM vanishes mid-commit
  *                          exactly like kill -9 (r13 VERDICT #3; the
  *                          reference's beginInsert/finishInsert crash
  *                          window, LanceMetadata.java:1031-1112).
  *                          "staged" leaves the `.staging-<uuid>` debris
  *                          of an older graft writer (one that staged
  *                          fragments before moving them into data/);
  *                          "adopted" dies after the fragment write into
  *                          data/, before the manifest CAS (unreferenced
  *                          data-file debris); "dv" dies
  *                          after a deletion file is written, before
  *                          its manifest commits (orphan DV debris).
  *  - GRAFT_STORM_CRASH_AT  append index for the crash (default 1)
  *
  * Prints `STORM_AGENT_DONE appends=<n> deletes=<m>` on success; any
  * failure exits nonzero with the stack on stderr so the primary's
  * assertions can tell agent death from storage-layer loss.
  */
object StormAgent {
  def main(args: Array[String]): Unit = {
    val dirUri = sys.env("GRAFT_STORM_DIR")
    val keysSpec = sys.env.getOrElse("GRAFT_STORM_KEYS", "1000:10")
    val Array(start, count) = keysSpec.split(':').map(_.toLong)
    val maint = sys.env.get("GRAFT_STORM_MAINT").contains("true")
    val dropRecreate = sys.env.get("GRAFT_STORM_DROP_RECREATE").contains("true")
    val sleepMs = sys.env.getOrElse("GRAFT_STORM_SLEEP_MS", "25").toLong
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    sys.env.get("GRAFT_STORM_ENDPOINT").foreach { ep =>
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.s3a.impl", classOf[graft.sources.S3LiteFileSystem].getName)
      hc.set(graft.sources.S3LiteFileSystem.EndpointKey, ep)
      hc.setBoolean("fs.s3a.impl.disable.cache", true)
    }
    // vacuum×delta×checkpoint-boundary leg (r15 VERDICT #4): the
    // primary lowers the cadence so BOTH processes' delta chains roll
    // over every few commits, and tightens this agent's vacuum so it
    // actually drops history (and so materializes chain boundaries)
    // while the other process commits and reads concurrently
    sys.env.get("GRAFT_STORM_CHECKPOINT_EVERY").foreach(n =>
      spark.sparkContext.hadoopConfiguration.setInt(
        graft.format.GraftFormat.CheckpointEveryKey, n.toInt))
    val vacuumKeep =
      sys.env.getOrElse("GRAFT_STORM_VACUUM_KEEP", "40").toInt
    val vacuumAgeMs =
      sys.env.getOrElse("GRAFT_STORM_VACUUM_AGE_MS", "180000").toLong
    // Path(String) normalization strips the trailing slash that
    // java.nio's toUri appends for an existing directory — without it
    // getName/getParent (used to derive the DELETE catalog's db/table)
    // split one level off
    val dir = new Path(dirUri)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    import spark.implicits._
    val doDelete = sys.env.get("GRAFT_STORM_DELETE").contains("true")
    var deletes = 0
    // row-level deletes resolve the SAME directory through the SQL
    // catalog (dir = <warehouse>/<db>/<name>.graft)
    lazy val deleteTable: String = {
      val db = dir.getParent.getName
      val name = dir.getName.stripSuffix(".graft")
      spark.conf.set("spark.sql.catalog.stormc", "graft.catalog.GraftCatalog")
      spark.conf.set("spark.sql.catalog.stormc.warehouse",
        dir.getParent.getParent.toString)
      s"stormc.$db.$name"
    }
    def deleteRetrying(k: Long): Unit = {
      var attempts = 0
      while (attempts < 25) {
        attempts += 1
        try { spark.sql(s"DELETE FROM $deleteTable WHERE k = $k"); return }
        catch {
          case t: Throwable =>
            // retryable: a concurrent commit touched our fragments, OR
            // the commit lost 20 straight CAS rounds under storm load
            // (commitWithRetry rethrows CommitConflictException once
            // exhausted) — both mean "re-read and retry the STATEMENT"
            def typed(x: Throwable): Boolean = x != null &&
              (x.isInstanceOf[
                graft.format.GraftFormat.ConcurrentModificationException] ||
                x.isInstanceOf[
                  graft.format.GraftFormat.CommitConflictException] ||
                typed(x.getCause))
            if (!typed(t)) throw t // losers retry the STATEMENT
        }
      }
      sys.error(s"DELETE k=$k never committed after 25 attempts")
    }
    val crashPoint = sys.env.get("GRAFT_STORM_CRASH")
    val crashAt = sys.env.getOrElse("GRAFT_STORM_CRASH_AT", "1").toInt
    // die mid-commit at the named protocol point: everything below uses
    // the same public primitives GraftWriter.write composes, stopped
    // short — then halt(137), the JVM-side equivalent of kill -9
    def crashMidCommit(point: String, k: Long): Unit = {
      import graft.format.GraftFormat
      point match {
        case "staged" =>
          // the debris an OLDER graft writer left when killed between
          // its staging write and the move into data/
          val staging = new Path(dir, s".staging-${java.util.UUID.randomUUID()}")
          Seq(k).toDF("k").coalesce(1).write.parquet(staging.toUri.toString)
        case "adopted" =>
          graft.connector.GraftWriter.writeFragments(
            Seq(k).toDF("k").coalesce(1), dir, Nil, Map.empty)
        case "dv" =>
          val m = GraftFormat.readLatest(fs, dir).get
          val f = m.fragments.maxBy(_.liveRows)
          GraftFormat.writeDeletionFile(fs, dir, f.id, m.version + 1,
            Array(0L))
        case other => sys.error(s"unknown crash point: $other")
      }
      System.out.flush(); System.err.flush()
      Runtime.getRuntime.halt(137)
    }
    var appends = 0
    (start until start + count).zipWithIndex.foreach { case (k, i) =>
      if (crashPoint.isDefined && i == crashAt)
        crashMidCommit(crashPoint.get, k)
      if (dropRecreate && i == count / 2) {
        // an affirmative cross-process drop: the directory goes away
        // entirely, then a NEW history begins (v1 mints a fresh
        // generation id) — the primary's strict stream / pinned reads
        // must fail typed, never deliver generation-B rows as a
        // continuation of generation A
        fs.delete(dir, true)
        graft.connector.GraftWriter.write(fs, dir,
          Seq(k).toDF("k"), overwrite = true)
      } else {
        graft.connector.GraftWriter.write(fs, dir,
          Seq(k).toDF("k"), overwrite = false)
      }
      appends += 1
      // delete own key at offset i-3 after every 4th append: the DV
      // write races the primary's inserts and this JVM's own compacts
      if (doDelete && i % 4 == 3) {
        deleteRetrying(start + i - 3)
        deletes += 1
      }
      if (maint) {
        graft.ops.Maintenance.compact(spark, dir, minRows = 1000000L)
        // time-based retention outlasting the primary's longest drain
        // (same contract as the in-process storm): the vacuum path
        // fully runs — listing, manifest walk, file-ref GC — without
        // aging out a version the other PROCESS may have pinned
        graft.ops.Maintenance.vacuum(spark, dir, keepVersions = vacuumKeep,
          olderThanMs = vacuumAgeMs)
      }
      Thread.sleep(sleepMs)
    }
    println(s"STORM_AGENT_DONE appends=$appends deletes=$deletes")
    spark.stop()
  }
}
