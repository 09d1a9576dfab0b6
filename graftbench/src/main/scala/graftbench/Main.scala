package graftbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** A metric the benchmark reports: name, unit and which way is better. */
final case class MetricDef(name: String, unit: String, better: String)

object Metrics {
  /** End-to-end metrics every workload reports in an untraced run; these
    * are the ones BENCHMARK.json bounds. */
  val endToEnd = Seq(
    MetricDef("setup_s", "s", "lower"),
    MetricDef("ops_per_s", "ops/s", "higher"),
    MetricDef("read_p50_ms", "ms", "lower"),
    MetricDef("space_amp", "ratio", "lower"))

  /** End-to-end metrics reported where a workload has samples for them. */
  val endToEndExtra = Seq(
    MetricDef("heap_live_peak_mb", "MB", "lower"),
    MetricDef("read_p90_ms", "ms", "lower"),
    MetricDef("write_p50_ms", "ms", "lower"),
    MetricDef("write_p90_ms", "ms", "lower"),
    MetricDef("failed_frac", "ratio", "lower"),
    MetricDef("write_amp", "ratio", "lower"),
    MetricDef("ann_recall_at_10", "ratio", "higher"),
    MetricDef("dedup_recall", "ratio", "higher"))

  private def unitOf(n: String): String =
    if (n.endsWith("_ratio") || n.endsWith("_per_row_returned")) "ratio"
    else if (n.endsWith("_ms")) "ms"
    else if (n.endsWith("_bytes") || n.endsWith("bytes_read") ||
      n.endsWith("bytes_written")) "bytes"
    else "count"

  /** Per-layer metrics of a traced run: counts and times per traced op
    * (per call for `ops.*`, per ANN query for `plans.ann_*`), ratios of
    * sums. */
  val perLayer: Seq[MetricDef] = Seq(
    "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
    "spark.task_run_ms", "spark.task_cpu_ms", "spark.core_busy_ratio",
    "spark.driver_only_ms", "spark.gc_ms", "spark.analysis_ms", "spark.optimize_ms",
    "spark.physical_plan_ms", "plans.ann_rule_ms", "plans.ann_index_used_ratio",
    "plans.ann_count_jobs", "plans.ann_escalations", "plans.ann_abandons",
    "format.manifest_reads", "format.manifest_bytes_read", "format.cache_hit_ratio",
    "format.cache_lookups", "format.checkpoint_wait_ms", "format.checkpoint_inline",
    "connector.fragments_planned", "connector.fragments_pruned", "connector.prune_ratio",
    "connector.input_bytes", "connector.rows_examined_per_row_returned",
    "connector.output_bytes", "connector.commit_tail_ms", "ops.compact_ms",
    "ops.vacuum_ms", "ops.ivf_refresh_ms", "ops.minhash_append_ms", "ops.dedup_round_ms",
    "ops.segment_cache_hit_ratio", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
    "spark.spill_bytes", "storage.bytes_read", "storage.bytes_written", "storage.read_ops",
    "storage.write_ops", "storage.list_ops", "storage.stat_ops", "trace.op_self_ms"
  ).map(n => MetricDef(n, unitOf(n), if (n.endsWith("hit_ratio") || n.endsWith("busy_ratio") ||
      n.endsWith("used_ratio") || n.endsWith("prune_ratio")) "higher" else "lower")) :+
    MetricDef("trace.overhead_ratio", "ratio", "lower")

  val NamePattern = "[A-Za-z0-9_.-]+"
}

/** The benchmark's JVM entry point. See graftbench/README.md. */
object Main {
  val Workloads = Seq("read_mix", "write_mix", "llm_ops")
  /** Set-up runs this many times per run; setup_s is their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val work = Path.of(need("work")).toAbsolutePath
    val cores = need("cores").toInt
    sys.exit(run(workload, seed, seconds, traced, work, cores))
  }

  def session(work: Path, cores: Int, traced: Boolean): SparkSession = {
    if (traced) {
      // the first file-scheme FileSystem created is cached for the JVM
      val c = new org.apache.hadoop.conf.Configuration()
      c.set("fs.file.impl", classOf[CountingLocalFileSystem].getName)
      org.apache.hadoop.fs.FileSystem.get(java.net.URI.create("file:///"), c)
    }
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toUri.toString)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.catalog.g", "graft.catalog.GraftCatalog")
      .config("spark.sql.catalog.g.warehouse", work.resolve("wh").toUri.toString)
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def run(workload: String, seed: Long, seconds: Double, traced: Boolean,
      work: Path, cores: Int): Int = {
    val loadStart = Env.loadAvg()
    val jvmsStart = Env.otherJvms()
    val t0 = System.nanoTime()
    val spark = session(work, cores, traced)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val wh = new Warehouse(work.resolve("wh"))
    val h = new Harness(spark, seed, traced, cores)
    val staging = work.resolve("staging").toUri.toString
    val w: Workload = workload match {
      case "read_mix" => new ReadMix(spark, seed, staging, wh, h.ctx)
      case "write_mix" => new WriteMix(spark, seed, staging, wh, h.ctx)
      case "llm_ops" => new LlmOps(spark, seed, staging, wh, h.ctx)
    }
    val tg = System.nanoTime()
    w.stage()
    val stageS = (System.nanoTime() - tg) / 1e9
    var warmupS = 0.0
    val setupS = (1 to SetupReps).map { r =>
      w.beforeSetup()
      val ts = System.nanoTime()
      w.setup(s"s$r")
      val dt = (System.nanoTime() - ts) / 1e9
      if (r == 1) {
        val tw = System.nanoTime()
        w.warmup()
        warmupS = (System.nanoTime() - tw) / 1e9
      }
      dt
    }
    val fsBefore = StorageStats.snapshot()
    h.loop(w, seconds)
    val writtenInLoop = StorageStats.snapshot()("storage.bytes_written") -
      fsBefore("storage.bytes_written")
    // space amplification: the same live rows written once, untimed
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.fresh")
    val (live, fresh) = w.tables.map { t =>
      val copy = "g.fresh." + t.split('.').last
      spark.sql(s"CREATE TABLE $copy AS SELECT * FROM $t")
      (wh.bytes(t), wh.bytes(copy))
    }.unzip
    val quality = w.qualityFailure
    val s = h.samples
    val attempted = s.all.size
    val failed = math.min(attempted, s.failed + (if (quality.isDefined) 1 else 0))
    val correct = h.errors.isEmpty && quality.isEmpty
    val e2e = Seq[(String, Option[Double], Int)](
      ("setup_s", Some(Stats.median(setupS)), setupS.size),
      ("ops_per_s", Some(attempted / (h.loopNanos / 1e9)), attempted),
      ("read_p50_ms", s.reads.headOption.map(_ => Stats.median(s.reads)), s.reads.size),
      ("space_amp", Some(Stats.ratio(live.sum.toDouble, fresh.sum.toDouble)), w.tables.size),
      ("heap_live_peak_mb", Some(h.heapLivePeak / (1024.0 * 1024.0)), 1),
      ("read_p90_ms", Stats.tail(s.reads, 0.9), s.reads.size),
      ("write_p50_ms", s.writes.headOption.map(_ => Stats.median(s.writes)), s.writes.size),
      ("write_p90_ms", Stats.tail(s.writes, 0.9), s.writes.size),
      ("failed_frac", Some(failed.toDouble / math.max(1, attempted)), attempted),
      ("write_amp", if (h.ingestBytes > 0) Some(writtenInLoop.toDouble / h.ingestBytes)
        else None, s.writes.size)) ++
      w.quality.map { case (k, v, n) => (k, Some(v), n) }
    val layers: Seq[(String, Double)] =
      if (!traced) Nil
      else {
        val (annQ, annP) = w.annIndexUse
        h.layerMetrics(h.traces.toSeq, annQ, annP) :+ ("trace.overhead_ratio" -> h.overheadRatio)
      }
    val env = Obj(Seq("workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "nproc" -> Runtime.getRuntime.availableProcessors(),
      "local_k" -> cores, "load_avg_start" -> loadStart, "load_avg_end" -> Env.loadAvg(),
      "other_jvms_start" -> jvmsStart, "other_jvms_end" -> Env.otherJvms(),
      "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
      "session_start_s" -> sessionS, "stage_s" -> stageS, "setup_reps_s" -> setupS, "jvm_warmup_s" -> warmupS,
      "setup_steps_s" -> Obj(w.setupSteps.toSeq), "sizes" -> Obj(w.sizes)))
    val unitOf = (Metrics.endToEnd ++ Metrics.endToEndExtra ++ Metrics.perLayer)
      .map(m => m.name -> m.unit).toMap.withDefaultValue("ratio")
    val kinds = s.all.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, v) =>
      k -> Obj(Seq("n" -> v.size, "p50_ms" -> Stats.median(v.map(_.ms).toSeq),
        "failed" -> v.count(!_.ok)))
    }
    val classSplit = if (!traced) Nil else Seq("read" -> true, "write" -> false).flatMap {
      case (cls, isRead) =>
        val ts = h.traces.filter(_.isRead == isRead).toSeq
        if (ts.isEmpty) None
        else Some(cls -> Obj(("traced_ops" -> ts.size) +:
          h.layerMetrics(ts, 0, 0).filterNot(_._1.startsWith("plans.ann_index"))))
    }
    println("env " + Json(env))
    kinds.foreach { case (k, o) => println(s"op $k " + Json(o)) }
    e2e.foreach { case (n, v, cnt) =>
      println(f"metric $n%-22s ${v.map(x => f"$x%.4f").getOrElse("n/a (too few samples)")}%s " +
        s"${unitOf(n)} (samples=$cnt)")
    }
    layers.foreach { case (n, v) => println(f"layer  $n%-42s $v%.4f ${unitOf(n)}") }
    h.errors.take(20).foreach(e => println("WRONG " + e))
    quality.foreach(q => println("WRONG " + q))
    val report = Obj(Seq("env" -> env, "correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "errors" -> h.errors.toSeq, "quality_failure" -> quality,
      "end_to_end" -> Obj(e2e.map { case (n, v, cnt) =>
        n -> Obj(Seq("value" -> v, "unit" -> unitOf(n), "samples" -> cnt)) }),
      "ops" -> Obj(kinds), "per_layer" -> Obj(layers),
      "per_layer_by_class" -> Obj(classSplit),
      "missing_counters" -> GraftCounters.names.filterNot(GraftCounters.snapshot().contains),
      "workload_report" -> Obj(w.report)))
    val tag = s"$workload-seed$seed-trace${if (traced) 1 else 0}"
    val results = work.getParent.resolve("results")
    Files.createDirectories(results)
    Files.writeString(results.resolve(s"report-$tag.json"), Json(report) + "\n")
    if (traced) Files.writeString(results.resolve(s"spans-$tag.json"), h.tracer.toJson + "\n")
    val gated = if (traced) Metrics.perLayer.flatMap(m => layers.find(_._1 == m.name))
      else Metrics.endToEnd.flatMap(m => e2e.find(_._1 == m.name)
        .flatMap { case (n, v, _) => v.map(n -> _) })
    spark.stop()
    println(Json(Obj(Seq("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Obj(gated.map { case (n, v) =>
        n -> Obj(Seq("value" -> v, "unit" -> unitOf(n))) })))))
    if (correct) 0 else 1
  }
}
