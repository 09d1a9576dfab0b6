package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution

/** One operation of a workload's stream. `prepare` picks parameters from
  * the workload's model and builds inputs; `run` is timed from issue until
  * the full answer (or the commit acknowledgement) is on the driver;
  * `check` compares that answer with the model, advances the model, and
  * is not timed. */
abstract class Op(val kind: String, val isRead: Boolean) {
  def prepare(): Unit = ()
  def run(): Array[Row]
  def check(rows: Array[Row]): Option[String]
  /** Bytes of user rows the op hands to graft (write amplification). */
  def ingestBytes: Long = 0L
}

object Op {
  def apply(kind: String, isRead: Boolean)(body: => Array[Row])(
      chk: Array[Row] => Option[String]): Op = new Op(kind, isRead) {
    def run(): Array[Row] = body
    def check(rows: Array[Row]): Option[String] = chk(rows)
  }
}

/** What a workload gives the harness. */
trait Workload {
  def name: String
  /** Input sizes, for the environment stamp. */
  def sizes: Seq[(String, Any)]
  /** Generates the seeded inputs into staging files. Not timed. */
  def stage(): Unit
  /** Resets the workload's model before a set-up; not timed. */
  def beforeSetup(): Unit = ()
  /** Seconds per named set-up step, last set-up only, for the report. */
  val setupSteps = scala.collection.mutable.LinkedHashMap[String, Double]()
  protected def step[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally setupSteps(name) = (System.nanoTime() - t0) / 1e9
  }
  /** Loads the staged inputs into graft and builds indexes under
    * namespace `ns`; the last call's tables serve the timed loop. */
  def setup(ns: String): Unit
  /** Runs every op template once, after the first set-up and outside its
    * timing, so that JIT compilation and Spark code generation are done
    * before any timed work. */
  def warmup(): Unit
  /** The next cycle of ops: a fixed mix of kinds in seeded order. */
  def cycle(): Seq[Op]
  /** Tables whose on-disk size is compared with a fresh copy. */
  def tables: Seq[String]
  /** Answer-quality metrics as (name, value, samples), e.g. recall. */
  def quality: Seq[(String, Double, Int)] = Nil
  /** A run-level quality failure, e.g. mean recall below its floor. */
  def qualityFailure: Option[String] = None
  /** (ANN queries, ANN queries whose optimized plan probed the index). */
  def annIndexUse: (Int, Int) = (0, 0)
  /** Workload-specific details for the report file. */
  def report: Seq[(String, Any)] = Nil
}

/** Spark calls made on an op's behalf, with spans when the op is traced. */
final class Ctx(val spark: SparkSession, val tracer: Tracer) {
  /** Statements the current traced op issued, for planning metrics. */
  val statements = ArrayBuffer[QueryExecution]()
  /** The QueryExecution of the last `collect` (for plan inspection). */
  var lastQe: QueryExecution = _

  def sql(q: String): Array[Row] = collect(tracer.span("spark.sql")(spark.sql(q)))

  def collect(df: DataFrame): Array[Row] = {
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
    lastQe = qe
    if (!tracer.on) df.collect()
    else {
      statements += qe
      tracer.span("spark.plan")(qe.executedPlan)
      tracer.span("spark.collect")(df.collect())
    }
  }

  /** Registers `rows` as temp view `name`: a small input relation built on
    * the driver, as a client would hand it to INSERT or MERGE. */
  def view(name: String, schema: org.apache.spark.sql.types.StructType, rows: Seq[Row]): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).createOrReplaceTempView(name)

  /** A call into a graft library function. */
  def call[T](name: String)(body: => T): T = tracer.span(name)(body)
}

/** Per traced op: wall time plus every layer counter's delta. */
final case class OpTrace(kind: String, isRead: Boolean, wallMs: Double,
    c: Map[String, Double])

final class Harness(spark: SparkSession, seed: Long, traced: Boolean, cores: Int) {
  val tracer = new Tracer
  val ctx = new Ctx(spark, tracer)
  val samples = new Samples
  val traces = ArrayBuffer[OpTrace]()
  /** Untraced ops of a traced run, for the tracing overhead. */
  val untracedMs = ArrayBuffer[(String, Double)]()
  val errors = ArrayBuffer[String]()
  var ingestBytes = 0L
  var loopNanos = 0L
  val signals = new SparkSignals
  if (traced) {
    spark.sparkContext.addSparkListener(signals)
    spark.listenerManager.register(signals)
  }

  private def drain(): Unit =
    org.apache.spark.BenchAccess.drainListenerBus(spark.sparkContext)

  private def describe(t: Throwable): String =
    (t.getClass.getSimpleName + ": " + Option(t.getMessage).getOrElse(""))
      .replaceAll("\\s+", " ").take(300)

  /** Largest heap in use right after the full GC that ends each cycle. */
  var heapLivePeak = 0L

  /** Runs whole cycles until `seconds` of op time have been measured. A
    * traced run traces every other op of each kind (the first one by a
    * seeded coin) and runs at least two cycles, so that every kind has
    * traced and untraced samples for the tracing overhead. */
  def loop(w: Workload, seconds: Double): Unit = {
    var i = 0
    var cycles = 0
    val seen = mutable.Map[String, Int]()
    while (loopNanos < seconds * 1e9 || (traced && cycles < 2)) {
      w.cycle().foreach { op =>
        val n = seen.getOrElse(op.kind, Gen.rng(seed, "trace:" + op.kind, 0).nextInt(2))
        seen(op.kind) = n + 1
        runOp(op, i, traced && n % 2 == 0)
        i += 1
      }
      cycles += 1
      System.gc()
      heapLivePeak = math.max(heapLivePeak, java.lang.management.ManagementFactory
        .getMemoryMXBean.getHeapMemoryUsage.getUsed)
    }
  }

  private def runOp(op: Op, index: Int, traceThis: Boolean): Unit = {
    op.prepare()
    var before = Map.empty[String, Long]
    if (traceThis) {
      drain(); signals.take()
      before = GraftCounters.snapshot() ++ StorageStats.snapshot() +
        ("spark.gc_ms" -> GcTime.totalMs())
      ctx.statements.clear()
      tracer.beginOp(index)
    }
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try Right(tracer.span(op.kind)(op.run()))
    catch { case t: Throwable => Left(t) }
    val dtNs = System.nanoTime() - t0
    val endMs = System.currentTimeMillis()
    tracer.endOp()
    loopNanos += dtNs
    ingestBytes += op.ingestBytes
    val err = res match {
      case Left(t) => Some("threw " + describe(t))
      case Right(rows) =>
        try op.check(rows) catch { case t: Throwable => Some("check threw " + describe(t)) }
    }
    err.foreach(e => errors += s"op $index ${op.kind}: $e")
    samples.add(op.kind, op.isRead, dtNs / 1e6, err.isEmpty)
    if (traceThis) traces += observe(op, index, before, t0, startMs, endMs, dtNs,
      res.toOption.map(_.length.toLong).getOrElse(0L))
    else if (traced) untracedMs += ((op.kind, dtNs / 1e6))
  }

  private def observe(op: Op, index: Int, before: Map[String, Long], t0: Long,
      startMs: Long, endMs: Long, dtNs: Long, rowsReturned: Long): OpTrace = {
    drain()
    val a = signals.take()
    val after = GraftCounters.snapshot() ++ StorageStats.snapshot() +
      ("spark.gc_ms" -> GcTime.totalMs())
    val wallMs = dtNs / 1e6
    val c = mutable.Map[String, Double]()
    after.foreach { case (k, v) => before.get(k).foreach(b => c(k) = (v - b).toDouble) }
    a.jobs.foreach { case (s, e) =>
      tracer.addObserved(index, "spark.job", t0 + (s - startMs) * 1000000L,
        t0 + (e - startMs) * 1000000L)
    }
    c("spark.jobs") = a.jobs.size
    c("spark.stages") = a.stages
    c("spark.tasks") = a.tasks
    c("spark.task_run_ms") = a.runMs
    c("spark.task_cpu_ms") = a.cpuNs / 1e6
    c("spark.shuffle_write_bytes") = a.shuffleWrite
    c("spark.shuffle_read_bytes") = a.shuffleRead
    c("spark.spill_bytes") = a.spill
    c("connector.input_bytes") = a.inputBytes
    c("connector.input_records") = a.inputRecords
    c("connector.output_bytes") = a.outputBytes
    c("rows_returned") = rowsReturned
    c("spark.driver_only_ms") = wallMs -
      Intervals.covered(a.jobs.toSeq, startMs, endMs).toDouble
    if (!op.isRead && a.jobs.nonEmpty)
      c("connector.commit_tail_ms") = (endMs - a.jobs.map(_._2).max).toDouble
    var an, opt, phys, rule = 0.0
    ctx.statements.foreach { qe =>
      val (x, y, z) = PlanSignals.phasesMs(qe)
      an += x; opt += y; phys += z
      rule += PlanSignals.ruleMs(qe, "AnnTopKIndexRewrite")
    }
    c("spark.analysis_ms") = an
    c("spark.optimize_ms") = opt
    c("spark.physical_plan_ms") = phys
    c("plans.ann_rule_ms") = rule
    var planned, pruned = 0L
    a.executions.foreach { qe =>
      val (p, q) = PlanSignals.scanFragments(qe)
      planned += p; pruned += q
    }
    c("connector.fragments_planned") = planned.toDouble
    c("connector.fragments_pruned") = pruned.toDouble
    tracer.spans.filter(s => s.op == index && s.name.startsWith("ops."))
      .foreach(s => c(s.name + "_ms") = c.getOrElse(s.name + "_ms", 0.0) +
        (s.end - s.start) / 1e6)
    c("trace.op_self_ms") = tracer.spans.find(s => s.op == index && s.parent == -1)
      .map(s => tracer.selfNanos(s) / 1e6).getOrElse(0.0)
    OpTrace(op.kind, op.isRead, wallMs, c.toMap)
  }

  /** The per-layer metrics over a set of traced ops. Counts and times are
    * per traced op; ratios are ratios of sums over those ops. */
  def layerMetrics(ts: Seq[OpTrace], annQueries: Int, annProbed: Int)
      : Seq[(String, Double)] = {
    val n = math.max(1, ts.size).toDouble
    def sum(k: String, in: Seq[OpTrace] = ts) = in.flatMap(_.c.get(k)).sum
    def has(k: String) = ts.exists(_.c.contains(k))
    def perOp(k: String) = sum(k) / n
    val wall = ts.map(_.wallMs).sum
    val ann = ts.filter(_.kind.startsWith("ann"))
    val annN = math.max(1, ann.size).toDouble
    val writesWithJobs = ts.filter(t => t.c.contains("connector.commit_tail_ms"))
    val reads = ts.filter(_.isRead)
    def opCallMs(name: String) = {
      val xs = ts.flatMap(_.c.get(s"ops.$name" + "_ms"))
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    val lookups = sum("format.cache_hits") + sum("format.cache_revalidations") +
      sum("format.cache_misses")
    val out = ArrayBuffer[(String, Double)](
      "spark.jobs_per_op" -> perOp("spark.jobs"),
      "spark.stages_per_op" -> perOp("spark.stages"),
      "spark.tasks_per_op" -> perOp("spark.tasks"),
      "spark.task_run_ms" -> perOp("spark.task_run_ms"),
      "spark.task_cpu_ms" -> perOp("spark.task_cpu_ms"),
      "spark.core_busy_ratio" -> Stats.ratio(sum("spark.task_run_ms"), wall * cores),
      "spark.driver_only_ms" -> perOp("spark.driver_only_ms"),
      "spark.gc_ms" -> perOp("spark.gc_ms"),
      "spark.analysis_ms" -> perOp("spark.analysis_ms"),
      "spark.optimize_ms" -> perOp("spark.optimize_ms"),
      "spark.physical_plan_ms" -> perOp("spark.physical_plan_ms"),
      "plans.ann_rule_ms" -> sum("plans.ann_rule_ms", ann) / annN,
      "plans.ann_index_used_ratio" -> Stats.ratio(annProbed, annQueries))
    Seq("ann_count_jobs", "ann_escalations", "ann_abandons").foreach { k =>
      if (has(s"plans.$k")) out += s"plans.$k" -> sum(s"plans.$k", ann) / annN
    }
    Seq("format.manifest_reads", "format.manifest_bytes_read").foreach { k =>
      if (has(k)) out += k -> perOp(k)
    }
    if (has("format.cache_hits")) {
      out += "format.cache_hit_ratio" -> Stats.ratio(sum("format.cache_hits"), lookups)
      out += "format.cache_lookups" -> lookups / n
    }
    if (has("format.checkpoint_wait_ns"))
      out += "format.checkpoint_wait_ms" -> perOp("format.checkpoint_wait_ns") / 1e6
    if (has("format.checkpoint_inline"))
      out += "format.checkpoint_inline" -> perOp("format.checkpoint_inline")
    val planned = sum("connector.fragments_planned")
    val pruned = sum("connector.fragments_pruned")
    out ++= Seq(
      "connector.fragments_planned" -> planned / n,
      "connector.fragments_pruned" -> pruned / n,
      "connector.prune_ratio" -> Stats.ratio(pruned, planned + pruned),
      "connector.input_bytes" -> perOp("connector.input_bytes"),
      "connector.rows_examined_per_row_returned" -> Stats.ratio(
        sum("connector.input_records", reads), sum("rows_returned", reads)),
      "connector.output_bytes" -> perOp("connector.output_bytes"),
      "connector.commit_tail_ms" -> (if (writesWithJobs.isEmpty) 0.0
        else sum("connector.commit_tail_ms", writesWithJobs) / writesWithJobs.size),
      "ops.compact_ms" -> opCallMs("compact"),
      "ops.vacuum_ms" -> opCallMs("vacuum"),
      "ops.ivf_refresh_ms" -> opCallMs("ivf_refresh"),
      "ops.minhash_append_ms" -> opCallMs("minhash_append"),
      "ops.dedup_round_ms" -> opCallMs("dedup_round"))
    if (has("ops.segment_cache_hits"))
      out += "ops.segment_cache_hit_ratio" -> Stats.ratio(sum("ops.segment_cache_hits"),
        sum("ops.segment_cache_hits") + sum("ops.segment_cache_misses"))
    out ++= Seq("spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
      "storage.bytes_read", "storage.bytes_written", "storage.read_ops",
      "storage.write_ops", "storage.list_ops", "storage.stat_ops")
      .map(k => k -> perOp(k))
    out += "trace.op_self_ms" -> perOp("trace.op_self_ms")
    out.toSeq
  }

  /** Untraced ÷ traced throughput within the traced run, with each op
    * kind weighted by its share of all ops so the mix cannot bias it. */
  def overheadRatio: Double = {
    val kinds = samples.all.groupBy(_.kind).map { case (k, v) => k -> v.size }
    val tr = traces.groupBy(_.kind).map { case (k, v) => k -> v.map(_.wallMs) }
    val un = untracedMs.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val both = kinds.keySet.filter(k => tr.contains(k) && un.contains(k))
    def expected(m: Map[String, scala.collection.Seq[Double]]) =
      both.toSeq.map(k => kinds(k) * m(k).sum / m(k).size).sum
    Stats.ratio(expected(tr), expected(un))
  }
}
