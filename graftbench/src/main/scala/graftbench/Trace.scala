package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, PathFilter}
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: an op (parent -1) or a call inside it. Times are
  * System.nanoTime values. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    start: Long, end: Long)

/** In-memory span recorder. Spans are recorded only while a traced op
  * runs; everything is written out once, when the run ends. */
final class Tracer {
  val spans = ArrayBuffer[Span]()
  private var nextId = 0
  private var stack: List[Int] = Nil
  private var op = -1
  def on: Boolean = op >= 0

  def beginOp(index: Int): Unit = { op = index; stack = Nil }

  def span[T](name: String)(body: => T): T =
    if (op < 0) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, op, name, t0, System.nanoTime())
      }
    }

  def endOp(): Unit = op = -1

  /** Adds a span that was observed from outside (a Spark job) under the
    * innermost recorded span of `opIndex` that contains its start. */
  def addObserved(opIndex: Int, name: String, start: Long, end: Long): Unit = {
    val mine = spans.filter(_.op == opIndex)
    val root = mine.find(_.parent == -1)
    val host = mine.filter(s => s.start <= start && start < s.end)
      .sortBy(s => s.end - s.start).headOption.orElse(root)
    host.foreach { h =>
      val id = nextId; nextId += 1
      spans += Span(id, h.id, opIndex, name, math.max(start, h.start),
        math.max(math.max(start, h.start), math.min(end, h.end)))
    }
  }

  /** Span duration minus the part of it its direct children cover. */
  def selfNanos(s: Span): Long = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.start, k.end)).toSeq
    (s.end - s.start) - Intervals.covered(kids, s.start, s.end)
  }

  def toJson: String = Json(spans.sortBy(_.id).map { s =>
    Obj(Seq("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_ns" -> s.start, "end_ns" -> s.end,
      "self_ms" -> selfNanos(s) / 1e6))
  })
}

/** Everything Spark reports through its public listener interfaces
  * between two `take()` calls. Ops run on one client thread, so after the
  * listener bus is drained all events since the last take belong to the
  * op that just ran. */
final class SparkSignals extends SparkListener with QueryExecutionListener {
  final class Acc {
    val jobs = ArrayBuffer[(Long, Long)]() // (start ms, end ms), epoch
    val jobStart = mutable.Map[Int, Long]()
    var stages = 0L
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var inputBytes = 0L
    var inputRecords = 0L
    var outputBytes = 0L
    val executions = ArrayBuffer[QueryExecution]()
  }
  private var acc = new Acc

  def take(): Acc = synchronized { val a = acc; acc = new Acc; a }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    acc.jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    acc.jobs += ((acc.jobStart.remove(e.jobId).getOrElse(e.time), e.time))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized { acc.stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    acc.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      acc.runMs += m.executorRunTime
      acc.cpuNs += m.executorCpuTime
      acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      acc.inputBytes += m.inputMetrics.bytesRead
      acc.inputRecords += m.inputMetrics.recordsRead
      acc.outputBytes += m.outputMetrics.bytesWritten
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { acc.executions += qe }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Reads Spark's own per-query signals off a QueryExecution. */
object PlanSignals extends AdaptiveSparkPlanHelper {
  /** (analysis, optimization, physical planning) ms from the query's
    * planning tracker. */
  def phasesMs(qe: QueryExecution): (Double, Double, Double) = {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    (ms("analysis"), ms("optimization"), ms("planning"))
  }

  /** Total time the tracker recorded for rules whose name ends `suffix`. */
  def ruleMs(qe: QueryExecution, suffix: String): Double =
    qe.tracker.rules.collect { case (n, s) if n.endsWith(suffix) => s.totalTimeNs }
      .sum / 1e6

  /** (fragments planned, fragments pruned) summed over the graft scan
    * nodes of the executed plan, from the scan's own SQL metrics. */
  def scanFragments(qe: QueryExecution): (Long, Long) = {
    val scans = collectWithSubqueries(qe.executedPlan) {
      case b: BatchScanExec if b.metrics.contains("fragmentsPlanned") => b
    }
    (scans.map(_.metrics("fragmentsPlanned").value).sum,
      scans.map(_.metrics.get("fragmentsPruned").map(_.value).getOrElse(0L)).sum)
  }

  /** True when the optimized plan semi-joins the corpus against a vector
    * index sidecar, i.e. the ANN rewrite probed the index. */
  def probesIndex(qe: QueryExecution): Boolean = {
    val plan = qe.optimizedPlan
    val semi = plan.collect { case j: Join if j.joinType == LeftSemi => j }.nonEmpty
    val indexLeaf = plan.collectLeaves().exists {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation =>
          h.location.rootPaths.exists(_.toString.contains("/_indices/"))
        case _ => false
      }
      case _ => false
    }
    semi && indexLeaf
  }
}

/** One adapter over graft's in-process counters. They live in several
  * singletons that are expected to move; a counter that cannot be found
  * is reported as missing, never as a failed run. */
object GraftCounters {
  private val specs: Seq[(String, String, Seq[String])] = Seq(
    ("format.manifest_reads", "graft.format.GraftFormat$", Seq("versionReads")),
    ("format.manifest_bytes_read", "graft.format.GraftFormat$", Seq("versionBytesRead")),
    ("format.cache_hits", "graft.format.ManifestCache$", Seq("hits")),
    ("format.cache_revalidations", "graft.format.ManifestCache$", Seq("revalidations")),
    ("format.cache_misses", "graft.format.ManifestCache$", Seq("misses")),
    ("format.checkpoint_wait_ns", "graft.format.GraftFormat$MaterializeMetrics$",
      Seq("totalWaitNanos")),
    ("format.checkpoint_inline", "graft.format.GraftFormat$MaterializeMetrics$",
      Seq("inlineFallbacks")),
    ("ops.segment_cache_hits", "graft.ops.IndexSegments$", Seq("cacheHits")),
    ("ops.segment_cache_misses", "graft.ops.IndexSegments$", Seq("cacheMisses")),
    ("plans.ann_count_jobs", "graft.plans.AnnTopKIndexRewrite$", Seq("metrics", "countJobs")),
    ("plans.ann_escalations", "graft.plans.AnnTopKIndexRewrite$", Seq("metrics", "escalations")),
    ("plans.ann_abandons", "graft.plans.AnnTopKIndexRewrite$", Seq("metrics", "abandons")))

  def names: Seq[String] = specs.map(_._1)

  private def read(cls: String, path: Seq[String]): Option[Long] =
    try {
      var o: AnyRef = Class.forName(cls).getField("MODULE$").get(null)
      path.foreach(m => o = o.getClass.getMethod(m).invoke(o))
      o match {
        case a: AtomicLong => Some(a.get())
        case n: java.lang.Number => Some(n.longValue())
        case _ => None
      }
    } catch { case _: ReflectiveOperationException | _: LinkageError => None }

  /** Current values of the counters that exist. */
  def snapshot(): Map[String, Long] =
    specs.flatMap { case (n, c, p) => read(c, p).map(n -> _) }.toMap
}

/** Hadoop FileSystem statistics for the local `file` scheme. */
object StorageStats {
  def snapshot(): Map[String, Long] = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    Map(
      "storage.bytes_read" -> st.map(_.getBytesRead).sum,
      "storage.bytes_written" -> st.map(_.getBytesWritten).sum,
      "storage.read_ops" -> CountingLocalFileSystem.opens.get(),
      "storage.write_ops" -> CountingLocalFileSystem.creates.get(),
      "storage.list_ops" -> CountingLocalFileSystem.lists.get(),
      "storage.stat_ops" -> CountingLocalFileSystem.stats.get())
  }
}

/** The local file system with opens, creates, listings and stat calls
  * counted (its own statistics count bytes only); installed
  * as `fs.file.impl` in traced runs only. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._
  override def listStatus(p: Path): Array[FileStatus] = {
    lists.incrementAndGet(); super.listStatus(p)
  }
  override def listStatusIterator(p: Path)
      : org.apache.hadoop.fs.RemoteIterator[FileStatus] = {
    lists.incrementAndGet(); super.listStatusIterator(p)
  }
  override def listLocatedStatus(p: Path, filter: PathFilter)
      : org.apache.hadoop.fs.RemoteIterator[org.apache.hadoop.fs.LocatedFileStatus] = {
    lists.incrementAndGet(); super.listLocatedStatus(p, filter)
  }
  override def getFileStatus(p: Path): FileStatus = {
    stats.incrementAndGet(); super.getFileStatus(p)
  }
  override def open(p: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    opens.incrementAndGet(); super.open(p, bufferSize)
  }
  override def create(p: Path, permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    creates.incrementAndGet()
    super.create(p, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object CountingLocalFileSystem {
  val lists = new AtomicLong
  val stats = new AtomicLong
  val opens = new AtomicLong
  val creates = new AtomicLong
}

/** Driver JVM GC time (local mode: the executors share this JVM). */
object GcTime {
  def totalMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
}
