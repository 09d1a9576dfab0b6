package graft.connector

import java.util.UUID

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.{SparkContext, TaskContext, TaskKilledException}
import org.apache.spark.sql.{DataFrame, GraftShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.OutputWriter

import graft.format.{FragmentStats, GraftFormat}
import graft.format.GraftFormat.{ColStats, FragmentMeta}

/** One fragment file a task wrote into `data/`, with the row count, size
  * and zone maps read from its own footer. */
final case class NewFileInfo(relPath: String, rows: Long, sizeBytes: Long,
    stats: Map[String, ColStats]) {
  def toMeta(id: Int): FragmentMeta =
    FragmentMeta(id, relPath, rows, None, 0L, sizeBytes, stats)
}

/** Executor-side fragment writer shared by every write path (batch
  * writes, row-level DML, the streaming sink): rows stream through
  * Spark's parquet writer straight into `data/<uuid>.parquet`, rolling
  * every `maxRows` rows, and each closed file's footer is read once for
  * its stats. Files are invisible until a manifest references them;
  * [[abort]] deletes every file this writer created. The UUIDs' high 64
  * bits are `writeId`, so one batch write's files share a name prefix.
  * `conf` must come from `GraftShim.parquetWriteConf`. Every caller
  * ships it as the [[SharedConf]] broadcast, so the tasks of an
  * executor share one conf, which this writer only reads. */
final class FragmentWriter(tableDir: Path, conf: Configuration,
    maxRows: Long = Long.MaxValue,
    writeId: Long = UUID.randomUUID().getMostSignificantBits) {

  private lazy val fs = tableDir.getFileSystem(conf)
  private val created = ArrayBuffer.empty[Path]
  private val closed = ArrayBuffer.empty[NewFileInfo]
  private var writer: OutputWriter = null
  private var rows = 0L

  def write(row: InternalRow): Unit = {
    if (writer == null) {
      val name = FragmentWriter.fileName(writeId)
      created += new Path(GraftFormat.dataDir(tableDir), name)
      writer = GraftShim.newParquetRowWriter(created.last.toString, conf)
    }
    writer.write(row)
    rows += 1
    if (rows >= maxRows) closeFile()
  }

  private def closeFile(): Unit = {
    writer.close(); writer = null; rows = 0L
    val file = created.last
    val (n, size, stats) = FragmentStats.readFooter(fs, conf, file)
    closed += NewFileInfo(s"data/${file.getName}", n, size, stats)
    GraftShim.recordOutput(size, n)
  }

  /** Close the open file; the files written, in write order. */
  def commit(): Seq[NewFileInfo] = {
    if (writer != null) closeFile()
    closed.toSeq
  }

  def abort(): Unit = {
    if (writer != null) {
      try writer.close() catch { case _: Exception => () }
      writer = null
    }
    created.foreach { p =>
      try fs.delete(p, false) catch { case _: Exception => () }
    }
  }
}

object FragmentWriter {

  private def fileName(writeId: Long): String =
    s"${new UUID(writeId, UUID.randomUUID().getLeastSignificantBits)}.parquet"

  /** Cancel the jobs tagged `tag` and wait (bounded) until none of
    * their tasks runs, so files they write can be deleted for good. */
  private[graft] def cancelAndAwait(sc: SparkContext, tag: String): Unit = {
    sc.cancelJobsWithTag(tag)
    val st = sc.statusTracker
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (System.nanoTime() < deadline &&
        st.getJobIdsForTag(tag).exists(j => st.getJobInfo(j).exists(
          _.stageIds.exists(st.getStageInfo(_).exists(_.numActiveTasks > 0)))))
      Thread.sleep(20)
  }

  /** Write `df` into `data/` of `tableDir` as ONE Spark job: each task
    * streams its partition through a [[FragmentWriter]] and returns its
    * files. Result: each partition's files, in partition order (range-
    * and bucket-partitioned callers rely on it). `options` are extra
    * Hadoop entries for the parquet writer.
    *
    * A failed write leaves no new file under `data/`: a failing task
    * deletes its own files; the driver cancels the job, waits (bounded)
    * for its running tasks to stop, then deletes every file carrying
    * this write's name prefix — also those of tasks that finished after
    * the job had failed. */
  def write(df: DataFrame, tableDir: Path, maxRows: Long = Long.MaxValue,
      options: Map[String, String] = Map.empty): IndexedSeq[Seq[NewFileInfo]] = {
    val sc = df.sparkSession.sparkContext
    val conf = GraftShim.parquetWriteConf(df.sparkSession, df.schema)
    options.foreach { case (k, v) => conf.set(k, v) }
    val sconf = SharedConf.broadcast(sc, conf)
    val dirStr = tableDir.toString
    val writeId = UUID.randomUUID().getMostSignificantBits
    val prefix = new UUID(writeId, 0L).toString.take(19)
    val tag = s"graft-write-$prefix"
    sc.addJobTag(tag)
    try {
      val rdd = df.queryExecution.toRdd
      val out = new Array[Seq[NewFileInfo]](rdd.getNumPartitions)
      sc.runJob(rdd, (ctx: TaskContext, it: Iterator[InternalRow]) => {
        val w = new FragmentWriter(new Path(dirStr), sconf.value.value, maxRows,
          writeId)
        try {
          while (it.hasNext) {
            if (ctx.isInterrupted()) throw new TaskKilledException("write cancelled")
            w.write(it.next())
          }
          w.commit()
        } catch { case t: Throwable => w.abort(); throw t }
      }, out.indices, (i: Int, files: Seq[NewFileInfo]) => out(i) = files)
      out.toIndexedSeq
    } catch {
      case t: Throwable =>
        try {
          cancelAndAwait(sc, tag)
          val data = GraftFormat.dataDir(tableDir)
          val fs = data.getFileSystem(conf)
          if (fs.exists(data)) fs.listStatus(data)
            .filter(f => f.isFile && f.getPath.getName.startsWith(prefix))
            .foreach(f => fs.delete(f.getPath, false))
        } catch { case c: Exception => t.addSuppressed(c) }
        throw t
    } finally sc.removeJobTag(tag)
  }
}
