package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.util.SerializableConfiguration

import graft.connector.{FragmentWriter, GraftTable, NewFileInfo, SharedConf}
import graft.format.GraftFormat

/** Structured Streaming SINK for graft tables (SURVEY.md 2.8 — the
  * write half of the streaming extension; the reference has no
  * streaming surface at all). Each task streams its rows into one new
  * fragment in `data/` through the shared [[FragmentWriter]]; each
  * epoch commits ONE manifest version (Append).
  *
  * Exactly-once: the committed manifest records
  * `stream_epoch.<queryId> = epochId` in its properties; a replayed
  * epoch (task retry after driver recovery) sees its id already
  * committed and skips — fragments written by the losing attempt stay
  * unreferenced (vacuum collects them). This is the same
  * idempotent-commit pattern Delta/Iceberg sinks use, expressed over the
  * graft CAS commit.
  *
  * Scale: data never touches the driver; the per-epoch commit is
  * O(new fragments) metadata.
  */
class GraftStreamingWrite(table: GraftTable, info: LogicalWriteInfo)
  extends StreamingWrite {

  private val qualDir: Path = table.fs.makeQualified(table.dir)
  private val queryId: String = info.queryId()
  private val writeConf = org.apache.spark.sql.GraftShim.parquetWriteConf(
    org.apache.spark.sql.SparkSession.active, info.schema())
  private val sconf = SharedConf.broadcast(
    org.apache.spark.sql.SparkSession.active.sparkContext, writeConf)

  private def epochKey = s"stream_epoch.$queryId"

  override def createStreamingWriterFactory(
      pinfo: PhysicalWriteInfo): StreamingDataWriterFactory =
    new GraftStreamingWriterFactory(qualDir.toString, sconf)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.collect {
      case m: GraftStreamCommit => m.files
    }.flatten.toSeq
    val fs = qualDir.getFileSystem(writeConf)
    try {
      GraftFormat.commitWithRetry(fs, qualDir) { latestOpt =>
        val latest = latestOpt.getOrElse(throw new IllegalStateException(
          s"streaming sink target vanished: $qualDir"))
        if (latest.properties.get(epochKey).exists(_.toLong >= epochId))
          // epoch replay after recovery: already committed, idempotent skip
          throw new AlreadyCommittedEpoch
        var nextId = latest.maxFragmentId
        val newFrags = files.map { fi => nextId += 1; fi.toMeta(nextId) }
        latest.copy(
          version = latest.version + 1,
          fragments = latest.fragments ++ newFrags,
          maxFragmentId = nextId,
          createdAtMs = System.currentTimeMillis(),
          operation = "Append",
          properties = latest.properties -- GraftFormat.ClusteringProps
            + (epochKey -> epochId.toString))
      }
    } catch {
      case _: AlreadyCommittedEpoch => // replayed epoch: drop duplicates
        abort(epochId, messages)
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val fs = qualDir.getFileSystem(writeConf)
    messages.collect { case m: GraftStreamCommit => m }.foreach { m =>
      m.files.foreach { fi =>
        try fs.delete(new Path(qualDir, fi.relPath), false)
        catch { case _: Exception => () }
      }
    }
  }

  private class AlreadyCommittedEpoch extends RuntimeException
}

final case class GraftStreamCommit(files: Seq[NewFileInfo])
  extends WriterCommitMessage

class GraftStreamingWriterFactory(
    tableDirStr: String,
    conf: Broadcast[SerializableConfiguration])
  extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
      private val files = new FragmentWriter(new Path(tableDirStr),
        conf.value.value)
      override def write(row: InternalRow): Unit = files.write(row)
      override def commit(): WriterCommitMessage = GraftStreamCommit(files.commit())
      override def abort(): Unit = files.abort()
      override def close(): Unit = ()
    }
}
