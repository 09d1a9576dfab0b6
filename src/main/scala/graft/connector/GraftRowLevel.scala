package graft.connector

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{GraftShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.format.GraftFormat

/** Delta-based row-level DML (SQL DELETE / UPDATE / MERGE INTO) —
  * SURVEY.md section 2.7 D5; reference: LanceMergeSink.java:49-204 +
  * finishMerge LanceMetadata.java:1116-1271.
  *
  * Spark rewrites the statement into one distributed job over the
  * target scan (rowId = the `_row_address` metadata column; updates
  * arrive as delete+insert pairs). For a MERGE whose join drops
  * unmatched target rows, `graft.plans.MergeTargetSemiJoin` first
  * semi-joins the target scan with the source keys, so only candidate
  * target rows reach the join's shuffle. Each task:
  *   - buffers deleted row indexes per fragment, flushed at task commit
  *     as a PARTIAL deletion-vector sidecar (executor-side write);
  *   - streams replacement/insert rows into a new fragment in `data/`
  *     through the shared [[FragmentWriter]].
  * The driver then merges partial vectors with the snapshot's existing
  * vectors in a second small distributed job (one task per touched
  * fragment) and commits ONE manifest version — row positions never
  * pass through the driver, fixing the round-1 collect() scale-killer.
  *
  * Concurrency: the commit validates that every fragment the operation
  * deletes from is unchanged since the pinned snapshot; a concurrent
  * row-level commit on the same fragments raises the typed
  * [[GraftFormat.ConcurrentModificationException]] (the reference aborts
  * these via message matching, TestLanceConnectorTest.java:393-410).
  * Concurrent appends and row-level ops on disjoint fragments commute
  * and commit cleanly through the CAS retry loop.
  */
class GraftRowLevelOperation(table: GraftTable, cmd: RowLevelOperation.Command)
  extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(table)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new GraftDeltaWrite(table, info)
    }

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(GraftTable.RowAddressName))

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def description(): String =
    s"GraftRowLevelOperation($cmd, table=${table.name()}, " +
      s"version=${table.manifest.version})"
}

class GraftDeltaWrite(table: GraftTable, info: LogicalWriteInfo)
  extends DeltaWrite with DeltaBatchWrite {

  private val snapshot = table.manifest
  private val qualDir: Path = table.fs.makeQualified(table.dir)
  private val writeConf =
    GraftShim.parquetWriteConf(SparkSession.active, info.schema())
  private val sconf =
    SharedConf.broadcast(SparkSession.active.sparkContext, writeConf)

  override def toBatch: DeltaBatchWrite = this

  override def createBatchWriterFactory(
      pinfo: PhysicalWriteInfo): DeltaWriterFactory =
    new GraftDeltaWriterFactory(qualDir.toString, info.schema().json, sconf)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.collect { case m: GraftDeltaCommit => m }.toSeq
    val newFiles = msgs.flatMap(_.newFiles)
    val partialsByFrag: Map[Int, Seq[String]] = msgs.flatMap(_.partialDvs)
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    if (newFiles.isEmpty && partialsByFrag.isEmpty) return

    val spark = SparkSession.active
    val fs = qualDir.getFileSystem(writeConf)
    val snapByFrag = snapshot.fragments.map(f => f.id -> f).toMap

    // distributed merge: one task per touched fragment folds its partial
    // vectors into the snapshot vector and writes the final sidecar
    val dirStr = qualDir.toString
    val conf = sconf
    // DV filenames embed the SNAPSHOT version the operation read (the
    // CAS retry may land the commit at a higher version; the UUID keeps
    // names unique, the version field is provenance, not identity)
    val baseV = snapshot.version
    val inputs = partialsByFrag.toSeq.map { case (fragId, partials) =>
      val f = snapByFrag.getOrElse(fragId, throw new IllegalStateException(
        s"row-level delta references unknown fragment $fragId"))
      (fragId, f.rowCount, f.deletionPath, partials)
    }
    val merged: Map[Int, (Option[String], Long)] =
      if (inputs.isEmpty) Map.empty
      else spark.sparkContext
        .parallelize(inputs, math.min(inputs.size, 32))
        .map { case (fragId, rowCount, existingOpt, partials) =>
          val dir = new Path(dirStr)
          val ffs = dir.getFileSystem(conf.value.value)
          val existing = existingOpt
            .map(GraftFormat.readDeletionFile(ffs, dir, _))
            .getOrElse(Array.empty[Long])
          val all = (existing ++ partials.flatMap(
            GraftFormat.readDeletionFile(ffs, dir, _))).distinct.sorted
          if (all.length >= rowCount)
            fragId -> (Option.empty[String], rowCount)
          else
            fragId -> (Some(GraftFormat.writeDeletionFile(
              ffs, dir, fragId, baseV, all)), all.length.toLong)
        }.collect().toMap

    GraftFormat.commitWithRetry(fs, qualDir) { latestOpt =>
      val latest = latestOpt.getOrElse(throw new IllegalStateException(
        s"table vanished during row-level operation: $qualDir"))
      val latestByFrag = latest.fragments.map(f => f.id -> f).toMap
      partialsByFrag.keys.foreach { fragId =>
        val snapF = snapByFrag(fragId)
        latestByFrag.get(fragId) match {
          case None => throw new GraftFormat.ConcurrentModificationException(
            s"fragment $fragId was removed by a concurrent commit " +
              "(compaction/overwrite); aborting row-level operation")
          case Some(cur) if cur.deletionPath != snapF.deletionPath ||
              cur.deletedCount != snapF.deletedCount =>
            throw new GraftFormat.ConcurrentModificationException(
              s"fragment $fragId was modified by a concurrent row-level " +
                "operation; aborting (re-run against the new version)")
          case _ => ()
        }
      }
      var nextId = latest.maxFragmentId
      val kept = latest.fragments.flatMap { f =>
        merged.get(f.id) match {
          case None => Some(f)
          case Some((None, _)) => None // fully deleted fragment drops out
          case Some((Some(dv), n)) =>
            Some(f.copy(deletionPath = Some(dv), deletedCount = n))
        }
      }
      val added = newFiles.map { fi => nextId += 1; fi.toMeta(nextId) }
      latest.copy(version = latest.version + 1, fragments = kept ++ added,
        maxFragmentId = nextId, createdAtMs = System.currentTimeMillis(),
        // a commit that only writes deletion vectors IS a delete;
        // UPDATE/MERGE always add replacement fragments
        operation = if (added.isEmpty) "Delete" else "Update",
        // DV-only commits keep file order intact; replacement fragments
        // are unsorted and invalidate a sorted-compaction flag
        properties =
          if (added.isEmpty) latest.properties
          else latest.properties -- GraftFormat.ClusteringProps)
    }

    // partial sidecars are merged; drop them (best-effort)
    msgs.flatMap(_.partialDvs).foreach { case (_, rel) =>
      try fs.delete(new Path(qualDir, rel), false)
      catch { case _: Exception => () }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = qualDir.getFileSystem(writeConf)
    messages.collect { case m: GraftDeltaCommit => m }.foreach { m =>
      (m.newFiles.map(_.relPath) ++ m.partialDvs.map(_._2)).foreach { rel =>
        try fs.delete(new Path(qualDir, rel), false)
        catch { case _: Exception => () }
      }
    }
  }
}

/** Per-task result: new fragments + partial deletion vectors
  * (fragId -> relative sidecar path). */
final case class GraftDeltaCommit(
    newFiles: Seq[NewFileInfo],
    partialDvs: Seq[(Int, String)]) extends WriterCommitMessage

class GraftDeltaWriterFactory(
    tableDirStr: String,
    writeSchemaJson: String,
    conf: Broadcast[SerializableConfiguration]) extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaWriter(tableDirStr, writeSchemaJson, conf)
}

class GraftDeltaWriter(
    tableDirStr: String,
    writeSchemaJson: String,
    conf: Broadcast[SerializableConfiguration]) extends DeltaWriter[InternalRow] {

  private val tableDir = new Path(tableDirStr)
  private lazy val fs = tableDir.getFileSystem(conf.value.value)
  private val files = new FragmentWriter(tableDir, conf.value.value)

  // per-fragment deleted row indexes (bounded by rows this task touches)
  private val dels = mutable.HashMap.empty[Int, mutable.ArrayBuilder.ofLong]

  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    val addr = id.getLong(0)
    dels.getOrElseUpdate((addr >>> 32).toInt, new mutable.ArrayBuilder.ofLong) +=
      (addr & 0xFFFFFFFFL)
  }

  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    // defensive: representUpdateAsDeleteAndInsert=true means Spark sends
    // delete+reinsert instead, but the decomposition is identical
    delete(meta, id)
    insert(row)
  }

  override def insert(row: InternalRow): Unit = files.write(row)

  override def commit(): WriterCommitMessage = {
    val newFiles = files.commit()
    val partials = dels.toSeq.map { case (fragId, idxs) =>
      fragId -> GraftFormat.writeDeletionFile(fs, tableDir, fragId, 0L,
        idxs.result())
    }
    GraftDeltaCommit(newFiles, partials)
  }

  override def abort(): Unit = files.abort()

  override def close(): Unit = ()
}
