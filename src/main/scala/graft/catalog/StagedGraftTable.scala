package graft.catalog

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.catalog.{StagedTable, SupportsWrite, TableCapability}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType

import graft.connector.{GraftWriter, NewFileInfo}
import graft.format.GraftFormat
import graft.format.GraftFormat.Manifest

/** Two-phase atomic CTAS / RTAS / CREATE OR REPLACE (SURVEY.md D3;
  * reference: beginCreateTable -> workers write fragments ->
  * finishCreateTable Overwrite-commit, LanceMetadata.java:886-1027).
  *
  * Fragments are written into `data/` during the write phase but stay
  * invisible — no manifest references them — until
  * `commitStagedChanges()` publishes ONE Overwrite manifest. A failed
  * or aborted CTAS leaves the previous table version fully intact, and
  * REPLACE with a different schema is the format's only schema-change
  * mechanism, exactly like the reference
  * (RTAS-with-different-schema test, BaseLanceConnectorSmokeTest.java:163-180).
  */
class StagedGraftTable(
    ident: String,
    dir: Path,
    schema0: StructType,
    replace: Boolean,
    tableProps: Map[String, String],
    @transient conf: Configuration) extends StagedTable with SupportsWrite {

  private def fs: FileSystem = dir.getFileSystem(conf)

  private val blobCols: Seq[String] = tableProps.get("blob_columns")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    .getOrElse(Seq.empty)

  GraftCatalog.validateColumnNames(schema0)
  graft.format.VectorColumns.validate(schema0,
    graft.format.VectorColumns.fromProperties(tableProps))

  private val staged = scala.collection.mutable.ArrayBuffer.empty[NewFileInfo]

  override def name(): String = ident
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with org.apache.spark.sql.connector.write.SupportsTruncate
      with org.apache.spark.sql.connector.write.SupportsOverwrite {
      // RTAS plans an overwrite of the (empty) staged table — both modes
      // are no-ops here: nothing is visible until commitStagedChanges
      override def truncate(): WriteBuilder = this
      override def overwrite(
          filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = this
      override def build(): Write = stagedWrite
    }

  private def stagedWrite: V1Write = new V1Write {
      override def toInsertableRelation: InsertableRelation =
        new InsertableRelation {
          override def insert(data: DataFrame, overwrite: Boolean): Unit = {
            GraftFormat.init(fs, dir)
            val files = GraftWriter.writeFragments(data, dir, blobCols, tableProps)
            staged.synchronized { staged ++= files }
          }
        }
    }

  override def commitStagedChanges(): Unit = {
    GraftFormat.init(fs, dir)
    GraftFormat.commitWithRetry(fs, dir) { latestOpt =>
      if (latestOpt.isDefined && !replace)
        throw new IllegalStateException(
          s"table $ident already exists (staged CREATE lost a race)")
      // REPLACE continues the version history (an Overwrite commit), so
      // its fragments must continue the id sequence too: fragment ids
      // are never reused within one history — the streaming provenance
      // walk identifies fragments by id, and a REPLACE that restarted
      // at 0 would have its replacement rows silently excluded as
      // "already streamed" by any checkpoint whose base held id 0
      var nextId = latestOpt.map(_.maxFragmentId).getOrElse(-1)
      val frags = staged.toSeq.map { f => nextId += 1; f.toMeta(nextId) }
      Manifest(
        version = latestOpt.map(_.version + 1).getOrElse(1L),
        schemaJson = schema0.json,
        fragments = frags,
        maxFragmentId = nextId,
        createdAtMs = System.currentTimeMillis(),
        operation = if (latestOpt.isDefined) "Overwrite" else "Create",
        // REPLACE continues the history, so it inherits the prior
        // generation's table id; a fresh CREATE mints a new one
        properties = GraftFormat.withTableId(tableProps ++
          latestOpt.flatMap(_.properties.get(GraftFormat.TableIdProp))
            .map(GraftFormat.TableIdProp -> _)))
    }
  }

  override def abortStagedChanges(): Unit =
    staged.foreach(f => fs.delete(new Path(dir, f.relPath), false))
}
