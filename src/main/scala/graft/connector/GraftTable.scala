package graft.connector

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{AlwaysTrue, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.format.GraftFormat
import graft.format.GraftFormat.Manifest

/** DSv2 Table over a graft-format directory, pinned to one manifest
  * version (snapshot isolation — the reference pins the dataset version
  * in the table handle the same way, LanceTableHandle.java:48,246-254).
  *
  * Capabilities mirror SURVEY.md section 2: batch read with
  * filter/projection/limit/count(*) pushdown (P1/P3/O1/A1), batch
  * append/truncate writes (D2-D4), and SQL row-level DELETE / UPDATE /
  * MERGE INTO via delta-based [[SupportsRowLevelOperations]] (D5):
  * executors write per-fragment deletion vectors and replacement
  * fragments; the driver commits O(fragments) metadata only. The
  * remaining [[SupportsDelete]] surface is the metadata-only fast path
  * for unconditional `DELETE FROM t` (drop all fragments, no scan).
  */
class GraftTable(
    tableName: String,
    val dir: Path,
    val manifest: Manifest,
    @transient private val conf0: Configuration)
  extends Table with SupportsRead with SupportsWrite with SupportsDelete
  with SupportsMetadataColumns with SupportsRowLevelOperations {

  val dataSchema: StructType = manifest.schema

  /** Hadoop conf for this table's storage. A def, not a val: catalogs
    * that vend expiring storage credentials (GraftRestCatalog) override
    * it to re-resolve near expiry, so every scan/write PLANNED after
    * the refresh window opens carries fresh credentials (reference:
    * LanceTableHandle.java:154-173 pre-expiry refresh). */
  def conf: Configuration = conf0

  def fs: FileSystem = dir.getFileSystem(conf)

  override def name(): String = tableName
  override def schema(): StructType = dataSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.V1_BATCH_WRITE)

  override def properties(): JMap[String, String] =
    (manifest.properties ++ Map(
      "format" -> "graft",
      "version" -> manifest.version.toString,
      "operation" -> manifest.operation,
      "fragments" -> manifest.fragments.size.toString)).asJava

  /** Hidden columns: `_row_address` always; per blob column the
    * `<col>__blob_pos` / `<col>__blob_size` descriptor pair
    * (reference: BlobUtils.java:26-27,70-78 — selectable by name,
    * hidden from DESCRIBE). */
  override def metadataColumns(): Array[MetadataColumn] =
    GraftTable.RowAddressColumn +: manifest.blobColumns.flatMap { c =>
      Seq(
        GraftTable.blobMetaColumn(graft.format.BlobStore.posColumn(c),
          s"byte offset of $c content in its blob sidecar file"),
        GraftTable.blobMetaColumn(graft.format.BlobStore.sizeColumn(c),
          s"byte length of $c content"))
    }.toArray

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(this,
      options.asCaseSensitiveMap().asScala.toMap.map {
        case (k, v) => (k.toLowerCase, v)
      })

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(this, info)

  // ---------------------------------------------- row-level DML (D5)
  // SQL DELETE/UPDATE/MERGE rewrite to a delta write: the scan carries
  // `_row_address` as the row id, executors buffer per-fragment deletions
  // and stream replacement rows to new parquet fragments, and ONE
  // manifest version commits both (reference: LanceMergeSink.java:85-196
  // + finishMerge LanceMetadata.java:1175-1271 — same paradigm, but the
  // coordinator here never sees row positions, only file metadata).

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    if (manifest.blobColumns.nonEmpty &&
        info.command() != RowLevelOperation.Command.DELETE)
      throw new UnsupportedOperationException(
        "UPDATE/MERGE on tables with blob columns is not supported " +
          "(replacement rows cannot carry blob content); DELETE is")
    () => new GraftRowLevelOperation(this, info.command())
  }

  // ------------------------------------------------- metadata-only DELETE
  // Unconditional DELETE FROM t short-circuits to a manifest commit with
  // no fragments (no scan). Every conditional delete goes through the
  // row-level delta path above.

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(_.isInstanceOf[AlwaysTrue])

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(canDeleteWhere(filters), s"non-trivial delete filters: ${filters.mkString(",")}")
    GraftFormat.commitWithRetry(fs, dir) { latestOpt =>
      val latest = latestOpt.getOrElse(
        throw new IllegalStateException(s"table vanished under delete: $dir"))
      latest.copy(version = latest.version + 1, fragments = Seq.empty,
        createdAtMs = System.currentTimeMillis(), operation = "Delete")
    }
  }
}

object GraftTable {
  /** Hidden 64-bit row identity (fragmentId << 32) | rowIndex —
    * reference: RowAddress.java:24-42. */
  val RowAddressName = "_row_address"

  object RowAddressColumn extends MetadataColumn {
    override def name(): String = RowAddressName
    override def dataType(): DataType = LongType
    override def isNullable: Boolean = false
    override def comment(): String =
      "row address: (fragment_id << 32) | row_index"
  }

  /** Entries of `conf` that differ from the session's Hadoop conf,
    * Spark settings excepted: the storage options a catalog vended for
    * a table. Executor-side reads and writes apply them, so they act
    * under the same storage identity as the driver's manifest I/O. */
  def storageOptions(spark: SparkSession, conf: Configuration)
      : Map[String, String] = {
    val base = spark.sessionState.newHadoopConf()
    conf.iterator().asScala
      .filter(e => !e.getKey.startsWith("spark.") &&
        base.getRaw(e.getKey) != e.getValue)
      .map(e => e.getKey -> e.getValue).toMap
  }

  def blobMetaColumn(colName: String, doc: String): MetadataColumn =
    new MetadataColumn {
      override def name(): String = colName
      override def dataType(): DataType = LongType
      override def isNullable: Boolean = true
      override def comment(): String = doc
    }
}
