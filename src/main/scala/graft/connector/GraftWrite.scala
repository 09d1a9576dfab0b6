package graft.connector

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{AlwaysTrue, Filter, InsertableRelation}

import graft.format.GraftFormat
import graft.format.GraftFormat.Manifest

/** Write path (reference sections 3.2: two-phase fragment write +
  * coordinator commit). Executors write immutable parquet fragments
  * straight into `data/` ([[FragmentWriter]]), each task reading its own
  * files' footer stats; the driver then assigns fragment ids and commits
  * ONE new manifest version atomically (Append, or Overwrite for
  * truncate). This is the Delta-style pattern: data movement is fully
  * distributed, only O(files) metadata passes through the driver.
  *
  * Improvement over the reference flagged in SURVEY.md section 7: the
  * reference buffers all pages in memory before writing
  * (LancePageSink.java:62,98); here fragments stream through Spark's
  * parquet writer with its normal memory management.
  */
class GraftWriteBuilder(table: GraftTable, info: LogicalWriteInfo)
  extends WriteBuilder with SupportsTruncate with SupportsOverwrite {

  private var doTruncate = false

  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    if (filters.forall(_.isInstanceOf[AlwaysTrue])) { doTruncate = true; this }
    else throw new UnsupportedOperationException(
      "graft supports only full-table overwrite (INSERT OVERWRITE without filters)")
  }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwrite: Boolean): Unit =
          GraftWriter.write(table.fs, table.dir, data, doTruncate || overwrite,
            table.manifest.blobColumns, table.manifest.properties)
      }
    // writeStream into a graft table: per-epoch idempotent Append commits
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      require(!doTruncate,
        "graft streaming sink supports append output mode only")
      new graft.streaming.GraftStreamingWrite(table, info)
    }
  }
}

object GraftWriter {

  /** Distributed fragment write + atomic manifest commit. `tableProps`
    * are the properties of the table as the statement loaded it: they
    * size the fragments, so the write reads no manifest of its own. */
  def write(fs: FileSystem, dir: Path, data: Dataset[Row], overwrite: Boolean,
      blobCols: Seq[String] = Seq.empty,
      tableProps: Map[String, String] = Map.empty): Unit = {
    GraftFormat.init(fs, dir)
    val files = writeFragments(data.toDF(), dir, blobCols, tableProps)
    val schemaJson = data.schema.json
    GraftFormat.commitWithRetry(fs, dir) { latestOpt =>
      val base = latestOpt.filter(_ => !overwrite)
      var nextId = base.map(_.maxFragmentId).getOrElse(
        latestOpt.map(_.maxFragmentId).getOrElse(-1))
      val newFrags = files.map { f => nextId += 1; f.toMeta(nextId) }
      Manifest(
        version = latestOpt.map(_.version + 1).getOrElse(1L),
        // appends preserve the TABLE schema (a non-null batch must not
        // narrow column nullability); only create/overwrite adopt the
        // incoming schema
        schemaJson = base.map(_.schemaJson).getOrElse(schemaJson),
        fragments = base.map(_.fragments).getOrElse(Seq.empty) ++ newFrags,
        maxFragmentId = nextId,
        createdAtMs = System.currentTimeMillis(),
        operation =
          if (latestOpt.isEmpty) "Create"
          else if (overwrite) "Overwrite" else "Append",
        // first commit = NEW history: mint a fresh generation id even
        // if the caller's props carry one (the V1 insert path passes
        // the LOADED manifest's properties — if the table was dropped
        // by another session between load and commit, keeping its id
        // would resurrect the dead generation and blind every
        // id-based drop+re-create guard)
        properties = latestOpt.map(_.properties)
          .getOrElse(GraftFormat.withTableId(
            tableProps - GraftFormat.TableIdProp))
          -- GraftFormat.ClusteringProps)
    }
  }

  /** The write phase of INSERT and CTAS: vector/blob encoding, then one
    * job writing fragments straight into `data/` (invisible until a
    * manifest references them), sized by the table's write properties
    * with the session conf as fallback. */
  def writeFragments(data: DataFrame, dir: Path, blobCols: Seq[String],
      props: Map[String, String]): Seq[NewFileInfo] = {
    val spark = data.sparkSession
    // Fragment sizing (reference: lance.max_rows_per_file,
    // LanceConfig.java:137): tables at 100 TB need bounded fragments
    // for split planning and compaction granularity. Unset keeps one
    // file per task.
    val maxRows = setting(spark, props, "write.max_rows_per_file",
      "spark.graft.write.maxRowsPerFile").flatMap(_.toLongOption).filter(_ > 0)
    val encoded = graft.format.BlobStore.encode(
      graft.format.VectorColumns.enforce(data,
        graft.format.VectorColumns.fromProperties(props)),
      blobCols, dir)
    FragmentWriter.write(encoded, dir, maxRows.getOrElse(Long.MaxValue),
      parquetOptions(spark, props)).flatten
  }

  /** A table write property, with the session conf as fallback. */
  private def setting(spark: SparkSession, props: Map[String, String],
      prop: String, conf: String): Option[String] =
    props.get(prop).orElse(Option(spark.conf.get(conf, null)))

  /** Parquet writer settings from a table's write properties (session
    * conf as fallback), as Hadoop entries for [[FragmentWriter.write]]. */
  def parquetOptions(spark: SparkSession, props: Map[String, String])
      : Map[String, String] = {
    // Row-group sizing within a fragment (reference:
    // lance.max_rows_per_group, LanceConfig.java:125): bounds the
    // scan's batch granularity and page-index selectivity. Parquet's
    // writer enforces an exact per-row-group row limit natively.
    val maxRowsGroup = setting(spark, props, "write.max_rows_per_group",
      "spark.graft.write.maxRowsPerGroup").flatMap(_.toIntOption).filter(_ > 0)
    // Split-block bloom filters per row group on the named columns:
    // point predicates on high-cardinality keys skip row groups whose
    // min/max range matches but which cannot contain the value — the
    // probabilistic complement of the manifest zone maps, written by
    // parquet natively and consulted automatically by the scan's
    // pushed predicates (parquet.filter.bloom.enabled, default on).
    val bloomCols = setting(spark, props, "write.bloom.columns",
      "spark.graft.write.bloomColumns")
      .toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    maxRowsGroup.map(n => "parquet.block.row.count.limit" -> n.toString).toMap ++
      bloomCols.map(c => s"parquet.bloom.filter.enabled#$c" -> "true")
  }
}
