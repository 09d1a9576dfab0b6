package graft.connector

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{AlwaysTrue, Filter, InsertableRelation}

import graft.format.{FragmentStats, GraftFormat}
import graft.format.GraftFormat.{FragmentMeta, Manifest}

/** Write path (reference sections 3.2: two-phase fragment write +
  * coordinator commit). Executors write immutable parquet fragments into
  * a staging directory via Spark's own distributed parquet writer; the
  * driver then assigns fragment ids and commits ONE new manifest version
  * atomically (Append, or Overwrite for truncate). This is the
  * Delta-style pattern: data movement is fully distributed, only O(files)
  * metadata passes through the driver.
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

  /** Distributed fragment write + atomic manifest commit. */
  def write(fs: FileSystem, dir: Path, data: Dataset[Row], overwrite: Boolean,
      blobCols: Seq[String] = Seq.empty,
      tableProps: Map[String, String] = Map.empty): Unit = {
    GraftFormat.init(fs, dir)
    val staging = new Path(dir, s".staging-${UUID.randomUUID()}")
    val conf = data.sparkSession.sessionState.newHadoopConf()
    try {
      val props =
        GraftFormat.readLatest(fs, dir).map(_.properties).getOrElse(tableProps)
      val vectorCols = graft.format.VectorColumns.fromProperties(props)
      // Fragment sizing (reference: lance.max_rows_per_file,
      // LanceConfig.java:137): tables at 100 TB need bounded fragments
      // for split planning and compaction granularity. Spark's writer
      // enforces it natively via maxRecordsPerFile — table property
      // wins over the session conf; unset keeps one file per task.
      val maxRows = props.get("write.max_rows_per_file")
        .orElse(Option(data.sparkSession.conf.get(
          "spark.graft.write.maxRowsPerFile", null)))
        .flatMap(_.toLongOption).filter(_ > 0)
      // Row-group sizing within a fragment (reference:
      // lance.max_rows_per_group, LanceConfig.java:125): bounds the
      // scan's batch granularity and page-index selectivity. Parquet's
      // writer enforces an exact per-row-group row limit natively.
      val maxRowsGroup = props.get("write.max_rows_per_group")
        .orElse(Option(data.sparkSession.conf.get(
          "spark.graft.write.maxRowsPerGroup", null)))
        .flatMap(_.toIntOption).filter(_ > 0)
      // Split-block bloom filters per row group on the named columns:
      // point predicates on high-cardinality keys skip row groups whose
      // min/max range matches but which cannot contain the value — the
      // probabilistic complement of the manifest zone maps, written by
      // parquet natively and consulted automatically by the scan's
      // pushed predicates (parquet.filter.bloom.enabled, default on).
      val bloomCols = props.get("write.bloom.columns")
        .orElse(Option(data.sparkSession.conf.get(
          "spark.graft.write.bloomColumns", null)))
        .toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
      val writer = graft.format.BlobStore.encode(
        graft.format.VectorColumns.enforce(data.toDF(), vectorCols),
        blobCols, dir).write
      maxRows.foreach(n => writer.option("maxRecordsPerFile", n))
      maxRowsGroup.foreach(n => writer.option("parquet.block.row.count.limit", n))
      bloomCols.foreach(c =>
        writer.option(s"parquet.bloom.filter.enabled#$c", "true"))
      writer.parquet(staging.toUri.toString)
      val schemaJson = data.schema.json
      // move fragments into data/ ONCE, before the commit loop — they are
      // invisible until a manifest references them, so a lost commit race
      // only re-runs manifest construction, never file movement
      val moved = FragmentStats.adoptStaged(fs, conf, dir, staging)

      GraftFormat.commitWithRetry(fs, dir) { latestOpt =>
        val base = latestOpt.filter(_ => !overwrite)
        var nextId = base.map(_.maxFragmentId).getOrElse(
          latestOpt.map(_.maxFragmentId).getOrElse(-1))
        val newFrags = moved.map { case (rel, n, size, stats) =>
          nextId += 1
          FragmentMeta(nextId, rel, n, None, 0L, size, stats)
        }
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
    } finally {
      if (fs.exists(staging)) fs.delete(staging, true)
    }
  }
}
