package org.apache.spark.sql

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileFormat, OutputWriter, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOutputWriter, ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** Bridge to `private[sql]` Spark internals the graft connector builds on.
  * Standard extension-library technique (Delta/Iceberg do the same): reuse
  * Spark's battle-tested vectorized parquet reader/writer and Column
  * converters instead of reimplementing them.
  */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A Column FULLY converted to a catalyst Expression tree.
    * [[expression]] returns a lazy ColumnNodeExpression wrapper — fine
    * inside Dataset plans (the analyzer converts it), but a
    * FunctionRegistry builder's output goes straight into a SQL plan
    * where the wrapper reaches codegen unconverted (Unevaluable). This
    * runs the classic converter eagerly, so composed Column logic
    * (functions._ chains) can be registered as SQL functions. */
  def catalystExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** Name of the temporary column the vectorized parquet reader fills
    * with the physical row index of each row (deletion-vector support). */
  def rowIndexColumnName: String =
    ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME

  /** Spark's vectorized parquet read pipeline as a serializable
    * per-file function; rows (not columnar batches) are returned so the
    * caller can apply deletion vectors and row-address projection. */
  def parquetReaderFunc(
      spark: SparkSession,
      dataSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[Filter],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] =
    new ParquetFileFormat().buildReaderWithPartitionValues(
      spark.asInstanceOf[classic.SparkSession],
      dataSchema,
      new StructType(),
      requiredSchema,
      filters,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      hadoopConf)

  def partitionedFile(absPath: String, fileSize: Long): PartitionedFile =
    partitionedFile(absPath, fileSize, 0L, fileSize)

  /** Byte-range variant: the vectorized reader assigns row groups whose
    * midpoint falls in [start, start+length) — Spark's file-split
    * contract, so ranges tile a file without overlap or loss. */
  def partitionedFile(absPath: String, fileSize: Long, start: Long,
      length: Long): PartitionedFile =
    PartitionedFile(InternalRow.empty, SparkPath.fromPathString(absPath),
      start, length, Array.empty, 0L, fileSize, Map.empty)

  /** spark.sql.files.maxPartitionBytes — the fragment split granularity. */
  def filesMaxPartitionBytes(spark: SparkSession): Long =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf.filesMaxPartitionBytes

  /** spark.sql.files.openCostInBytes — per-file floor when bin-packing. */
  def filesOpenCostInBytes(spark: SparkSession): Long =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf.filesOpenCostInBytes

  /** Driver-side: Hadoop conf primed for executor-side parquet writes of
    * `schema` rows — mirrors ParquetFileFormat.prepareWrite (write
    * support class, schema, timestamp/rebase modes, compression). */
  def parquetWriteConf(spark: SparkSession, schema: StructType): Configuration = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val conf = session.sessionState.newHadoopConf()
    val sqlConf = session.sessionState.conf
    conf.set("parquet.write.support.class", classOf[ParquetWriteSupport].getName)
    ParquetWriteSupport.setSchema(schema, conf)
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      sqlConf.writeLegacyParquetFormat.toString)
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      sqlConf.parquetOutputTimestampType.toString)
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sqlConf.parquetFieldIdWriteEnabled.toString)
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key,
      sqlConf.getConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key,
      sqlConf.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE).toString)
    // Spark 4.1's SparkToParquetSchemaConverter(conf) reads this with a
    // raw .toBoolean — unset means "null".toBoolean crashes
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sqlConf.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
    conf.set("parquet.compression", sqlConf.parquetCompressionCodec)
    conf
  }

  /** Executor-side: open Spark's parquet writer at an exact file path.
    * `conf` must come from [[parquetWriteConf]]. */
  def newParquetRowWriter(path: String, conf: Configuration): OutputWriter = {
    val attemptId = new TaskAttemptID(
      new TaskID(new JobID(java.util.UUID.randomUUID().toString, 0),
        TaskType.MAP, 0), 0)
    new ParquetOutputWriter(path, new TaskAttemptContextImpl(conf, attemptId))
  }

  /** Release the executor-storage blocks behind a `localCheckpoint`'d
    * DataFrame. The Dataset API has no unpersist for checkpoint RDDs —
    * they live outside the CacheManager — so iterative algorithms that
    * re-checkpoint every round pin one block set per round until session
    * GC unless released explicitly. Only call once nothing will read the
    * DataFrame again: local checkpoints truncate lineage, so the blocks
    * are not recomputable. */
  def releaseCheckpoint(df: DataFrame): Unit =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** The analyzed logical plan of a DataFrame (for optimizer rules that
    * splice DataFrame-built subplans into a plan under rewrite). */
  def planOf(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** A DataFrame over an arbitrary (resolved) logical plan — the
    * inverse of [[planOf]]; used by optimizer rules that must execute a
    * small probe query (e.g. a candidate count) mid-rewrite. */
  def dfOf(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Driver-side: a DataFrame over an arbitrary DSv2 Table instance
    * (no catalog resolution) — used by maintenance jobs to scan a
    * pinned fragment subset through the normal deletion-aware reader. */
  def tableDF(spark: SparkSession,
      table: org.apache.spark.sql.connector.catalog.Table): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation.create(
        table, None, None))
}
