package graft.catalog

import java.util.{Iterator => JIterator}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.Maintenance

/** SQL surface for table maintenance (DSv2 ProcedureCatalog — the
  * `CALL`-style entry points Delta/Iceberg users expect; the reference
  * has no maintenance surface at all, SURVEY.md Maintenance):
  *
  *   CALL g.system.compact(`table` => 'db.t', min_rows => 1000)
  *   CALL g.system.compact(`table` => 'db.t',
  *     materialize_deletions_threshold => 0.0)
  *   CALL g.system.compact(`table` => 'db.t', sort_by => 'k1,k2')
  *   CALL g.system.vacuum(`table` => 'db.t', keep_versions => 5)
  *   CALL g.system.history('db.t')
  *   CALL g.system.bucketize('db.t', 'col', 8)
  *
  * Each procedure resolves the dotted table name through the OWNING
  * catalog's resolver (directory layout or REST DescribeTable) and
  * delegates to [[graft.ops.Maintenance]]; the returned rows are the
  * operation's summary (LocalScan — driver-local metadata, never data).
  */
object GraftProcedures {

  /** Procedure identifiers, conventionally under the `system` namespace. */
  def identifiers: Array[Identifier] =
    Array("compact", "vacuum", "history", "bucketize", "rollback")
      .map(Identifier.of(Array("system"), _))

  /** `resolve` maps a dotted table name to its directory within the
    * owning catalog, plus the Configuration that catalog uses for the
    * table's FileSystem (vended storage credentials included — the
    * maintenance job must act under the same identity as scans/writes).
    * Procedures live ONLY under the `system` namespace, like the other
    * lakehouse catalogs' CALL surfaces. */
  def load(ident: Identifier, resolve: String => (Path, Configuration))
      : UnboundProcedure = {
    if (!ident.namespace().sameElements(Array("system")))
      throw new UnsupportedOperationException(
        s"procedure not found: ${ident.namespace().mkString(".")}.${ident.name()}; " +
          "procedures live under the 'system' namespace")
    ident.name().toLowerCase match {
      case "compact" => new Compact(resolve)
      case "vacuum" => new Vacuum(resolve)
      case "history" => new History(resolve)
      case "bucketize" => new Bucketize(resolve)
      case "rollback" => new Rollback(resolve)
      case _ => throw new UnsupportedOperationException(
        s"procedure not found: ${ident.namespace().mkString(".")}.${ident.name()}; " +
          s"available: ${identifiers.map(_.name()).mkString(", ")}")
    }
  }

  /** listProcedures honoring its namespace argument: the catalog's
    * procedures exist under `system` only (an empty namespace lists
    * everything, Spark's SHOW PROCEDURES default). */
  def list(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      identifiers
    else Array.empty

  private def in(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()

  private def inDefault(name: String, dt: DataType, default: String): ProcedureParameter =
    ProcedureParameter.in(name, dt).defaultValue(default).build()

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  private abstract class MaintenanceProcedure(
      procName: String,
      params: Array[ProcedureParameter],
      outSchema: StructType) extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = s"graft maintenance: $procName"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params
    override def isDeterministic: Boolean = false

    protected def run(in: InternalRow, spark: SparkSession): Array[InternalRow]

    override def call(input: InternalRow): JIterator[Scan] = {
      val out = run(input, SparkSession.active)
      java.util.List.of[Scan](new LocalScan {
        override def readSchema(): StructType = outSchema
        override def rows(): Array[InternalRow] = out
      }).iterator()
    }
  }

  /** `compact(table, min_rows = 1000000, materialize_deletions_threshold
    * = 0.1, sort_by = '', zorder_by = '')`: see [[Maintenance.compact]];
    * the threshold is Lance's (0 folds any deletion, 1 never folds). */
  private final class Compact(resolve: String => (Path, Configuration)) extends MaintenanceProcedure(
    "compact",
    Array(in("table", StringType),
      inDefault("min_rows", LongType, "1000000"),
      inDefault("materialize_deletions_threshold", DoubleType, "0.1"),
      inDefault("sort_by", StringType, "''"),
      inDefault("zorder_by", StringType, "''")),
    StructType(Seq(StructField("fragments_compacted", IntegerType, nullable = false)))) {
    override def run(in: InternalRow, spark: SparkSession): Array[InternalRow] = {
      val (dir, conf) = resolve(in.getUTF8String(0).toString)
      def csv(i: Int) = in.getUTF8String(i).toString.split(',')
        .map(_.trim).filter(_.nonEmpty).toSeq
      val n = Maintenance.compact(spark, dir, in.getLong(1), in.getDouble(2),
        csv(3), csv(4), conf)
      Array(new GenericInternalRow(Array[Any](n)))
    }
  }

  private final class Vacuum(resolve: String => (Path, Configuration)) extends MaintenanceProcedure(
    "vacuum",
    Array(in("table", StringType),
      inDefault("keep_versions", IntegerType, "10"),
      inDefault("older_than_ms", LongType, "0"),
      // -1 = use spark.graft.vacuum.minVersionsRetained (default 2)
      inDefault("min_versions_retained", IntegerType, "-1"),
      // -1 = use spark.graft.vacuum.orphanGraceMs (default 24 h)
      inDefault("orphan_grace_ms", LongType, "-1"),
      // true = assess only: report what a real pass would drop/delete
      // without mutating anything (audit a destructive GC before
      // firing it)
      inDefault("dry_run", BooleanType, "false")),
    StructType(Seq(
      StructField("versions_dropped", IntegerType, nullable = false),
      StructField("files_deleted", IntegerType, nullable = false)))) {
    override def run(in: InternalRow, spark: SparkSession): Array[InternalRow] = {
      val (dir, conf) = resolve(in.getUTF8String(0).toString)
      val (dropped, deleted) =
        Maintenance.vacuum(spark, dir, in.getInt(1), in.getLong(2), conf,
          in.getInt(3), in.getLong(4), in.getBoolean(5))
      Array(new GenericInternalRow(Array[Any](dropped, deleted)))
    }
  }

  private final class History(resolve: String => (Path, Configuration)) extends MaintenanceProcedure(
    "history",
    Array(in("table", StringType)),
    StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("operation", StringType, nullable = false),
      StructField("committed_at", TimestampType, nullable = false),
      StructField("n_fragments", IntegerType, nullable = false),
      StructField("live_rows", LongType, nullable = false),
      StructField("deleted_rows", LongType, nullable = false)))) {
    override def run(in: InternalRow, spark: SparkSession): Array[InternalRow] = {
      val (dir, conf) = resolve(in.getUTF8String(0).toString)
      Maintenance.history(spark, dir, conf).collect().map { r =>
        new GenericInternalRow(Array[Any](
          r.getLong(0), utf8(r.getString(1)),
          r.getTimestamp(2).getTime * 1000L,
          r.getInt(3), r.getLong(4), r.getLong(5)))
      }
    }
  }

  private final class Rollback(resolve: String => (Path, Configuration)) extends MaintenanceProcedure(
    "rollback",
    Array(in("table", StringType), in("version", LongType)),
    StructType(Seq(
      StructField("restored_version", LongType, nullable = false),
      StructField("new_version", LongType, nullable = false)))) {
    override def run(in: InternalRow, spark: SparkSession): Array[InternalRow] = {
      val (dir, conf) = resolve(in.getUTF8String(0).toString)
      val target = in.getLong(1)
      val v = Maintenance.rollback(spark, dir, target, conf)
      Array(new GenericInternalRow(Array[Any](target, v)))
    }
  }

  private final class Bucketize(resolve: String => (Path, Configuration)) extends MaintenanceProcedure(
    "bucketize",
    Array(in("table", StringType), in("column", StringType),
      in("n_buckets", IntegerType)),
    StructType(Seq(StructField("fragments_written", IntegerType, nullable = false)))) {
    override def run(in: InternalRow, spark: SparkSession): Array[InternalRow] = {
      val (dir, conf) = resolve(in.getUTF8String(0).toString)
      val n = Maintenance.bucketize(spark, dir,
        in.getUTF8String(1).toString, in.getInt(2), conf)
      Array(new GenericInternalRow(Array[Any](n)))
    }
  }
}
