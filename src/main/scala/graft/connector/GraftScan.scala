package graft.connector

import java.util.OptionalLong

import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{GraftShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BitwiseOr, BoundReference, Expression, Literal, UnsafeProjection}
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualNullSafe, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import graft.format.{GraftFormat, ZoneMaps}
import graft.format.GraftFormat.FragmentMeta

/** Pushdown negotiation (SURVEY.md section 2.2/2.4/2.5):
  *  - projection pushdown incl. the `_row_address` metadata column (P1)
  *  - V1 filter pushdown into parquet row-group/page skipping (P3/P6);
  *    every filter is also reported back as a residual so Catalyst keeps
  *    the Filter node — parquet skipping is best-effort, correctness
  *    stays engine-side exactly like the reference's partial pushdown
  *  - limit pushdown with fragment coalescing (O1/S5): with no filter,
  *    only the fragment prefix covering `limit` live rows is planned
  *  - COUNT(*) pushdown answered from the manifest with the reference's
  *    guards: no filter, no grouping (A1/S4)
  */
class GraftScanBuilder(table: GraftTable,
    options: Map[String, String] = Map.empty)
  extends ScanBuilder
  with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns
  with SupportsPushDownLimit
  with SupportsPushDownTopN
  with SupportsPushDownAggregates {

  private var required: StructType = table.dataSchema
  private var pushed: Array[Filter] = Array.empty
  private var limit: Option[Int] = None
  private var limitFromEnd: Boolean = false
  private var aggs: Seq[PushedAgg] = Seq.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // accept the parquet-pushable subset for skipping; return ALL as
    // residual -> Spark re-evaluates (partial pushdown, like the
    // reference returning remaining domains from applyFilter).
    // Blob columns are excluded: their physical type is a descriptor
    // struct, so a binary predicate cannot reach the parquet reader.
    val blobs = table.manifest.blobColumns.toSet
    pushed = filters.filter(f => f.references.forall(r =>
      table.dataSchema.fieldNames.contains(r) && !blobs.contains(r)))
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }
  override def isPartiallyPushed: Boolean = true

  /** TopN pushdown over SORTED tables (upgrades O2: the reference
    * declines TopN outright, BaseLanceConnectorTest.java:120-121).
    * After a sorted compaction the manifest's `sort_by` guarantees
    * (a) rows ascending within each fragment and (b) fragments in
    * ascending range order (range-partitioned rewrite adopted in
    * part-file order), so `ORDER BY <sort prefix> LIMIT n` needs only
    * the fragment prefix covering n live rows. A fully REVERSED prefix
    * (every key DESC NULLS LAST) is the mirror image: ascending NULLS
    * FIRST order means the global top-n is exactly the LAST n live rows,
    * so only the fragment suffix is planned. Partial pushdown: Spark
    * keeps the global sort above, the scan just stops planning/reading
    * past the prefix/suffix. Declined with filters (first-n-scanned is
    * not first-n-matching), aggregates, or mixed directions. */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NullOrdering, SortDirection}
    if (pushed.nonEmpty || aggs.nonEmpty || orders.isEmpty) return false
    val sortBy = table.manifest.properties.get(GraftFormat.SortByProp) match {
      case Some(csv) => csv.split(',').toSeq
      case None => return false
    }
    val ascending = orders.head.direction == SortDirection.ASCENDING
    val names = orders.toSeq.map { o =>
      val directionOk =
        if (ascending)
          o.direction == SortDirection.ASCENDING &&
            o.nullOrdering == NullOrdering.NULLS_FIRST
        else
          o.direction == SortDirection.DESCENDING &&
            o.nullOrdering == NullOrdering.NULLS_LAST
      if (!directionOk) return false
      o.expression match {
        case nr: NamedReference if nr.fieldNames.length == 1 =>
          nr.fieldNames()(0)
        case _ => return false
      }
    }
    if (names == sortBy.take(names.length)) {
      limit = Some(n); limitFromEnd = !ascending; true
    } else false
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    parseAggs(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean =
    parseAggs(agg) match {
      case Some(a) => aggs = a; true
      case None => false
    }

  /** Manifest-answerable aggregations: any combination of COUNT(*) and
    * MIN/MAX over stats-covered primitive columns, with the reference's
    * COUNT(*) guards (no grouping, no filter, no limit —
    * LanceMetadata.java:604-665). MIN/MAX extends the reference: the
    * zone maps already in the manifest answer them with ZERO data scan.
    * Guards: exact-stat types only (strings excluded — parquet footers
    * may truncate binary bounds), every fragment must carry stats for
    * the column, and any deletion vector disables MIN/MAX (the deleted
    * rows could be the extremes) while COUNT(*) stays deletion-aware. */
  private def parseAggs(agg: Aggregation): Option[Seq[PushedAgg]] = {
    // start_version restricts the scan to a fragment subset, so the
    // whole-manifest aggregate shortcuts would answer over too much
    if (agg.groupByExpressions.nonEmpty || pushed.nonEmpty ||
      limit.nonEmpty || options.contains("start_version") ||
      agg.aggregateExpressions.isEmpty) return None
    val frags = table.manifest.fragments
    val hasDeletes = frags.exists(_.deletedCount > 0)
    def minMaxCol(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        val c = nr.fieldNames()(0)
        val ok = table.dataSchema.fields.find(_.name == c).exists(_.dataType match {
          case ByteType | ShortType | IntegerType | LongType | FloatType |
               DoubleType | DateType | TimestampType | TimestampNTZType => true
          // precision <= 18 decimals are INT32/INT64-backed in parquet:
          // unscaled stats are exact; wider decimals never carry stats
          case d: DecimalType => d.precision <= 18
          case _ => false
        }) && !hasDeletes &&
          frags.forall(f => f.stats.get(c).exists(cs =>
            cs.min.isDefined && cs.max.isDefined || cs.nulls == f.rowCount))
        if (ok) Some(c) else None
      case _ => None
    }
    val out = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => AggCountStar
      case m: Min => AggMin(minMaxCol(m.column()).getOrElse(return None))
      case m: Max => AggMax(minMaxCol(m.column()).getOrElse(return None))
      case _ => return None
    }
    Some(out)
  }

  override def build(): Scan =
    new GraftScan(table, required, pushed, limit, aggs, options, limitFromEnd)
}

// Custom metric classes must be TOP-LEVEL with zero-arg constructors:
// Spark re-instantiates them reflectively by class name for SQL-UI
// aggregation (anonymous/inner classes capture the enclosing scan).
class FragmentsPlannedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "fragmentsPlanned"
  override def description(): String = "fragments planned after pruning"
}
class FragmentsPrunedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "fragmentsPruned"
  override def description(): String = "fragments pruned by zone maps"
}
class DeletionRowsSkippedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "deletionRowsSkipped"
  override def description(): String = "rows removed by deletion vectors"
}
final case class GraftMetricValue(metricName: String, value: Long)
    extends org.apache.spark.sql.connector.metric.CustomTaskMetric {
  override def name(): String = metricName
}

/** One manifest-answerable aggregate. */
sealed trait PushedAgg extends Serializable
case object AggCountStar extends PushedAgg
final case class AggMin(col: String) extends PushedAgg
final case class AggMax(col: String) extends PushedAgg

object GraftScan {
  /** Bin-pack small fragments into tasks of Spark's file-source split
    * size (default ON — `FilePartition.maxSplitBytes`: maxPartitionBytes
    * capped so the scan spreads over minPartitionNum tasks). Specs that
    * count planned partitions 1:1 per fragment pin this off. */
  val PackSmallFragmentsConf = "spark.graft.scan.packSmallFragments"

  /** Soft cap on a full scan's planned partition count (r14 VERDICT
    * #4): a fixed maxPartitionBytes split plans bytes/128 MB tasks —
    * ~10⁶ at 100 TB — and nothing bounded scheduler/task-launch cost at
    * fragment scale (the reference plans exactly one split per
    * fragment, LanceSplitManager.java:87-91). When the planned bytes
    * exceed cap × maxPartitionBytes, the effective split size grows to
    * ceil(totalBytes / cap) so the scan plans ~cap partitions: splits
    * stay fragment-aligned (whole small fragments bin-pack; large
    * fragments range-split at the wider size), so row-address
    * arithmetic and DV mapping are untouched. Scans smaller than
    * cap × maxPartitionBytes are unaffected — the default 65536 keeps
    * a 100 TB scan at ~1.6 GiB/task (a few waves on a 1000-executor
    * cluster) instead of 8×10⁵ tasks. <= 0 disables the cap. */
  val MaxPartitionsConf = "spark.graft.scan.maxPartitions"
  val DefaultMaxPartitions = 65536L

  /** Reader factories built, per JVM (specs snapshot-and-diff). */
  private[graft] val readerFactoryBuilds = new java.util.concurrent.atomic.AtomicLong()
  /** `planInputPartitions` calls, per JVM (specs snapshot-and-diff). */
  private[graft] val partitionPlans = new java.util.concurrent.atomic.AtomicLong()

  /** The file bytes a planned partition reads (none for a manifest-served aggregate). */
  private[graft] def plannedBytes(p: InputPartition): Long = p match {
    case f: GraftFragmentPartition => if (f.length < 0) f.fileSize else f.length
    case GraftPackedPartition(ps) => ps.map(plannedBytes).sum
    case GraftBucketedPartition(fp, _) => plannedBytes(fp)
    case _ => 0L
  }
}

class GraftScan(
    table: GraftTable,
    required: StructType,
    pushed: Array[Filter],
    limit: Option[Int],
    aggs: Seq[PushedAgg],
    options: Map[String, String] = Map.empty,
    limitFromEnd: Boolean = false)
  extends Scan with Batch with SupportsReportStatistics
  with SupportsRuntimeFiltering with SupportsReportOrdering
  with SupportsReportPartitioning {

  /** Incremental (CDC-style) read: `spark.read.option("start_version",
    * v)` restricts the scan to fragments carrying rows appended AFTER
    * version v of the snapshot being read (deletion vectors of THIS
    * snapshot still apply — live rows only). End bound = the snapshot
    * itself, so `VERSION AS OF` composes as the end version. Exact
    * unless a Compact commit in range consumed a not-yet-read append,
    * which degrades to at-least-once (GraftFormat.excludedAsOf). The
    * incremental-ETL primitive: each sync reads only the new data,
    * never rescanning the table. */
  private lazy val startVersionExcluded: Option[Set[Int]] =
    options.get("start_version").map { sv =>
      val from = sv.toLong
      val versions = GraftFormat.listVersions(table.fs, table.dir)
      require(from == 0L || versions.contains(from),
        s"start_version $from is not a retained version of ${table.dir} " +
          s"(retained: ${versions.headOption.getOrElse("none")}..${
            versions.lastOption.getOrElse("none")})")
      // the require's listing feeds the walk: a vacuum landing between
      // the two would otherwise flip the walk's from-missing branch and
      // silently re-deliver the whole snapshot AFTER the require passed.
      // A vacuum racing the walk's manifest reads instead surfaces as
      // LostHistoryDuringWalk — batch start_version is strict (the
      // require above rejects vacuumed history), so keep it typed
      // rather than leaking a raw FileNotFoundException
      try GraftFormat.excludedAsOf(table.fs, table.dir, from,
        table.manifest, versions)
      catch {
        case e: GraftFormat.LostHistoryDuringWalk =>
          // remediation differs by cause: vacuum → raise retention;
          // drop + re-create (WrongGeneration) → retention cannot
          // help, the sync must re-bookmark the new generation
          throw new IllegalStateException(
            if (e.getCause.isInstanceOf[
                graft.format.ManifestCache.WrongGeneration])
              s"[GRAFT_LOST_HISTORY] ${table.dir} was dropped and " +
                s"re-created while the start_version $from incremental " +
                "read was being planned; version numbers restarted. " +
                "Re-sync from the new generation's beginning and " +
                "bookmark its graft.table_id (expected_table_id)."
            else
              s"[GRAFT_LOST_HISTORY] manifest history of ${table.dir} was " +
                s"vacuumed while the start_version $from incremental read " +
                "was being planned; re-run the sync, or raise vacuum " +
                "retention (keep_versions / older_than_ms / " +
                "min_versions_retained) above the sync cadence.", e)
      }
    }

  /** `.option("expected_table_id", id)`: fail typed when the table's
    * generation id (manifest property `graft.table_id`, surfaced via
    * DESCRIBE EXTENDED) is not the one the caller bookmarked. The
    * incremental-sync companion to start_version: version numbers
    * restart on drop + re-create, so once the new history reaches the
    * bookmark's version, start_version alone would silently sync the
    * wrong table's data. */
  private lazy val tableIdChecked: Unit =
    options.get("expected_table_id").foreach { want =>
      val got = table.manifest.properties.get(GraftFormat.TableIdProp)
      if (!got.contains(want)) throw new IllegalStateException(
        s"[GRAFT_LOST_HISTORY] expected_table_id $want does not match " +
          s"the current generation ${got.getOrElse("<none>")} of " +
          s"${table.dir}: the table was dropped and re-created (or " +
          "predates generation ids). Re-sync from scratch and bookmark " +
          "the new graft.table_id.")
    }

  /** The fragments this scan may read (all, unless start_version
    * restricts to post-`v` appends). */
  private def scanFragments: Seq[FragmentMeta] = {
    tableIdChecked
    startVersionExcluded match {
      case Some(ex) => table.manifest.fragments.filterNot(f => ex.contains(f.id))
      case None => table.manifest.fragments
    }
  }

  /** Bucket layout recorded by `Maintenance.bucketize`, if intact:
    * (column, nBuckets, (bucketId, fragment) pairs). Engaged only when
    * no limit/aggregate is pushed and zone maps would not prune any
    * fragment — a pruned bucket would make the reported partitioning a
    * lie. */
  private def bucketLayout: Option[(String, Int, Seq[(Int, FragmentMeta)])] =
    for {
      bv <- table.manifest.properties.get(GraftFormat.BucketByProp)
      bf <- table.manifest.properties.get(GraftFormat.BucketFragmentsProp)
      if aggs.isEmpty && limit.isEmpty && startVersionExcluded.isEmpty
      Array(c, nStr) = bv.split(':')
      byId = table.manifest.fragments.map(f => f.id -> f).toMap
      pairs = bf.split(',').toSeq.map { p =>
        val Array(b, id) = p.split(':')
        (b.toInt, byId.get(id.toInt))
      }
      if pairs.forall(_._2.isDefined)
      frags = pairs.map { case (b, f) => (b, f.get) }
      // every bucket fragment must survive pruning for the claim to hold
      if frags.forall { case (_, f) =>
        (pushed ++ runtimeFilters).forall(p =>
          ZoneMaps.mayMatch(p, table.dataSchema, f))
      }
    } yield (c, nStr.toInt, frags)

  /** Storage-partitioned joins: bucketized tables report
    * `KeyGroupedPartitioning(bucket(n, col))`; Spark resolves `bucket`
    * through the catalog's FunctionCatalog (GraftBucketFunction) and
    * co-locates matching buckets of two co-bucketized tables — the join
    * runs with ZERO shuffle on either side. A one-partition scan cannot
    * claim `SinglePartition`: the connector API has no such partitioning
    * (Spark 4.1's `DataSourceV2ScanExecBase` maps only key-grouped ones),
    * so small global sorts rely on [[graft.plans.SmallSortInPlace]]. */
  override def outputPartitioning():
      org.apache.spark.sql.connector.read.partitioning.Partitioning =
    bucketLayout match {
      case Some((c, n, frags)) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(org.apache.spark.sql.connector.expressions.Expressions
            .bucket(n, c)),
          frags.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  /** Per-partition ordering after a sorted compaction: each fragment's
    * rows are ascending in the recorded sort columns (deletion vectors
    * only remove rows, preserving order), so Spark elides per-partition
    * sorts above the scan. Any commit adding unsorted fragments drops
    * the manifest flag (see GraftFormat.SortByProp). */
  override def outputOrdering(): Array[
      org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection}
    if (aggs.nonEmpty) return Array.empty
    table.manifest.properties.get(GraftFormat.SortByProp) match {
      case Some(csv) =>
        val avail = readSchema().fieldNames.toSet
        csv.split(',').toSeq
          .takeWhile(avail.contains) // ordering prefix still in output
          .map(c => Expressions.sort(Expressions.column(c),
            SortDirection.ASCENDING, NullOrdering.NULLS_FIRST))
          .toArray
      case None => Array.empty
    }
  }

  // Runtime (dynamic-pruning) filters: Spark executes the small side of
  // a join first and hands the key values here; zone maps then drop
  // fact-table fragments that cannot contain those keys BEFORE tasks
  // launch — the DSv2 analog of dynamic partition pruning, and the
  // 100 TB join win (a selective dim filter prunes fact I/O, not just
  // fact rows). Conservative like all zone-map decisions: unknown ->
  // keep the fragment; the join itself still applies exact semantics.
  private var runtimeFilters: Array[Filter] = Array.empty

  override def filterAttributes(): Array[NamedReference] =
    if (aggs.nonEmpty) Array.empty // agg row is manifest-served, never joined
    // a bucketized scan's partitioning claim must not change after
    // planning — runtime pruning could drop a claimed bucket, so it is
    // disabled when the bucket layout is engaged (SPJ is the bigger win)
    else if (bucketLayout.isDefined) Array.empty
    else {
      // restricted to the scan's pruned output: Spark resolves these
      // against readSchema, and a pruned-away column can't be a join key
      val statted = table.manifest.fragments.flatMap(_.stats.keys).toSet
      required.fieldNames.filter(statted.contains)
        .map(org.apache.spark.sql.connector.expressions.Expressions.column)
    }

  override def filter(filters: Array[Filter]): Unit =
    runtimeFilters = filters

  private def countStar: Boolean = aggs.nonEmpty

  private def fieldType(c: String): DataType =
    table.dataSchema.fields.find(_.name == c).get.dataType

  override def readSchema(): StructType =
    if (aggs.nonEmpty)
      StructType(aggs.map {
        case AggCountStar => StructField("count(*)", LongType, nullable = false)
        case AggMin(c) => StructField(s"min($c)", fieldType(c), nullable = true)
        case AggMax(c) => StructField(s"max($c)", fieldType(c), nullable = true)
      })
    else required

  /** Internal (Catalyst) value of a pushed MIN/MAX, folded across the
    * manifest's per-fragment zone maps; null when no non-null values. */
  private def foldMinMax(c: String, isMin: Boolean): Any = {
    val stats = table.manifest.fragments.flatMap(f =>
      if (isMin) f.stats(c).min else f.stats(c).max)
    if (stats.isEmpty) return null
    fieldType(c) match {
      case ByteType => val l = stats.map(_.toLong); (if (isMin) l.min else l.max).toByte
      case ShortType => val l = stats.map(_.toLong); (if (isMin) l.min else l.max).toShort
      case IntegerType | DateType =>
        val l = stats.map(_.toLong); (if (isMin) l.min else l.max).toInt
      case LongType | TimestampType | TimestampNTZType =>
        val l = stats.map(_.toLong); if (isMin) l.min else l.max
      case FloatType => val d = stats.map(_.toFloat); if (isMin) d.min else d.max
      case DoubleType => val d = stats.map(_.toDouble); if (isMin) d.min else d.max
      case dt: DecimalType =>
        val l = stats.map(_.toLong)
        org.apache.spark.sql.types.Decimal(
          BigDecimal(BigInt(if (isMin) l.min else l.max), dt.scale),
          dt.precision, dt.scale)
      case other => throw new IllegalStateException(
        s"unexpected pushed min/max type $other for column $c")
    }
  }

  private def aggValues: Seq[Any] = aggs.map {
    case AggCountStar => table.manifest.liveRows
    case AggMin(c) => foldMinMax(c, isMin = true)
    case AggMax(c) => foldMinMax(c, isMin = false)
  }

  override def toBatch: Batch = this

  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new graft.streaming.GraftMicroBatchStream(table, options)

  override def description(): String =
    s"GraftScan(table=${table.name()}, version=${table.manifest.version}, " +
      s"fragments=${table.manifest.fragments.size}, " +
      s"pushedFilters=[${pushed.mkString(", ")}], limit=$limit, " +
      (if (limitFromEnd) "fromEnd=true, " else "") +
      s"pushedAggregates=[${aggs.mkString(", ")}], " +
      s"readSchema=${readSchema().catalogString})"

  // All statistics are manifest-served: no data-file I/O at plan time
  // (FragmentMeta.sizeBytes is harvested from parquet footers at write).
  // Beyond rowCount/size, per-column min/max/nullCount fold out of the
  // zone maps and NDV out of the scalar index's build-time cardinality
  // (_meta.json only — postings are never read). Catalyst's CBO
  // (spark.sql.cbo.enabled) turns these into filter selectivity and
  // join-cardinality estimates; at 100 TB the broadcast-vs-sort-merge
  // decision is exactly this metadata. The reference feeds Trino's
  // optimizer only a row count (LanceMetadata.java:561-588) — this
  // exceeds it.
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(scanFragments.map(_.sizeBytes).sum)
    override def numRows(): OptionalLong = startVersionExcluded match {
      case Some(_) => OptionalLong.of(scanFragments.map(_.liveRows).sum)
      case None => OptionalLong.of(table.manifest.liveRows)
    }
    override def columnStats(): java.util.Map[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
      reportedColumnStats
  }

  /** Zone-map stat string -> boxed estimation value. Catalyst's
    * estimators reach values through toString->double, so exact boxing
    * is not load-bearing; types without a numeric ordering (strings,
    * binary) report nulls/ndv only. Stat strings carry the parquet
    * physical form (DATE as epoch days, TIMESTAMP as micros, decimals
    * unscaled) — the same convention ZoneMaps.cmp compares with. */
  private def statValue(dt: DataType, s: String): Option[AnyRef] = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType =>
      Some(java.lang.Long.valueOf(s.toLong))
    case FloatType | DoubleType => Some(java.lang.Double.valueOf(s.toDouble))
    case d: DecimalType =>
      Some(new java.math.BigDecimal(new java.math.BigInteger(s), d.scale))
    case _ => None
  }

  private lazy val reportedColumnStats: java.util.Map[NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
    val out = new java.util.HashMap[NamedReference, ColumnStatistics]()
    val frags = scanFragments
    // with a pushed aggregate the scan's output is the agg row, not
    // table columns — nothing to report against
    val fields =
      if (aggs.nonEmpty || frags.isEmpty) Array.empty[StructField]
      else required.fields
    fields.foreach { field =>
      val entries = frags.flatMap(_.stats.get(field.name))
      // a fragment without a zone-map entry makes every number unknown
      if (entries.size == frags.size) {
        val nullsTotal = entries.map(_.nulls).sum
        // a fragment with no recorded min/max is sound to skip only when
        // it is all-null (contributes no values); otherwise the column's
        // range is unknown and min/max must not be reported
        val rangeSound = frags.forall { f =>
          val cs = f.stats(field.name)
          (cs.min.isDefined && cs.max.isDefined) || cs.nulls == f.rowCount
        }
        val minStrs = entries.flatMap(_.min)
        val maxStrs = entries.flatMap(_.max)
        val mins = minStrs.flatMap(statValue(field.dataType, _))
        val maxs = maxStrs.flatMap(statValue(field.dataType, _))
        val haveRange = rangeSound && mins.nonEmpty &&
          mins.size == minStrs.size && maxs.size == maxStrs.size
        val ndv = graft.ops.ScalarIndex.ndvAt(
          table.fs, table.dir, table.manifest.version, field.name)
        val ord: Ordering[AnyRef] = Ordering.by {
          case l: java.lang.Long => l.doubleValue()
          case d: java.lang.Double => d.doubleValue()
          case b: java.math.BigDecimal => b.doubleValue()
          case _ => Double.NaN
        }
        out.put(Expressions.column(field.name), new ColumnStatistics {
          override def nullCount(): OptionalLong = OptionalLong.of(nullsTotal)
          override def min(): java.util.Optional[Object] =
            if (haveRange) java.util.Optional.of(mins.min(ord)) else java.util.Optional.empty()
          override def max(): java.util.Optional[Object] =
            if (haveRange) java.util.Optional.of(maxs.max(ord)) else java.util.Optional.empty()
          override def distinctCount(): OptionalLong =
            ndv.map(OptionalLong.of).getOrElse(OptionalLong.empty())
        })
      }
    }
    out
  }

  // Observability: fragment-pruning effectiveness surfaces as SQL-UI
  // metrics on the scan node (driver metrics — known at planning, no
  // task plumbing). At 100 TB "fragments pruned" is THE number an
  // operator tunes clustering/zone maps by.
  import org.apache.spark.sql.connector.metric.{CustomMetric, CustomTaskMetric}
  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new FragmentsPlannedMetric, new FragmentsPrunedMetric,
      new DeletionRowsSkippedMetric)

  @volatile private var plannedFragments = 0L
  @volatile private var prunedFragments = 0L
  override def reportDriverMetrics(): Array[CustomTaskMetric] = Array(
    GraftMetricValue("fragmentsPlanned", plannedFragments),
    GraftMetricValue("fragmentsPruned", prunedFragments))

  /** Intersect the zone-surviving fragment list with the persisted
    * scalar index's postings for every `=`/`IN` predicate on an indexed
    * column (conjunctive semantics: each indexed predicate narrows the
    * set further). No index at this exact version -> no-op. */
  private def scalarIndexPrune(frags: Seq[FragmentMeta]): Seq[FragmentMeta] = {
    import graft.ops.ScalarIndex
    val equality: Seq[(String, Seq[Any])] =
      (pushed ++ runtimeFilters).toSeq.collect {
        case EqualTo(a, v) if v != null => a -> Seq(v)
        case EqualNullSafe(a, v) if v != null => a -> Seq(v)
        case In(a, vs) if vs != null && vs.nonEmpty && !vs.contains(null) =>
          a -> vs.toSeq
      }
    val eligible = equality ++ rangeEnumerations
    if (eligible.isEmpty) return frags
    val schema = table.dataSchema
    eligible.foldLeft(frags) { case (acc, (c, values)) =>
      if (acc.isEmpty) acc
      else schema.fields.find(_.name == c) match {
        case Some(f) =>
          ScalarIndex.fragmentsForValues(table.fs, table.dir,
              table.manifest.version, c, f.dataType, values) match {
            case Some(allowed) => acc.filter(fr => allowed.contains(fr.id))
            case None => acc
          }
        case None => acc
      }
    }
  }

  /** Range predicates over INTEGRAL domains as value enumerations: a
    * bounded BETWEEN on an integral (or date — epoch days are integral)
    * column contains exactly the integers in [lo, hi], so the `=`/`IN`
    * posting index answers it value-exactly (the btree-range leg the
    * hash layout cannot serve directly). Spans above
    * ScalarIndex.MaxLookupValues, open ranges, and non-integral types
    * fall back to zone maps — which already prune coarse ranges. */
  private def rangeEnumerations: Seq[(String, Seq[Any])] = {
    import graft.ops.ScalarIndex
    def long(v: Any): Option[Long] = v match {
      case b: Byte => Some(b.toLong)
      case s: Short => Some(s.toLong)
      case i: Int => Some(i.toLong)
      case l: Long => Some(l)
      case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
      case d: java.time.LocalDate => Some(d.toEpochDay)
      case _ => None
    }
    def narrow(c: String, l: Long): Option[Any] =
      table.dataSchema.fields.find(_.name == c).map(_.dataType).collect {
        case org.apache.spark.sql.types.ByteType if l.isValidByte => l.toByte
        case org.apache.spark.sql.types.ShortType if l.isValidShort => l.toShort
        case org.apache.spark.sql.types.IntegerType if l.isValidInt => l.toInt
        case org.apache.spark.sql.types.LongType => l
        case org.apache.spark.sql.types.DateType =>
          java.time.LocalDate.ofEpochDay(l)
      }
    // tightest [lo, hi] per column across all pushed inequalities
    val lows = collection.mutable.HashMap.empty[String, Long]
    val highs = collection.mutable.HashMap.empty[String, Long]
    def bound(m: collection.mutable.HashMap[String, Long], c: String,
        v: Long, tighter: (Long, Long) => Long): Unit =
      m.update(c, m.get(c).fold(v)(tighter(_, v)))
    (pushed ++ runtimeFilters).foreach {
      case GreaterThan(a, v) => long(v).foreach(l =>
        if (l < Long.MaxValue) bound(lows, a, l + 1, math.max))
      case GreaterThanOrEqual(a, v) => long(v).foreach(
        bound(lows, a, _, math.max))
      case LessThan(a, v) => long(v).foreach(l =>
        if (l > Long.MinValue) bound(highs, a, l - 1, math.min))
      case LessThanOrEqual(a, v) => long(v).foreach(
        bound(highs, a, _, math.min))
      case _ => ()
    }
    lows.keySet.intersect(highs.keySet).toSeq.flatMap { c =>
      val (lo, hi) = (lows(c), highs(c))
      val span = hi - lo // may overflow for extreme bounds -> negative
      if (hi < lo || span < 0 || span >= ScalarIndex.MaxLookupValues) None
      else {
        val vs = (lo to hi).flatMap(narrow(c, _))
        if (vs.size == (hi - lo + 1)) Some(c -> (vs: Seq[Any])) else None
      }
    }
  }

  /** No graft reader is columnar. Saying so up front keeps Spark from
    * planning the partitions once more per scan node copy just to ask
    * each partition (PARTITION_DEFINED is the default). */
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    Scan.ColumnarSupportMode.UNSUPPORTED

  override def planInputPartitions(): Array[InputPartition] = {
    GraftScan.partitionPlans.incrementAndGet()
    tableIdChecked // fires on EVERY path, incl. manifest-served aggs
    if (aggs.nonEmpty) {
      // answered entirely from the manifest: one empty partition
      // carrying the aggregate row (count(*) like the reference's
      // LanceCountPageSource.java:90-95; min/max from the zone maps)
      return Array(GraftAggPartition(aggValues))
    }
    val qualDir = table.fs.makeQualified(table.dir)
    // bucketized layout intact -> one partition per bucket, each
    // carrying its bucket id as the partition key (storage-partitioned
    // join grouping)
    bucketLayout match {
      case Some((_, _, frags)) =>
        plannedFragments = frags.size.toLong
        prunedFragments = 0L
        return frags.sortBy(_._1).map { case (b, f) =>
          GraftBucketedPartition(
            GraftFragmentPartition(
              fragId = f.id,
              absPath = new Path(qualDir, f.path).toString,
              fileSize = f.sizeBytes,
              deletionAbsPath =
                f.deletionPath.map(p => new Path(qualDir, p).toString),
              limit = None),
            b): InputPartition
        }.toArray
      case None => ()
    }
    // zone-map fragment pruning: drop fragments whose manifest min/max
    // statistics exclude every pushed predicate (native analog of the
    // reference's scalar-index scan skipping,
    // LanceFragmentPageSource.java:126 useScalarIndex(true))
    val schema = table.dataSchema
    val zoneFrags = scanFragments.filter(f =>
      (pushed ++ runtimeFilters).forall(p => ZoneMaps.mayMatch(p, schema, f)))
    // scalar-index fragment pruning (the btree/bitmap leg of the
    // reference's auto index selection, docs/src/performance.md "Index
    // Usage"): `=` / `IN` predicates consult the persisted value->
    // fragment postings built at exactly this manifest version. Sound
    // by construction — a hash collision can only retain a fragment —
    // and residual filters above the scan keep row-level semantics
    // regardless. Runtime (join-derived) IN filters participate too:
    // value-exact dynamic pruning where zone ranges overlap.
    val frags = scalarIndexPrune(zoneFrags)
    // limit + no filter -> plan only the fragment prefix covering the
    // limit in deletion-aware live rows (>= 1 fragment), mirroring the
    // reference's split coalescing (LanceSplitManager.java:100-112);
    // a DESC TopN plans the SUFFIX instead (ascending storage order
    // puts the top-n at the tail)
    val planned: Seq[FragmentMeta] = limit match {
      case Some(l) if pushed.isEmpty && frags.nonEmpty =>
        val ordered = if (limitFromEnd) frags.reverse else frags
        val acc = ordered.scanLeft(0L)(_ + _.liveRows).tail
        val keep = acc.indexWhere(_ >= l) match {
          case -1 => frags.size
          case i => i + 1
        }
        if (limitFromEnd) frags.takeRight(keep) else frags.take(keep)
      case _ => frags
    }
    plannedFragments = planned.size.toLong
    prunedFragments = (scanFragments.size - planned.size).toLong
    // Large fragments split into byte ranges (spark.sql.files.
    // maxPartitionBytes, row groups assigned by midpoint like Spark's
    // file sources) so one multi-GB fragment does not serialize into a
    // single task at 100 TB. Skipped under a pushed limit: limit
    // planning reasons in whole deletion-aware fragment prefixes and
    // per-reader early stop assumes fragment-ordered rows.
    // The split target is Spark's FilePartition.maxSplitBytes: the
    // scan's total cost (size with the openCostInBytes floor per
    // fragment) spread over minPartitionNum tasks, between openCost and
    // maxPartitionBytes — so a scan of a few small fragments still runs
    // on every core instead of packing into one task.
    val openCost = GraftShim.filesOpenCostInBytes(SparkSession.active)
    val baseMaxSplit =
      if (limit.isDefined) Long.MaxValue
      else {
        val totalCost = planned.iterator.map(f => math.max(f.sizeBytes, openCost)).sum
        math.min(GraftShim.filesMaxPartitionBytes(SparkSession.active),
          math.max(openCost,
            totalCost / GraftShim.filesMinPartitionNum(SparkSession.active)))
      }
    // task-count soft cap: once planned bytes exceed cap × split size,
    // widen the effective split to ceil(total / cap) — partition count
    // then tracks the cap instead of growing linearly with the table
    // (fragments with unknown size contribute 0 to the estimate: an
    // underestimate only keeps splits narrower — conservative)
    val maxSplit =
      if (baseMaxSplit == Long.MaxValue) baseMaxSplit
      else {
        val cap = SparkSession.active.conf
          .get(GraftScan.MaxPartitionsConf,
            GraftScan.DefaultMaxPartitions.toString).toLong
        if (cap <= 0L) baseMaxSplit
        else {
          val total = planned.iterator.map(f => math.max(f.sizeBytes, 0L)).sum
          math.max(baseMaxSplit, (total + cap - 1L) / cap)
        }
      }
    val units: Seq[GraftFragmentPartition] = planned.flatMap { f =>
      val size =
        if (f.sizeBytes > 0) f.sizeBytes
        else table.fs.getFileStatus(new Path(qualDir, f.path)).getLen
      val base = GraftFragmentPartition(
        fragId = f.id,
        absPath = new Path(qualDir, f.path).toString,
        fileSize = size,
        deletionAbsPath =
          f.deletionPath.map(p => new Path(qualDir, p).toString),
        // reader-side early stop is only safe when no residual filter
        // runs above the scan (Catalyst only pushes the limit then, but
        // keep the guard local too), and never for a DESC TopN — the
        // top rows are at the END of each planned fragment
        limit = limit.filter(_ => pushed.isEmpty && !limitFromEnd))
      if (size <= maxSplit) Seq(base)
      else (0L until size by maxSplit).map(off =>
        base.copy(start = off, length = math.min(maxSplit, size - off)))
    }
    if (maxSplit == Long.MaxValue ||
      !SparkSession.active.conf
        .get(GraftScan.PackSmallFragmentsConf, "true").toBoolean)
      return units.toArray
    // bin-pack consecutive small units into split-target tasks (the
    // maxSplitBytes above) with an openCostInBytes floor per file —
    // Spark's file-source task sizing, kept in manifest order so a
    // sorted table's packed partitions remain ascending (ChainedReader
    // opens files in order)
    val bins = Seq.newBuilder[InputPartition]
    var bin = List.empty[GraftFragmentPartition]
    var binBytes = 0L
    def cost(u: GraftFragmentPartition): Long = math.max(GraftScan.plannedBytes(u), openCost)
    def flush(): Unit = bin match {
      case Nil => ()
      case one :: Nil => bins += one; bin = Nil; binBytes = 0L
      case many => bins += GraftPackedPartition(many.reverse)
        bin = Nil; binBytes = 0L
    }
    units.foreach { u =>
      if (bin.nonEmpty && binBytes + cost(u) > maxSplit) flush()
      bin ::= u; binBytes += cost(u)
    }
    flush()
    bins.result().toArray
  }

  /** Built once per scan: the planner and AQE each ask their own
    * BatchScanExec copy, and every build has Spark broadcast the parquet
    * reader's Hadoop conf. The factory's own conf (deletion vectors) is
    * the [[SharedConf]] broadcast, shipped once per distinct conf rather
    * than inside every task. Runtime filters prune partitions, never
    * this parquet read. */
  override def createReaderFactory(): PartitionReaderFactory = readerFactory

  private lazy val readerFactory: PartitionReaderFactory = {
    GraftScan.readerFactoryBuilds.incrementAndGet()
    import graft.format.BlobStore
    val spark = SparkSession.active
    val blobCols = table.manifest.blobColumns
    val virtualOf: Map[String, (String, Int)] = blobCols.flatMap { c =>
      // descriptor struct ordinals: file=0, pos=1, size=2
      Seq(BlobStore.posColumn(c) -> (c, 1), BlobStore.sizeColumn(c) -> (c, 2))
    }.toMap

    val outputFields = required.fields.filterNot(
      _.name == GraftTable.RowAddressName)
    val needsRowAddress = required.fieldNames.contains(GraftTable.RowAddressName)

    // distinct physical columns the parquet read needs. Normal columns
    // keep their REQUIRED (possibly nested-pruned) type — the projection
    // must mirror exactly what the vectorized reader materializes.
    // Directly-selected blob columns need no physical read at all (they
    // project as empty bytes); virtual blob columns need the base
    // column's descriptor struct.
    val physicalFields = scala.collection.mutable.LinkedHashMap.empty[String, StructField]
    outputFields.foreach { f =>
      virtualOf.get(f.name) match {
        case Some((base, _)) =>
          physicalFields.getOrElseUpdate(base,
            StructField(base, BlobStore.descriptorType, nullable = true))
        case None if blobCols.contains(f.name) => // no physical read
        case None => physicalFields.getOrElseUpdate(f.name, f)
      }
    }
    val physIdx = physicalFields.keys.zipWithIndex.toMap

    // per-output projection spec (serializable; the reader builds exprs)
    val specs: Seq[ProjSpec] = outputFields.toSeq.map { f =>
      virtualOf.get(f.name) match {
        case Some((base, ord)) => BlobDescField(physIdx(base), ord)
        case None if blobCols.contains(f.name) => EmptyBinary
        case None => NormalField(physIdx(f.name), f.dataType.json, f.nullable)
      }
    } ++ (if (needsRowAddress) Seq(RowAddressField) else Seq.empty)

    // physical parquet read schema: pruned base columns + row index.
    // nullable=true is load-bearing: the vectorized reader tolerates the
    // column being absent from the file only for nullable columns, then
    // its RowIndexGenerator fills the vector with physical row indexes
    val parquetSchema = StructType(physicalFields.values.toArray :+
      StructField(GraftShim.rowIndexColumnName, LongType, nullable = true))
    val physicalDataSchema = StructType(table.dataSchema.fields.map { f =>
      if (blobCols.contains(f.name))
        StructField(f.name, BlobStore.descriptorType, f.nullable)
      else f
    })
    // the table's vended storage options reach the executor-side reader
    val hadoopConf = spark.sessionState.newHadoopConf()
    GraftTable.storageOptions(spark, table.conf).foreach {
      case (k, v) => hadoopConf.set(k, v)
    }
    val readFunc = GraftShim.parquetReaderFunc(
      spark, physicalDataSchema, parquetSchema, pushed.toIndexedSeq,
      hadoopConf)
    new GraftReaderFactory(readFunc, physicalFields.size, specs, countStar,
      SharedConf.broadcast(spark.sparkContext, hadoopConf))
  }
}

/** Serializable projection spec from physical parquet row to output row. */
sealed trait ProjSpec extends Serializable
/** Pass-through of physical column `physIdx` (dataTypeJson for rebuild). */
case class NormalField(physIdx: Int, dataTypeJson: String, nullable: Boolean)
  extends ProjSpec
/** Blob content column: never materialized, reads as empty bytes. */
case object EmptyBinary extends ProjSpec
/** Blob descriptor virtual column: struct field `ord` of physical col. */
case class BlobDescField(physIdx: Int, ord: Int) extends ProjSpec
/** Synthesized (fragmentId << 32) | rowIndex. */
case object RowAddressField extends ProjSpec

case class GraftFragmentPartition(
    fragId: Int,
    absPath: String,
    fileSize: Long,
    deletionAbsPath: Option[String],
    limit: Option[Int],
    // byte range of the parquet file this partition covers (row groups
    // are assigned by midpoint, like Spark's file sources); length < 0
    // means the whole file
    start: Long = 0L,
    length: Long = -1L) extends InputPartition

case class GraftAggPartition(values: Seq[Any]) extends InputPartition

/** Several small fragments bin-packed into ONE task — the other half
  * of Spark's file-source task sizing (openCostInBytes floor +
  * maxPartitionBytes target). A table of 100k tiny streaming-append
  * fragments must not become 100k tasks. */
case class GraftPackedPartition(parts: Seq[GraftFragmentPartition])
  extends InputPartition

/** A fragment partition bound to its bucket id — the partition key
  * storage-partitioned joins group by. */
case class GraftBucketedPartition(fp: GraftFragmentPartition, bucketId: Int)
  extends InputPartition
  with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(bucketId)
}

/** Executor-side reader of graft partitions. It holds no Hadoop conf
  * of its own: `conf` is the [[SharedConf]] broadcast, so a task
  * deserializes a small handle, and the executor reads the shared conf
  * only, to open deletion vectors. */
class GraftReaderFactory(
    readFunc: org.apache.spark.sql.execution.datasources.PartitionedFile =>
      Iterator[InternalRow],
    nPhysical: Int,
    specs: Seq[ProjSpec],
    countStar: Boolean,
    private[graft] val conf: Broadcast[SerializableConfiguration])
  extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case GraftAggPartition(vs) => new AggReader(vs)
      case fp: GraftFragmentPartition => new FragmentReader(fp)
      case bp: GraftBucketedPartition => new FragmentReader(bp.fp)
      case pk: GraftPackedPartition => new ChainedReader(pk.parts)
    }

  /** Reader over a bin of small fragments: opens them strictly one at a
    * time in manifest order (so a packed partition of sorted fragments
    * stays ascending and at most one file handle is live per task). */
  private class ChainedReader(parts: Seq[GraftFragmentPartition])
      extends PartitionReader[InternalRow] {
    private val it = parts.iterator
    private var cur: FragmentReader = _
    private var closedSkipped = 0L
    override def next(): Boolean = {
      while (true) {
        if (cur == null) {
          if (!it.hasNext) return false
          cur = new FragmentReader(it.next())
        }
        if (cur.next()) return true
        closedSkipped += cur.skippedCount
        cur.close(); cur = null
      }
      false
    }
    override def get(): InternalRow = cur.get()
    override def close(): Unit = if (cur != null) cur.close()
    override def currentMetricsValues():
        Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
      Array(GraftMetricValue("deletionRowsSkipped",
        closedSkipped + (if (cur != null) cur.skippedCount else 0L)))
  }

  /** Single-row reader for manifest-answered COUNT(*)/MIN/MAX. */
  private class AggReader(vs: Seq[Any]) extends PartitionReader[InternalRow] {
    private var emitted = false
    private val row = InternalRow(vs: _*)
    override def next(): Boolean = if (emitted) false else { emitted = true; true }
    override def get(): InternalRow = row
    override def close(): Unit = ()
  }

  /** Per-fragment reader: Spark's vectorized parquet pipeline +
    * deletion-vector filter + row-address projection, all inside one
    * codegen'd UnsafeProjection. */
  private class FragmentReader(fp: GraftFragmentPartition)
    extends PartitionReader[InternalRow] {

    private val iter = readFunc(GraftShim.partitionedFile(fp.absPath,
      fp.fileSize, fp.start, if (fp.length < 0) fp.fileSize else fp.length))

    // deletion vector, loaded once per fragment (sorted -> binary search)
    private val deleted: Array[Long] = fp.deletionAbsPath match {
      case Some(p) => GraftFormat.readDeletionFileAbs(p, conf.value.value)
      case None => Array.empty[Long]
    }
    private var skipped = 0L
    private[GraftReaderFactory] def skippedCount: Long = skipped

    private val rowIdxOrdinal = nPhysical // appended last in parquet schema
    private val projExprs: Seq[Expression] = specs.map {
      case NormalField(i, dtJson, nullable) =>
        BoundReference(i, DataType.fromJson(dtJson), nullable): Expression
      case EmptyBinary =>
        Literal(Array.empty[Byte], BinaryType): Expression
      case BlobDescField(i, ord) =>
        org.apache.spark.sql.catalyst.expressions.GetStructField(
          BoundReference(i, graft.format.BlobStore.descriptorType,
            nullable = true), ord): Expression
      case RowAddressField =>
        BitwiseOr(Literal(fp.fragId.toLong << 32),
          BoundReference(rowIdxOrdinal, LongType, nullable = false)): Expression
    }
    private val proj = UnsafeProjection.create(projExprs.toIndexedSeq)

    private var current: InternalRow = _
    private var emitted = 0L
    private val maxRows = fp.limit.map(_.toLong).getOrElse(Long.MaxValue)

    override def next(): Boolean = {
      if (emitted >= maxRows) return false
      while (iter.hasNext) {
        val r = iter.next()
        val idx = r.getLong(rowIdxOrdinal)
        if (deleted.isEmpty ||
            java.util.Arrays.binarySearch(deleted, idx) < 0) {
          current = proj(r)
          emitted += 1
          return true
        } else skipped += 1
      }
      false
    }
    override def get(): InternalRow = current
    override def close(): Unit = ()
    override def currentMetricsValues():
        Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
      Array(GraftMetricValue("deletionRowsSkipped", skipped))
  }
}
