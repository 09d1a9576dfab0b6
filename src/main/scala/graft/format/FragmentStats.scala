package graft.format

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

import graft.format.GraftFormat.ColStats

/** Fragment-level column statistics (zone maps), harvested from parquet
  * footers at write time and persisted in the manifest — the native
  * analog of the reference's scalar-index scan skipping
  * (LanceFragmentPageSource.java:126 useScalarIndex(true),
  * docs performance.md "Index Usage"). Planning reads ONLY the manifest:
  * no data-file footer I/O on the query path.
  */
object FragmentStats {

  /** One footer read: (rowCount, sizeBytes, per-column zone maps).
    * Stats cover top-level primitive columns with footer statistics in
    * every row group; anything else is conservatively absent. */
  def readFooter(fs: FileSystem, conf: Configuration, file: Path)
      : (Long, Long, Map[String, ColStats]) = {
    val size = fs.getFileStatus(file).getLen
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      // column -> per-block stats; drop the column if any block lacks them
      val acc = scala.collection.mutable.LinkedHashMap
        .empty[String, (Ordering[String], List[(Option[String], Option[String], Long)])]
      var dropped = Set.empty[String]
      for (b <- blocks; c <- b.getColumns.asScala) {
        val pathParts = c.getPath.toArray
        if (pathParts.length == 1) {
          val name = pathParts(0)
          val st = c.getStatistics
          render(c.getPrimitiveType.getPrimitiveTypeName,
            c.getPrimitiveType.getLogicalTypeAnnotation, st) match {
            case Some((minMax, ord)) if st != null && !st.isEmpty =>
              val prev = acc.getOrElse(name, (ord, Nil))
              acc(name) = (ord, (minMax._1, minMax._2, st.getNumNulls) :: prev._2)
            case _ => dropped += name
          }
        }
      }
      val stats = acc.collect {
        case (name, (ord, perBlock)) if !dropped.contains(name) && perBlock.nonEmpty =>
          val mins = perBlock.flatMap(_._1)
          val maxs = perBlock.flatMap(_._2)
          val nulls = perBlock.map(_._3).sum
          // all-null column: no min/max but nulls is meaningful
          name -> ColStats(
            if (mins.size == perBlock.size) Some(mins.min(ord)) else None,
            if (maxs.size == perBlock.size) Some(maxs.max(ord)) else None,
            nulls)
      }.toMap
      (rows, size, stats)
    } finally reader.close()
  }

  /** Zone-map string stats are capped at 64 chars (metadata-scale probe,
    * BENCH_META.json): parquet-mr column-chunk stats are NOT truncated
    * by default, so a documents-style text column would otherwise carry
    * document-sized min/max strings per fragment per column in the
    * manifest — unbounded metadata at 10⁵ fragments. Soundness: a min is
    * truncated to its PREFIX (a prefix compares <= the string, so the
    * stored min still lower-bounds every value); a max is rounded UP by
    * incrementing the last incrementable char of the prefix (the bare
    * prefix would compare < the true max — unsound); a prefix of 64
    * Char.MaxValue values cannot be rounded up, so the max is dropped
    * (absent stats never prune). Same trick as parquet's own
    * column-index truncation (BinaryTruncator.truncateMax). */
  private[graft] val MaxStatLength = 64

  /** Unicode CODE-POINT order — the order parquet computed string
    * min/max in (string stats use unsigned UTF-8 byte comparison,
    * which equals code-point order). Java's String.compareTo is UTF-16
    * code-UNIT order, which sorts every supplementary character
    * (surrogate units 0xD800-0xDFFF) BELOW the BMP range
    * [0xE000, 0xFFFF] — comparing stats in a different order than they
    * were minimized/maximized in can prune fragments holding real
    * matches (r14 review: min="", max=U+1F600; an EqualTo on
    * "" read max < v under compareTo and dropped the fragment). */
  private[graft] def codePointCompare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  private[format] val CodePointOrdering: Ordering[String] =
    (a: String, b: String) => codePointCompare(a, b)

  /** Truncated lower bound: the prefix, minus a trailing HIGH surrogate
    * a 64-char cut may have split off its pair (a lone surrogate does
    * not survive the manifest's UTF-8 encoding — it would decode as
    * '?', silently CHANGING the stored stat; for a min the shorter
    * prefix is still <= the value, so dropping the char stays sound). */
  private[graft] def truncLower(s: String): String = {
    val p = s.take(MaxStatLength)
    if (p.nonEmpty && Character.isHighSurrogate(p.last)) p.dropRight(1)
    else p
  }

  /** Truncated UPPER bound: round the prefix up by bumping its last
    * bumpable char, soundly in CODE-POINT order and never emitting a
    * lone surrogate (it would mangle to '?' on the manifest's UTF-8
    * wire, making the persisted max SMALLER than the true max —
    * unsound pruning). Surrogate units are unbumpable and skipped
    * whole: bumping a supplementary character's half to any BMP char
    * rounds DOWN in code-point order. 0xD7FF rounds to 0xE000 (the
    * next real code point — nothing lives in the surrogate block);
    * 0xFFFF (== Char.MaxValue) cannot be bumped without growing a
    * pair, so it is skipped; a prefix of only unbumpable chars drops
    * the max (absent stats never prune). */
  private[graft] def truncUpper(s: String): Option[String] =
    if (s.length <= MaxStatLength) Some(s)
    else {
      val prefix = s.substring(0, MaxStatLength).toCharArray
      var i = prefix.length - 1
      while (i >= 0 && (prefix(i) == Char.MaxValue ||
          Character.isSurrogate(prefix(i)))) i -= 1
      if (i < 0) None
      else {
        prefix(i) =
          if (prefix(i) == 0xD7FF.toChar) 0xE000.toChar
          else (prefix(i) + 1).toChar
        Some(new String(prefix, 0, i + 1))
      }
    }

  /** Canonical rendering of one row group's min/max + the ordering used
    * to merge across row groups. None = unsupported type (no stats). */
  private def render(
      t: PrimitiveTypeName,
      logical: org.apache.parquet.schema.LogicalTypeAnnotation,
      st: org.apache.parquet.column.statistics.Statistics[_])
      : Option[((Option[String], Option[String]), Ordering[String])] = {
    if (st == null || st.isEmpty) return None
    val hasMinMax = st.hasNonNullValue
    import org.apache.parquet.schema.LogicalTypeAnnotation._
    t match {
      // timestamps are comparable as raw longs only in MICROS (what Spark
      // writes); any other unit gets no stats rather than wrong pruning
      case PrimitiveTypeName.INT64
          if logical.isInstanceOf[TimestampLogicalTypeAnnotation] &&
            logical.asInstanceOf[TimestampLogicalTypeAnnotation].getUnit !=
              org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MICROS =>
        None
      case PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64 =>
        // covers integral Spark types + DATE (days) + TIMESTAMP (micros)
        val mm =
          if (hasMinMax) (Some(st.genericGetMin.toString), Some(st.genericGetMax.toString))
          else (None, None)
        Some((mm, Ordering.by[String, Long](_.toLong)))
      case PrimitiveTypeName.FLOAT | PrimitiveTypeName.DOUBLE =>
        val mm =
          if (hasMinMax) (Some(st.genericGetMin.toString), Some(st.genericGetMax.toString))
          else (None, None)
        Some((mm, Ordering.by[String, Double](_.toDouble)))
      case PrimitiveTypeName.BINARY if logical.isInstanceOf[StringLogicalTypeAnnotation] =>
        val mm =
          if (hasMinMax)
            (Some(truncLower(st.minAsString())),
              truncUpper(st.maxAsString()))
          else (None, None)
        Some((mm, CodePointOrdering))
      case _ => None // boolean/decimal/binary/int96: no pruning
    }
  }
}

/** Manifest zone-map pruning: decide whether a fragment can possibly
  * contain rows matching a pushed filter. Conservative: any uncertainty
  * (no stats, unsupported type/filter) keeps the fragment. */
object ZoneMaps {

  /** True iff the fragment may contain matching rows. */
  def mayMatch(filter: Filter, schema: StructType, f: GraftFormat.FragmentMeta): Boolean =
    filter match {
      case EqualTo(a, v) => inRange(a, v, schema, f)
      case EqualNullSafe(a, null) => mayHaveNulls(a, f)
      case EqualNullSafe(a, v) => inRange(a, v, schema, f)
      case In(a, vs) => vs == null || vs.isEmpty || vs.exists(v => v == null || inRange(a, v, schema, f))
      case GreaterThan(a, v) => cmpMax(a, v, schema, f).forall(_ > 0)
      case GreaterThanOrEqual(a, v) => cmpMax(a, v, schema, f).forall(_ >= 0)
      case LessThan(a, v) => cmpMin(a, v, schema, f).forall(_ < 0)
      case LessThanOrEqual(a, v) => cmpMin(a, v, schema, f).forall(_ <= 0)
      case IsNull(a) => mayHaveNulls(a, f)
      case IsNotNull(a) => f.stats.get(a).forall(_.nulls < f.rowCount)
      case And(l, r) => mayMatch(l, schema, f) && mayMatch(r, schema, f)
      case Or(l, r) => mayMatch(l, schema, f) || mayMatch(r, schema, f)
      case StringStartsWith(a, v) => prefixInRange(a, v, f)
      case _ => true // Not, StringContains, ... : no pruning
    }

  private def mayHaveNulls(a: String, f: GraftFormat.FragmentMeta): Boolean =
    f.stats.get(a).forall(_.nulls > 0)

  private def toLongV(v: Any): Option[Long] = v match {
    case b: Byte => Some(b.toLong)
    case s: Short => Some(s.toLong)
    case i: Int => Some(i.toLong)
    case l: Long => Some(l)
    case _ => None
  }
  private def toDoubleV(v: Any): Option[Double] = v match {
    case fl: Float => Some(fl.toDouble)
    case d: Double => Some(d)
    case b: Byte => Some(b.toDouble)
    case s: Short => Some(s.toDouble)
    case i: Int => Some(i.toDouble)
    case l: Long => Some(l.toDouble)
    case _ => None
  }

  /** Filter value -> days-since-epoch (parquet DATE physical form). */
  private def toDays(v: Any): Option[Int] = v match {
    case d: java.sql.Date =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d))
    case d: java.time.LocalDate => Some(d.toEpochDay.toInt)
    case _ => None
  }

  /** Filter value -> micros-since-epoch (parquet TIMESTAMP(MICROS)). */
  private def toMicros(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
    case i: java.time.Instant =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i))
    case t: java.time.LocalDateTime =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils
        .localDateTimeToMicros(t))
    case _ => None
  }

  /** compare(stat, v): Some(sign) or None when not comparable. */
  private def cmp(a: String, v: Any, schema: StructType, stat: Option[String]): Option[Int] = {
    val field = schema.fields.find(_.name == a).getOrElse(return None)
    val s = stat.getOrElse(return None)
    field.dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        toLongV(v).map(x => java.lang.Long.compare(s.toLong, x))
      case FloatType | DoubleType =>
        toDoubleV(v).map(x => java.lang.Double.compare(s.toDouble, x))
      case StringType => v match {
        // code-point order: the order parquet computed the stat in
        // (FragmentStats.codePointCompare) — compareTo would misorder
        // supplementary characters vs [U+E000, U+FFFF]
        case str: String =>
          Some(Integer.signum(FragmentStats.codePointCompare(s, str)))
        case _ => None
      }
      // date/timestamp stats serialize as their parquet physical longs
      // (days / micros), so predicates prune the most common analytic
      // ranges too
      case DateType =>
        toDays(v).map(x => java.lang.Long.compare(s.toLong, x.toLong))
      case TimestampType | TimestampNTZType =>
        toMicros(v).map(x => java.lang.Long.compare(s.toLong, x))
      // INT32/INT64-backed decimals (precision <= 18) carry exact
      // unscaled stats; rescale through BigDecimal for the compare.
      // FIXED_LEN_BYTE_ARRAY decimals get no stats -> never reach here.
      case dt: DecimalType => v match {
        case bd: java.math.BigDecimal =>
          Some(BigDecimal(BigInt(s), dt.scale).compare(BigDecimal(bd)).sign)
        case _ => None
      }
      case _ => None
    }
  }

  private def cmpMin(a: String, v: Any, schema: StructType,
      f: GraftFormat.FragmentMeta): Option[Int] =
    f.stats.get(a).flatMap(cs => cmp(a, v, schema, cs.min))
  private def cmpMax(a: String, v: Any, schema: StructType,
      f: GraftFormat.FragmentMeta): Option[Int] =
    f.stats.get(a).flatMap(cs => cmp(a, v, schema, cs.max))

  /** v within [min, max]? Unknown -> true. */
  private def inRange(a: String, v: Any, schema: StructType,
      f: GraftFormat.FragmentMeta): Boolean =
    cmpMin(a, v, schema, f).forall(_ <= 0) && cmpMax(a, v, schema, f).forall(_ >= 0)

  /** Any string in [min, max] can start with prefix v? */
  private def prefixInRange(a: String, v: String, f: GraftFormat.FragmentMeta): Boolean =
    f.stats.get(a) match {
      case Some(GraftFormat.ColStats(Some(min), Some(max), _)) if v != null =>
        // strings >= min, <= max; a string with prefix v exists in range
        // unless max < v, or min > all strings with that prefix (min's
        // prefix of v.length is already > v). Code-point compares, like
        // every other string-stat comparison. A code-unit take() that
        // splits a pair only LOWERS the min prefix -> conservative.
        !(FragmentStats.codePointCompare(max, v) < 0 ||
          FragmentStats.codePointCompare(min.take(v.length), v) > 0)
      case _ => true
    }
}
