package graftbench

import scala.collection.mutable.ArrayBuffer

/** A JSON object with its keys in insertion order. */
final case class Obj(fields: Seq[(String, Any)])

object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case Obj(fs) => fs.map { case (k, x) => quote(k) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      apply(Obj(m.toSeq.map { case (k, x) => k.toString -> x }
        .sortBy(_._1)))
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

object Stats {
  /** Quantile with linear interpolation between closest ranks (the
    * numpy/Python "inclusive" rule). */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** A tail percentile is reported only when at least ten samples lie
    * beyond it: p90 needs 100 samples, p99 needs 1000. */
  def tail(xs: Seq[Double], p: Double): Option[Double] =
    if (xs.size * (1.0 - p) >= 10.0 - 1e-9) Some(quantile(xs, p)) else None

  def ratio(num: Double, den: Double): Double = if (den == 0) 0.0 else num / den
}

/** Interval arithmetic for span self time and driver-only time. */
object Intervals {
  /** Total length of the union of [start, end) intervals, clipped to
    * [lo, hi). */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Per-op samples, grouped by op class and kind. */
final class Samples {
  final case class Sample(kind: String, isRead: Boolean, ms: Double, ok: Boolean)
  val all = ArrayBuffer[Sample]()
  def add(kind: String, isRead: Boolean, ms: Double, ok: Boolean): Unit =
    all += Sample(kind, isRead, ms, ok)
  def reads: Seq[Double] = all.filter(_.isRead).map(_.ms).toSeq
  def writes: Seq[Double] = all.filterNot(_.isRead).map(_.ms).toSeq
  def failed: Int = all.count(!_.ok)
}
