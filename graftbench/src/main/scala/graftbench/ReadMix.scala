package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}

final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
    c_acctbal: Double, c_mktsegment: String)
final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
    o_totalprice: Double, o_orderdate: Int, o_orderpriority: String)
final case class LineItem(l_orderkey: Long, l_linenumber: Int, l_partkey: Long,
    l_quantity: Int, l_extendedprice: Double, l_discount: Double, l_tax: Double,
    l_returnflag: String, l_linestatus: String, l_shipdate: Int,
    l_shipmode: String, l_comment: String)

/** TPC-H-shaped rows as pure functions of (seed, index). Dates are day
  * numbers since 1970-01-01; order dates rise with the order key, so
  * fragments written in key order cover narrow ship-date ranges. */
object TpchGen {
  val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val ShipModes = Array("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val FirstDay = 8036 // 1992-01-01
  val Span = 2400
  val Cutoff = 9298 // 1995-06-17: shipped before it => returned/final

  def customer(seed: Long, i: Long): Customer = {
    val r = Gen.rng(seed, "customer", i)
    Customer(i + 1, f"Customer#$i%09d", r.nextInt(25),
      Gen.cents(-999.99 + r.nextDouble() * 10999.98), Segments(r.nextInt(5)))
  }

  private def orderHead(seed: Long, nOrders: Long, nCust: Long, i: Long) = {
    val r = Gen.rng(seed, "order", i)
    val date = FirstDay + (i * Span / nOrders).toInt + r.nextInt(4)
    (1 + java.lang.Math.floorMod(r.nextLong(), nCust), date, 1 + r.nextInt(7),
      Priorities(r.nextInt(5)))
  }

  def lines(seed: Long, nOrders: Long, nCust: Long, i: Long): Seq[LineItem] = {
    val (_, date, n, _) = orderHead(seed, nOrders, nCust, i)
    (1 to n).map { j =>
      val r = Gen.rng(seed, "line", i * 8 + j)
      val part = 1 + r.nextInt(20000)
      val qty = 1 + r.nextInt(50)
      val price = Gen.cents(qty * (900.0 + (part % 1000) + part / 10.0 * 0.01))
      val ship = date + r.between(1, 121)
      val flag = if (ship <= Cutoff) (if (r.nextInt(2) == 0) "R" else "A") else "N"
      LineItem(i + 1, j, part, qty, price, r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        flag, if (ship <= Cutoff) "F" else "O", ship, ShipModes(r.nextInt(7)),
        (0 until 3 + r.nextInt(4)).map(_ => Gen.word(Gen.skewedWord(r, 2000))).mkString(" "))
    }
  }

  def order(seed: Long, nOrders: Long, nCust: Long, i: Long): Order = {
    val (cust, date, _, prio) = orderHead(seed, nOrders, nCust, i)
    val ls = lines(seed, nOrders, nCust, i)
    val status = if (ls.forall(_.l_linestatus == "F")) "F"
      else if (ls.forall(_.l_linestatus == "O")) "O" else "P"
    Order(i + 1, cust, status,
      Gen.cents(ls.map(l => l.l_extendedprice * (1 + l.l_tax) * (1 - l.l_discount)).sum),
      date, prio)
  }
}

/** read_mix: a static TPC-H-shaped table set and a stream of bounded read
  * templates. Metadata is warm and unchanging and no index, DML or dedup
  * code runs, so scan, pushdown, pruning and executor compute dominate. */
final class ReadMix(spark: SparkSession, seed: Long, staging: String, wh: Warehouse,
    ctx: Ctx, ref: (String, String) => String = (ns, t) => s"g.$ns.$t") extends Workload {
  import ReadMix._
  val name = "read_mix"
  val nOrders = 30000L
  val nCust = nOrders / 10
  /** Orders below this key are loaded by the CTAS (version 1 of
    * lineitem); the rest by one INSERT. */
  val splitOrder = nOrders * 9 / 10
  val rowsPerFragment = 20000

  // driver-side model of lineitem, in order-key order
  private var lk = Array.empty[Long]; private var lq = Array.empty[Int]
  private var lp = Array.empty[Double]; private var ld = Array.empty[Double]
  private var lflag = Array.empty[String]; private var lstat = Array.empty[String]
  private var lship = Array.empty[Int]; private var lmode = Array.empty[String]
  private var lnum = Array.empty[Int]
  private val oDate = new Array[Int](nOrders.toInt)
  private val oCust = new Array[Long](nOrders.toInt)
  private val cSeg = new Array[String](nCust.toInt)
  private var ns = ""
  private var v1 = 0L
  private var cycleNo = 0

  def sizes = Seq("orders" -> nOrders, "customers" -> nCust, "lineitems" -> lk.size,
    "rows_per_fragment" -> rowsPerFragment)

  def tables = Seq("customer", "orders", "lineitem").map(ref(ns, _))

  def stage(): Unit = {
    import spark.implicits._
    val (s, no, nc, split) = (seed, nOrders, nCust, splitOrder)
    spark.range(0, nc, 1, 2).as[Long].map(i => TpchGen.customer(s, i))
      .write.parquet(s"$staging/customer")
    spark.range(0, no, 1, 4).as[Long].map(i => TpchGen.order(s, no, nc, i))
      .write.parquet(s"$staging/orders")
    spark.range(0, split, 1, 4).as[Long].flatMap(i => TpchGen.lines(s, no, nc, i))
      .write.parquet(s"$staging/lineitem_a")
    spark.range(split, no, 1, 1).as[Long].flatMap(i => TpchGen.lines(s, no, nc, i))
      .write.parquet(s"$staging/lineitem_b")
    (0L until nc).foreach(i => cSeg(i.toInt) = TpchGen.customer(s, i).c_mktsegment)
    val ls = ArrayBuffer[LineItem]()
    (0L until no).foreach { i =>
      val o = TpchGen.order(s, no, nc, i)
      oDate(i.toInt) = o.o_orderdate; oCust(i.toInt) = o.o_custkey
      ls ++= TpchGen.lines(s, no, nc, i)
    }
    lk = ls.map(_.l_orderkey).toArray; lnum = ls.map(_.l_linenumber).toArray
    lq = ls.map(_.l_quantity).toArray; lp = ls.map(_.l_extendedprice).toArray
    ld = ls.map(_.l_discount).toArray; lflag = ls.map(_.l_returnflag).toArray
    lstat = ls.map(_.l_linestatus).toArray; lship = ls.map(_.l_shipdate).toArray
    lmode = ls.map(_.l_shipmode).toArray
  }

  def setup(namespace: String): Unit = {
    ns = namespace
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS g.$ns")
    step("load")({
      spark.sql(s"CREATE TABLE g.$ns.customer AS SELECT * FROM parquet.`$staging/customer`")
      spark.sql(s"CREATE TABLE g.$ns.orders AS SELECT * FROM parquet.`$staging/orders`")
      spark.sql(s"CREATE TABLE g.$ns.lineitem TBLPROPERTIES " +
        s"('write.max_rows_per_file' = '$rowsPerFragment') AS " +
        s"SELECT * FROM parquet.`$staging/lineitem_a`")
      v1 = wh.head(s"g.$ns.lineitem")
      spark.sql(s"INSERT INTO g.$ns.lineitem SELECT * FROM parquet.`$staging/lineitem_b`")
    })
    // first reads of the fresh tables: a count and a point lookup
    step("first_reads")(templates(Gen.rng(seed, "first", 0))
      .filter(o => o.kind == "count_all" || o.kind == "point_lookup").foreach(_.run()))
  }

  def warmup(): Unit = templates(Gen.rng(seed, "warmup", 0)).foreach(_.run())

  def cycle(): Seq[Op] = {
    val r = Gen.rng(seed, "cycle", cycleNo)
    cycleNo += 1
    val ops = templates(r)
    ops.indices.map(i => (r.nextLong(), i)).sortBy(_._1).map(p => ops(p._2))
  }


  private def L = ref(ns, "lineitem")
  private def n = lk.size
  private def read(kind: String, q: String)(expect: => Seq[Seq[Any]]): Op =
    Op(kind, isRead = true)(ctx.sql(q))(rows => sameRows(kind, rows, expect))

  /** One op of each template, with parameters drawn from `r`. */
  private[graftbench] def templates(r: Gen.Rng): Seq[Op] = {
    val d1 = 10400 + r.nextInt(100)
    val a2 = Seq(TpchGen.FirstDay + 30 + r.nextInt(TpchGen.Span))
    val k3 = Seq(1 + r.nextInt(nOrders.toInt).toLong)
    val d4 = TpchGen.FirstDay + 200 + r.nextInt(TpchGen.Span - 600)
    val m5 = TpchGen.ShipModes(r.nextInt(7))
    val a6 = TpchGen.FirstDay + r.nextInt(TpchGen.Span - 1200)
    val (x8, q8) = (r.nextInt(8) / 100.0, 10 + r.nextInt(30))
    val d9 = TpchGen.FirstDay + 300 + r.nextInt(TpchGen.Span)
    Seq(
      read("pricing_summary",
        s"""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
           |sum(l_extendedprice) AS sum_base,
           |sum(l_extendedprice * (1 - l_discount)) AS sum_disc,
           |avg(l_discount) AS avg_disc, count(*) AS n
           |FROM $L WHERE l_shipdate <= $d1
           |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin) {
        (0 until n).filter(i => lship(i) <= d1).groupBy(i => (lflag(i), lstat(i)))
          .toSeq.sortBy(_._1).map { case ((f, s), is) =>
            Seq(f, s, is.map(i => lq(i).toLong).sum, is.map(lp).sum,
              is.map(i => lp(i) * (1 - ld(i))).sum, is.map(ld).sum / is.size, is.size.toLong)
          }
      }) ++ a2.map(a => read("shipdate_range",
        s"""SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount FROM $L
           |WHERE l_shipdate >= $a AND l_shipdate < ${a + 5}
           |ORDER BY l_orderkey, l_linenumber""".stripMargin) {
        (0 until n).filter(i => lship(i) >= a && lship(i) < a + 5)
          .map(i => Seq(lk(i), lnum(i), lp(i), ld(i)))
      }) ++ k3.map(k => read("point_lookup",
        s"SELECT * FROM $L WHERE l_orderkey = $k ORDER BY l_linenumber") {
        TpchGen.lines(seed, nOrders, nCust, k - 1).map(l => l.productIterator.toSeq)
      }) ++ Seq(
      read("join3",
        s"""SELECT c_mktsegment, count(*) AS n,
           |sum(l_extendedprice * (1 - l_discount)) AS revenue
           |FROM ${ref(ns, "customer")} JOIN ${ref(ns, "orders")} ON c_custkey = o_custkey
           |JOIN $L ON l_orderkey = o_orderkey
           |WHERE o_orderdate >= $d4 AND o_orderdate < ${d4 + 365} AND l_shipdate > ${d4 + 30}
           |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) {
        (0 until n).filter { i =>
          val o = (lk(i) - 1).toInt
          oDate(o) >= d4 && oDate(o) < d4 + 365 && lship(i) > d4 + 30
        }.groupBy(i => cSeg((oCust((lk(i) - 1).toInt) - 1).toInt)).toSeq.sortBy(_._1)
          .map { case (seg, is) => Seq(seg, is.size.toLong, is.map(i => lp(i) * (1 - ld(i))).sum) }
      },
      read("topk",
        s"""SELECT l_orderkey, l_linenumber, l_extendedprice FROM $L
           |WHERE l_shipmode = '$m5'
           |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20""".stripMargin) {
        (0 until n).filter(i => lmode(i) == m5)
          .sortBy(i => (-lp(i), lk(i), lnum(i))).take(20)
          .map(i => Seq(lk(i), lnum(i), lp(i)))
      },
      read("quantiles",
        s"""SELECT l_returnflag, percentile(l_extendedprice, array(0.25, 0.5, 0.9)) AS q
           |FROM $L WHERE l_shipdate >= $a6 AND l_shipdate < ${a6 + 1200}
           |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
        (0 until n).filter(i => lship(i) >= a6 && lship(i) < a6 + 1200)
          .groupBy(i => lflag(i)).toSeq.sortBy(_._1).map { case (f, is) =>
            val xs = is.map(lp)
            Seq(f, Seq(0.25, 0.5, 0.9).map(p => Stats.quantile(xs, p)))
          }
      },
      read("count_all", s"SELECT count(*) FROM $L") { Seq(Seq(n.toLong)) },
      read("count_pred",
        s"SELECT count(*) FROM $L WHERE l_discount >= $x8 AND l_quantity < $q8") {
        Seq(Seq((0 until n).count(i => ld(i) >= x8 && lq(i) < q8).toLong))
      },
      read("time_travel",
        s"""SELECT count(*) AS n, sum(l_quantity) AS q FROM $L VERSION AS OF $v1
           |WHERE l_shipdate < $d9""".stripMargin) {
        val is = (0 until n).filter(i => lk(i) <= splitOrder && lship(i) < d9)
        Seq(Seq(is.size.toLong, if (is.isEmpty) null else is.map(i => lq(i).toLong).sum))
      })
  }
}

object ReadMix {
  /** Compares collected rows with expected rows: exact for integers and
    * strings, relative 1e-9 for doubles (sums depend on summation order). */
  def sameRows(kind: String, rows: Array[Row], expect: Seq[Seq[Any]]): Option[String] = {
    if (rows.length != expect.size)
      return Some(s"$kind: ${rows.length} rows, expected ${expect.size}")
    rows.iterator.zip(expect.iterator).zipWithIndex.collectFirst {
      case ((row, exp), i) if !sameValues(row.toSeq, exp) =>
        s"$kind row $i: got ${row.toSeq.mkString("(", ", ", ")")}, " +
          s"expected ${exp.mkString("(", ", ", ")")}"
    }
  }

  def sameValues(got: Seq[Any], exp: Seq[Any]): Boolean =
    got.size == exp.size && got.zip(exp).forall { case (g, e) => same(g, e) }

  def same(g: Any, e: Any): Boolean = (g, e) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (a: Double, b: Double) => math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    case (a: Number, b: Number) => a.longValue == b.longValue &&
      a.doubleValue == b.doubleValue
    case (a: scala.collection.Seq[_], b: scala.collection.Seq[_]) => sameValues(a.toSeq, b.toSeq)
    case (a, b) => a == b
  }
}
