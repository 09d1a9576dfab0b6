package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's own tests. Run with `python3 graftbench/run.py --self-test`. */
object SelfTest {
  private def check(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new AssertionError(msg)

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    val work = Path.of(opt("work")).toAbsolutePath
    lazy val spark = Main.session(work, opt("cores").toInt, traced = false)
    val tests = Seq[(String, () => Unit)](
      "same seed gives the same inputs, another seed other inputs" -> (() => seeds(spark, work)),
      "read_mix model agrees with plain Spark over the staged parquet" ->
        (() => readModel(spark, work)),
      "write_mix model agrees with plain Spark over the staged parquet" ->
        (() => writeModel(spark, work)),
      "tail percentiles need ten samples beyond them" -> (() => tails()),
      "quantiles and interval unions" -> (() => arithmetic()),
      "metric names are well formed and match BENCHMARK.json" ->
        (() => names(Path.of(opt("benchmark-json")))))
    val failed = tests.flatMap { case (name, body) =>
      try { body(); println(s"ok   $name"); None }
      catch { case t: Throwable => println(s"FAIL $name: $t"); Some(name) }
    }
    println(s"${tests.size - failed.size} passed, ${failed.size} failed")
    sys.exit(if (failed.isEmpty) 0 else 1)
  }

  private def fingerprint(seed: Long): Seq[Any] =
    (0L until 200L).flatMap(i => TpchGen.lines(seed, 30000, 3000, i)) ++
      (0L until 200L).map(i => KvGen.row(seed, i)) ++
      (0L until 200L).map(i => LlmGen.doc(seed, i)) ++
      (0L until 200L).map(i => LlmGen.vec(seed, i).emb.toSeq)

  def seeds(spark: SparkSession, work: Path): Unit = {
    check(fingerprint(1) == fingerprint(1), "seed 1 generated different rows twice")
    check(fingerprint(1) != fingerprint(2), "seeds 1 and 2 generated the same rows")
    // the staged files too: two stagings under one seed hold the same rows
    def staged(seed: Long, dir: String) = {
      val uri = work.resolve(dir).toUri.toString
      new WriteMix(spark, seed, uri, null, null).stage()
      spark.read.parquet(s"$uri/kv")
    }
    val (a, b, c) = (staged(7, "seed7a"), staged(7, "seed7b"), staged(8, "seed8"))
    check(a.count() == 200000 && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "two stagings of seed 7 differ")
    check(!a.exceptAll(c).isEmpty, "seeds 7 and 8 staged the same rows")
  }

  def readModel(spark: SparkSession, work: Path): Unit = {
    val uri = work.resolve("read").toUri.toString
    val ctx = new Ctx(spark, new Tracer)
    val w = new ReadMix(spark, 5, uri, null, ctx, (_, t) =>
      if (t == "lineitem") s"parquet.`$uri/lineitem_*`" else s"parquet.`$uri/$t`")
    w.stage()
    // time travel needs graft; every other template runs on plain Spark
    val ops = w.templates(Gen.rng(5, "test", 0)).filterNot(_.kind == "time_travel")
    check(ops.size == 8, s"expected 8 plain-Spark templates, got ${ops.size}")
    ops.foreach { o =>
      o.prepare()
      o.check(o.run()).foreach(e => throw new AssertionError(e))
    }
  }

  def writeModel(spark: SparkSession, work: Path): Unit = {
    val uri = work.resolve("write").toUri.toString
    val w = new WriteMix(spark, 5, uri, null, null)
    w.stage()
    val m = w.base
    val agg = spark.sql(s"""SELECT grp, count(*), sum(k), sum(amount), sum(tag)
      |FROM parquet.`$uri/kv` GROUP BY grp ORDER BY grp""".stripMargin).collect()
    ReadMix.sameRows("agg", agg, m.aggRows()).foreach(e => throw new AssertionError(e))
    val range = spark.sql(s"SELECT k, amount, tag FROM parquet.`$uri/kv` " +
      "WHERE k >= 1000 AND k < 1050 ORDER BY k").collect()
    ReadMix.sameRows("range", range, m.liveIn(1000, 1050)
      .map(k => Seq(k, m.amountOf(k), m.tagOf(k)))).foreach(e => throw new AssertionError(e))
  }

  def tails(): Unit = {
    val xs = (1 to 100).map(_.toDouble)
    check(Stats.tail(xs.take(99), 0.9).isEmpty, "p90 reported from 99 samples")
    check(Stats.tail(xs, 0.9).contains(Stats.quantile(xs, 0.9)), "p90 missing at 100 samples")
    check(Stats.tail(xs, 0.99).isEmpty, "p99 reported from 100 samples")
    check(Stats.tail(xs.take(10), 0.0).isDefined, "p0 needs no tail")
  }

  def arithmetic(): Unit = {
    check(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0, "median of 1,2,3")
    check(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0), 0.5) == 2.5, "median of 1..4")
    check(Stats.quantile(Seq(10.0, 20.0), 0.25) == 12.5, "interpolated quartile")
    check(Intervals.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0, 100) == 25,
      "union of overlapping intervals")
    check(Intervals.covered(Seq((0L, 10L)), 5, 8) == 3, "clipped interval")
    val t = new Tracer
    t.beginOp(0)
    t.span("op") { t.span("child") { Thread.sleep(20) } }
    t.endOp()
    val root = t.spans.find(_.parent == -1).get
    check(t.selfNanos(root) < (root.end - root.start) / 2, "child time not subtracted")
  }

  def names(benchmarkJson: Path): Unit = {
    val all = Metrics.endToEnd ++ Metrics.endToEndExtra ++ Metrics.perLayer
    all.foreach(m => check(m.name.matches(Metrics.NamePattern) && m.name.length <= 64,
      s"bad metric name ${m.name}"))
    check(all.map(_.name).distinct.size == all.size, "a metric name is used twice")
    val tree = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(benchmarkJson))
    def listed(key: String) = tree.get(key).elements().asScala
      .map(n => (n.get("name").asText, n.get("unit").asText, n.get("better").asText)).toSeq
    val e2e = Metrics.endToEnd.map(m => (m.name, m.unit, m.better))
    val layers = Metrics.perLayer.map(m => (m.name, m.unit, m.better))
    check(listed("end_to_end") == e2e,
      s"BENCHMARK.json end_to_end ${listed("end_to_end")} != $e2e")
    check(listed("per_layer") == layers, "BENCHMARK.json per_layer differs from Metrics.perLayer")
    val listedWorkloads = tree.get("workloads").elements().asScala.map(_.get("name").asText).toSeq
    check(listedWorkloads.nonEmpty && listedWorkloads.forall(Main.Workloads.contains),
      s"BENCHMARK.json workloads $listedWorkloads are not all in ${Main.Workloads}")
  }
}
