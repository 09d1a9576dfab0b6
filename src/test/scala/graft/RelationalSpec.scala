package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // keep 1 planned partition per fragment: many specs assert exact
      // planned-partition counts as their pruning proxy (production
      // default is ON; SplitScanSpec covers the packed path explicitly)
      .config(graft.connector.GraftScan.PackSmallFragmentsConf, "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf = "/root/testdata/sf0.001"

  /** A fresh directory under the JVM temp dir, deleted recursively when
    * the test JVM exits. Not when its suite ends: the in-process Glue,
    * Hive and REST catalog services are JVM-wide, so a suite's table
    * registrations there outlive it and later suites still resolve (and
    * DROP) them through its warehouse. */
  def tempDir(prefix: String): java.nio.file.Path = TempDirs.create(prefix)

  /** Spark jobs started while `body` runs; the listener bus is drained
    * on both sides so no earlier job leaks in and none is missed. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
      (out, started.get())
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** `body` on a fresh session built with [[graft.plans.GraftExtensions]]
    * over the shared SparkContext. `spark.sql.extensions` is a static
    * conf ignored once a SparkContext exists, so `withExtensions`
    * injects the same rules and functions a deployment's conf does. The
    * shared session is the default and active one again afterwards, even
    * when building the fresh session throws. */
  def withExtensionSession[T](body: SparkSession => T): T = {
    val base = spark // force the shared session first
    try {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      val s2 = SparkSession.builder()
        .withExtensions(e => new graft.plans.GraftExtensions().apply(e))
        .getOrCreate()
      org.scalatest.Assertions.assert(s2 ne base, "a fresh session must have been built")
      body(s2)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  /** Flatten an exception's cause chain into one searchable string —
    * specs asserting typed errors grep this instead of guessing which
    * layer wrapped the message. */
  def rootMsgs(t: Throwable): String =
    if (t == null) "" else t.getMessage + " | " + rootMsgs(t.getCause)
}

class RelationalSpec extends AnyFunSuite {
  import TestSpark._

  test("every registered query runs at sf0.001 and has stable schema") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, s"$name has no columns")
      assert(df.count() >= 0, s"$name failed to execute")
    }
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracle keys are a subset of query keys") {
    val qs = SparkEntry.queries.keySet
    val missing = SparkEntry.oracleSql.keySet.diff(qs)
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("q01 pricing summary has expected groups and positive sums") {
    val rows = SparkEntry.queries("q01_pricing_summary")(spark, sf).collect()
    assert(rows.length >= 4 && rows.length <= 9)
    rows.foreach { r =>
      assert(r.getAs[Double]("sum_qty") > 0)
      assert(r.getAs[Long]("count_order") > 0)
    }
  }

  test("q12 top-10 is sorted descending by totalprice") {
    val prices = SparkEntry.queries("q12_top10_orders")(spark, sf)
      .collect().map(_.getAs[Double]("o_totalprice"))
    assert(prices.length == 10)
    assert(prices.sameElements(prices.sorted(Ordering[Double].reverse)))
  }

  test("q21 count_star matches direct parquet count") {
    val n = SparkEntry.queries("q21_count_star")(spark, sf)
      .collect().head.getAs[Long]("n")
    assert(n == Tables.load(spark, sf, "lineitem").count())
  }

  test("event-time queries are ts-representation-agnostic " +
      "(int64 nanos vs timestamp[us])") {
    // the generator has shipped events.ts both ways across rounds; the
    // same instants written under either physical type must bucket and
    // sessionize identically (Relational.tsNanos dispatch)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val us = Seq( // (event_id, epoch_micros, user_id, type, value)
      (1L, 1700000000000000L, 7L, "click", 1.0),
      (2L, 1700000300000000L, 7L, "click", 2.0), // same session/hour
      (3L, 1700005000000000L, 7L, "purchase", 3.0), // >30min gap: new sess
      (4L, 1700000100000000L, 8L, "click", 4.0))
      .toDF("event_id", "us", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
    val dirT = tempDir("ev-ts").toString
    val dirN = tempDir("ev-ns").toString
    us.withColumn("ts", timestamp_micros(col("us"))).drop("us")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dirT/events.parquet")
    us.withColumn("ts", col("us") * 1000L).drop("us")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dirN/events.parquet")
    for (q <- Seq("q19_event_hourly", "q26_sessionize")) {
      val a = SparkEntry.queries(q)(spark, dirT).collect().toSeq
      val b = SparkEntry.queries(q)(spark, dirN).collect().toSeq
      assert(a == b, s"$q differs across ts representations:\n$a\nvs\n$b")
      assert(a.nonEmpty, s"$q returned no rows")
    }
  }
}
