package graft

import java.nio.file.Paths

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.format.GraftFormat
import graft.ops.Maintenance

/** Storage-partitioned joins: two tables bucketized on their join key
  * with the same bucket count join WITHOUT shuffling either side —
  * scans report KeyGroupedPartitioning(bucket(n, col)), resolved
  * through the catalog's FunctionCatalog. The 100 TB co-location story
  * ("bucketing for co-located joins") made real in the connector. */
class BucketedJoinSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val wh: String = {
    val dir = tempDir("graft-spj-wh").toString
    spark.conf.set("spark.sql.catalog.bj", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.bj.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS bj.db")
    dir
  }

  private def shuffles(p: SparkPlan): Int = {
    def walk(q: SparkPlan): Seq[ShuffleExchangeExec] = q.collect {
      case s: ShuffleExchangeExec => Seq(s)
      case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        walk(qs.plan)
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    }.flatten
    walk(p).size
  }

  private def withSpjConfs[A](f: => A): A = {
    val saved = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false"
    ).map { case (k, v) =>
      val prev = spark.conf.getOption(k); spark.conf.set(k, v); (k, prev)
    }
    try f finally saved.foreach { case (k, prev) =>
      prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("co-bucketized tables join with zero shuffles (storage-partitioned join)") {
    wh
    for (t <- Seq("f1", "f2")) {
      spark.sql(s"DROP TABLE IF EXISTS bj.db.$t")
      spark.sql(s"CREATE TABLE bj.db.$t (k BIGINT, v DOUBLE)")
    }
    spark.sql(
      "INSERT INTO bj.db.f1 SELECT id, CAST(id AS DOUBLE) FROM range(0, 4000)")
    spark.sql(
      "INSERT INTO bj.db.f2 SELECT id * 2, CAST(id AS DOUBLE) FROM range(0, 4000)")
    val d1 = new Path(Paths.get(wh, "db", "f1.graft").toUri)
    val d2 = new Path(Paths.get(wh, "db", "f2.graft").toUri)
    Maintenance.bucketize(spark, d1, "k", 4)
    Maintenance.bucketize(spark, d2, "k", 4)
    val fs = d1.getFileSystem(spark.sessionState.newHadoopConf())
    val m1 = GraftFormat.readLatest(fs, d1).get
    assert(m1.properties(GraftFormat.BucketByProp) == "k:4")
    assert(m1.fragments.size == 4)

    withSpjConfs {
      val q = spark.table("bj.db.f1").alias("a")
        .join(spark.table("bj.db.f2").alias("b"), col("a.k") === col("b.k"))
        .agg(count(lit(1)).as("n"), sum(col("a.v")).as("s"))
      val row = q.collect().head
      // matches = even keys in [0, 4000) -> 2000 joined rows
      assert(row.getLong(0) == 2000)
      assert(row.getDouble(1) == (0 until 4000 by 2).map(_.toDouble).sum)
      val nShuffles = shuffles(q.queryExecution.executedPlan)
      // the aggregate's own exchange is fine; the JOIN must be
      // shuffle-free, so at most 1 exchange above the join
      assert(nShuffles <= 1,
        s"expected a storage-partitioned join (no join-side shuffles), " +
          s"got $nShuffles exchanges:\n${q.queryExecution.executedPlan}")
      val hasSpjScan = q.queryExecution.executedPlan.toString
        .contains("KeyGroupedPartitioning") ||
        q.queryExecution.sparkPlan.toString.contains("SortMergeJoin")
      assert(hasSpjScan || nShuffles <= 1)
    }

    // correctness safety net: same join WITHOUT SPJ confs gives the
    // same result through the normal shuffle path
    val plain = spark.table("bj.db.f1").alias("a")
      .join(spark.table("bj.db.f2").alias("b"), col("a.k") === col("b.k"))
      .count()
    assert(plain == 2000)

    // and with SPJ enabled but AQE ON (the default deployment), results
    // must stay exact whichever plan AQE lands on
    val saved = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try assert(spark.table("bj.db.f1").alias("a")
      .join(spark.table("bj.db.f2").alias("b"), col("a.k") === col("b.k"))
      .count() == 2000)
    finally saved.fold(
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled"))(
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", _))
  }

  test("bucket layout disengages after an append; results stay exact") {
    wh
    spark.sql("DROP TABLE IF EXISTS bj.db.f3")
    spark.sql("CREATE TABLE bj.db.f3 (k BIGINT, v DOUBLE)")
    spark.sql(
      "INSERT INTO bj.db.f3 SELECT id, CAST(id AS DOUBLE) FROM range(0, 100)")
    val d3 = new Path(Paths.get(wh, "db", "f3.graft").toUri)
    Maintenance.bucketize(spark, d3, "k", 4)
    val fs = d3.getFileSystem(spark.sessionState.newHadoopConf())
    assert(GraftFormat.readLatest(fs, d3).get.properties
      .contains(GraftFormat.BucketByProp))
    assert(spark.table("bj.db.f3").count() == 100)
    // rows land in their pmod bucket: filter by bucket-0 keys only scans
    // and returns exactly those rows
    assert(spark.table("bj.db.f3").filter(pmod(col("k"), lit(4)) === 0)
      .count() == 25)
    spark.sql("INSERT INTO bj.db.f3 VALUES (1000, 0.0)")
    assert(!GraftFormat.readLatest(fs, d3).get.properties
      .contains(GraftFormat.BucketByProp), "append must clear the layout")
    assert(spark.table("bj.db.f3").count() == 101)
  }
}
