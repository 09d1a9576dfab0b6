package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Runtime (dynamic-pruning) fragment filtering: a selective dim-side
  * join filter prunes fact-table fragments via zone maps before tasks
  * launch — the DSv2 analog of dynamic partition pruning. */
class RuntimeFilterSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val wh: String = {
    val dir = tempDir("graft-rf-wh").toString
    spark.conf.set("spark.sql.catalog.rf", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.rf.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS rf.db")
    dir
  }

  private def allScans(p: SparkPlan): Seq[BatchScanExec] = p.collect {
    case b: BatchScanExec => Seq(b)
    case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      allScans(s.plan)
    case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
  }.flatten

  test("join runtime filter prunes fact fragments via zone maps") {
    wh
    spark.sql("DROP TABLE IF EXISTS rf.db.fact")
    spark.sql("CREATE TABLE rf.db.fact (k BIGINT, v DOUBLE)")
    // 4 fragments with disjoint k ranges
    (0 until 4).foreach { i =>
      spark.sql(
        s"""INSERT INTO rf.db.fact
           |SELECT id + ${i * 10000}, CAST(id AS DOUBLE)
           |FROM range(0, 10000, 1, 1)""".stripMargin)
    }
    // small dim TABLE (the selective predicate must survive as a Filter
    // node for Spark's pruning heuristic); grp 'x' keys all live in ONE
    // fact fragment
    spark.sql("DROP TABLE IF EXISTS rf.db.dim")
    spark.sql(
      """CREATE TABLE rf.db.dim AS
        |SELECT id * 100 + 25000 AS k, 'x' AS grp FROM range(0, 50)
        |UNION ALL
        |SELECT id * 100 + 5000 AS k, 'y' AS grp FROM range(0, 50)""".stripMargin)

    val q = spark.table("rf.db.fact").alias("f")
      .join(spark.table("rf.db.dim").where(col("grp") === "x").alias("d"),
        col("f.k") === col("d.k"))
      .agg(count(lit(1)).as("n"), sum(col("f.v")).as("s"))
    // collect() executes THIS query execution (head() would plan a
    // separate limit query whose subqueries never run)
    val row = q.collect().head

    // correctness first: 50 matching keys, all in fragment 2's range
    assert(row.getLong(0) == 50)
    assert(row.getDouble(1) == (0 until 50).map(i => (i * 100 + 5000).toDouble).sum)

    val scans = allScans(q.queryExecution.executedPlan)
      .filter(_.runtimeFilters.nonEmpty)
    assert(scans.nonEmpty, "no runtime-filtered graft scan in the plan:\n" +
      q.queryExecution.executedPlan.toString)
    // the executed scan read ONE fragment's rows (10000), not all 40000:
    // zone maps dropped the other three when the join keys arrived
    val scanned = scans.map(_.metrics("numOutputRows").value).sum
    assert(scanned == 10000L,
      s"runtime filter should prune to 1 fragment (10000 rows), scanned $scanned")
  }
}
