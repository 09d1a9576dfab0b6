package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.MergeTargetSemiJoin

/** MERGE's semi-join reduction ([[MergeTargetSemiJoin]]): the target
  * side keeps only rows whose key is in the source, and every MERGE
  * still leaves exactly the table the statement's semantics define.
  * Each case checks the whole table against a model of it. */
class MergeSemiJoinSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSpark._

  private lazy val wh: String = {
    val dir = tempDir("graft-msj-wh").toString
    spark.conf.set("spark.sql.catalog.msj", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.msj.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS msj.db")
    dir
  }

  /** k -> (v, tag) */
  private type Model = Map[Long, (Long, Long)]

  /** Four key-disjoint 250-row fragments: k in [0, 1000), v = 10k. */
  private def reset(s: SparkSession, name: String): Model = {
    s.sql(s"DROP TABLE IF EXISTS msj.db.$name")
    s.sql(s"CREATE TABLE msj.db.$name (k BIGINT, v BIGINT, tag BIGINT)")
    (0 until 4).foreach(i => s.sql(
      s"INSERT INTO msj.db.$name SELECT id + ${i * 250}, (id + ${i * 250}) * 10, 0 " +
        "FROM range(0, 250, 1, 1)"))
    (0L until 1000L).map(k => k -> (k * 10, 0L)).toMap
  }

  private def table(s: SparkSession, name: String): Model =
    s.table(s"msj.db.$name").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  /** Two keys in each fragment plus four fresh keys; v = 100k. */
  private val hits = Seq(3L, 7L, 253L, 257L, 503L, 507L, 753L, 757L)
  private val fresh = 1000L until 1004L

  private def source(s: SparkSession, view: String, keys: Seq[Long]): Unit =
    s.createDataFrame(java.util.Arrays.asList(keys.map(k => Row(k, k * 100)): _*),
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v BIGINT"))
      .createOrReplaceTempView(view)

  private def upsert(name: String, view: String) =
    s"""MERGE INTO msj.db.$name t USING $view s ON t.k = s.k
       |WHEN MATCHED THEN UPDATE SET v = s.v, tag = t.tag + 1
       |WHEN NOT MATCHED THEN INSERT (k, v, tag) VALUES (s.k, s.v, 0)""".stripMargin

  private def upserted(m: Model, keys: Seq[Long]): Model =
    m ++ keys.map(k => k -> (k * 100, m.get(k).fold(0L)(_._2 + 1)))

  private def withRule[A](f: => A): A = {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ MergeTargetSemiJoin
    try f finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ eq MergeTargetSemiJoin)
  }

  /** The executed physical plan of a row-level command. */
  private def executed(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case CommandResultExec(_, plan, _) => plan
    case other => other
  }

  private def semiJoins(p: SparkPlan): Int =
    collect(p) { case j: BaseJoinExec if j.joinType == LeftSemi => j }.size

  test("source keys hitting every fragment plus fresh keys: exact table, " +
      "one semi-join on the target") {
    wh
    val model = reset(spark, "hit")
    source(spark, "msj_hit_src", hits ++ fresh)
    val plan = withRule(executed(spark.sql(upsert("hit", "msj_hit_src"))))
    assert(semiJoins(plan) == 1, plan.treeString)
    assert(table(spark, "hit") == upserted(model, hits ++ fresh))
  }

  test("a MERGE with only WHEN NOT MATCHED inserts exactly the fresh keys") {
    wh
    val model = reset(spark, "ins")
    source(spark, "msj_ins_src", hits ++ fresh)
    withRule(spark.sql(
      """MERGE INTO msj.db.ins t USING msj_ins_src s ON t.k = s.k
        |WHEN NOT MATCHED THEN INSERT (k, v, tag) VALUES (s.k, s.v, 0)""".stripMargin))
    assert(table(spark, "ins") == model ++ fresh.map(k => k -> (k * 100, 0L)))
  }

  test("WHEN NOT MATCHED BY SOURCE keeps its plain outer join") {
    wh
    val model = reset(spark, "nmbs")
    source(spark, "msj_nmbs_src", hits ++ fresh)
    val plan = withRule(executed(spark.sql(
      """MERGE INTO msj.db.nmbs t USING msj_nmbs_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v, tag = t.tag + 1
        |WHEN NOT MATCHED BY SOURCE AND t.k % 2 = 0 THEN DELETE""".stripMargin)))
    assert(semiJoins(plan) == 0, plan.treeString)
    val expected = model.filter { case (k, _) => hits.contains(k) || k % 2 != 0 } ++
      hits.map(k => k -> (k * 100, 1L))
    assert(table(spark, "nmbs") == expected)
  }

  test("duplicate source keys still raise the cardinality error; table unchanged") {
    wh
    val model = reset(spark, "dup")
    source(spark, "msj_dup_src", hits ++ Seq(503L) ++ fresh)
    val e = intercept[Exception](withRule(spark.sql(upsert("dup", "msj_dup_src"))))
    assert(rootMsgs(e).contains("MERGE_CARDINALITY_VIOLATION"), rootMsgs(e))
    assert(table(spark, "dup") == model)
  }

  test("a nondeterministic source plans no semi-join") {
    wh
    val model = reset(spark, "nd")
    // over a local relation the optimizer evaluates rand() at plan time
    // (a literal source is deterministic); over range it stays a plan
    spark.sql(s"SELECT id AS k, id * 100 + CAST(rand() * 0 AS BIGINT) AS v " +
      s"FROM range(0, 1004) WHERE id IN (${(hits ++ fresh).mkString(", ")})")
      .createOrReplaceTempView("msj_nd_src")
    val plan = withRule(executed(spark.sql(upsert("nd", "msj_nd_src"))))
    assert(semiJoins(plan) == 0, plan.treeString)
    assert(table(spark, "nd") == upserted(model, hits ++ fresh))
  }

  test("autoBroadcastJoinThreshold = -1 turns the rule off") {
    wh
    val model = reset(spark, "off")
    source(spark, "msj_off_src", hits ++ fresh)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    val plan = try withRule(executed(spark.sql(upsert("off", "msj_off_src"))))
      finally spark.conf.set(key, prev)
    assert(semiJoins(plan) == 0, plan.treeString)
    assert(table(spark, "off") == upserted(model, hits ++ fresh))
  }

  test("through GraftExtensions, the target exchange shuffles only the " +
      "matched rows") {
    wh
    withExtensionSession { s2 =>
      s2.conf.set("spark.sql.catalog.msj", "graft.catalog.GraftCatalog")
      s2.conf.set("spark.sql.catalog.msj.warehouse", wh)
      val model = reset(s2, "ext")
      source(s2, "msj_ext_src", hits ++ fresh)
      val plan = executed(s2.sql(upsert("ext", "msj_ext_src")))
      val targetSide = collect(plan) {
        case e: ShuffleExchangeExec if e.exists(_.isInstanceOf[BatchScanExec]) => e
      }
      assert(targetSide.size == 1, plan.treeString)
      assert(targetSide.head.metrics("shuffleRecordsWritten").value == hits.size,
        plan.treeString)
      assert(table(s2, "ext") == upserted(model, hits ++ fresh))
    }
  }
}
