package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.plans.SmallSortInPlace]]: a global sort over a small input
  * runs in one task, with no range exchange, and large or foreign inputs
  * keep their exchange. Every case checks the whole answer against the
  * same query on the shared session, which is built without the rule. */
class SmallSortInPlaceSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSpark._

  /** Four key-disjoint 250-row fragments: k in [0, 1000), g = k % 7,
    * v = 10k except null for every k divisible by 9. */
  private lazy val wh: String = {
    val dir = tempDir("graft-ssp-wh").toString
    spark.conf.set("spark.sql.catalog.ssp", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.ssp.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ssp.db")
    spark.sql("CREATE TABLE ssp.db.t (k BIGINT, g BIGINT, v BIGINT)")
    (0 until 4).foreach(i => spark.sql(
      s"INSERT INTO ssp.db.t SELECT id + ${i * 250}, (id + ${i * 250}) % 7, " +
        s"IF((id + ${i * 250}) % 9 = 0, NULL, (id + ${i * 250}) * 10) " +
        "FROM range(0, 250, 1, 1)"))
    dir
  }

  /** `body` on a session with the graft extensions and the test catalog. */
  private def withRule[T](body: SparkSession => T): T = {
    wh
    withExtensionSession { s2 =>
      s2.conf.set("spark.sql.catalog.ssp", "graft.catalog.GraftCatalog")
      s2.conf.set("spark.sql.catalog.ssp.warehouse", wh)
      body(s2)
    }
  }

  private def rangeExchanges(df: DataFrame): Int =
    collect(df.queryExecution.executedPlan) {
      case e @ ShuffleExchangeExec(_: RangePartitioning, _, _, _) => e
    }.size

  /** Runs `q` with the rule: (rows, Spark jobs, range exchanges), after
    * checking the rows equal the rule-off answer. */
  private def run(s2: SparkSession, q: SparkSession => DataFrame): (Seq[Row], Int, Int) = {
    val want = q(spark).collect().toSeq
    val df = q(s2)
    val (got, jobs) = jobsDuring(df.collect().toSeq)
    assert(got == want)
    (got, jobs, rangeExchanges(df))
  }

  private def sql(text: String): SparkSession => DataFrame = _.sql(text)

  test("a small range ORDER BY runs in one job with no range exchange") {
    withRule { s2 =>
      val (rows, jobs, exchanges) =
        run(s2, sql("SELECT k, v FROM ssp.db.t WHERE k >= 300 AND k < 350 ORDER BY k"))
      assert(rows.map(_.getLong(0)) == (300L until 350L))
      assert(jobs == 1)
      assert(exchanges == 0)
    }
  }

  test("a grouped ORDER BY runs two jobs: the aggregate's stage and the result") {
    withRule { s2 =>
      val (rows, jobs, exchanges) = run(s2,
        sql("SELECT g, count(*) AS n, sum(v) AS sv FROM ssp.db.t GROUP BY g ORDER BY g"))
      assert(rows.map(_.getLong(0)) == (0L until 7L))
      assert(jobs == 2)
      assert(exchanges == 0)
    }
  }

  test("DESC and NULLS LAST orderings sort in place") {
    withRule { s2 =>
      Seq("v DESC NULLS LAST, k", "v ASC NULLS LAST, k DESC", "v DESC, k").foreach { o =>
        val (rows, jobs, exchanges) =
          run(s2, sql(s"SELECT k, v FROM ssp.db.t WHERE k < 250 ORDER BY $o"))
        assert(rows.size == 250, o)
        assert(jobs == 1 && exchanges == 0, o)
      }
    }
  }

  test("a scan pruned to zero partitions sorts in place and returns nothing") {
    withRule { s2 =>
      val (rows, jobs, exchanges) =
        run(s2, sql("SELECT k, v FROM ssp.db.t WHERE k >= 5000 ORDER BY k"))
      assert(rows.isEmpty)
      assert(jobs <= 1)
      assert(exchanges == 0)
    }
  }

  test("input above spark.sql.files.openCostInBytes keeps its exchange") {
    withRule { s2 =>
      s2.conf.set("spark.sql.files.openCostInBytes", "64")
      val (_, _, exchanges) =
        try run(s2, sql("SELECT k, v FROM ssp.db.t WHERE k >= 300 AND k < 350 ORDER BY k"))
        finally s2.conf.unset("spark.sql.files.openCostInBytes")
      assert(exchanges == 1)
    }
  }

  test("a non-graft leaf that has not run keeps the exchange") {
    withRule { s2 =>
      val (rows, _, exchanges) = run(s2, sql(
        "SELECT k FROM ssp.db.t WHERE k < 5 UNION ALL SELECT id FROM range(3) ORDER BY k"))
      assert(rows.size == 8)
      assert(exchanges == 1)
    }
  }

  test("repartitionByRange keeps its shuffle") {
    withRule { s2 =>
      val (rows, _, exchanges) = run(s2, s =>
        s.table("ssp.db.t").repartitionByRange(2, col("k")).orderBy("k"))
      assert(rows.size == 1000)
      assert(exchanges == 1)
    }
  }

  test("with AQE off the rule does not run") {
    withRule { s2 =>
      s2.conf.set("spark.sql.adaptive.enabled", "false")
      val (_, _, exchanges) =
        try run(s2, sql("SELECT k, v FROM ssp.db.t WHERE k >= 300 AND k < 350 ORDER BY k"))
        finally s2.conf.unset("spark.sql.adaptive.enabled")
      assert(exchanges == 1)
    }
  }
}
