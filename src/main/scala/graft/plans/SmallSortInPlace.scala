package graft.plans

import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, Exchange, ShuffleExchangeExec}

import graft.connector.GraftScan

/** Query-stage preparation rule: a global sort over a small input runs
  * in the task that reads it. A graft scan cannot report
  * `SinglePartition`, so every global `ORDER BY` plans `Sort ← Exchange
  * rangepartitioning`, whose sampling job and map stage cost two Spark
  * jobs even when AQE then coalesces it into one reducer. The exchange
  * becomes `CoalesceExec(1)` when every leaf under it is a graft scan
  * (the bytes of its pruned planned partitions) or a materialized shuffle
  * stage (its map-output bytes), and the total is at most
  * `spark.sql.files.openCostInBytes` — Spark's bound for "no dearer to
  * read than to open one file". AQE re-runs the rule at each
  * re-optimization, so a `GROUP BY … ORDER BY` sheds its exchange once
  * the aggregate's stage has run. Only `EnsureRequirements` exchanges are
  * touched (`repartitionByRange` keeps its shuffle); the hook runs only
  * under AQE.
  */
object SmallSortInPlace extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case s @ SortExec(_, true,
        ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _), _)
        if inputBytes(child).exists(_ <= conf.filesOpenCostInBytes) =>
      s.withNewChildren(Seq(CoalesceExec(1, child)))
  }

  /** The bytes entering `plan`, when every leaf's size is known. */
  private def inputBytes(plan: SparkPlan): Option[Long] = plan match {
    case b: BatchScanExec if b.scan.isInstanceOf[GraftScan] =>
      Some(b.inputPartitions.map(GraftScan.plannedBytes).sum)
    case q: ShuffleQueryStageExec if q.isMaterialized =>
      Some(q.mapStats.fold(0L)(_.bytesByPartitionId.sum))
    case _: Exchange => None
    case p if p.children.nonEmpty =>
      p.children.foldLeft(Option(0L))((acc, c) => acc.flatMap(a => inputBytes(c).map(a + _)))
    case _ => None
  }
}
