package graft.plans

import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.catalyst.expressions.{Alias, And, EqualTo, Expression}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}

import graft.connector.GraftTable

/** Optimizer rule: semi-join reduction of a MERGE's target side
  * (Bernstein & Chiu, JACM 1981) — the row-level analog of Lance's
  * `merge_insert`, which finds matches by key instead of moving the
  * whole dataset.
  *
  * Spark's delta MERGE plan joins the whole target scan with the source
  * and, with MATCHED clauses, shuffles every target row into that join.
  * For a `MergeRows` over an `Inner` or `RightOuter` equi-join whose left
  * side reads a graft row-level target, the target relation becomes
  * `target LEFT SEMI JOIN (SELECT <source keys> FROM source)`: target
  * rows whose key is not in the source can produce no output of those
  * join types, and a small key side plans as a broadcast hash semi-join
  * inside the scan stage, so the target exchange carries only candidate
  * rows. Duplicate source keys need no distinct (a semi-join emits each
  * target row at most once), and the MERGE cardinality check still sees
  * every source match in the main join.
  *
  * Cost: the source plan now runs twice — once for the keys, once for
  * the join. So the rule fires only when the source is deterministic
  * (both runs must agree) and its size estimate is at most
  * `spark.sql.autoBroadcastJoinThreshold` (-1 turns the rule off). Other
  * join types stay untouched: NOT MATCHED BY SOURCE needs every target
  * row (`LeftOuter`/`FullOuter`), and insert-only MERGE plans no
  * `MergeRows`. Idempotent: a target side that already holds a join is
  * left alone. Matches the target before (`DataSourceV2Relation`, when
  * injected through [[GraftExtensions]]) and after scan push-down
  * (`DataSourceV2ScanRelation`, via `spark.experimental.extraOptimizations`).
  */
object MergeTargetSemiJoin extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val threshold = conf.autoBroadcastJoinThreshold
    if (threshold < 0) plan
    else plan.transformUp {
      case m: MergeRows => m.child match {
        case j @ ExtractEquiJoinKeys(Inner | RightOuter, lk, rk, _, _, left, right, _)
            if right.deterministic && right.stats.sizeInBytes <= threshold &&
              !left.exists(_.isInstanceOf[Join]) &&
              left.collectLeaves().count(isGraftTarget) == 1 =>
          val keys = rk.zipWithIndex.map { case (k, i) => Alias(k, s"merge_key_$i")() }
          val cond = lk.zip(keys).map { case (l, a) => EqualTo(l, a.toAttribute) }
            .reduce[Expression](And)
          m.withNewChildren(Seq(j.copy(left = left.transformUp {
            case t if isGraftTarget(t) && lk.forall(_.references.subsetOf(t.outputSet)) =>
              Join(t, Project(keys, right), LeftSemi, Some(cond), JoinHint.NONE)
          })))
        case _ => m
      }
    }
  }

  private def isGraftTarget(p: LogicalPlan): Boolean = p match {
    case r: DataSourceV2Relation =>
      GraftShim.rowLevelTarget(r.table).exists(_.isInstanceOf[GraftTable])
    case s: DataSourceV2ScanRelation => isGraftTarget(s.relation)
    case _ => false
  }
}
