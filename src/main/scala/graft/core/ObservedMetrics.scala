package graft.core

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{EmptyRelation, LogicalPlan}
import org.apache.spark.sql.execution.{CollectMetricsExec, EmptyRelationExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, LogicalQueryStage, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Reads a metric that `Dataset.observe` attached to a plan, once an action
  * has run it. `QueryExecution.observedMetrics` (and so `Observation`) loses
  * a metric whose stage adaptive execution ran and then replaced, with the
  * plan above it, by an empty relation when a later stage came out empty;
  * this walk also enters the stages an empty relation holds.
  */
private[graft] object ObservedMetrics {

  /** One row per node observing `name` in the plan of `df`'s last action
    * (a self-join has two; a node that never ran holds the aggregate of no
    * rows).
    */
  def of(df: DataFrame, name: String): Seq[Row] = {
    def walk(p: SparkPlan): Seq[Row] = p match {
      case c: CollectMetricsExec if c.name == name => c.collectedMetrics +: walk(c.child)
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case e: EmptyRelationExec => ran(e.logical).flatMap(walk)
      case other => other.children.flatMap(walk)
    }
    // the stages an empty relation replaced, nested empty relations included
    def ran(l: LogicalPlan): Seq[SparkPlan] = l match {
      case q: LogicalQueryStage => Seq(q.physicalPlan)
      case e: EmptyRelation => ran(e.logical)
      case other => other.children.flatMap(ran)
    }
    walk(df.queryExecution.executedPlan)
  }
}
