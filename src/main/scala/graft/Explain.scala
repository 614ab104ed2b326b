package graft

import org.apache.spark.sql.execution.ExplainMode
import graft.core.GraftSession

/** Plan-inspection tool: `runMain graft.Explain q03_join_topk_revenue ...`
  * prints the formatted physical plan of each corpus query named by a prefix
  * (all bench-flagged queries when no names given). Review checklist:
  * predicates in PushedFilters, pruned ReadSchema, broadcast vs shuffle join
  * choice, TakeOrderedAndProject for top-k, partial aggregates before
  * exchanges.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val names = QueryRunner.selectArgs(args.toSeq)
    val spark = GraftSession.local(GraftSession.configuredCpus)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    names.foreach { name =>
      println(s"===== $name")
      val df = graft.queries.QueryCorpus.queries(name)(spark, dir)
      println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
    }
    spark.stop()
  }
}
