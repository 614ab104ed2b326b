package graft

import org.apache.spark.scheduler.{SparkListenerJobStart, SparkListenerStageCompleted}
import graft.core.{GraftSession, JobCounter}
import graft.queries.QueryCorpus

/** Per-query profiling main (developer tool, not a driver artifact): runs
  * each selected corpus query `GRAFT_PROFILE_REPEATS` times (default 5) in
  * ONE JVM under the engine session, printing per-run wall time plus Spark
  * job count, task count, summed executor task time and shuffle write
  * bytes. The task-time line separates "the plan does more work" (task
  * time up) from "the box was contended / JIT was cold" (wall up, task
  * time flat) — the distinction round verdicts keep needing when a
  * query's bench line moves between rounds. A failed run prints its failure and the loop goes on, so
  * `GRAFT_PROFILE_REPEATS=1` with the prefix `q` is a full-corpus wall sweep.
  *
  * Usage: sbt "runMain graft.ProfileQ q64_asof_join q175_web_pipeline"
  * (arguments are name prefixes; none profiles the bench queries)
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val repeats = sys.env.getOrElse("GRAFT_PROFILE_REPEATS", "5").toInt
    val names = QueryRunner.selectArgs(args.toSeq)
    val spark = GraftSession.local(GraftSession.configuredCpus)

    val verbose = sys.env.get("GRAFT_PROFILE_STAGES").contains("1")
    println(s"[profile] verbose=$verbose repeats=$repeats sf=$sfDir")
    def counter(): JobCounter = if (!verbose) new JobCounter else new JobCounter {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        super.onJobStart(j)
        println(s"[job] id=${j.jobId} stages=${j.stageIds.mkString(",")} " +
          s"sqlExec=${j.properties.getProperty("spark.sql.execution.id", "-")} " +
          s"callsite=${j.properties.getProperty("callSite.short", "").take(60)}")
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        super.onStageCompleted(s)
        println(f"[stage] id=${s.stageInfo.stageId}%4d tasks=${s.stageInfo.numTasks}%4d " +
          f"time=${s.stageInfo.taskMetrics.executorRunTime / 1000.0}%7.2f s " +
          f"cpu=${s.stageInfo.taskMetrics.executorCpuTime / 1e9}%7.2f s " +
          f"deser=${s.stageInfo.taskMetrics.executorDeserializeTime / 1000.0}%6.2f s " +
          f"gc=${s.stageInfo.taskMetrics.jvmGCTime / 1000.0}%5.2f s  ${s.stageInfo.name.takeWhile(_ != '\n').take(60)}")
        if (s.stageInfo.taskMetrics.executorRunTime > 1000)
          s.stageInfo.details.linesIterator.filter(_.contains("graft")).take(6)
            .foreach(l => println(s"[stage]    ^ $l"))
      }
    }

    for (name <- names; i <- 1 to repeats) {
      val c = counter()
      val out = c.observe(spark.sparkContext)(QueryRunner.run(spark)(
        QueryRunner.materialize(QueryCorpus.queries(name)(spark, sfDir))))
      println(f"[profile] $name run$i%2d wall=${out.secs}%7.3f s jobs=${c.jobs}%3d tasks=${c.tasks}%5d taskTime=${c.taskTimeMs / 1000.0}%8.2f s shuffleWrite=${c.shuffleWriteBytes}%d B" +
        out.failure.fold("")("  FAIL " + _))
    }
    spark.stop()
  }
}
