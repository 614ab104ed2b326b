package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Engine counters of one span or unit. Times are summed over tasks. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
    shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0, shuffleRecords: Long = 0,
    spillBytes: Long = 0, peakExecMem: Long = 0,
    outputBytes: Long = 0,
    exchanges: Long = 0, scanRows: Long = 0, scanBytes: Long = 0) {

  def +(o: Counters): Counters = Counters(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    taskMs + o.taskMs, cpuNs + o.cpuNs, gcMs + o.gcMs,
    shuffleWriteBytes + o.shuffleWriteBytes, shuffleReadBytes + o.shuffleReadBytes,
    shuffleRecords + o.shuffleRecords, spillBytes + o.spillBytes,
    math.max(peakExecMem, o.peakExecMem),
    outputBytes + o.outputBytes,
    exchanges + o.exchanges, scanRows + o.scanRows, scanBytes + o.scanBytes)

  /** The `spark.*` per-layer metrics; `wallS` is the wall time they cover. */
  def metrics(wallS: Double, cores: Int): Seq[(String, Double, String)] = Seq(
    ("spark.jobs", jobs.toDouble, "count"),
    ("spark.stages", stages.toDouble, "count"),
    ("spark.tasks", tasks.toDouble, "count"),
    ("spark.task_s", taskMs / 1e3, "s"),
    ("spark.cpu_s", cpuNs / 1e9, "s"),
    ("spark.gc_s", gcMs / 1e3, "s"),
    ("spark.core_util", if (wallS > 0) taskMs / 1e3 / (wallS * cores) else 0.0, "fraction"),
    ("spark.shuffle_write_bytes", shuffleWriteBytes.toDouble, "bytes"),
    ("spark.shuffle_read_bytes", shuffleReadBytes.toDouble, "bytes"),
    ("spark.shuffle_records", shuffleRecords.toDouble, "count"),
    ("spark.spill_bytes", spillBytes.toDouble, "bytes"),
    ("spark.peak_exec_mem_mb", peakExecMem / 1048576.0, "MB"),
    ("spark.exchanges", exchanges.toDouble, "count"))
}

/** Counts Spark work per (unit, span), reading the job group the [[Tracer]]
  * sets: jobs, stages and task metrics from the scheduler events, and the
  * Exchange operators and file-scan rows of each SQL execution's final
  * (adaptive) plan from its execution-end event. That event carries the
  * execution id, which the execution's jobs also carry; a
  * `QueryExecutionListener` callback does not, so it could not be attributed
  * to a span. Jobs without a benchmark group land under key None.
  */
final class Engine extends SparkListener {
  type Key = Option[(Long, Option[Int])]

  private val byKey = mutable.Map[Key, Counters]().withDefaultValue(Counters())
  private val stageKey = mutable.Map[Int, Key]()
  private val execKey = mutable.Map[Long, Key]()
  private val planCounts = mutable.Map[Long, Counters]()
  // ids of the plan nodes already counted: a cached frame's plan is reached
  // again from every query that reads the cache, but it ran once (ids, not
  // nodes, so the cached plans can be collected)
  private val counted = mutable.Set[Int]()

  private def add(k: Key, c: Counters): Unit = byKey(k) = byKey(k) + c

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val key = props.flatMap(p => Tracer.parseGroup(p.getProperty("spark.jobGroup.id")))
    e.stageIds.foreach(stageKey(_) = key)
    props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => execKey.getOrElseUpdate(id.toLong, key))
    add(key, Counters(jobs = 1))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add(stageKey.getOrElse(e.stageInfo.stageId, None), Counters(stages = 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val key = stageKey.getOrElse(e.stageId, None)
    if (m == null) add(key, Counters(tasks = 1))
    else add(key, Counters(
      tasks = 1, taskMs = m.executorRunTime, cpuNs = m.executorCpuTime, gcMs = m.jvmGCTime,
      shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
      shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
      shuffleRecords = m.shuffleWriteMetrics.recordsWritten,
      spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
      peakExecMem = m.peakExecutionMemory,
      outputBytes = m.outputMetrics.bytesWritten))
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionEnd =>
      Engine.queryExecution(e).foreach { qe =>
        synchronized {
          val fresh = Engine.planNodes(qe.executedPlan).filter(p => counted.add(p.id))
          planCounts(e.executionId) = planCounts.getOrElse(e.executionId, Counters()) + Engine.planCounters(fresh)
        }
      }
    case _ =>
  }

  /** Counters per key, with each query's plan counts added to the key of
    * the jobs it ran. Call after the listener bus has drained.
    */
  def snapshot(): Map[Key, Counters] = synchronized {
    val merged = mutable.Map[Key, Counters]() ++= byKey
    planCounts.foreach { case (exec, c) =>
      val k = execKey.getOrElse(exec, None)
      merged(k) = merged.getOrElse(k, Counters()) + c
    }
    merged.toMap
  }

  /** Counters of one unit: all its spans plus its untraced jobs. */
  def unit(id: Long): Counters = snapshot().collect {
    case (Some((u, _)), c) if u == id => c
  }.foldLeft(Counters())(_ + _)

  /** Counters attributed to one span of one unit. */
  def span(unit: Long, span: Int): Counters =
    snapshot().getOrElse(Some((unit, Some(span))), Counters())
}

object Engine extends AdaptiveSparkPlanHelper {

  /** The query execution an execution-end event carries when it was posted
    * in this JVM (a Spark-internal field, read reflectively).
    */
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    scala.util.Try(e.getClass.getMethod("qe").invoke(e).asInstanceOf[QueryExecution]).toOption.flatMap(Option(_))

  /** Block until the listener bus has delivered every event posted so far.
    * The bus is Spark-internal; its public-in-bytecode accessors are reached
    * reflectively.
    */
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit = {
    val bus = classOf[SparkContext].getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long]).invoke(bus, Long.box(timeoutMs))
  }

  /** Every node of a final physical plan, including the nodes of the plans
    * behind the cached frames it reads.
    */
  def planNodes(plan: SparkPlan): Seq[SparkPlan] = {
    val nodes = collect(plan) { case p => p }
    nodes ++ nodes.collect { case m: InMemoryTableScanExec => planNodes(m.relation.cachedPlan) }.flatten
  }

  /** Exchanges, and rows and file bytes read by file scans, among `nodes`.
    * File bytes come from the scan's file listing: the task-level input byte
    * counter misses reads the Parquet reader makes on its own threads.
    */
  def planCounters(nodes: Seq[SparkPlan]): Counters = {
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    def metric(s: FileSourceScanExec, name: String) = s.metrics.get(name).map(_.value).getOrElse(0L)
    Counters(
      exchanges = nodes.count(_.isInstanceOf[Exchange]),
      scanRows = scans.map(metric(_, "numOutputRows")).sum,
      scanBytes = scans.map(metric(_, "filesSize")).sum)
  }
}
