package graft.core

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftbridge.ListenerBridge

/** Counts the Spark jobs, SQL executions (driver-blocking actions), tasks of
  * completed stages, their executor run time and their shuffle write bytes
  * that one body of driver code launches; use one counter per measurement. Subclasses may override
  * the callbacks to trace events, calling `super` to keep the counts.
  */
class JobCounter extends SparkListener {
  private val jobCount, sqlExecutionCount, taskCount = new AtomicInteger(0)
  private val taskTime, shuffleWrite = new AtomicLong(0L)

  def jobs: Int = jobCount.get
  def sqlExecutions: Int = sqlExecutionCount.get
  def tasks: Int = taskCount.get
  def taskTimeMs: Long = taskTime.get
  def shuffleWriteBytes: Long = shuffleWrite.get

  override def onJobStart(j: SparkListenerJobStart): Unit = jobCount.incrementAndGet()

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    taskCount.addAndGet(s.stageInfo.numTasks)
    taskTime.addAndGet(s.stageInfo.taskMetrics.executorRunTime)
    shuffleWrite.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case _: SparkListenerSQLExecutionStart => sqlExecutionCount.incrementAndGet()
    case _ => ()
  }

  /** Run `body` with this counter attached to `sc`. The bus is drained before
    * attaching, so earlier work is not counted, and before detaching, so the
    * counts are final when this returns — no sleep.
    */
  def observe[A](sc: SparkContext)(body: => A): A = {
    ListenerBridge.drain(sc)
    sc.addSparkListener(this)
    try body
    finally {
      ListenerBridge.drain(sc)
      sc.removeSparkListener(this)
    }
  }
}
