package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Listener-bus access: `SparkContext.listenerBus` is `private[spark]`. */
object ListenerBridge {

  /** Block until every event posted so far has reached every listener (10 s
    * timeout). Spark posts an action's job, stage and SQL-execution events
    * before the action returns, so after a drain its counts are final.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
