package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo

/** Peak live heap: the largest heap occupancy right after a full collection
  * the benchmark requests at the end of each measured pass (and every 100
  * requests), read from the JVM's GC notifications. After a full collection
  * the heap holds live data only, so the number tracks the working set — the
  * engine's caches and the pass's results — and not when the young
  * collections happened to run.
  */
final class HeapWatch extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L
  @volatile private var seen = 0L

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ =>
  }

  override def handleNotification(n: Notification, handback: Any): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      if (info.getGcCause == "System.gc()") {
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { peak = math.max(peak, used); seen += 1 }
      }
    }

  /** Collect, and wait for the collection's notification (it arrives on a
    * JVM thread).
    */
  def sample(): Unit = {
    val before = seen
    System.gc()
    val deadline = System.nanoTime() + 2000000000L
    while (seen == before && System.nanoTime() < deadline) Thread.sleep(2)
  }

  def peakMb: Double = peak / 1048576.0
}
