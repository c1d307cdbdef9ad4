package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** JVM heap peaks. `liveMb` is the largest heap still in use after a
  * full collection at a set-up or round boundary: what the run retains
  * (caches, memos, session state), independent of when the collector
  * happens to run. `transientMb` is the largest before-GC heap any
  * collection reported, which also counts garbage not yet collected. */
final class HeapPeak extends NotificationListener {
  @volatile private var peak = 0L
  private var live = 0L

  override def handleNotification(n: Notification, handback: Any): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val before = info.getGcInfo.getMemoryUsageBeforeGc.asScala
        .filter { case (pool, _) => HeapPeak.heapPools(pool) }.values.map(_.getUsed).sum
      synchronized { if (before > peak) peak = before }
    }

  /** Collect fully (outside any timed op) and record the heap in use.
    * Spark frees broadcast and shuffle blocks from its cleaner thread
    * only after a collection has cleared their weak references, so the
    * cleaner gets time to run before a second collection is read. */
  def sampleLive(): Unit = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    live = math.max(live, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  def liveMb: Double = live / 1048576.0

  def transientMb: Double = {
    val p: Long = synchronized(peak)
    p / 1048576.0
  }
}

object HeapPeak {
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  def install(): HeapPeak = {
    val l = new HeapPeak
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(l, null, null)
      case _ =>
    }
    l
  }
}
