package servebench

import com.sun.management.GarbageCollectionNotificationInfo

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

/** JVM-layer counters: GC time and count, and the peak heap in use
  * right after a collection (live data plus whatever survived it). */
object Jvm {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L

  private val listener: NotificationListener = (n, _) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { if (used > peak) peak = used }
    }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  def resetPeak(): Unit = synchronized { peak = 0L }

  /** Peak post-GC heap since the last reset, in MB; ends with a full
    * collection so a window without one still has a sample. */
  def heapPeakMb(): Double = {
    System.gc()
    val after = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val top: Long = synchronized(math.max(peak, after))
    top / 1048576.0
  }

  /** (total GC milliseconds, total collections) so far. */
  def gc(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).sum, beans.map(_.getCollectionCount).sum)
  }
}
