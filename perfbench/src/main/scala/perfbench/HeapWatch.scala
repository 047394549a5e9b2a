package perfbench

import com.sun.management.GarbageCollectionNotificationInfo

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

/** The heap in use right after each collection, read from the collectors'
  * notifications while an operation runs. A pass starts from one full
  * collection, outside its time, whose reading is the floor; every
  * collection during the pass then reports the heap it left, and the pass's
  * peak is the largest of these.
  */
object HeapWatch {
  private val Mb = 1024.0 * 1024.0

  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  /** The readings of one pass. */
  final class Window(floor: Long) {
    private var peak = floor
    private var n = 0
    private var open = true

    private[HeapWatch] def record(used: Long): Unit = synchronized {
      if (open) {
        peak = math.max(peak, used)
        n += 1
      }
    }

    /** Ends the window: collections after this no longer count. */
    def close(): Unit = synchronized { open = false }
    def peakMb: Double = synchronized(peak / Mb)
    /** Collections seen during the window. */
    def collections: Int = synchronized(n)
  }

  @volatile private var current: Option[Window] = None

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        current.foreach(_.record(used))
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  /** Collects the heap fully, then watches the collections that follow. */
  def startPass(): Window = {
    current.foreach(_.close())
    current = None
    System.gc()
    val w = new Window(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    current = Some(w)
    w
  }
}
