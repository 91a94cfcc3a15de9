package perfbench

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

import java.lang.management.{BufferPoolMXBean, ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Memory readings of a timed pass, taken without forcing a collection.
  *
  * The collectors' notifications give the heap in use right after every
  * collection; the largest of these inside the pass is the most the pass
  * kept reachable at a collection. Spark's memory store is on the heap,
  * so cached, persisted and broadcast blocks alive at that moment are
  * part of it. `sample`, called at the end of every unit before
  * `Harness.release` frees its storage, adds the largest non-heap and
  * direct-buffer use and records Spark's storage memory in use.
  */
object Memory extends NotificationListener {
  private val runtime = ManagementFactory.getRuntimeMXBean
  private val bean = ManagementFactory.getMemoryMXBean
  private val heapNames = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val buffers = ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean]).asScala.toSeq
  // (JVM uptime at the end of a collection in ms, heap bytes in use after it)
  private val afterGc = ArrayBuffer.empty[(Long, Long)]
  private var t0 = 0L
  private var offHeapMax, storageMax = 0L

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ =>
  }

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapNames(pool) => u.getUsed }.sum
      synchronized(afterGc += info.getGcInfo.getEndTime -> used)
    }

  def sample(): Unit = {
    val offHeap = bean.getNonHeapMemoryUsage.getUsed + buffers.map(_.getMemoryUsed).sum
    val storage = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum)
      .getOrElse(0L)
    synchronized {
      offHeapMax = math.max(offHeapMax, offHeap)
      storageMax = math.max(storageMax, storage)
    }
  }

  def start(): Unit = synchronized {
    offHeapMax = 0L
    storageMax = 0L
    t0 = runtime.getUptime
  }

  /** The readings since the last `start`. A collection that ends within
    * a few milliseconds of this call may be reported too late to count.
    */
  def end(): Map[String, Double] = {
    sample()
    synchronized {
      val t1 = runtime.getUptime
      val inPass = afterGc.collect { case (t, used) if t >= t0 && t <= t1 => used }
      val live = if (inPass.nonEmpty) inPass.max else bean.getHeapMemoryUsage.getUsed
      afterGc.clear()
      Map("live_mb" -> (live + offHeapMax) / 1048576.0, "storage_mb" -> storageMax / 1048576.0)
    }
  }
}
