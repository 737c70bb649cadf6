package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** JVM-wide counters read around a timed pass: process CPU time, GC
  * time and count, main-thread allocation, and the heap occupancy left
  * after each garbage collection (delivered by GC notifications).
  */
object Probe {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toVector
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val mainThread = Thread.currentThread().getId

  @volatile private var maxAfterGc = 0L
  @volatile private var lastAfterGc = 0L
  @volatile private var explicitGcs = 0L

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo
          .GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        Probe.synchronized {
          if (used > maxAfterGc) maxAfterGc = used
          lastAfterGc = used
          if (info.getGcCause == "System.gc()") explicitGcs += 1
        }
      }
  }
  gcs.foreach(_.asInstanceOf[NotificationEmitter]
    .addNotificationListener(listener, null, null))

  private def gcMillis: Long = gcs.map(_.getCollectionTime.max(0L)).sum
  private def gcCount: Long = gcs.map(_.getCollectionCount.max(0L)).sum

  /** A full collection, returning once its notification (and so every
    * earlier one) has been handled; waits at most two seconds.
    */
  private def fullGc(): Unit = {
    val k = explicitGcs
    System.gc()
    val deadline = System.nanoTime() + 2000000000L
    while (explicitGcs == k && System.nanoTime() < deadline) Thread.sleep(1)
  }

  final case class Mark(wallNs: Long, cpuNs: Long, gcMs: Long, gcN: Long,
                        allocB: Long)

  def mark(): Mark = Mark(System.nanoTime(), os.getProcessCpuTime, gcMillis,
    gcCount, threads.getThreadAllocatedBytes(mainThread))

  /** Starts a pass: collects the heap first (outside the timed region)
    * so each pass's live set is measured from the same floor, which is
    * the pass's starting value.
    */
  def begin(): Mark = {
    fullGc()
    Probe.synchronized { maxAfterGc = lastAfterGc }
    mark()
  }

  /** `gcs`: collections during the timed region; `liveHeapMb` shows
    * the program's live set only when there was at least one.
    */
  final case class Pass(wallS: Double, cpuS: Double, gcS: Double, gcs: Long,
                        allocMb: Double, liveHeapMb: Double)

  /** Ends a pass. The closing full collection (outside the timed
    * region) flushes the notifications of the pass's collections and
    * adds what the pass left live.
    */
  def end(start: Mark): Pass = {
    val m = mark()
    fullGc()
    Pass((m.wallNs - start.wallNs) / 1e9, (m.cpuNs - start.cpuNs) / 1e9,
      (m.gcMs - start.gcMs) / 1e3, m.gcN - start.gcN,
      (m.allocB - start.allocB) / 1048576.0,
      maxAfterGc / 1048576.0)
  }
}
