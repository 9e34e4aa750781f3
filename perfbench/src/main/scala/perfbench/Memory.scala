package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** The memory the program's calls drive. The launcher fixes the heap and
  * pre-touches it, so the heap's share of the process's resident memory is
  * a setting, not a measurement; what is left is:
  *   - `heap`: the highest heap occupancy after a collection that finished
  *     while a program call ran ([[during]]), i.e. what the program kept
  *     reachable, plus what the collector had not yet reclaimed;
  *   - `offHeap`: the process's peak resident memory (VmHWM) less the
  *     committed heap: native buffers, thread stacks, metaspace, code.
  * [[peakMb]] is their sum. */
final class Memory {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peakHeap = new AtomicLong(0)
  @volatile private var inCall = false

  private val onGc: NotificationListener = (n: Notification, _: AnyRef) =>
    if (inCall && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val after = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        .getGcInfo.getMemoryUsageAfterGc.asScala
      val used = after.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      peakHeap.accumulateAndGet(used, math.max)
    }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(onGc, null, null)
    case _ =>
  }

  /** Runs one program call; collections that finish meanwhile count. */
  def during[T](body: => T): T = {
    inCall = true
    try body finally inCall = false
  }

  def heapMb: Double = peakHeap.get / 1e6

  def offHeapMb: Double = vmHwmMb - Runtime.getRuntime.totalMemory / 1e6

  def peakMb: Double = heapMb + offHeapMb

  private def vmHwmMb: Double =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble * 1024 / 1e6).getOrElse(Double.NaN)
}
