package uploadbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/**
 * Process and host counters read around each timed run: process CPU, GC
 * and JIT time from the JVM's MXBeans, host steal time from `/proc/stat`,
 * and the driver's live heap peak from GC notifications. A run starved by
 * the host shows as steal, not as a slower plan.
 */
object Meter {

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = Option(ManagementFactory.getCompilationMXBean)

  final case class Sample(cpuNanos: Long, gcMillis: Long, jitMillis: Long,
      stealTicks: Long)

  def sample(): Sample = Sample(
    os.getProcessCpuTime,
    gcs.map(_.getCollectionTime).filter(_ >= 0).sum,
    jit.filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(0L),
    stealTicks())

  /** Differences between two samples, in seconds. */
  final case class Delta(cpuS: Double, gcS: Double, jitS: Double, stealS: Double)

  def delta(a: Sample, b: Sample): Delta = Delta(
    (b.cpuNanos - a.cpuNanos) / 1e9,
    (b.gcMillis - a.gcMillis) / 1e3,
    (b.jitMillis - a.jitMillis) / 1e3,
    (b.stealTicks - a.stealTicks) / 100.0) // USER_HZ

  /** Host-wide steal ticks (all CPUs); 0 where /proc/stat is unavailable. */
  private def stealTicks(): Long = {
    val p = Paths.get("/proc/stat")
    if (!Files.isReadable(p)) 0L
    else Files.readAllLines(p).asScala.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+")).filter(_.length > 8)
      .map(_(8).toLong).getOrElse(0L)
  }

  // ---- live heap peak -----------------------------------------------------

  @volatile private var peakLive = 0L

  locally {
    import javax.management.{NotificationEmitter, NotificationListener}
    import javax.management.openmbean.CompositeData
    import com.sun.management.GarbageCollectionNotificationInfo
    val listener: NotificationListener = (n, _) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
        synchronized { if (used > peakLive) peakLive = used }
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  /** Start a heap-peak window from a collected heap. */
  def resetHeapPeak(): Unit = {
    System.gc()
    synchronized { peakLive = heapUsed() }
  }

  /** The highest heap occupancy left after any collection since the reset,
    * including a collection at the end of the window, in bytes. */
  def heapPeak(): Long = {
    System.gc()
    synchronized { math.max(peakLive, heapUsed()) }
  }

  private def heapUsed(): Long =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

  // ---- directories ---------------------------------------------------------

  /** Size of every regular file under `root`, keyed by path. */
  def listing(root: Path): Map[String, (Long, Long)] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toMap
      finally s.close()
    }

  /** Bytes of the files that are new or changed in `after`. */
  def bytesAdded(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Long =
    after.collect { case (p, v @ (size, _)) if !before.get(p).contains(v) => size }.sum

  def dirBytes(root: Path): Long = listing(root).valuesIterator.map(_._1).sum
}
