package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Host and JVM signals read next to every measurement. None of them is
  * used to retry or discard a run: they annotate it, so a reader can tell
  * a contended run from a slow program.
  */
object Host {
  private def read(p: String): String =
    try new String(Files.readAllBytes(Paths.get(p)), "UTF-8") catch { case _: Exception => "" }

  /** Machine-wide steal seconds since boot (/proc/stat, USER_HZ = 100). */
  def stealS(): Double =
    read("/proc/stat").linesIterator.find(_.startsWith("cpu ")).map { l =>
      val f = l.trim.split("\\s+")
      if (f.length > 8) f(8).toDouble / 100.0 else 0.0
    }.getOrElse(0.0)

  /** One-minute load average. */
  def load1(): Double =
    read("/proc/loadavg").trim.split("\\s+").headOption.flatMap(_.toDoubleOption).getOrElse(0.0)

  def nproc: Int = Runtime.getRuntime.availableProcessors

  private lazy val threads = ManagementFactory.getThreadMXBean

  /** CPU of every live Java thread (driver, executor tasks, listeners), by
    * thread id. The JIT compiler and GC threads are not Java threads, so
    * this is the program's own CPU, less sensitive to warm-up than the
    * process total. */
  def threadCpuNs(): Map[Long, Long] =
    threads.getAllThreadIds.map(id => id -> threads.getThreadCpuTime(id))
      .filter(_._2 >= 0).toMap

  /** CPU the Java threads spent since `before` (threads new since then count in full). */
  def threadCpuSinceNs(before: Map[Long, Long]): Long =
    threadCpuNs().map { case (id, ns) => (ns - before.getOrElse(id, 0L)).max(0L) }.sum

  /** Process CPU (all threads, user + system) in nanoseconds. */
  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  private lazy val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP && p.isCollectionUsageThresholdSupported)

  /** Heap in use right after the most recent collection of each pool. */
  def heapAfterGcBytes(): Long =
    heapPools.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum

  def heapUsedBytes(): Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

  /** Accumulated collector time of the driver JVM. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
}
