package graft.perfbench

import java.lang.management.ManagementFactory

import scala.io.Source

/** Process and host CPU counters. */
object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of this JVM, all threads. */
  def processCpuNanos(): Long = os.getProcessCpuTime

  /** CPU time the whole host spent busy (every state of /proc/stat's `cpu`
    * line except idle and iowait), or -1 where /proc/stat is unreadable. */
  def hostBusyNanos(): Long =
    try {
      val src = Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        // user nice system idle iowait irq softirq steal
        val busy = f(0) + f(1) + f(2) + f(5) + f(6) + (if (f.length > 7) f(7) else 0L)
        busy * (1000000000L / 100L) // USER_HZ
      } finally src.close()
    } catch { case _: Exception => -1L }
}
