package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

/** Memory figures of this JVM, MB. */
object Memory {

  /** Peak resident set (VmHWM). With the heap pre-touched at start it is
    * about the heap size plus native memory, whatever the run does. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Peak use of each heap and non-heap memory pool, summed: the memory
    * the JVM actually filled, which pre-touching does not hide. */
  def peakPoolsMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala.map(_.getPeakUsage.getUsed).sum / 1e6

  def peakHeapPoolsMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1e6
}
