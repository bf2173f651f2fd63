package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** What a run needs to classify itself afterwards: cores, CPU steal over
  * the run, load average at start and end, JVM and Spark versions and the
  * effective session conf. (The runner adds the source revision.) */
final class RunRecord private (startNs: Long, stealStart: Option[Long],
    loadStart: Option[String]) {

  def finish(spark: SparkSession): Map[String, Any] = {
    val secs = (System.nanoTime() - startNs) / 1e9
    // /proc/stat counts in USER_HZ (100 per second on Linux)
    val stealCpus = for (a <- stealStart; b <- RunRecord.stealJiffies())
      yield (b - a) / 100.0 / secs
    Map("nproc" -> Runtime.getRuntime.availableProcessors(),
      "steal_cpus" -> stealCpus, "loadavg_start" -> loadStart,
      "loadavg_end" -> RunRecord.loadavg(),
      "java" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
      "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
      "master" -> spark.sparkContext.master,
      "session_conf" -> spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.") || k == "spark.local.dir" || k == "spark.master"
      }.toSeq.sortBy(_._1).toMap)
  }
}

object RunRecord {
  private def read(p: String): Option[String] =
    try Some(Files.readString(Paths.get(p))) catch { case _: Exception => None }

  def stealJiffies(): Option[Long] = read("/proc/stat").flatMap { s =>
    s.linesIterator.find(_.startsWith("cpu ")).map(_.trim.split("\\s+")).collect {
      case f if f.length > 8 => f(8).toLong
    }
  }

  def loadavg(): Option[String] = read("/proc/loadavg").map(_.trim.split(" ").take(3).mkString(" "))

  def start(): RunRecord = new RunRecord(System.nanoTime(), stealJiffies(), loadavg())
}
