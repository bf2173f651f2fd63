package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory spans (name, start, end, parent, op id), written out at the
  * end of a traced run. Times are nanoseconds since the run started. */
final class Spans(t0: Long) {
  private val buf = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val stack = mutable.Stack.empty[String]

  def apply[T](name: String, op: Option[Int] = None)(body: => T): T = {
    val parent = stack.headOption
    stack.push(name)
    val s = System.nanoTime()
    try body
    finally {
      val e = System.nanoTime()
      stack.pop()
      buf += Map("name" -> name, "start_ns" -> (s - t0), "end_ns" -> (e - t0),
        "parent" -> parent, "op" -> op)
    }
  }

  def toSeq: Seq[Map[String, Any]] = buf.toSeq
}

/** Spark runtime totals from the public listener bus: jobs, stages
  * (skipped ones too), tasks and their failures, task run/CPU/GC time,
  * shuffle bytes, shuffle write time, fetch wait, spill and the peak
  * execution memory of any task. Every job carries its op's job group, so the same events are
  * also kept per op. */
final class SparkTotals extends SparkListener {
  final class Acc {
    var jobs, stages, stagesSkipped, tasks, taskFailures = 0L
    var runMs, cpuNs, gcMs, shufWrite, shufWriteNs, shufRead, fetchWaitMs, spill, peakMem = 0L
    def fields(wallS: Double, cores: Int): Map[String, Any] = Map(
      "spark.jobs" -> jobs, "spark.stages" -> stages,
      "spark.stages_skipped" -> stagesSkipped, "spark.tasks" -> tasks,
      "spark.task_failures" -> taskFailures, "spark.task_run_s" -> runMs / 1e3,
      "spark.task_cpu_s" -> cpuNs / 1e9, "spark.gc_s" -> gcMs / 1e3,
      "spark.shuffle_write_mb" -> shufWrite / 1e6, "spark.shuffle_write_s" -> shufWriteNs / 1e9,
      "spark.shuffle_read_mb" -> shufRead / 1e6,
      "spark.fetch_wait_s" -> fetchWaitMs / 1e3, "spark.spill_mb" -> spill / 1e6,
      "spark.peak_exec_mem_mb" -> peakMem / 1e6,
      "spark.core_busy_ratio" -> (if (wallS > 0) runMs / 1e3 / (wallS * cores) else 0.0))
  }

  val total = new Acc
  val byGroup = mutable.Map.empty[String, Acc]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobStages = mutable.Map.empty[Int, Seq[Int]]
  private val completedStages = mutable.Set.empty[Int]

  private def accs(stageId: Int): Seq[Acc] =
    Seq(total) ++ stageGroup.get(stageId).map(g => byGroup.getOrElseUpdate(g, new Acc))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    e.stageIds.foreach(s => g.foreach(stageGroup(s) = _))
    jobStages(e.jobId) = e.stageIds
    total.jobs += 1
    g.foreach(x => byGroup.getOrElseUpdate(x, new Acc).jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStages.remove(e.jobId).foreach { ids =>
      val skipped = ids.filterNot(completedStages)
      skipped.foreach(s => accs(s).foreach(_.stagesSkipped += 1))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    completedStages += e.stageInfo.stageId
    accs(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val as = accs(e.stageId)
    val failed = e.reason != org.apache.spark.Success
    val m = Option(e.taskMetrics)
    as.foreach { a =>
      a.tasks += 1
      if (failed) a.taskFailures += 1
      m.foreach { t =>
        a.runMs += t.executorRunTime
        a.cpuNs += t.executorCpuTime
        a.gcMs += t.jvmGCTime
        a.shufWrite += t.shuffleWriteMetrics.bytesWritten
        a.shufWriteNs += t.shuffleWriteMetrics.writeTime
        a.shufRead += t.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += t.shuffleReadMetrics.fetchWaitTime
        a.spill += t.memoryBytesSpilled + t.diskBytesSpilled
        a.peakMem = math.max(a.peakMem, t.peakExecutionMemory)
      }
    }
  }
}

/** Micro-batch progress from the public streaming listener. */
final class StreamProgress extends StreamingQueryListener {
  val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { progress += e.progress }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
