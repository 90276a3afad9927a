package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** What one span's jobs did, summed over its jobs, stages and tasks. */
final case class ExecStats(
    jobs: Int,
    stages: Int,
    tasks: Int,
    jobUnionS: Double,
    taskOverheadS: Double,
    inputRecords: Long,
    shuffleWriteRecords: Long,
    shuffleReadRecords: Long,
    shuffleWriteBytes: Long,
    spillBytes: Long,
    executorCpuS: Double,
    gcS: Double,
    /** Sum over stages of the slowest task's run time, and of the mean task
      * run time: their ratio is the run's task skew. */
    stageMaxRunS: Double,
    stageMeanRunS: Double)

/** Collects job, stage and task events of the traced calls. A call marks
  * its jobs with the `perfbench.span` local property, which Spark copies
  * into every job the thread submits; events without it are ignored. */
final class SpanListener extends SparkListener {
  import SpanListener._

  private val spans = mutable.Map.empty[String, Span]
  private val stageSpan = mutable.Map.empty[Int, String]
  private val jobSpan = mutable.Map.empty[Int, String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).foreach { s =>
      jobSpan(e.jobId) = s
      spans.getOrElseUpdate(s, new Span).jobIntervals(e.jobId) = (e.time, e.time)
      e.stageIds.foreach(stageSpan(_) = s)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).flatMap(spans.get).foreach { sp =>
      sp.jobIntervals.get(e.jobId).foreach { case (t0, _) =>
        sp.jobIntervals(e.jobId) = (t0, e.time) }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).flatMap(spans.get)
      .foreach(_.stagesDone += e.stageInfo.stageId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).flatMap(spans.get).foreach { sp =>
      val m = e.taskMetrics
      val t =
        if (m == null) Task(e.taskInfo.duration / 1e3, 0, 0, 0, 0, 0, 0, 0, 0)
        else Task(e.taskInfo.duration / 1e3, m.executorRunTime / 1e3,
          m.executorCpuTime / 1e9, m.jvmGCTime / 1e3, m.inputMetrics.recordsRead,
          m.shuffleWriteMetrics.recordsWritten, m.shuffleReadMetrics.recordsRead,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
      sp.tasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += t
    }
  }

  /** Removes and sums the span's events; call after draining the bus. */
  def take(span: String): ExecStats = synchronized {
    val sp = spans.remove(span).getOrElse(new Span)
    stageSpan.filterInPlace((_, s) => s != span)
    val all = sp.tasks.values.flatten.toSeq
    val perStage = sp.tasks.values.filter(_.nonEmpty).toSeq
    ExecStats(
      jobs = sp.jobIntervals.size,
      stages = sp.stagesDone.size,
      tasks = all.size,
      jobUnionS = unionSeconds(sp.jobIntervals.values.toSeq),
      taskOverheadS = all.map(t => t.durS - t.runS).sum,
      inputRecords = all.map(_.in).sum,
      shuffleWriteRecords = all.map(_.swr).sum,
      shuffleReadRecords = all.map(_.srr).sum,
      shuffleWriteBytes = all.map(_.swb).sum,
      spillBytes = all.map(_.spill).sum,
      executorCpuS = all.map(_.cpuS).sum,
      gcS = all.map(_.gcS).sum,
      stageMaxRunS = perStage.map(_.map(_.runS).max).sum,
      stageMeanRunS = perStage.map(ts => ts.map(_.runS).sum / ts.size).sum)
  }
}

object SpanListener {
  val SpanKey = "perfbench.span"

  private final case class Task(durS: Double, runS: Double, cpuS: Double, gcS: Double,
      in: Long, swr: Long, srr: Long, swb: Long, spill: Long)
  private final class Span {
    val jobIntervals = mutable.Map.empty[Int, (Long, Long)]
    val stagesDone = mutable.ArrayBuffer.empty[Int]
    val tasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Task]]
  }

  /** Length of the union of [start, end] millisecond intervals, in seconds. */
  def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s
        curEnd = e
      } else curEnd = math.max(curEnd, e)
    }
    if (curEnd > curStart) total += curEnd - curStart
    total / 1e3
  }
}
