package perfbench

import org.apache.spark.{SparkAccess, SparkContext}
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Per-layer Spark accounting for a traced run. The benchmark tags each
  * public call with a job group (`sources`, `extract`, `ops`); this listener
  * sums task and stage metrics per group, so every figure is attributed to
  * the call that caused it. Listener callbacks run on the bus thread, so
  * every access is synchronized. */
final class SparkTrace extends SparkListener {
  import SparkTrace.JobSpan

  final class GroupStats {
    var mapStageS = 0.0
    var resultStageS = 0.0
    var shuffleWriteBytes = 0L
    var shuffleReadBytes = 0L
    var fetchWaitMs = 0L
    var runMs = 0L
    var gcMs = 0L
    var spillBytes = 0L
    var jobs = 0
    /** executor run time of result-stage tasks that read at least one row */
    val resultTaskMs = mutable.ArrayBuffer.empty[Long]
  }

  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, (String, Long)]
  private val groups = mutable.HashMap.empty[String, GroupStats]
  private val spans = mutable.ArrayBuffer.empty[JobSpan]

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(SparkAccess.JobGroupKey)))
      .getOrElse("none")

  private def stats(g: String): GroupStats = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    jobGroup(e.jobId) = (g, e.time)
    e.stageIds.foreach(stageGroup(_) = g)
    stats(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { case (g, start) => spans += JobSpan(g, start, e.time) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val g = stats(stageGroup.getOrElse(info.stageId, "none"))
    val secs = (for (s <- info.submissionTime; c <- info.completionTime) yield c - s)
      .getOrElse(0L) / 1000.0
    if (SparkAccess.isShuffleMap(info)) g.mapStageS += secs else g.resultStageS += secs
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m == null) return
    val g = stats(stageGroup.getOrElse(e.stageId, "none"))
    g.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    g.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
    g.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
    g.runMs += m.executorRunTime
    g.gcMs += m.jvmGCTime
    g.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    if (e.taskType == "ResultTask" && m.shuffleReadMetrics.recordsRead > 0)
      g.resultTaskMs += m.executorRunTime
  }

  /** Blocks until every event posted so far has been delivered. */
  def drain(sc: SparkContext): Unit = SparkAccess.drain(sc)

  def reset(): Unit = synchronized { groups.clear(); spans.clear() }

  def group(g: String): GroupStats = synchronized(stats(g))

  /** Wall seconds within [fromMs, toMs] covered by jobs of group `g`. */
  def jobSeconds(g: String, fromMs: Long, toMs: Long): Double = synchronized {
    val iv = spans.filter(s => s.group == g && s.endMs >= fromMs && s.startMs <= toMs)
      .map(s => (math.max(s.startMs, fromMs), math.min(s.endMs, toMs))).sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    for ((s, e) <- iv) {
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered / 1000.0
  }
}

object SparkTrace {
  final case class JobSpan(group: String, startMs: Long, endMs: Long)
}
