package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Engine-layer recorder, attached only in traced runs. Keeps every job
  * and stage in memory (listener-bus thread only; read after
  * [[drain]]) and aggregates task metrics per stage. Jobs carry the job
  * group the benchmark sets around each query, which is how a job is
  * attributed to the query that launched it. */
final class Engine extends SparkListener {
  final class Job(val id: Int, val group: String, val start: Long,
      val stageIds: Seq[Int]) { var end: Long = -1L }
  final class Stage(val id: Int) {
    var submit = -1L; var complete = -1L; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shufWrite = 0L; var shufRead = 0L; var spill = 0L; var input = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[Int, Stage]
  private def stage(id: Int) = stages.getOrElseUpdate(id, new Stage(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs(e.jobId) = new Job(e.jobId, g, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.end = e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = stage(e.stageInfo.stageId)
    s.submit = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stage(e.stageInfo.stageId)
    s.complete = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val s = stage(e.stageId)
    s.tasks += 1
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shufWrite += m.shuffleWriteMetrics.bytesWritten
      s.shufRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.input += m.inputMetrics.bytesRead
    }
  }

  def drain(sc: org.apache.spark.SparkContext): Unit =
    org.apache.spark.GraftCoreBridge.drainListenerBus(sc)

  /** Jobs and submitted stages as plain maps for the raw document. */
  def dump(): Map[String, Any] = Map(
    "jobs" -> jobs.values.map(j => Map(
      "id" -> j.id, "group" -> j.group, "start" -> j.start, "end" -> j.end,
      "stages" -> j.stageIds)).toSeq,
    "stages" -> stages.values.filter(_.submit >= 0).map(s => Map(
      "id" -> s.id, "submit" -> s.submit, "complete" -> s.complete,
      "tasks" -> s.tasks, "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs,
      "gc_ms" -> s.gcMs, "shuffle_write" -> s.shufWrite,
      "shuffle_read" -> s.shufRead, "spill" -> s.spill,
      "input" -> s.input)).toSeq)
}
