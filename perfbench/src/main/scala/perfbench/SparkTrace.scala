package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Job and stage records from a `SparkListener`, registered only on traced
  * runs. Jobs are attributed to ops afterwards by time window: ops run one
  * at a time, and `GraftJob` runs its actions on pool threads that do not
  * inherit local properties, so a job-group tag would miss them. */
final class SparkTrace extends SparkListener {

  final class StageRec(val id: Int, val attempt: Int) {
    var submitMs = Double.NaN
    var endMs = Double.NaN
    var firstLaunchMs = Double.NaN
    var tasks = 0
    var failedTasks = 0
    var taskTimeMs = 0.0
    var schedulerDelayMs = 0.0
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var input = 0L
    var output = 0L
    val durations = mutable.ArrayBuffer.empty[Double]
    def skew: Double =
      if (durations.size < 2) 1.0
      else {
        val s = durations.sorted
        val med = s(s.size / 2)
        if (med <= 0) 1.0 else s.last / med
      }
  }

  final case class JobRec(id: Int, startMs: Double, var endMs: Double,
      var failed: Boolean)

  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  private val stageToJob = mutable.HashMap.empty[Int, Int]

  private def stage(id: Int, attempt: Int): StageRec =
    stages.getOrElseUpdate((id, attempt), new StageRec(id, attempt))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = JobRec(e.jobId, e.time.toDouble, Double.NaN, failed = false)
    // a stage listed again by a later job (skipped, or a reused shuffle)
    // stays with the job that ran it
    e.stageIds.foreach(s => stageToJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time.toDouble
      j.failed = e.jobResult != JobSucceeded
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
    s.submitMs = e.stageInfo.submissionTime.map(_.toDouble).getOrElse(Clock.nowMs)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
    s.endMs = e.stageInfo.completionTime.map(_.toDouble).getOrElse(Clock.nowMs)
    if (s.submitMs.isNaN)
      e.stageInfo.submissionTime.foreach(t => s.submitMs = t.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId, e.stageAttemptId)
    val info = e.taskInfo
    s.tasks += 1
    if (!e.reason.isInstanceOf[org.apache.spark.Success.type]) s.failedTasks += 1
    if (s.firstLaunchMs.isNaN || info.launchTime < s.firstLaunchMs)
      s.firstLaunchMs = info.launchTime.toDouble
    val m = e.taskMetrics
    if (m != null) {
      val run = m.executorRunTime.toDouble
      s.taskTimeMs += run
      s.durations += run
      val overhead = m.executorDeserializeTime + m.resultSerializationTime +
        info.gettingResultTime + run
      s.schedulerDelayMs += math.max(0.0, info.duration - overhead)
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.input += m.inputMetrics.bytesRead
      s.output += m.outputMetrics.bytesWritten
    }
  }

  def jobOf(stageId: Int): Option[Int] = synchronized(stageToJob.get(stageId))
}

/** Streaming progress per trigger, from `StreamingQueryListener`. */
final class StreamTrace extends org.apache.spark.sql.streaming.StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryListener._
  final case class Trigger(triggerMs: Double, addBatchMs: Double, commitMs: Double,
      rows: Long)
  val triggers = mutable.ArrayBuffer.empty[Trigger]

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val d = p.durationMs
    def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
    if (p.numInputRows > 0 || ms("addBatch") > 0)
      triggers += Trigger(ms("triggerExecution"), ms("addBatch"),
        ms("commitOffsets") + ms("walCommit"), p.numInputRows)
  }
}
