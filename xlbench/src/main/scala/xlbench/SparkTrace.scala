package xlbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Spark counters of one job group: one op phase, e.g.
  * `p1/q02_project_compute|queries.action`. */
final class GroupStats {
  var jobs, stages, tasks = 0L
  var jobWallMs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var runMs, cpuNs, gcMs = 0L
  var stragglerMs, taskWaitMs = 0L
  var analyzeMs, optimizeMs, planMs = 0L

  def add(o: GroupStats): GroupStats = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; jobWallMs += o.jobWallMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    stragglerMs += o.stragglerMs; taskWaitMs += o.taskWaitMs
    analyzeMs += o.analyzeMs; optimizeMs += o.optimizeMs; planMs += o.planMs
    this
  }
}

/** Listener the traced run registers: every job is attributed to the job
  * group the client thread set (`setJobGroup(p<pass>/<op>|<phase>)`); jobs with
  * no group are counted under [[SparkTrace.Unattributed]]. Catalyst phase
  * times come from each action's `QueryPlanningTracker` and are charged
  * to the phase the client marked current (the harness drains the
  * listener bus after every op, so events never straddle two ops). */
final class SparkTrace extends SparkListener with QueryExecutionListener {
  import SparkTrace._
  private val groups = mutable.Map.empty[String, GroupStats]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val taskDurations = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  @volatile var current: String = Unattributed

  private def g(name: String): GroupStats = groups.getOrElseUpdate(name, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val grp = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(Unattributed)
    jobGroup(e.jobId) = grp; jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageGroup(_) = grp)
    g(grp).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val grp = jobGroup.remove(e.jobId).getOrElse(Unattributed)
    jobStart.remove(e.jobId).foreach(t0 => g(grp).jobWallMs += e.time - t0)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmit(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    taskDurations.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += info.duration
    val grp = stageGroup.getOrElse(e.stageId, Unattributed)
    stageSubmit.get(e.stageId).foreach(t0 => g(grp).taskWaitMs += (info.launchTime - t0) max 0L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val s = g(stageGroup.getOrElse(si.stageId, Unattributed))
    s.stages += 1
    s.tasks += si.numTasks
    val m = si.taskMetrics
    if (m != null) {
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
    }
    taskDurations.remove(si.stageId).filter(_.nonEmpty).foreach { d =>
      s.stragglerMs += d.max - Stats.median(d.map(_.toDouble).toSeq).toLong
    }
    stageSubmit.remove(si.stageId)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val s = g(current)
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
    s.analyzeMs += ms("analysis"); s.optimizeMs += ms("optimization"); s.planMs += ms("planning")
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Sum of the groups whose name satisfies `p`. */
  def total(p: String => Boolean): GroupStats = synchronized {
    groups.filter { case (k, _) => p(k) }.values.foldLeft(new GroupStats)(_ add _)
  }
}

object SparkTrace {
  val Unattributed = "(none)"
}
