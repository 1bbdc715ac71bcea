package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Records what Spark did for one key at a time: jobs (tagged with the
  * key and phase by [[KeyTimer]]), their stages and tasks, the planning
  * of every action and the cached blocks. Registered only for traced
  * passes; the caller drains the listener bus before [[take]]. */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stageTasks = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private val plans = mutable.ArrayBuffer[PlanRec]()
  private val cached = mutable.Map[String, Long]()
  private var cachedNow = 0L
  private var cachedPeak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val j = JobRec(e.jobId, prop("spark.jobGroup.id").getOrElse(""),
      prop("spark.job.description").getOrElse(""), e.time)
    j.stageIds = e.stageInfos.map(_.stageId)
    j.sites = e.stageInfos.flatMap(s => SiteFile.findAllMatchIn(s.details)
      .map(_.group(1))).distinct
    jobs(e.jobId) = j
    j.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageJob.get(id).flatMap(jobs.get).foreach { j =>
      j.stagesRun += 1
      val ts = stageTasks.remove(id).map(_.sorted).getOrElse(mutable.ArrayBuffer())
      if (ts.size >= 2) {
        val skew = ts.last.toDouble / math.max(ts(ts.size / 2), 1L)
        j.skewMax = math.max(j.skewMax, skew)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      val info = e.taskInfo
      j.tasks += 1
      if (!info.successful) j.failedTasks += 1
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += info.duration
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.schedMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        j.gcMs += m.jvmGCTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        j.spillBytes += m.diskBytesSpilled
        j.scanBytes += m.inputMetrics.bytesRead
        j.scanRows += m.inputMetrics.recordsRead
        j.writeBytes += m.outputMetrics.bytesWritten
        j.writeRows += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    val id = b.blockId.name
    cachedNow -= cached.remove(id).getOrElse(0L)
    if (b.blockId.isRDD && b.storageLevel.isValid) {
      val bytes = b.memSize + b.diskSize
      cached(id) = bytes
      cachedNow += bytes
    }
    cachedPeak = math.max(cachedPeak, cachedNow)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlan(qe)

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    recordPlan(qe)

  /** Record the planning of an executed query no listener reported. */
  def recordPlan(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def secs(name: String) = ph.get(name).map(_.durationMs / 1e3).getOrElse(0.0)
    val nodes = PlanWalk.collectWithSubqueries(qe.executedPlan) { case p: SparkPlan => p }
    val rec = PlanRec(secs("analysis"), secs("optimization"), secs("planning"),
      nodes.count(_.isInstanceOf[Exchange]),
      nodes.count { case w: WindowExec => w.partitionSpec.isEmpty; case _ => false })
    synchronized { plans += rec }
  }

  /** Persisted RDD blocks held right now. */
  def cachedBlocks: Int = synchronized(cached.size)

  /** Everything recorded since the last call, then forget it. Cached
    * blocks stay tracked: they are still in memory. */
  def take(): (Seq[JobRec], Seq[PlanRec], Long) = synchronized {
    val out = (jobs.values.toSeq, plans.toSeq, cachedPeak)
    jobs.clear(); stageJob.clear(); stageTasks.clear(); plans.clear()
    cachedPeak = cachedNow
    out
  }
}

object Tracer {
  private val SiteFile = """\(([A-Za-z0-9_$]+\.scala):\d+\)""".r

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** One Spark job and the work of its stages and tasks. `sites` are the
    * source files on the job's call stacks, e.g. `GlobalRank.scala`. */
  final case class JobRec(id: Int, group: String, phase: String, startMs: Long) {
    var endMs: Long = startMs
    var stageIds: Seq[Int] = Nil
    var sites: Seq[String] = Nil
    var stagesRun, tasks, failedTasks = 0
    var runMs, schedMs, gcMs, shuffleBytes, shuffleRecords, spillBytes = 0L
    var scanBytes, scanRows, writeBytes, writeRows = 0L
    var skewMax = 0.0
  }

  /** The planning of one action: its QueryPlanningTracker phases and the
    * exchanges and unpartitioned windows of its executed plan. */
  final case class PlanRec(analysisS: Double, optimizationS: Double,
      physicalS: Double, exchanges: Int, nopartWindows: Int)
}
