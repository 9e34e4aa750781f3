package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark engine counters, registered through `SparkContext.addSparkListener`.
  * Events arrive on Spark's listener bus thread; readers take a
  * [[Counters]] snapshot, after [[await]] has seen every job of a pass end. */
final class EngineListener extends SparkListener {
  import EngineListener._

  private var c = Counters()
  private val jobs = mutable.Map.empty[Int, (Long, Long, String)] // id -> (start ms, end ms, group)
  private val stages = mutable.ArrayBuffer.empty[(Int, Int, Long, Long)] // (stage id, job id, start ms, end ms)
  private val stageJob = mutable.Map.empty[Int, Int] // stage id -> the latest job that listed it

  def snapshot: Counters = synchronized(c)

  /** Job intervals (epoch ms) of one job group. */
  def jobIntervals(group: String): Seq[(Int, Long, Long)] = synchronized {
    jobs.collect { case (id, (s, e, g)) if g == group && e >= 0 => (id, s, e) }.toSeq.sortBy(_._2)
  }

  /** Stage intervals (epoch ms) of one job group: (stage id, id of the job
    * that ran it, start, end). */
  def stageIntervals(group: String): Seq[(Int, Int, Long, Long)] = synchronized {
    stages.filter { case (_, job, _, _) => jobs.get(job).exists(_._3 == group) }.toSeq
  }

  /** Blocks until the listener has seen the end of every job Spark's
    * status tracker lists for `group`; events are delivered in order, so
    * all their task events have been counted too. */
  def await(sc: SparkContext, group: String, timeoutMs: Long = 10000): Boolean = {
    val ids = sc.statusTracker.getJobIdsForGroup(group).toSet
    val deadline = System.currentTimeMillis() + timeoutMs
    def done = synchronized(ids.forall(id => jobs.get(id).exists(_._2 >= 0)))
    while (!done && System.currentTimeMillis() < deadline) Thread.sleep(5)
    done
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = (e.time, -1L, group)
    e.stageIds.foreach(stageJob(_) = e.jobId)
    c = c.copy(jobs = c.jobs + 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { case (s, _, g) => jobs(e.jobId) = (s, e.time, g) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages += ((i.stageId, stageJob.getOrElse(i.stageId, -1), i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L)))
    c = c.copy(stages = c.stages + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val failed = if (e.reason == org.apache.spark.Success) 0 else 1
    val m = e.taskMetrics
    c = if (m == null) c.copy(tasks = c.tasks + 1, taskFailures = c.taskFailures + failed)
    else c.copy(
      tasks = c.tasks + 1,
      taskFailures = c.taskFailures + failed,
      executorCpuNs = c.executorCpuNs + m.executorCpuTime,
      executorRunMs = c.executorRunMs + m.executorRunTime,
      gcMs = c.gcMs + m.jvmGCTime,
      shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      shuffleReadBytes = c.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
      spillBytes = c.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled)
  }
}

object EngineListener {
  final case class Counters(
      jobs: Long = 0, stages: Long = 0, tasks: Long = 0, taskFailures: Long = 0,
      executorCpuNs: Long = 0, executorRunMs: Long = 0, gcMs: Long = 0,
      shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0, spillBytes: Long = 0) {
    def -(o: Counters): Counters = Counters(
      jobs - o.jobs, stages - o.stages, tasks - o.tasks, taskFailures - o.taskFailures,
      executorCpuNs - o.executorCpuNs, executorRunMs - o.executorRunMs, gcMs - o.gcMs,
      shuffleWriteBytes - o.shuffleWriteBytes, shuffleReadBytes - o.shuffleReadBytes,
      spillBytes - o.spillBytes)
  }

  /** Seconds of `[t0, t1]` (epoch ms) not covered by any of `intervals`. */
  def uncovered(t0: Long, t1: Long, intervals: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var reach = t0
    intervals.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e }
      }
    (t1 - t0 - covered) / 1000.0
  }
}
