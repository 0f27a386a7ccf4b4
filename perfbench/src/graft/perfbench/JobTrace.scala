package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One Spark job as seen by [[JobTrace]]: the job group and description
  * that were set when it was submitted, the user call stack that submitted
  * it, its wall interval and the task metrics of every stage it ran. */
final class JobRec(val id: Int, val group: String, val desc: String,
    val callSite: String, val startMs: Long) {
  @volatile var endMs: Long = -1L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var failedTasks = 0
  def durMs: Long = math.max(0L, (if (endMs < 0) startMs else endMs) - startMs)
}

/** Aggregate of a set of jobs over a wall window. */
final case class JobStats(wallS: Double, jobs: Int, taskS: Double, gcS: Double,
    shuffleWriteMb: Double, shuffleReadMb: Double, spillMb: Double,
    failedTasks: Int, driverGapS: Double)

object JobStats {
  /** `wallS` is the caller's own wall time for the window [fromMs, toMs];
    * the driver gap is the part of it during which none of `jobs` ran. */
  def of(jobs: Seq[JobRec], wallS: Double, fromMs: Long, toMs: Long): JobStats = {
    val covered = JobTrace.unionMs(jobs.map(j =>
      (math.max(j.startMs, fromMs), math.min(math.max(j.endMs, j.startMs), toMs))))
    val mb = 1024.0 * 1024.0
    JobStats(wallS, jobs.size, jobs.map(_.taskMs).sum / 1e3,
      jobs.map(_.gcMs).sum / 1e3, jobs.map(_.shuffleWriteBytes).sum / mb,
      jobs.map(_.shuffleReadBytes).sum / mb, jobs.map(_.spillBytes).sum / mb,
      jobs.map(_.failedTasks).sum,
      math.max(0.0, wallS - covered / 1e3))
  }
}

/** Benchmark-side job trace: a SparkListener that records every job with
  * the job group the benchmark set before the call that submitted it. The
  * program under test is not modified; it only runs inside a group. */
final class JobTrace(sc: SparkContext) extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val sqlCallSite = mutable.HashMap.empty[String, String]
  private var seq = 0

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) =
      Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
    // The caller's stack: AQE submits a query's stages from a pool thread,
    // so a SQL job's own call site holds no user frame; the SQL execution
    // that ran it recorded the calling thread's stack when it started.
    val r = new JobRec(e.jobId, prop("spark.jobGroup.id"),
      prop("spark.job.description"),
      sqlCallSite.getOrElse(prop("spark.sql.execution.id"),
        e.stageInfos.map(_.details).mkString("\n")), e.time)
    jobs(e.jobId) = r
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = r)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { sqlCallSite(s.executionId.toString) = s.details }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { r =>
      if (e.reason != org.apache.spark.Success) r.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        r.taskMs += m.executorRunTime
        r.gcMs += m.jvmGCTime
        r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        r.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        r.spillBytes += m.diskBytesSpilled
      }
    }
  }

  /** Every job recorded so far, after draining the listener bus. */
  def all(): Seq[JobRec] = {
    org.apache.spark.PerfBenchBus.drain(sc)
    synchronized(jobs.values.toVector)
  }

  /** Run `f` under a fresh job group named after `layer`; returns its
    * result, the jobs it submitted and their stats over its wall time. */
  def span[T](layer: String)(f: => T): (T, Seq[JobRec], JobStats) = {
    val group = synchronized { seq += 1; s"perfbench:$layer:$seq" }
    sc.setJobGroup(group, layer, interruptOnCancel = false)
    val fromMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = try f finally sc.clearJobGroup()
    val wallS = (System.nanoTime() - t0) / 1e9
    val toMs = System.currentTimeMillis()
    val mine = all().filter(_.group == group)
    (out, mine, JobStats.of(mine, wallS, fromMs, toMs))
  }
}

object JobTrace {
  /** Whether a runAuto call's jobs came from the distributed
    * label-propagation rounds (`ConnectedComponents.run`) rather than the
    * driver union-find, read from the jobs' submitting call stacks. */
  def ranDistributedCc(jobs: Seq[JobRec]): Boolean =
    jobs.exists(_.callSite.contains("ConnectedComponents$.run("))

  /** Total length of the union of [start, end] intervals, in ms. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
