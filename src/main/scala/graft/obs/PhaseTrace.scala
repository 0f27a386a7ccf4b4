package graft.obs

import graft.tables.JobLabel
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Where a run's time goes, by phase: `PhaseTrace(spark)(body)` groups the
  * Spark jobs that run during `body` by the label production code sets
  * on them (`graft.tables.JobLabel`: `dedup:*`, `inc:*`, `stage:<name>`,
  * `search:open*`, `search:query:*`), with a listener registered only for
  * that time.
  * The phase walls partition the run: busy time goes to the job that
  * extends it, and a driver gap (no job running) to the phase whose job
  * finished last before it, or before the first job to the first phase. */
object PhaseTrace {

  final case class Phase(label: String, wallS: Double, jobs: Int,
      taskS: Double, gcS: Double, shuffleReadMb: Double,
      shuffleWriteMb: Double, spillMb: Double, driverGapS: Double)

  def table(phases: Seq[Phase]): String = (
    (f"${"phase"}%-28s ${"wall_s"}%7s ${"jobs"}%5s ${"task_s"}%7s ${"gc_s"}%6s " +
      f"${"read_mb"}%8s ${"write_mb"}%8s ${"spill_mb"}%8s ${"gap_s"}%6s") +:
    phases.map(p => f"${p.label}%-28s ${p.wallS}%7.2f ${p.jobs}%5d ${p.taskS}%7.2f " +
      f"${p.gcS}%6.2f ${p.shuffleReadMb}%8.1f ${p.shuffleWriteMb}%8.1f " +
      f"${p.spillMb}%8.1f ${p.driverGapS}%6.2f")).mkString("\n")

  private[obs] final class Job(val label: String, val startMs: Long) {
    var endMs = startMs
    val sums = new Array[Long](5) // task ms, GC ms, shuffle read/write, spill bytes
  }

  private[obs] final class Recorder extends SparkListener {
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val byStage = mutable.HashMap.empty[Int, Job]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val j = new Job(Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.job.description"))).getOrElse("(unlabeled)"), e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(byStage.getOrElseUpdate(_, j))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      synchronized(jobs.get(e.jobId).foreach(_.endMs = e.time))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (j <- byStage.get(e.stageId); m <- Option(e.taskMetrics))
        Seq(m.executorRunTime, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
          .zipWithIndex.foreach { case (v, i) => j.sums(i) += v }
    }
  }

  /** Runs `body`; returns its result and its phases in order of first job. */
  def apply[T](spark: SparkSession)(body: => T): (T, Seq[Phase]) = {
    val sc = spark.sparkContext
    val rec = new Recorder
    sc.addSparkListener(rec)
    try {
      val fromMs = System.currentTimeMillis()
      val out = body
      val toMs = System.currentTimeMillis()
      org.apache.spark.sql.graft.bridge.drainListenerBus(sc)
      (out, phases(rec.synchronized(rec.jobs.values.toVector.sortBy(_.startMs)), fromMs, toMs))
    } finally sc.removeSparkListener(rec)
  }

  private def phases(jobs: Seq[Job], fromMs: Long, toMs: Long): Seq[Phase] = {
    val busy, gap = mutable.LinkedHashMap.empty[String, Long].withDefaultValue(0L)
    var (busyUntil, last) = (fromMs, jobs.headOption.fold("")(_.label))
    for (j <- jobs) {
      gap(last) += math.max(0L, j.startMs - busyUntil)
      busy(j.label) += math.max(0L, j.endMs - math.max(j.startMs, busyUntil))
      if (j.endMs > busyUntil) { busyUntil = j.endMs; last = j.label }
    }
    gap(last) += toMs - busyUntil
    busy.keys.toSeq.map { l =>
      val js = jobs.filter(_.label == l)
      def sum(i: Int, unit: Double) = js.map(_.sums(i)).sum / unit
      Phase(l, (busy(l) + gap(l)) / 1e3, js.size, sum(0, 1e3), sum(1, 1e3),
        sum(2, 1 << 20), sum(3, 1 << 20), sum(4, 1 << 20), gap(l) / 1e3)
    }
  }

  /** Traces one production entry point after an untraced warm-up pass, on
    * a synthetic corpus of `nClusters` clusters (default 2000):
    *   dedup        DedupPipeline.clusters(pages).count()
    *   incremental  addBatch of half the pages into a store of the other
    *   search       IndexStore.buildOrOpen, then a 24-query mix
    * Usage: PhaseTrace dedup|incremental|search [nClusters] */
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[*]")
      .config("spark.sql.shuffle.partitions", Runtime.getRuntime.availableProcessors.toString)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", (2L << 20).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = java.nio.file.Files.createTempDirectory("phasetrace").toString
    val corpus = graft.corpus.SyntheticCorpus.Config(nClusters = args.lift(1).fold(2000)(_.toInt))
    graft.corpus.SyntheticCorpus.pages(spark, corpus).write.parquet(s"$dir/pages")
    val pages = spark.read.parquet(s"$dir/pages")
    def half(i: Int) = pages.where(pmod(xxhash64(col("url")), lit(2)) === i)
    val run: Int => Any = args.headOption.getOrElse("dedup") match {
      case "dedup" => _ => // the resolve joins run in the caller's action
        JobLabel(spark, "dedup:resolve")(graft.dedup.DedupPipeline.clusters(pages).count())
      case "incremental" =>
        val inc = new graft.dedup.IncrementalDedup(spark, s"$dir/store")
        i => inc.addBatch(s"b$i", half(i))
      case "search" =>
        val docs = pages.select(xxhash64(col("url")).as("doc_id"), col("text"))
        val w = (1 to 7).map(graft.corpus.SyntheticCorpus.word(corpus.seed, _))
        val queries = (0 until 6).flatMap(k => Seq(s"${w(k)} AND ${w(k + 1)}",
          s"${w(k)} OR ${w(k + 1)}", s"${w(k)} AND NOT ${w(k + 1)}", w(k).init + "q"))
        i => {
          val idx = graft.search.IndexStore.buildOrOpen(docs,
            graft.text.TextPipeline.default, spark, s"$dir/index$i")
          queries.foreach(q =>
            graft.search.Searcher.search(idx, q).fold(sys.error, _.collect()))
        }
      case m => sys.error(s"unknown mode '$m': dedup | incremental | search")
    }
    run(0)
    println(table(PhaseTrace(spark)(run(1))._2))
    spark.stop()
    graft.tables.FsUtil.deleteRecursively(new java.io.File(dir))
  }
}
