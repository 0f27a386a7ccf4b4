package graft.perfbench

import graft.corpus.SyntheticCorpus
import org.apache.spark.unsafe.types.UTF8String

/** The per-layer metrics of a traced run. Each layer is a module of the
  * program; a layer the traced workload does not run reads 0 (no time, no
  * jobs, no rows spent there). */
object Layers {

  val All: Seq[(String, String)] = Seq(
    "text.tokens_us_per_doc" -> "us",
    "functions.tokenize_us_per_doc" -> "us",
    "functions.sig_bundle_us_per_doc" -> "us",
    "dedup.signatures.wall_s" -> "s",
    "dedup.signatures.task_s" -> "s",
    "dedup.signatures.gc_s" -> "s",
    "dedup.signatures.docs" -> "count",
    "dedup.candidates.wall_s" -> "s",
    "dedup.candidates.task_s" -> "s",
    "dedup.candidates.gc_s" -> "s",
    "dedup.candidates.shuffle_write_mb" -> "MB",
    "dedup.candidates.spill_mb" -> "MB",
    "dedup.candidates.jobs" -> "count",
    "dedup.candidates.pairs.minhash" -> "count",
    "dedup.candidates.pairs.simhash" -> "count",
    "dedup.candidates.pairs.winnow" -> "count",
    "dedup.candidates.over_cap_buckets" -> "count",
    "dedup.verify.wall_s" -> "s",
    "dedup.verify.shuffle_read_mb" -> "MB",
    "dedup.verify.candidates" -> "count",
    "dedup.verify.accepted" -> "count",
    "dedup.verify.pass_rate" -> "ratio",
    "dedup.cc.wall_s" -> "s",
    "dedup.cc.jobs" -> "count",
    "dedup.cc.driver_gap_s" -> "s",
    "dedup.cc.edges" -> "count",
    "dedup.cc.components" -> "count",
    "dedup.cc.driver_calls" -> "count",
    "dedup.cc.distributed_calls" -> "count",
    "dedup.resolve.wall_s" -> "s",
    "dedup.resolve.clusters" -> "count",
    "dedup.resolve.champions" -> "count",
    "dedup.incremental.wall_s" -> "s",
    "dedup.incremental.jobs" -> "count",
    "dedup.incremental.driver_gap_s" -> "s",
    "dedup.incremental.task_s" -> "s",
    "dedup.incremental.touched_components" -> "count",
    "dedup.incremental.store_bytes_written_mb" -> "MB",
    "dedup.incremental.store_files_written" -> "count",
    "search.build.wall_s" -> "s",
    "search.build.jobs" -> "count",
    "search.build.task_s" -> "s",
    "search.build.bytes_written_mb" -> "MB",
    "search.query.parse_us" -> "us",
    "search.query.exec_ms" -> "ms",
    "search.query.jobs" -> "count",
    "search.query.driver_gap_ms" -> "ms",
    "search.query.rows" -> "count",
    "spark.jobs" -> "count",
    "spark.driver_gap_share" -> "ratio",
    "spark.gc_share" -> "ratio",
    "spark.failed_tasks" -> "count",
    "trace.layer_wall_s" -> "s",
    "trace.untraced_wall_s" -> "s",
    "trace_overhead" -> "ratio")

  private val unitOf = All.toMap

  def set(m: Metrics, name: String, v: Double): Unit =
    m.put(name, unitOf.getOrElse(name, sys.error(s"undeclared layer metric $name")), v)

  /** Layers this workload did not run read 0; output order is `All`'s. */
  def fill(m: Metrics): Unit = {
    val got = m.values.clone()
    m.values.clear()
    All.foreach { case (n, u) => m.put(n, u, got.get(n).map(_._1).getOrElse(0.0)) }
  }

  /** Whole-run Spark layer over every job of the traced section. */
  def spark(m: Metrics, jobs: Seq[JobRec], wallS: Double, fromMs: Long, toMs: Long): Unit = {
    val s = JobStats.of(jobs, wallS, fromMs, toMs)
    set(m, "spark.jobs", s.jobs)
    set(m, "spark.driver_gap_share", if (wallS > 0) s.driverGapS / wallS else 0.0)
    set(m, "spark.gc_share", if (s.taskS > 0) s.gcS / s.taskS else 0.0)
    set(m, "spark.failed_tasks", s.failedTasks)
  }

  def overhead(m: Metrics, layerWallS: Double, untracedS: Double): Unit = {
    set(m, "trace.layer_wall_s", layerWallS)
    set(m, "trace.untraced_wall_s", untracedS)
    set(m, "trace_overhead", layerWallS / untracedS - 1.0)
  }

  /** Single-thread kernel costs, µs per document, over SyntheticCorpus
    * pages: the text pipeline, and the tokenize and fused signature
    * entry points the Catalyst expressions call. */
  def kernels(nDocs: Int, m: Metrics): Unit = {
    val kcfg = SyntheticCorpus.Config(nClusters = nDocs)
    val texts = (0 until nDocs).map(c => SyntheticCorpus.pageOf(kcfg, c.toLong, 0).text).toArray
    val u8 = texts.map(UTF8String.fromString)
    val en = UTF8String.fromString("en")
    val filters = "normalizer,stopwords,stemmer"
    val pcfg = graft.text.TextPipeline.default
    val d = graft.dedup.DedupConfig()
    val toks = u8.map(t => graft.functions.NxsTokenizeExpr.tokenize(t, en, filters, true))
    def usPerDoc(f: => Unit): Double = {
      f; f // warm
      val runs = (1 to 3).map(_ => PerfBench.time(f)._2)
      PerfBench.median(runs) * 1e6 / nDocs
    }
    set(m, "text.tokens_us_per_doc",
      usPerDoc(texts.foreach(t => graft.text.TextPipeline.tokens(t, pcfg))))
    set(m, "functions.tokenize_us_per_doc",
      usPerDoc(u8.foreach(t => graft.functions.NxsTokenizeExpr.tokenize(t, en, filters, true))))
    set(m, "functions.sig_bundle_us_per_doc",
      usPerDoc(toks.foreach(t => graft.functions.SigBundleExpr.bundle(t, d.shingleW,
        d.minhashK, d.winnowA, d.winnowWindow, true, true, true, d.seed))))
  }
}
