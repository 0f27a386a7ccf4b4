package graft.perfbench

import graft.corpus.SyntheticCorpus
import graft.corpus.SyntheticCorpus.PageRow
import graft.dedup.{DedupConfig, DedupPipeline, IncrementalDedup}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `dedup_incremental`: a base IncrementalDedup store is built in set-up
  * and restored byte for byte before the first delta batch; each measured
  * operation is one `addBatch` of ~1k pages mixing fresh clusters with new
  * members of stored duplicate clusters. */
final class DedupIncremental(spark: SparkSession, a: PerfBench.Args) extends Workload {
  private val cfg = DedupConfig()
  private val z = a.sizes
  private val corpus = Inputs.corpusCfg(a.seed, z.incBaseClusters)
  private val baseRoot = a.work.resolve("inc_base")
  private val liveRoot = a.work.resolve("inc_live")
  private var inc: SparkSession = _
  private var store: IncrementalDedup = _
  private val ingested = mutable.ArrayBuffer.empty[Inputs.Delta]
  private val diag = mutable.LinkedHashMap.empty[String, Any]

  def itemName = "pages"
  /** One set-up: the base store build is most of a run's time budget. */
  def setups: Int = 1

  /** The delta-ingest session settings of graft.Bench: AQE coalescing on
    * and 8 shuffle partitions, on a fresh session so no file listing
    * cached before a restore survives it. */
  private def freshSession(): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    graft.functions.registerAll(s)
    s
  }

  private def restore(): Unit = {
    PerfBench.deleteTree(liveRoot)
    PerfBench.copyTree(baseRoot, liveRoot)
    inc = freshSession()
    store = new IncrementalDedup(inc, liveRoot.toString, cfg)
    ingested.clear()
  }

  def setup(): Unit = {
    PerfBench.deleteTree(baseRoot)
    val s = freshSession()
    new IncrementalDedup(s, baseRoot.toString, cfg)
      .addBatch("base", Inputs.naturalPages(s, corpus, 0, z.incBaseClusters))
    restore()
  }

  private def delta(i: Int) = Inputs.delta(corpus, z.incBaseClusters, i, z.incFreshPages, z.incRecrawls)

  private def pagesIn(d: Inputs.Delta): Long =
    (d.freshFrom until d.freshUntil).map(c => SyntheticCorpus.sizeOf(corpus, c).toLong).sum +
      d.recrawled.size

  private def ingest(i: Int): Long = {
    val d = delta(i)
    store.addBatch(d.id, Inputs.deltaPages(inc, corpus, d))
    ingested += d
    val committed = Files.exists(liveRoot.resolve(s"labels_${d.id}").resolve("MANIFEST.json"))
    expect(committed, s"batch ${d.id} committed no label stage")
    pagesIn(d)
  }

  /** The base store build in set-up runs the same Spark operators and
    * kernels; measured batches start right after the restore, as a
    * periodic ingest job would. */
  def warmup(): Unit = ()

  def op(i: Int): Long = ingest(i)

  def check(): Boolean = {
    val r = ingestRecall()
    diag("batches") = ingested.size
    diag("ingest_recall") = r
    expect(r >= 0.99, s"ingest_recall $r < 0.99")
    r >= 0.99
  }

  /** Share of recrawled pages with a qualified stored original (exact
    * shingle Jaccard >= tau or SimHash Hamming within bound) that share
    * the cluster of every such original. */
  private def ingestRecall(): Double = {
    val s = inc
    import s.implicits._
    val re = ingested.flatMap(_.recrawled).toSeq
    val originals = re.map(_._1).distinct.flatMap(c =>
      (0 until SyntheticCorpus.sizeOf(corpus, c)).map(m => (c, m)))
    val rows = (re ++ originals).distinct.map { case (c, m) => SyntheticCorpus.pageOf(corpus, c, m) }
    val sigs = DedupPipeline.signatures(s.createDataset[PageRow](rows).toDF(), cfg)
      .select("url", "shingles", "simhash").localCheckpoint(true)
    val pairs = re.flatMap { case (c, m) =>
      (0 until SyntheticCorpus.sizeOf(corpus, c)).map(o =>
        (SyntheticCorpus.urlOf(corpus, c, m), SyntheticCorpus.urlOf(corpus, c, o)))
    }.toDF("url_r", "url_o")
    val cl = store.clusters().select("url", "cluster_id")
    val q = pairs
      .join(sigs.select(col("url").as("url_r"), col("shingles").as("sh_a"), col("simhash").as("h_a")), "url_r")
      .join(sigs.select(col("url").as("url_o"), col("shingles").as("sh_b"), col("simhash").as("h_b")), "url_o")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("uni", size(col("sh_a")) + size(col("sh_b")) - col("inter"))
      .where(col("inter") / col("uni") >= cfg.tau ||
        bit_count(col("h_a").bitwiseXOR(col("h_b"))) <= cfg.simhashMaxHamming)
      .join(cl.select(col("url").as("url_r"), col("cluster_id").as("cr")), Seq("url_r"), "left")
      .join(cl.select(col("url").as("url_o"), col("cluster_id").as("co")), Seq("url_o"), "left")
      .groupBy("url_r")
      .agg(min(coalesce(col("cr") === col("co"), lit(false)).cast("int")).as("hit"))
      .agg(count(lit(1)), coalesce(sum("hit"), lit(0L)))
      .collect()(0)
    diag("recrawls_qualified") = q.getLong(0)
    diag("recrawls") = re.size
    if (q.getLong(0) == 0) 0.0 else q.getLong(1).toDouble / q.getLong(0)
  }

  def diagnostics: Map[String, Any] = {
    val ds = (0 until 4).map(delta)
    val fresh = ds.map(d => pagesIn(d) - d.recrawled.size).sum.toDouble
    diag ++ Map("recrawl_share" -> (ds.map(_.recrawled.size).sum / (fresh + ds.map(_.recrawled.size).sum)))
  }.toMap

  /** Files (path → (size, mtime)) under the live store. */
  private def listing(): Map[Path, (Long, Long)] = {
    val s = Files.walk(liveRoot)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(p =>
      p -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap
    finally s.close()
  }

  /** Components of the prior label view that the new label stage touches. */
  private def touched(priorIds: Seq[String], id: String): Long = {
    def stage(i: String) = inc.read.parquet(liveRoot.resolve(s"labels_$i").resolve("data").toString)
    val prior = priorIds.map(stage).reduce(_ unionByName _)
      .groupBy("id").agg(min("comp").as("comp"))
    prior.join(stage(id).select("id"), "id").select("comp").distinct().count()
  }

  def traced(tr: JobTrace, m: Metrics): (Int, Boolean) = {
    def set(n: String, v: Double) = Layers.set(m, n, v)
    val k = z.incTracedBatches
    ingest(0) // warm the delta path before both timed sequences
    restore()
    val fromMs = System.currentTimeMillis()
    val stats = mutable.ArrayBuffer.empty[JobStats]
    val allJobs = mutable.ArrayBuffer.empty[JobRec]
    var touchedSum, bytes, files, pages = 0L
    for (i <- 0 until k) {
      val priorIds = "base" +: ingested.map(_.id).toSeq
      val pre = listing()
      val (n, jobs, st) = tr.span("dedup.incremental")(ingest(i))
      val post = listing()
      val written = post.filter { case (p, v) => !pre.get(p).contains(v) }
      bytes += written.values.map(_._1).sum
      files += written.size
      pages += n
      stats += st
      allJobs ++= jobs
      touchedSum += touched(priorIds, delta(i).id)
    }
    Layers.spark(m, allJobs.toSeq, stats.map(_.wallS).sum, fromMs, System.currentTimeMillis())
    // the same batches untraced, after the traced ones, so JIT warm-up
    // cannot flatter the overhead
    restore()
    val untraced = (0 until k).map(i => PerfBench.time(ingest(i))._2).sum
    set("dedup.incremental.wall_s", stats.map(_.wallS).sum / k)
    set("dedup.incremental.jobs", stats.map(_.jobs).sum.toDouble / k)
    set("dedup.incremental.driver_gap_s", stats.map(_.driverGapS).sum / k)
    set("dedup.incremental.task_s", stats.map(_.taskS).sum / k)
    set("dedup.incremental.touched_components", touchedSum.toDouble / k)
    set("dedup.incremental.store_bytes_written_mb", bytes / (1024.0 * 1024.0) / k)
    set("dedup.incremental.store_files_written", files.toDouble / k)
    attribute(allJobs.toSeq, m, k)
    set("dedup.signatures.docs", pages.toDouble / k)
    Layers.overhead(m, stats.map(_.wallS).sum, untraced)
    (2 * k, true)
  }

  /** Per-batch phase attribution of addBatch's jobs through the job
    * descriptions the store sets (graft.tables.JobLabel). Times are sums of
    * job durations, except connected components, whose window runs from
    * its first job to the next job of another phase, so the driver-side
    * union-find between them counts. */
  private def attribute(jobs: Seq[JobRec], m: Metrics, k: Int): Unit = {
    def set(n: String, v: Double) = Layers.set(m, n, v)
    def phase(d: String): String =
      if (d.startsWith("stage:sigs_")) "signatures"
      else if (d.startsWith("stage:buckets_") ||
        Seq("inc:newKeys", "inc:touchedPts", "inc:touchedBuckets", "inc:newIdProbe",
          "inc:candLocal", "inc:candDelta").contains(d)) "candidates"
      else if (d.startsWith("inc:endpointSigs") || d == "inc:deltaEdges") "verify"
      else if (d == "inc:cc") "cc"
      else "other"
    val by = jobs.groupBy(j => phase(j.desc))
    def sumS(p: String, f: JobRec => Long) = by.getOrElse(p, Nil).map(f).sum / 1e3 / k
    for (p <- Seq("signatures", "candidates")) {
      set(s"dedup.$p.wall_s", sumS(p, _.durMs))
      set(s"dedup.$p.task_s", sumS(p, _.taskMs))
      set(s"dedup.$p.gc_s", sumS(p, _.gcMs))
    }
    val cj = by.getOrElse("candidates", Nil)
    set("dedup.candidates.shuffle_write_mb", cj.map(_.shuffleWriteBytes).sum / 1048576.0 / k)
    set("dedup.candidates.spill_mb", cj.map(_.spillBytes).sum / 1048576.0 / k)
    set("dedup.candidates.jobs", cj.size.toDouble / k)
    set("dedup.verify.wall_s", sumS("verify", _.durMs))
    set("dedup.verify.shuffle_read_mb", by.getOrElse("verify", Nil).map(_.shuffleReadBytes).sum / 1048576.0 / k)
    // one runAuto call per batch: its jobs are the inc:cc jobs of one group
    val calls = by.getOrElse("cc", Nil).groupBy(_.group).values.toSeq
    val sorted = jobs.sortBy(_.startMs)
    var wall, gap = 0.0
    calls.foreach { cjs =>
      val from = cjs.map(_.startMs).min
      val last = cjs.map(j => math.max(j.endMs, j.startMs)).max
      val to = sorted.find(j => j.startMs >= last && j.desc != "inc:cc" && j.group == cjs.head.group)
        .map(_.startMs).getOrElse(last)
      wall += (to - from) / 1e3
      gap += ((to - from) - JobTrace.unionMs(cjs.map(j => (j.startMs, math.max(j.endMs, j.startMs))))) / 1e3
    }
    set("dedup.cc.wall_s", wall / k)
    set("dedup.cc.jobs", by.getOrElse("cc", Nil).size.toDouble / k)
    set("dedup.cc.driver_gap_s", gap / k)
    val dist = calls.count(JobTrace.ranDistributedCc)
    set("dedup.cc.distributed_calls", dist.toDouble)
    set("dedup.cc.driver_calls", (calls.size - dist).toDouble)
  }
}
