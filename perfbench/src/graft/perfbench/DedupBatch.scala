package graft.perfbench

import graft.dedup.{ConnectedComponents, DedupConfig, DedupPipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `dedup_batch`: `DedupPipeline.clusters(pages).count()` over a seeded
  * corpus whose verified edge set exceeds ConnectedComponents'
  * SmallEdgeBound, so candidate generation and connected components both
  * take their distributed paths. */
final class DedupBatch(spark: SparkSession, a: PerfBench.Args) extends Workload {
  private val cfg = DedupConfig()
  private val corpus = Inputs.batchCfg(a.seed, a.sizes.batchExactClusters)
  private val path = a.work.resolve("dedup_pages").toString
  private var pages: DataFrame = _
  private var nDocs = 0L
  private val diag = scala.collection.mutable.LinkedHashMap.empty[String, Any]

  def itemName = "docs"
  def setups: Int = a.sizes.setups

  def setup(): Unit = {
    Inputs.batchPages(spark, corpus)
      .write.mode("overwrite").parquet(path)
    pages = spark.read.parquet(path)
    nDocs = pages.count()
  }

  /** One pass over a corpus a 32nd the size, generated the same way,
    * so the measured passes run JIT-compiled kernels and cached codegen. */
  def warmup(): Unit = {
    val warm = a.work.resolve("dedup_warm").toString
    Inputs.batchPages(spark, Inputs.batchCfg(a.seed + 1, a.sizes.batchExactClusters / 32))
      .write.mode("overwrite").parquet(warm)
    val before = PerfBench.persistentIds(spark)
    clustersOf(spark.read.parquet(warm)).count()
    PerfBench.releaseSince(spark, before)
  }

  /** The clusters of the last operation, kept for `check`. */
  private var last: DataFrame = _
  private var lastIds = Set.empty[Int]

  /** `clusters(p)`, materialized as local checkpoint blocks: the relation
    * a caller gets, ready to read. */
  private def clustersOf(p: DataFrame): DataFrame =
    DedupPipeline.clusters(p, cfg).localCheckpoint(true)

  def op(i: Int): Long = {
    if (last != null) PerfBench.releaseSince(spark, lastIds)
    lastIds = PerfBench.persistentIds(spark)
    last = clustersOf(pages)
    val n = last.count()
    expect(n == nDocs, s"clusters() returned $n rows for $nDocs docs")
    n
  }

  /** Every input doc appears exactly once, one champion triple per
    * cluster, and dup-pair recall >= 0.99 over the qualified planted pairs
    * of a seeded eighth of the clusters (RecallCheck's definition: a
    * planted pair qualifies when its exact shingle Jaccard reaches tau or
    * its SimHash Hamming distance is within the configured bound). */
  def check(): Boolean = {
    val sigs = DedupPipeline.signatures(Inputs.recallPages(spark, corpus), cfg)
      .select("url", "shingles", "simhash").localCheckpoint(true)
    val ok = checkClusters(last) && recall(sigs, last) >= 0.99
    PerfBench.releaseSince(spark, lastIds)
    ok
  }

  private def checkClusters(cl: DataFrame): Boolean = {
    val urls = pages.select("url")
    val rows = cl.count()
    val distinctUrls = cl.select("url").distinct().count()
    val missing = urls.join(cl, Seq("url"), "left_anti").count()
    val badChamps = cl.where(col("is_champion"))
      .groupBy("cluster_id").agg(countDistinct(col("url"), col("doc_id")).as("n"))
      .where(col("n") =!= 1).count()
    val clusters = cl.select("cluster_id").distinct().count()
    val champClusters = cl.where(col("is_champion")).select("cluster_id").distinct().count()
    diag("docs") = nDocs
    diag("clusters") = clusters
    expect(rows == nDocs && distinctUrls == nDocs && missing == 0,
      s"clusters: $rows rows, $distinctUrls urls, $missing inputs missing, $nDocs docs")
    expect(badChamps == 0 && champClusters == clusters,
      s"champions: $badChamps clusters with != 1 champion, $champClusters of $clusters have one")
    rows == nDocs && distinctUrls == nDocs && missing == 0 &&
      badChamps == 0 && champClusters == clusters
  }

  private def recall(sigs: DataFrame, cl: DataFrame): Double = {
    val s = sigs
    val q = Inputs.batchTruth(spark, corpus)
      .join(s.select(col("url").as("url_a"), col("shingles").as("sh_a"), col("simhash").as("h_a")), "url_a")
      .join(s.select(col("url").as("url_b"), col("shingles").as("sh_b"), col("simhash").as("h_b")), "url_b")
      .join(cl.select(col("url").as("url_a"), col("cluster_id").as("ca")), "url_a")
      .join(cl.select(col("url").as("url_b"), col("cluster_id").as("cb")), "url_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("uni", size(col("sh_a")) + size(col("sh_b")) - col("inter"))
      .withColumn("jaccard", when(col("uni") > 0, col("inter") / col("uni")).otherwise(lit(0.0)))
      .where(col("jaccard") >= cfg.tau ||
        bit_count(col("h_a").bitwiseXOR(col("h_b"))) <= cfg.simhashMaxHamming)
      .agg(count(lit(1)), sum((col("ca") === col("cb")).cast("long")))
      .collect()(0)
    val r = if (q.getLong(0) == 0) 0.0 else q.getLong(1).toDouble / q.getLong(0)
    diag("qualified_pairs") = q.getLong(0)
    diag("dedup_recall") = r
    expect(r >= 0.99, s"dedup_recall $r < 0.99")
    r
  }

  def diagnostics: Map[String, Any] = diag.toMap

  /** The pipeline re-composed from its public entry points, one span per
    * phase: signatures (+ the benchmark's checkpoint), candidates, verify,
    * connected components, resolve. */
  def traced(tr: JobTrace, m: Metrics): (Int, Boolean) = {
    def set(n: String, v: Double) = Layers.set(m, n, v)
    val before = PerfBench.persistentIds(spark)
    val fromMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (sigs, _, sg) = tr.span("dedup.signatures") {
      DedupPipeline.signatures(pages, cfg)
        .withColumn("band_keys", graft.functions.nxs_band_keys(col("sig"),
          cfg.bands, cfg.rowsPerBand, cfg.seed))
        .drop("sig").localCheckpoint(true)
    }
    val (cand, _, cd) = tr.span("dedup.candidates") {
      DedupPipeline.candidateEdges(sigs, cfg).localCheckpoint(true)
    }
    val (edges, _, vf) = tr.span("dedup.verify") {
      val mh = DedupPipeline.verifyJaccard(
        cand.where(col("pass") === 0).select("src", "dst"), sigs, cfg).select("src", "dst")
      val h = sigs.select("doc_id", "simhash")
      val sh = cand.where(col("pass") === 1)
        .join(h.select(col("doc_id").as("src"), col("simhash").as("h_a")), "src")
        .join(h.select(col("doc_id").as("dst"), col("simhash").as("h_b")), "dst")
        .where(bit_count(col("h_a").bitwiseXOR(col("h_b"))) <= cfg.simhashMaxHamming)
        .select("src", "dst")
      val wn = cand.where(col("pass") === 2).select("src", "dst")
      mh.unionByName(sh).unionByName(wn).localCheckpoint(true)
    }
    val (comps, ccJobs, cc) = tr.span("dedup.cc") {
      ConnectedComponents.runAuto(edges).localCheckpoint(true)
    }
    val (res, _, rs) = tr.span("dedup.resolve") {
      DedupPipeline.resolveClusters(sigs.select("url", "doc_id", "warc_ts"), comps)
        .localCheckpoint(true)
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    Layers.spark(m, tr.all().filter(j => j.startMs >= fromMs && j.group.startsWith("perfbench:")), wallS, fromMs, System.currentTimeMillis())

    set("dedup.signatures.wall_s", sg.wallS)
    set("dedup.signatures.task_s", sg.taskS)
    set("dedup.signatures.gc_s", sg.gcS)
    set("dedup.signatures.docs", sigs.count().toDouble)
    set("dedup.candidates.wall_s", cd.wallS)
    set("dedup.candidates.task_s", cd.taskS)
    set("dedup.candidates.gc_s", cd.gcS)
    set("dedup.candidates.shuffle_write_mb", cd.shuffleWriteMb)
    set("dedup.candidates.spill_mb", cd.spillMb)
    set("dedup.candidates.jobs", cd.jobs)
    val perPass = cand.groupBy("pass").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    set("dedup.candidates.pairs.minhash", perPass.getOrElse(0, 0L).toDouble)
    set("dedup.candidates.pairs.simhash", perPass.getOrElse(1, 0L).toDouble)
    set("dedup.candidates.pairs.winnow", perPass.getOrElse(2, 0L).toDouble)
    set("dedup.candidates.over_cap_buckets",
      DedupPipeline.bucketStats(sigs, cfg).agg(sum("over_cap")).collect()(0).getLong(0).toDouble)
    val mhCand = perPass.getOrElse(0, 0L)
    val accepted = DedupPipeline.verifyJaccard(
      cand.where(col("pass") === 0).select("src", "dst"), sigs, cfg).count()
    set("dedup.verify.wall_s", vf.wallS)
    set("dedup.verify.shuffle_read_mb", vf.shuffleReadMb)
    set("dedup.verify.candidates", mhCand.toDouble)
    set("dedup.verify.accepted", accepted.toDouble)
    set("dedup.verify.pass_rate", if (mhCand > 0) accepted.toDouble / mhCand else 0.0)
    val nEdges = edges.where(col("src") =!= col("dst")).count()
    set("dedup.cc.wall_s", cc.wallS)
    set("dedup.cc.jobs", cc.jobs)
    set("dedup.cc.driver_gap_s", cc.driverGapS)
    set("dedup.cc.edges", nEdges.toDouble)
    set("dedup.cc.components", comps.select("comp").distinct().count().toDouble)
    val distributed = JobTrace.ranDistributedCc(ccJobs)
    set("dedup.cc.driver_calls", if (distributed) 0 else 1)
    set("dedup.cc.distributed_calls", if (distributed) 1 else 0)
    val nClusters = res.select("cluster_id").distinct().count()
    set("dedup.resolve.wall_s", rs.wallS)
    set("dedup.resolve.clusters", nClusters.toDouble)
    set("dedup.resolve.champions", res.where(col("is_champion")).count().toDouble)
    // after the traced pass, so JIT warm-up cannot flatter the overhead
    val untraced = {
      val before = PerfBench.persistentIds(spark)
      val s = PerfBench.time(clustersOf(pages).count())._2
      PerfBench.releaseSince(spark, before)
      s
    }
    Layers.overhead(m, Seq(sg, cd, vf, cc, rs).map(_.wallS).sum, untraced)
    val rows = res.count()
    expect(rows == nDocs, s"traced resolve returned $rows rows for $nDocs docs")
    // the full-size corpus exists to take the distributed path
    expect(distributed == (nEdges > ConnectedComponents.SmallEdgeBound) &&
      (distributed || a.sizes != Sizes.full),
      s"cc path distributed=$distributed for $nEdges edges")
    diag("docs") = nDocs
    diag("clusters") = nClusters
    PerfBench.releaseSince(spark, before)
    (2, rows == nDocs)
  }
}
