package graft.dedup

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev probe (r7 optimization round): wall-clock per phase of the bench
  * headline (DedupPipeline.clusters over the /tmp/graft_scale_corpus
  * corpus), with the same session config as graft.Bench. Phases:
  *
  *   1. signatures+materialize — scan → tokenize/shingle/minhash/simhash/
  *      winnow kernels → band-key trim → eager local checkpoint
  *   2. bucket+cand — bucketedAux explode, bucket repartition + sort,
  *      bucketPairs enumeration, cand distinct + eager materialize (runs
  *      inside edgesRaw construction)
  *   3. verify — the Jaccard join against sigs + union (noop-materialized
  *      through CC's adjacency in phase 4; here timed via an eager
  *      checkpoint so phase 4 reads blocks)
  *   4. cc — ConnectedComponents.run (its internal jobs do the work)
  *   5. resolve — champion resolve + count
  *
  * Not library surface; numbers feed OPTIMIZATION_r07.md. */
object PhaseProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(400000)
    val cores = if (args.length > 1) args(1).toInt else 32
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", (2L << 20).toString)
      .config("spark.sql.files.openCostInBytes", (64L << 10).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.registerAll(spark)
    val p = s"/tmp/graft_scale_corpus/c$n"
    if (!new java.io.File(s"$p/_SUCCESS").exists())
      graft.corpus.SyntheticCorpus.pages(spark,
        graft.corpus.SyntheticCorpus.Config(nClusters = n))
        .write.mode("overwrite").parquet(p)
    val cfg = DedupConfig()

    def t[A](name: String)(f: => A): A = {
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      val r = f
      println(f"[phase] $name%-28s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }

    // warmup: one full run (JIT/codegen), then clear
    if (!args.contains("nowarm")) {
      DedupPipeline.clusters(spark.read.parquet(p), cfg).count()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }

    val bwPre = graft.bench.HostControls.bandwidthGBps(math.min(cores, 32))
    val total0 = System.nanoTime()
    val raw = DedupPipeline.signatures(spark.read.parquet(p), cfg)
    val trimmed = raw
      .withColumn("band_keys", graft.functions.nxs_band_keys(
        col("sig"), cfg.bands, cfg.rowsPerBand, cfg.seed))
      .drop("sig")
    val sigs = t("1 signatures+materialize")(Materialize(trimmed))
    val e = t("2 bucket+cand (edgesRaw)")(DedupPipeline.edgesRaw(sigs, cfg))
    val eM = t("3 verify join")(Materialize(e))
    val comps = t("4 connected components")(ConnectedComponents.run(eM))
    val docs = Materialize(sigs.select("url", "doc_id", "warc_ts"))
    Materialize.release(sigs)
    val rows = t("5 resolve+count")(
      DedupPipeline.resolveClusters(docs, comps).count())
    val totalS = (System.nanoTime() - total0) / 1e9
    val bwPost = graft.bench.HostControls.bandwidthGBps(math.min(cores, 32))
    println(f"[phase] TOTAL $totalS%7.2f s  rows=$rows  " +
      f"bw_pre=$bwPre%.1f bw_post=$bwPost%.1f GB/s")
  }
}
