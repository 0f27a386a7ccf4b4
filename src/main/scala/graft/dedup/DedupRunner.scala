package graft.dedup

import graft.tables.StageStore
import org.apache.spark.sql.DataFrame

/**
 * Checkpointed end-to-end dedup run (north_rule: "resumable from checkpoint
 * with per-partition lineage + metrics"). Each stage commits parquet + a
 * manifest through StageStore; a killed run resumes at the first
 * uncommitted stage; a config change (different fingerprint) invalidates
 * downstream stages automatically via lineage fingerprints.
 */
object DedupRunner {

  def fingerprint(cfg: DedupConfig): String =
    s"w${cfg.shingleW}k${cfg.minhashK}b${cfg.bands}r${cfg.rowsPerBand}" +
      s"t${cfg.tau}h${cfg.simhashMaxHamming}a${cfg.winnowA}" +
      s"win${cfg.winnowWindow}s${cfg.seed}cap${cfg.smallCap}" +
      s"m${cfg.runMinhash}sh${cfg.runSimhash}wn${cfg.runWinnow}" +
      // ALGORITHM-versioned (shared token with IncrementalDedup's CONFIG
      // pin): a pre-r6 StageStore root built with --normalize-urls must
      // RECOMPUTE under the r6 pct rules, not resume r5-rule signatures.
      s"un${cfg.urlNormToken}"

  /** pages → clusters, checkpointed under `ckptRoot`. */
  def run(pages: DataFrame, cfg: DedupConfig, ckptRoot: String): DataFrame = {
    val store = new StageStore(pages.sparkSession, ckptRoot)
    val fp = fingerprint(cfg)

    val sigs = store.runStage("signatures", fp) {
      DedupPipeline.signatures(pages, cfg)
    }
    // Bucket-population diagnostics (over-cap buckets fall back to star
    // edges; surfacing the count makes that recall trade observable).
    store.runStage("bucket_stats", fp, inputs = Seq("signatures")) {
      DedupPipeline.bucketStats(sigs, cfg)
    }
    val edges = store.runStage("edges", fp, inputs = Seq("signatures")) {
      DedupPipeline.edges(sigs, cfg)
    }
    val labels = store.runStage("cc_labels", fp, inputs = Seq("edges")) {
      ConnectedComponents.run(edges)
    }
    store.runStage("clusters", fp, inputs = Seq("signatures", "cc_labels")) {
      DedupPipeline.resolveClusters(
        sigs.select("url", "doc_id", "warc_ts"), labels)
    }
  }

  /** spark-submit entry point (north_rule: "run via spark-submit on a
    * multi-executor cluster"):
    *
    *   spark-submit --class graft.dedup.DedupRunner nxsearchspark.jar \
    *     [--normalize-urls] [--bucket-parts N] \
    *     <pages_parquet> <out_parquet> <stage_root> \
    *     [batch_id | --compact]
    *
    * Reads pages(url, warc_ts, html, text, lang), writes clusters(url,
    * doc_id, cluster_id, is_champion). All session sizing (master, executor
    * count/memory, shuffle partitions, AQE, checkpoint dir) comes from
    * spark-submit conf — the code only declares the plan. With a trailing
    * argument the input is ingested as one IncrementalDedup batch against
    * the store at `<stage_root>/incremental` instead of a from-scratch
    * recluster; the special batch id `--compact` instead folds the store's
    * committed batches into one generation (labels unchanged) and writes
    * the current clusters.
    *
    * `--normalize-urls` sets DedupConfig.normalizeUrls: urls are
    * canonicalized (functions.url_normalize) INSIDE the pipeline before
    * doc_id = xxhash64(url), so case-shifted hosts, default ports,
    * fragments and tracking params stop minting duplicate doc_ids for one
    * page. Because that participates in doc identity, the setting is part
    * of the pinned config: an incremental store ingested with the flag
    * rejects a later flagless ingest (requireConfigMatch) instead of
    * silently losing cross-batch dedup. Rows whose url fails to normalize
    * (no scheme) keep their raw url — degraded identity beats a dropped
    * row.
    *
    * Output contract: one champion VALUE per cluster (the minimal
    * (warc_ts, url, doc_id) triple); fully identical duplicate rows — a
    * contract violation the incremental path rejects at ingest — would each
    * carry the flag, so champion counts must count distinct triples (see
    * DedupPipeline.clusters). */
  def main(args: Array[String]): Unit = {
    // --bucket-parts N: the incremental store's bpt granularity — a
    // STORE-CREATION choice (pinned in CONFIG; see IncrementalDedup), so a
    // web-scale deployment sets a finer value (e.g. 4096) at first ingest
    // and must pass the same value on every later run.
    val bpIdxs = args.zipWithIndex.collect {
      case ("--bucket-parts", i) => i
    }
    require(bpIdxs.size <= 1, "--bucket-parts given more than once")
    val bpIdx = bpIdxs.headOption.getOrElse(-1)
    require(bpIdx < 0 || bpIdx + 1 < args.length,
      "--bucket-parts requires a value")
    val bucketParts =
      if (bpIdx >= 0) args(bpIdx + 1).toInt else IncrementalDedup.BucketParts
    val rest = args.zipWithIndex
      .filter { case (_, i) => i != bpIdx && i != bpIdx + 1 || bpIdx < 0 }
      .map(_._1)
    val (flags, pos) = rest.partition(_ == "--normalize-urls")
    require(pos.length >= 3,
      "usage: DedupRunner [--normalize-urls] [--bucket-parts N] " +
        "<pages_parquet> <out_parquet> <stage_root> [batch_id | --compact]")
    // the flag configures the INCREMENTAL store; silently ignoring it on a
    // from-scratch recluster would leave the user believing a granularity
    // was set that no store ever received
    require(bpIdx < 0 || pos.length >= 4,
      "--bucket-parts applies only to incremental ingest " +
        "(pass a batch_id or --compact)")
    val Array(in, out, root) = pos.take(3)
    val cfg = DedupConfig(normalizeUrls = flags.nonEmpty)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .appName("graft-dedup").getOrCreate()
    val clusters =
      if (pos.length >= 4) {
        val inc = new IncrementalDedup(spark, s"$root/incremental", cfg,
          bucketParts = bucketParts)
        if (pos(3) == "--compact") inc.compact()
        else inc.addBatch(pos(3), spark.read.parquet(in)): Unit
        inc.clusters()
      } else run(spark.read.parquet(in), cfg, root)
    clusters.write.mode("overwrite").parquet(out)
    spark.stop()
  }
}
