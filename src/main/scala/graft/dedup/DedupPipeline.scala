package graft.dedup

import graft.functions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Near-duplicate detection pipeline (BASELINE.json → north_rule):
 *
 *   pages ──► signatures ──► ONE bucketed relation (LSH bands ∪ SimHash
 *   blocks ∪ winnow fingerprints, tagged by pass) ──► candidate pairs
 *   (exact pairs in small buckets, star edges in hot ones) ──► one fused
 *   verify join (Jaccard for the MinHash pass, Hamming for the SimHash
 *   pass, fingerprint equality is self-evident for winnowing) ──► edges
 *   ──► connected components ──► clusters
 *
 * Everything but candidate enumeration is declarative DataFrame algebra
 * (projections, hash aggregates, equi-joins), so Catalyst/AQE own the
 * physical plan. Scale design notes:
 *
 *  - The three candidate families share ONE bucket stream keyed by
 *    (pass, bucket_key): one repartition + sort-within-partitions and one
 *    streaming pass through `bucketPairs`, where round 1 had three serial
 *    checkpointed passes — fewer driver barriers, and the bucket stage is
 *    big enough to keep a cluster busy instead of three small stages that
 *    each underfill it.
 *  - Candidate generation NEVER enumerates O(s²) pairs inside a hot bucket:
 *    buckets up to `smallCap` members enumerate exact pairs (recall-lossless
 *    under pairwise verification); bigger buckets emit star edges to the
 *    bucket-min doc_id (connectivity-preserving, linear in bucket size), and
 *    the enumerator holds at most `smallCap` rows whatever the skew. A
 *    large bucket under an 8-row MinHash band means mass near-identical
 *    content where member↔min verification holds. `bucketStats` makes the
 *    residual over-cap population observable.
 *  - Verification is equi-joins on doc_id against the (narrow) signatures
 *    relation; Jaccard is computed with cardinalities only
 *    (|A∩B| via array_intersect, |A∪B| = |A|+|B|-|A∩B|).
 *  - Intermediates materialize through `Materialize`: a reliable checkpoint
 *    when the context has a checkpoint dir configured (cluster durability —
 *    a lost executor recomputes from files), localCheckpoint otherwise.
 *
 * Tokenizer semantics are the reference pipeline (tokenize + filters,
 * /root/reference/src/core/tokenizer.c:234-302, filters.c:199-219) via
 * `nxs_tokenize`; the shingle/signature config below is "the reference
 * shingle/signature configuration" pinned by FIXTURES.md.
 */
final case class DedupConfig(
    shingleW: Int = 5,
    minhashK: Int = 128,
    bands: Int = 16,           // bands × rowsPerBand == minhashK
    rowsPerBand: Int = 8,
    tau: Double = 0.85,        // Jaccard accept threshold
    simhashMaxHamming: Int = 3,
    winnowA: Int = 40,         // fingerprint a-gram length (tokens)
    winnowWindow: Int = 21,    // guarantee: shared run >= 60 tokens detected
    seed: Long = 42L,
    smallCap: Int = 16,        // exact-pair enumeration cap per bucket
    runMinhash: Boolean = true,
    runSimhash: Boolean = true,
    runWinnow: Boolean = true,
    // Canonicalize urls (functions.url_normalize) before doc_id derivation.
    // Part of DOC IDENTITY, hence part of this pinned config: an
    // incremental store ingested with mixed settings would mint two
    // doc_ids for one page and silently lose cross-batch dedup — the
    // config fingerprint makes a mismatch loud instead.
    normalizeUrls: Boolean = false) {
  require(bands * rowsPerBand == minhashK, "bands*rowsPerBand must equal k")
  require(smallCap >= 2, "smallCap must allow at least one pair")

  /** Version token of the URL-normalization ALGORITHM for checkpoint /
    * store fingerprints — the algorithm is part of doc identity (doc_id =
    * xxhash64(url)), so its rule revision must invalidate resumable state
    * keyed on the old rules. ONE definition shared by IncrementalDedup's
    * CONFIG pin and DedupRunner's stage fingerprints so they can never
    * drift: r6 added §6.2.2.2 pct-decoding + userinfo case retention
    * ("v2"); a store/checkpoint built without normalization is untouched
    * by the algorithm and keeps "false". */
  def urlNormToken: String = if (normalizeUrls) "v2" else "false"
}

/** Materialization point for iterative/reused relations. Durable when the
  * SparkContext has a reliable checkpoint dir configured (cluster
  * deployments set one; a lost executor then recomputes from checkpoint
  * files instead of dying on truncated lineage), localCheckpoint otherwise —
  * the right call at local[*] where executor loss means JVM loss anyway.
  * `eager = false` defers materialization to the first action so callers can
  * fuse it with an aggregate they need anyway (one job instead of two). */
private[graft] object Materialize {
  def apply(df: DataFrame, eager: Boolean = true): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager)
    else
      df.localCheckpoint(eager,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Release a checkpoint once nothing will read it again (irreversible —
    * see bridge.unpersistCheckpoint): local checkpoints drop their blocks,
    * reliable checkpoints delete their files (Spark's cleaner never does by
    * default, so iterative jobs would otherwise leak one checkpoint dir per
    * iteration for the application's lifetime). */
  def release(df: DataFrame): Unit =
    org.apache.spark.sql.graft.bridge.unpersistCheckpoint(df)
}

object DedupPipeline {

  /** Candidate-family tags in the unified bucketed relation. */
  private[graft] val PassMinhash = 0
  private[graft] val PassSimhash = 1
  private[graft] val PassWinnow = 2

  /** Stage 1 — per-document signatures. One narrow projection stage; all
    * heavy lifting happens inside codegen'd expressions. Only the columns
    * the enabled passes need are computed. `doc_id` is xxhash64(url); the
    * reference's non-zero-id invariant
    * (/root/reference/src/core/nxs.c:498-501) maps to remapping the
    * (probability 2^-64) hash value 0. */
  def signatures(pages: DataFrame, cfg: DedupConfig): DataFrame = {
    val tokens = nxs_tokenize(col("text"), coalesce(col("lang"), lit("en")))
    var df = pages
    // URL canonicalization participates in DOC IDENTITY (doc_id =
    // xxhash64(url) below), so it lives here — inside the pipeline, under
    // the pinned DedupConfig — not as an outer transform a caller could
    // apply inconsistently across batches of one incremental store.
    // Unnormalizable urls (no scheme) keep their raw value: degraded
    // identity beats a dropped row.
    if (cfg.normalizeUrls)
      df = df.withColumn("url",
        coalesce(graft.functions.url_normalize(col("url")), col("url")))
    // Common-Crawl ingest: a page carrying only raw html (input_hint's
    // `html: binary`) flows through deterministic text extraction into the
    // same tokenizer; a populated text column always wins, and pages with
    // neither stay excluded below. Narrow codegen'd projection — free when
    // html is null.
    // Type-AWARE, not name-gated: HtmlTextExpr expects BinaryType with no
    // implicit cast. A string-typed `html` column (parquet written from
    // JSON is a common caller shape) is cast — string→binary is exactly
    // the UTF-8 bytes the expression decodes — so html-only pages keep
    // flowing instead of being silently dropped by the text filter below.
    pages.schema.find(_.name == "html").foreach { f =>
      val htmlBin = f.dataType match {
        case org.apache.spark.sql.types.BinaryType => Some(col("html"))
        case org.apache.spark.sql.types.StringType =>
          Some(col("html").cast("binary"))
        case _ => None // exotic type: ignore the column, keep the job alive
      }
      htmlBin.foreach(h =>
        df = df.withColumn("text", coalesce(col("text"), nxs_html_text(h))))
    }
    df = df.where(col("text").isNotNull)
    // A caller-provided doc_id (a table's own primary key) is kept; absent
    // one, doc_id = xxhash64(url) with the reference's non-zero invariant.
    if (!pages.columns.contains("doc_id")) df = df
      .withColumn("doc_id",
        when(xxhash64(col("url")) === 0L, lit(1L)).otherwise(xxhash64(col("url"))))
    df = df.withColumn("tokens", tokens)
    // Fused signature kernel: ONE token-hash pass shared by all enabled
    // families (the separate expressions each re-hash every token — see
    // SigBundleExpr; values are bit-identical, pinned by SigBundleSpec).
    df = df.withColumn("_sb", nxs_sig_bundle(col("tokens"),
      cfg.shingleW, cfg.minhashK, cfg.winnowA, cfg.winnowWindow,
      cfg.runMinhash, cfg.runSimhash, cfg.runWinnow, cfg.seed))
    if (cfg.runMinhash) df = df
      .withColumn("shingles", col("_sb").getField("shingles"))
      .withColumn("sig", col("_sb").getField("sig"))
    if (cfg.runSimhash) df = df
      .withColumn("simhash", col("_sb").getField("simhash"))
    if (cfg.runWinnow) df = df
      .withColumn("winnow_fps", col("_sb").getField("winnow_fps"))
    // Keep the signatures relation narrow: every downstream consumer reads
    // it repeatedly (cache scans + shuffles), and text/html are dead weight
    // once the signature columns exist.
    df.drop("_sb", "tokens", "html", "text", "lang")
  }

  /** MinHash band keys: band i's key folds the band index and its sig slots
    * into one 64-bit hash, so the shuffle key is a single long, not a struct
    * (collisions across bands only add candidates, which verification
    * removes). Docs sharing any band collide. One codegen'd pass over the
    * sig — see BandKeysExpr for why not an array of per-band slice hashes. */
  private def bandKeysCol(cfg: DedupConfig): Column =
    nxs_band_keys(col("sig"), cfg.bands, cfg.rowsPerBand, cfg.seed)

  /** SimHash pigeonhole block keys: split the 64-bit fingerprint into
    * (maxHamming+1) blocks; any pair within Hamming distance d shares at
    * least one exact block. Block index folded into the hash → one-long
    * shuffle key. */
  private def blockKeys(cfg: DedupConfig): Seq[Column] = {
    val nBlocks = cfg.simhashMaxHamming + 1
    val width = 64 / nBlocks
    (0 until nBlocks).map { i =>
      xxhash64(lit(i),
        shiftright(col("simhash"), i * width)
          .bitwiseAND(lit((1L << width) - 1)))
    }
  }

  /** The unified bucketed relation with an inline-verification payload:
    * (doc_id, pass, bucket_key, aux). `aux` carries the 8-byte SimHash
    * fingerprint on SimHash-pass rows (so the Hamming verify happens AT
    * pair generation, no join back to the signatures) and 0 on the others
    * (MinHash needs full shingle sets — too wide to carry at 16 band
    * rows/doc — and winnow needs no verify at all), which makes
    * `bucketPairs`' Hamming test vacuous there.
    *
    * MinHash band keys come precomputed from `band_keys` when the caller
    * materialized them (clustersFromSigs does — 16 longs stored instead of
    * the 128-long sig) and are derived from `sig` otherwise.
    *
    * One explode per family over its PRIMITIVE key array, unioned (r7): a
    * single explode over concat(transform(keys → struct)) allocated one
    * InternalRow per bucket entry (~31/doc) plus the concatenated struct
    * array per row. Generate over a primitive long array is allocation-free
    * per element. IncrementalDedup persists this relation as its bucket
    * stages, so delta ingest checks Hamming inline too. */
  private[dedup] def bucketedAux(sigs: DataFrame, cfg: DedupConfig): DataFrame = {
    val bandArr =
      if (sigs.columns.contains("band_keys")) col("band_keys")
      else bandKeysCol(cfg)
    def family(pass: Int, keys: Column, aux: Column): DataFrame =
      sigs.select(col("doc_id"), lit(pass).as("pass"),
        explode(keys).as("bucket_key"), aux.as("aux"))
    val families = Seq(
      (cfg.runMinhash, () => family(PassMinhash, bandArr, lit(0L))),
      (cfg.runSimhash, () => family(PassSimhash, array(blockKeys(cfg): _*), col("simhash"))),
      (cfg.runWinnow, () => family(PassWinnow, col("winnow_fps"), lit(0L)))
    ).collect { case (true, f) => f() }
    require(families.nonEmpty, "at least one pass must be enabled")
    families.reduce(_ unionByName _)
  }

  /** (doc_id, pass, bucket_key) view, for diagnostics. */
  def bucketed(sigs: DataFrame, cfg: DedupConfig): DataFrame =
    bucketedAux(sigs, cfg).select("doc_id", "pass", "bucket_key")

  /** Candidate edges (pass, src, dst), src < dst, for all enabled passes,
    * under `bucketPairs`' cap/star policy (unverified: no Hamming test). */
  def candidateEdges(sigs: DataFrame, cfg: DedupConfig): DataFrame =
    pairsFromBucketsAuto(bucketed(sigs, cfg), cfg.smallCap,
      alwaysStarPass = PassWinnow)

  /** The candidate policy, over an iterator of (pass, bucket_key, doc_id,
    * aux) rows in which each (pass, bucket_key) group is contiguous and in
    * doc_id order (a sort by (pass, bucket_key, doc_id) gives that), to
    * (pass, src, dst) edges with src <= dst. Not deduplicated: one pair can
    * come out of several buckets (callers dedup once).
    *
    *  - A group of at most `smallCap` rows emits every unordered pair of
    *    its rows. Passes with a downstream PAIRWISE verify (Jaccard,
    *    Hamming) need that: star edges alone link (a, b) only through the
    *    bucket min, and if verify(min, a) fails the (a, b) link dies even
    *    when verify(a, b) would pass.
    *  - A group over the cap, and every group of `alwaysStarPass` (-1 for
    *    none), emits star edges (min, m) for each row m whose doc_id is not
    *    the min. A large bucket under an 8-row MinHash band (or a 16-bit
    *    SimHash block) means mass near-identical content, where member↔min
    *    verification holds, and pair enumeration there would be the O(s²)
    *    skew bomb the design forbids; a shared winnow fingerprint is
    *    transitive evidence, no pairwise verify follows.
    *  - Every edge must pass bitCount(aux_a ^ aux_b) <= maxHamming (the
    *    inline SimHash verify; vacuous where aux is 0).
    *
    * Memory is O(smallCap) on any skew: at most `smallCap` rows are
    * buffered, and because the first row of a group is its true min, a
    * group that passes the cap streams its star edges as it is read. */
  private[graft] def bucketPairs(rows: Iterator[(Int, Long, Long, Long)],
      smallCap: Int, alwaysStarPass: Int,
      maxHamming: Int): Iterator[(Int, Long, Long)] =
    new BucketPairIterator(rows, smallCap, alwaysStarPass, maxHamming)

  /** No Hamming test: bitCount of a 64-bit xor never exceeds 64. */
  private[graft] val AnyHamming = 64

  /** `bucketPairs` over any (doc_id, pass, bucket_key[, aux]) relation, as a
    * distinct (pass, src, dst) relation. One shuffle by bucket, a sort
    * within partitions (Spark's sorter spills, so a skewed bucket costs
    * disk, not heap) and one streaming pass; the distinct dedups pairs
    * found in several buckets before the (wide-array) verify join. A
    * relation without `aux` gets no Hamming test. Shared by the dedup
    * passes and the ANN bucket join. */
  private[graft] def pairsFromBuckets(bucketedRel: DataFrame, smallCap: Int,
      alwaysStarPass: Int, maxHamming: Int = AnyHamming): DataFrame = {
    val spark = bucketedRel.sparkSession
    import spark.implicits._
    bucketRows(bucketedRel)
      .repartition(col("pass"), col("bucket_key"))
      .sortWithinPartitions("pass", "bucket_key", "doc_id")
      .mapPartitions(bucketPairs(_, smallCap, alwaysStarPass, maxHamming))
      .toDF("pass", "src", "dst")
      .distinct()
  }

  /** The (pass, bucket_key, doc_id, aux) rows `bucketPairs` reads; a null
    * or absent aux reads as 0. */
  private def bucketRows(bucketedRel: DataFrame) = {
    val spark = bucketedRel.sparkSession
    import spark.implicits._
    val aux =
      if (bucketedRel.columns.contains("aux")) coalesce(col("aux"), lit(0L))
      else lit(0L)
    bucketedRel.select(col("pass"), col("bucket_key"), col("doc_id"),
      aux.as("aux")).as[(Int, Long, Long, Long)]
  }

  /** Bucket-row bound for `pairsFromBucketsAuto`'s driver fast path:
    * collecting (pass, bucket_key, doc_id, aux) tuples allocates ~64 MB of
    * transient driver heap at the bound, and grouping plus enumeration
    * about as much again (~127 MB in all, measured on JDK 17 at local[4]),
    * while the distributed path costs several jobs (bucket shuffle,
    * candidate distinct) whose per-job driver barriers dwarf the compute
    * for delta-scoped relations. */
  private[graft] val SmallBucketRowBound: Int = 1 << 18

  /** `pairsFromBuckets` with a DRIVER fast path for small bucket relations
    * (the incremental delta path — its touched-bucket stream is O(delta) by
    * construction): when the relation holds at most `smallRowBound` rows
    * they collect and run through the same `bucketPairs` in the driver.
    * Over the bound, falls back to the distributed form. The probe is a
    * `limit(bound+1)` collect: on a materialized relation that is a block
    * read, on a lazy one (candidateEdges' and annLsh's explode) it
    * evaluates the relation up to the limit — the whole relation when it
    * fits — and the distributed fallback then evaluates it again. */
  private[graft] def pairsFromBucketsAuto(bucketedRel: DataFrame,
      smallCap: Int, alwaysStarPass: Int, maxHamming: Int = AnyHamming,
      smallRowBound: Int = SmallBucketRowBound): DataFrame =
    pairsFromBucketsLocal(bucketedRel, smallCap, alwaysStarPass, maxHamming,
        smallRowBound) match {
      case Some(pairs) => localPairsDF(bucketedRel.sparkSession, pairs)
      case None => pairsFromBuckets(bucketedRel, smallCap, alwaysStarPass,
        maxHamming)
    }

  /** The driver enumeration behind `pairsFromBucketsAuto`, exposed so a
    * caller that ALSO has driver-side follow-up filters (the incremental
    * delta path's involves-a-new-doc filter) can apply them on the raw
    * pair seq instead of planning literal-IN predicates over a local
    * relation. Rows are grouped by (pass, bucket_key) in a hash map and
    * sorted by doc_id only within each group. Returns None when the
    * relation exceeds the bound. */
  private[graft] def pairsFromBucketsLocal(bucketedRel: DataFrame,
      smallCap: Int, alwaysStarPass: Int, maxHamming: Int = AnyHamming,
      smallRowBound: Int = SmallBucketRowBound): Option[Seq[(Int, Long, Long)]] = {
    val sample = bucketRows(bucketedRel).limit(smallRowBound + 1).collect()
    if (sample.length > smallRowBound) return None
    val groups = new java.util.HashMap[(Int, Long),
      scala.collection.mutable.ArrayBuffer[(Int, Long, Long, Long)]]()
    sample.foreach { r =>
      groups.computeIfAbsent((r._1, r._2),
        _ => scala.collection.mutable.ArrayBuffer.empty) += r
    }
    val rows = scala.jdk.CollectionConverters.CollectionHasAsScala(
      groups.values()).asScala.iterator.flatMap(_.sortInPlaceBy(_._3))
    Some(bucketPairs(rows, smallCap, alwaysStarPass, maxHamming)
      .distinct.toVector)
  }

  /** (pass, src, dst) pair seq as a local DataFrame. */
  private[graft] def localPairsDF(spark: org.apache.spark.sql.SparkSession,
      pairs: Seq[(Int, Long, Long)]): DataFrame = {
    import spark.implicits._
    spark.createDataset(pairs).toDF("pass", "src", "dst")
  }

  /** Per-pass bucket-population diagnostics: buckets, members, over-cap
    * buckets (the ones that fell back to star edges), max bucket size.
    * Surface this in metrics tables so residual star-fallback recall loss
    * is observable rather than silent. */
  def bucketStats(sigs: DataFrame, cfg: DedupConfig): DataFrame =
    bucketed(sigs, cfg)
      .groupBy("pass", "bucket_key").agg(count(lit(1)).as("sz"))
      .where(col("sz") > 1)
      .groupBy("pass")
      .agg(count(lit(1)).as("n_buckets"),
        sum("sz").as("members"),
        sum(when(col("sz") > cfg.smallCap, 1).otherwise(0)).as("over_cap"),
        max("sz").as("max_sz"))

  /** Verified edge set, distinct (src, dst), for all enabled passes.
    *
    * SimHash pairs are Hamming-verified INLINE at pair generation (the
    * 8-byte fingerprint rides the bucket rows as `aux`) and winnow pairs
    * need no verify (64-bit fingerprint equality IS the evidence) — so only
    * the MinHash pass joins back to the signatures, and only its pairs ship
    * shingle arrays. The earlier fused all-pass verify join shipped shingles
    * for every pair: ~3x the array bytes through the shuffle for nothing
    * (measured 1.9 GB written at 175k docs; see git history). */
  private[dedup] def edgesRaw(sigs: DataFrame, cfg: DedupConfig): DataFrame =
    // Materialized because the per-pass split in verified would otherwise
    // recompute the whole generation per branch. Pairs are ~20 bytes each —
    // this is the small relation of the job.
    verified(Materialize(pairsFromBuckets(bucketedAux(sigs, cfg),
      cfg.smallCap, alwaysStarPass = PassWinnow, cfg.simhashMaxHamming)),
      cfg)(_ => sigs)

  /** The verify policy over (pass, src, dst) candidates that `bucketPairs`
    * enumerated from `bucketedAux` rows with `cfg.simhashMaxHamming`, as
    * (src, dst) edges (not distinct). MinHash pairs are Jaccard-verified
    * against the (doc_id, shingles) relation `sigsFor` returns for the
    * MinHash (src, dst) pairs; SimHash pairs were Hamming-verified inline
    * and winnow pairs need no verify, so both pass through. One definition
    * for the batch and the incremental delta path. */
  private[dedup] def verified(cand: DataFrame, cfg: DedupConfig)(
      sigsFor: DataFrame => DataFrame): DataFrame = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    if (cfg.runMinhash) {
      val mh = cand.where(col("pass") === PassMinhash).select("src", "dst")
      parts += verifyJaccard(mh, sigsFor(mh), cfg).select("src", "dst")
    }
    if (cfg.runSimhash || cfg.runWinnow)
      parts += cand.where(col("pass") =!= PassMinhash).select("src", "dst")
    parts.reduce(_ unionByName _)
  }

  /** Distinct verified edges (public contract; clustering goes through
    * edgesRaw — ConnectedComponents' union-find absorbs duplicate edges,
    * so a pre-distinct would just add a full exchange of the edge set). */
  def edges(sigs: DataFrame, cfg: DedupConfig): DataFrame =
    edgesRaw(sigs, cfg).distinct()

  /** Single-pass entry points kept for the per-family ops/specs. */
  def minhashCandidates(sigs: DataFrame, cfg: DedupConfig): DataFrame =
    candidateEdges(sigs, cfg.copy(runSimhash = false, runWinnow = false))
      .select("src", "dst")

  /** Verify candidate pairs with exact Jaccard >= tau on shingle sets.
    *
    * |A∩B| is a linear merge over the sorted-distinct shingle arrays
    * (nxs_shingles' contract, preserved by every store that persists the
    * column) — `array_intersect` built a hash set per evaluation, and the
    * Jaccard filter collapses into the join condition where Catalyst
    * evaluated it twice per pair (no subexpression elimination inside join
    * predicates). Identical values: the merge skips duplicate runs, so it
    * equals array_intersect cardinality on any sorted input. */
  def verifyJaccard(edges: DataFrame, sigs: DataFrame, cfg: DedupConfig): DataFrame = {
    val s = sigs.select(col("doc_id"), col("shingles"))
    // shuffle_hash on the PAIR side (r7): the planner's sort-merge pays a
    // full sort of the shingle-array relation on each join key — the
    // pipeline's widest exchange (measured ~1 GB at 699k docs) sorted twice
    // for joins whose other side is ~20-byte pair rows. Hashing builds on
    // the hinted pair side (small, bounded per partition) and STREAMS the
    // wide side unsorted; AQE's skew splitting applies to shuffled-hash
    // joins the same as sort-merge.
    edges.hint("shuffle_hash")
      .join(s.select(col("doc_id").as("src"), col("shingles").as("sh_a")), "src")
      .hint("shuffle_hash")
      .join(s.select(col("doc_id").as("dst"), col("shingles").as("sh_b")), "dst")
      .withColumn("jaccard", nxs_jaccard(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= cfg.tau)
      .select("src", "dst", "jaccard")
  }

  /** SimHash Hamming-ball pairs (candidates + verify), as (src, dst). */
  def simhashCandidates(sigs: DataFrame, cfg: DedupConfig): DataFrame =
    edges(sigs, cfg.copy(runMinhash = false, runWinnow = false))

  /** Exact-substring pass: shared winnowing fingerprint ⇒ the two documents
    * share a token run >= winnowA (guaranteed detection for runs >=
    * winnowA + winnowWindow - 1). Star edges per fingerprint. */
  def winnowCandidates(sigs: DataFrame, cfg: DedupConfig): DataFrame =
    candidateEdges(sigs, cfg.copy(runMinhash = false, runSimhash = false))
      .select("src", "dst")

  /** Shared label→cluster resolve: left-join labels (unlabeled docs are
    * their own singleton cluster), champion = earliest (warc_ts, url,
    * doc_id) — deterministic, replay-stable, TOTAL tie-break. ONE definition
    * for the batch, checkpointed-runner, and incremental paths.
    *
    * Champion selection is a struct-min AGGREGATE + equi-join back, not a
    * row_number window: a window sorts each cluster_id partition in ONE
    * task, so a parked-domain mega-cluster (10⁷–10⁸ members is exactly what
    * the star-edge candidate design anticipates) would serialize on a single
    * executor — and AQE's skew handling splits joins, never windows. The min
    * aggregate is map-side combinable (every partition reduces its share of
    * the giant cluster to one row before the shuffle) and the join back is a
    * plain equi-join that AQE can skew-split. */
  private[graft] def resolveClusters(docs: DataFrame,
      labels: DataFrame): DataFrame = {
    // Both resolve joins hinted shuffle_hash (r7, same rationale as the CC
    // per-round joins): the build sides (labels; per-cluster champion rows)
    // are narrow two/three-column relations, while sort-merge paid sorts of
    // the full doc relation on every run of the resolve tail.
    val labeled = docs
      .join(labels.withColumnRenamed("id", "doc_id").hint("shuffle_hash"),
        Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("comp"), col("doc_id")))
      .drop("comp")
    // The champion test compares the FULL (warc_ts, url, doc_id) triple,
    // not doc_id alone: doc_id is unique by contract (the reference rejects
    // duplicate ids; addBatch dedups in-batch), but a caller slipping two
    // rows with one doc_id and different (warc_ts, url) should not get two
    // champions out of it.
    //
    // Boundary: rows that are FULLY identical (the same crawl record
    // ingested twice — a contract violation the incremental path rejects
    // at ingest) each carry the champion flag, because identical rows are
    // indistinguishable without positional state. The alternatives all
    // cost more than the pathology: a window reintroduces the single-task
    // mega-cluster sort this aggregate exists to avoid, a full-row
    // dropDuplicates adds a corpus-wide shuffle to every run, and a
    // monotonic row id is nondeterministic across the two plan branches
    // that would have to agree on it (risking ZERO champions). Callers
    // ingesting possibly-duplicated crawl records dedup at ingest like
    // IncrementalDedup.addBatch does; identical champion copies are the
    // same record either way.
    val champs = labeled
      .groupBy("cluster_id")
      .agg(min(struct(col("warc_ts"), col("url"), col("doc_id"))).as("c"))
    labeled
      .join(champs.hint("shuffle_hash"), Seq("cluster_id"))
      .withColumn("is_champion",
        struct(col("warc_ts"), col("url"), col("doc_id")) === col("c"))
      .select("url", "doc_id", "cluster_id", "is_champion")
  }

  /** End-to-end: pages → clusters(url, doc_id, cluster_id, is_champion).
    * cluster_id = min doc_id in the component; champion = earliest
    * (warc_ts, url) — deterministic, replay-stable tie-break.
    *
    * Champion-uniqueness contract: exactly one champion ROW VALUE per
    * cluster — the minimal (warc_ts, url, doc_id) triple. Rows that are
    * FULLY identical on that triple (one crawl record ingested twice — a
    * contract violation IncrementalDedup.addBatch rejects at ingest) each
    * carry is_champion = true; consumers that COUNT champions must count
    * distinct champion triples, not flagged rows. See resolveClusters for
    * why positional dedup here would cost more than the pathology. */
  def clusters(pages: DataFrame, cfg: DedupConfig = DedupConfig()): DataFrame =
    clustersFromSigs(signatures(pages, cfg), cfg)

  /** clusters() from a prebuilt signatures relation — callers may rewrite
    * `doc_id` first (e.g. to a table's own primary key instead of the
    * default xxhash64(url)) as long as it stays unique.
    *
    * The signatures relation is materialized as checkpoint BLOCKS
    * (UnsafeRow), NOT through .cache(): the columnar cache re-encodes every
    * array column into column batches on write and decodes them on every
    * read — measured 5× slower to build and ~9× slower for the edges
    * consumers than checkpoint blocks at 52k docs (tools/CacheExp). */
  def clustersFromSigs(sigsIn: DataFrame, cfg: DedupConfig): DataFrame = {
    // Store the 16 band keys instead of the 128-long sig they derive from:
    // the materialized relation is the pipeline's most-read intermediate,
    // and nothing downstream needs the raw signature.
    val trimmed =
      if (cfg.runMinhash)
        sigsIn.withColumn("band_keys", bandKeysCol(cfg)).drop("sig")
      else sigsIn
    val sigs = Materialize(trimmed)
    // Edge set materialized eagerly (r7; ~16 B/edge blocks), for two
    // consumers: runAuto's small-graph probe reads blocks instead of
    // re-evaluating the whole candidate/verify lineage, and an over-bound
    // edge set's per-partition contraction reads the same blocks.
    val e = Materialize(edgesRaw(sigs, cfg))
    val comps = ConnectedComponents.runAuto(e) // (id, comp)
    Materialize.release(e) // fully consumed by runAuto's return
    // CC is done with the edges, so the wide signatures relation
    // (shingle/sig/fingerprint arrays) has served its purpose — keep only
    // the narrow doc projection and release the blocks.
    val docs = Materialize(sigs.select("url", "doc_id", "warc_ts"))
    Materialize.release(sigs)
    resolveClusters(docs, comps)
  }
}

/** `DedupPipeline.bucketPairs`: a pull-based walk over one group at a time.
  * A group is read until it closes or passes the cap, buffering at most
  * `cap` rows; a closed group then emits its pairs from the buffer, an
  * over-cap (or star-pass) group emits star edges from the buffer and then
  * from each further row as it is read. */
private final class BucketPairIterator(in: Iterator[(Int, Long, Long, Long)],
    cap: Int, starPass: Int, maxHamming: Int)
  extends Iterator[(Int, Long, Long)] {
  require(cap >= 1, "smallCap must be positive")
  private val ids = new Array[Long](cap)
  private val auxs = new Array[Long](cap)
  private var n = 0 // buffered rows of the current group; ids(0) is its min
  private var pass = 0
  private var key = 0L
  private var look: (Int, Long, Long, Long) = null // next unread row
  private var star = false // current group emits star edges
  private var i = 0 // pair cursor (i, j), or star cursor i, into the buffer
  private var j = 0
  private var out: (Int, Long, Long) = null

  private def pull(): Unit = look = if (in.hasNext) in.next() else null
  private def inGroup: Boolean = look != null && look._1 == pass && look._2 == key
  private def near(a: Long, b: Long): Boolean =
    java.lang.Long.bitCount(a ^ b) <= maxHamming

  /** Reads the next group's buffered prefix; false at the end of input. */
  private def open(): Boolean = {
    if (look == null) pull()
    if (look == null) return false
    pass = look._1; key = look._2; n = 0
    star = pass == starPass
    do {
      ids(n) = look._3; auxs(n) = look._4; n += 1
      pull()
    } while (!star && n < cap && inGroup)
    if (inGroup) star = true // over the cap: the buffer holds its first rows
    i = if (star) 1 else 0
    j = 1
    true
  }

  override def hasNext: Boolean = {
    while (out == null) {
      if (star) {
        if (i < n) {
          if (ids(i) != ids(0) && near(auxs(0), auxs(i)))
            out = (pass, ids(0), ids(i))
          i += 1
        } else if (inGroup) {
          val r = look
          pull()
          if (r._3 != ids(0) && near(auxs(0), r._4)) out = (pass, ids(0), r._3)
        } else if (!open()) return false
      } else if (j < n) {
        if (near(auxs(i), auxs(j))) out = (pass, ids(i), ids(j))
        j += 1
      } else if (i + 2 < n) { // row i + 1 still has a partner after it
        i += 1
        j = i + 1
      } else if (!open()) return false
    }
    true
  }

  override def next(): (Int, Long, Long) = {
    if (!hasNext) throw new NoSuchElementException("bucketPairs exhausted")
    val r = out
    out = null
    r
  }
}
