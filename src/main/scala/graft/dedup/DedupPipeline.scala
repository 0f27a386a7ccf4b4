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
 * Everything is declarative DataFrame algebra (hash-agg + equi-join only),
 * so Catalyst/AQE own the physical plan. Scale design notes:
 *
 *  - The three candidate families share ONE explode + groupBy + join
 *    pipeline keyed by (pass, bucket_key): one shuffle and one
 *    materialization where round 1 had three serial checkpointed passes —
 *    fewer driver barriers, and the bucket stage is big enough to keep a
 *    cluster busy instead of three small stages that each underfill it.
 *  - Candidate generation NEVER enumerates O(s²) pairs inside a hot bucket:
 *    buckets up to `smallCap` members enumerate exact pairs (recall-lossless
 *    under pairwise verification); bigger buckets emit star edges to the
 *    bucket-min doc_id (connectivity-preserving, linear in bucket size). A
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
    broadcastOverCapKeys: Boolean = true, // see edgesRaw
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
      df.localCheckpoint(eager, storageLevel)

  private def storageLevel =
    if (sys.props.getOrElse("graft.ckpt.ser", "false").toBoolean)
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

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
    * (doc_id, pass, bucket_key, aux) — one explode over the per-row
    * concatenation of all enabled candidate families. `aux` carries the
    * 8-byte SimHash fingerprint on SimHash-pass rows (so the Hamming verify
    * happens AT pair generation, no join back to the signatures), null on
    * the others (MinHash needs full shingle sets — too wide to carry at
    * 16 band rows/doc — and winnow needs no verify at all).
    *
    * MinHash band keys come precomputed from `band_keys` when the caller
    * materialized them (clustersFromSigs does — 16 longs stored instead of
    * the 128-long sig) and are derived from `sig` otherwise. */
  /** The per-family exploded relations behind `bucketedAux`, tagged by
    * pass — exposed separately so consumers that join against a RUNTIME
    * key subset (edgesRaw's over-cap star join) can join per family and
    * let AQE's empty-relation propagation prune the families whose key
    * subset is empty, instead of re-evaluating every family's explode. */
  private def bucketedFamilies(sigs: DataFrame,
      cfg: DedupConfig): Seq[(Int, DataFrame)] = {
    // One explode per family over its PRIMITIVE key array, unioned (r7):
    // the previous single explode over concat(transform(keys → struct))
    // allocated one InternalRow per bucket entry (~31/doc) plus the
    // concatenated struct array per row — measurable allocation in the
    // pipeline's biggest stage. Generate over a primitive long array is
    // allocation-free per element; the extra checkpoint block reads (one
    // per enabled family) are sequential scans the bandwidth easily
    // absorbs. Row SET is identical (same (doc_id, pass, bucket_key, aux)
    // tuples; downstream is aggregation, so order is immaterial).
    val nullAux = lit(null).cast("long")
    val bandArr =
      if (sigs.columns.contains("band_keys")) col("band_keys")
      else bandKeysCol(cfg)
    def family(pass: Int, keys: Column, aux: Column): DataFrame =
      sigs.select(col("doc_id"), lit(pass).as("pass"),
        explode(keys).as("bucket_key"), aux.as("aux"))
    val families = Seq(
      (cfg.runMinhash, PassMinhash, () => family(PassMinhash, bandArr, nullAux)),
      (cfg.runSimhash, PassSimhash, () => family(PassSimhash, array(blockKeys(cfg): _*), col("simhash"))),
      (cfg.runWinnow, PassWinnow, () => family(PassWinnow, col("winnow_fps"), nullAux))
    ).collect { case (true, p, f) => (p, f()) }
    require(families.nonEmpty, "at least one pass must be enabled")
    families
  }

  private def bucketedAux(sigs: DataFrame, cfg: DedupConfig): DataFrame =
    bucketedFamilies(sigs, cfg).map(_._2).reduce(_ unionByName _)

  /** (doc_id, pass, bucket_key) view, for diagnostics. */
  def bucketed(sigs: DataFrame, cfg: DedupConfig): DataFrame =
    bucketedAux(sigs, cfg).select("doc_id", "pass", "bucket_key")

  /** Candidate edges (pass, src, dst), src < dst, for all enabled passes.
    *
    * Passes with a downstream PAIRWISE verify (Jaccard, Hamming) enumerate
    * exact pairs in buckets of size <= smallCap — star edges alone would
    * lose qualified pairs there: a bucket links (a, b) through the
    * bucket-min, and if verify(min, a) fails the (a, b) link dies even when
    * verify(a, b) would pass. Buckets over the cap fall back to star edges —
    * a large bucket under an 8-row MinHash band (or 16-bit SimHash block)
    * means mass near-identical content, where member↔min verification
    * holds, and pair enumeration there would be the O(s²) skew bomb the
    * design forbids. Winnow buckets are always pure star: a shared
    * fingerprint is transitive evidence, no pairwise verify follows. */
  def candidateEdges(sigs: DataFrame, cfg: DedupConfig): DataFrame =
    pairsFromBucketsAuto(bucketed(sigs, cfg), cfg.smallCap,
      alwaysStarPass = PassWinnow)

  /** Exact pairs in small buckets, star edges in hot ones, over any
    * (doc_id, pass, bucket_key) relation; buckets of `alwaysStarPass` (-1
    * for none) are pure star regardless of size. Shared by the dedup passes
    * and the ANN bucket join.
    *
    * r7: the same ONE-bounded-aggregate shuffle as edgesRaw — buckets
    * within the cap carry complete membership in the aggregate and
    * enumerate their pairs (or, for `alwaysStarPass`, their star edges) in
    * place, so the checkpoint of the bucket relation, the stats join and
    * the small-bucket self-join are all gone. Only over-cap buckets join
    * back to a re-evaluated `bucketedRel` for their star edges (AQE
    * broadcasts the runtime-small key set, and collapses the join — and
    * with it the re-evaluation — when no bucket is over cap). Callers
    * whose bucket stream is expensive to re-evaluate materialize it first
    * (IncrementalDedup.deltaEdges does). Pair SET identical to the
    * self-join form: complete-membership enumeration vs bucket self-join
    * produce the same unordered pairs, and both dedup across buckets. */
  private[graft] def pairsFromBuckets(bucketedRel: DataFrame, smallCap: Int,
      alwaysStarPass: Int): DataFrame = {
    val agg = bucketedRel
      .groupBy("pass", "bucket_key")
      .agg(bounded_bucket(col("doc_id"), lit(null).cast("long"), smallCap).as("g"))
      .select(col("pass"), col("bucket_key"), col("g.sz").as("sz"),
        col("g.mn").as("mn"), col("g.members").as("members"))
      .where(col("sz") > 1)
    val small = agg.where(col("sz") <= smallCap)
    val smallPairs = small.where(col("pass") =!= alwaysStarPass)
      .select(col("pass"), explode(bucket_pairs(col("members"))).as("p"))
      .select(col("pass"),
        least(col("p.a"), col("p.b")).as("src"),
        greatest(col("p.a"), col("p.b")).as("dst"))
    val smallStars = small.where(col("pass") === alwaysStarPass)
      .select(col("pass"), col("mn").as("src"), explode(col("members")).as("m"))
      .where(col("m.doc_id") =!= col("src"))
      .select(col("pass"), col("src"), col("m.doc_id").as("dst"))
    val bigKeys = agg.where(col("sz") > smallCap)
      .select("pass", "bucket_key", "mn")
    val bigStars = bucketedRel
      .join(bigKeys, Seq("pass", "bucket_key"))
      .where(col("doc_id") =!= col("mn"))
      .select(col("pass"), col("mn").as("src"), col("doc_id").as("dst"))
    // The same (pass, src, dst) can emerge from several buckets — dedup once
    // before the (wide-array) verify join.
    smallPairs.unionByName(smallStars).unionByName(bigStars).distinct()
  }

  /** Bucket-row bound for `pairsFromBucketsAuto`'s driver fast path:
    * collecting (pass, bucket_key, doc_id) as boxed generic Rows
    * allocates ~63 MB of transient driver heap at the bound (~240 B/row
    * measured on JDK 17: the decoded UnsafeRows, their buffers, the Rows
    * and their boxed fields), while the distributed path costs several
    * jobs (bounded-agg shuffle, over-cap star join, candidate distinct)
    * whose per-job driver barriers dwarf the compute for delta-scoped
    * relations. */
  private[graft] val SmallBucketRowBound: Int = 1 << 18

  /** `pairsFromBuckets` with a DRIVER fast path for small bucket relations
    * (the incremental delta path — its touched-bucket stream is O(delta) by
    * construction and already materialized): when the relation holds at most
    * `smallRowBound` rows they collect and the same cap/star policy
    * enumerates the pairs in a driver loop — pair SET identical by
    * construction (same grouping, same size test, same true-min anchor, same
    * cross-bucket dedup; duplicate (doc_id, bucket) rows count toward sz and
    * pair like the aggregate's member list). Over the bound, falls back to
    * the distributed form at the price of one extra `limit(bound+1)`
    * evaluation — callers pass a materialized relation, so that is a block
    * read. */
  private[graft] def pairsFromBucketsAuto(bucketedRel: DataFrame,
      smallCap: Int, alwaysStarPass: Int,
      smallRowBound: Int = SmallBucketRowBound): DataFrame =
    pairsFromBucketsLocal(bucketedRel, smallCap, alwaysStarPass,
        smallRowBound) match {
      case Some(pairs) => localPairsDF(bucketedRel.sparkSession, pairs)
      case None => pairsFromBuckets(bucketedRel, smallCap, alwaysStarPass)
    }

  /** The driver enumeration behind `pairsFromBucketsAuto`, exposed so a
    * caller that ALSO has driver-side follow-up filters (the incremental
    * delta path's involves-a-new-doc filter) can apply them on the raw
    * pair seq instead of planning literal-IN predicates over a local
    * relation. Returns None when the relation exceeds the bound. */
  private[graft] def pairsFromBucketsLocal(bucketedRel: DataFrame,
      smallCap: Int, alwaysStarPass: Int,
      smallRowBound: Int = SmallBucketRowBound): Option[Seq[(Int, Long, Long)]] = {
    val rel = bucketedRel.select("pass", "bucket_key", "doc_id")
    val sample = rel.limit(smallRowBound + 1).collect()
    if (sample.length > smallRowBound) return None
    // group rows by (pass, bucket_key), preserving duplicates
    val groups = new java.util.HashMap[(Int, Long), scala.collection.mutable.ArrayBuffer[Long]]()
    sample.foreach { r =>
      groups.computeIfAbsent((r.getInt(0), r.getLong(1)),
        _ => scala.collection.mutable.ArrayBuffer.empty[Long]) += r.getLong(2)
    }
    val out = new java.util.LinkedHashSet[(Int, Long, Long)]()
    groups.forEach { (k, members) =>
      val (pass, _) = k
      if (members.length > 1) {
        if (pass == alwaysStarPass || members.length > smallCap) {
          val mn = members.min
          members.foreach(m => if (m != mn) out.add((pass, mn, m)))
        } else {
          var i = 0
          while (i < members.length) {
            var j = i + 1
            while (j < members.length) {
              val (a, b) = (members(i), members(j))
              out.add((pass, math.min(a, b), math.max(a, b)))
              j += 1
            }
            i += 1
          }
        }
      }
    }
    Some(scala.jdk.CollectionConverters.CollectionHasAsScala(out).asScala.toSeq)
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
    * 8-byte fingerprint rides the bucket rows as `aux`; star edges get the
    * bucket-min's fingerprint via min_by) and winnow pairs need no verify
    * (64-bit fingerprint equality IS the evidence) — so only the MinHash
    * pass joins back to the signatures, and only its pairs ship shingle
    * arrays. The earlier fused all-pass verify join shipped shingles for
    * every pair: ~3x the array bytes through the shuffle for nothing
    * (measured 1.9 GB written at 175k docs; see git history). */
  private[dedup] def edgesRaw(sigs: DataFrame, cfg: DedupConfig): DataFrame = {
    // ONE bucket shuffle: the bounded membership aggregate keeps at most
    // smallCap+1 members per bucket (map-side combinable, bounded memory on
    // any skew) while tracking the true count and true min. Buckets whose
    // count fits the cap therefore carry COMPLETE membership and enumerate
    // their pairs (or, for winnow, their star edges) in place — no
    // checkpoint of the bucket relation, no stats join, no self-join.
    // Only the rare over-cap buckets (mass-duplicate content) join back to
    // a recomputed bucket stream for their star edges; AQE broadcasts that
    // tiny key set (and collapses the join entirely when it is empty).
    //
    // The aggregate OUTPUT is materialized (r7): it feeds three consumers
    // (small-pair branch, small-star branch, the over-cap key broadcast),
    // and exchange reuse shares only the MAP side — each consumer stage
    // re-ran the 500 MB merge-aggregate (measured 60-85 core-s per extra
    // merge at 699k docs). The post-filter output (sz > 1 buckets only,
    // singleton majority gone) is a fraction of the shuffle size, so one
    // merge + block reads wins; released as soon as the candidate set —
    // its only consumer — is materialized.
    val agg = Materialize(bucketedAux(sigs, cfg)
      .groupBy("pass", "bucket_key")
      .agg(bounded_bucket(col("doc_id"), col("aux"), cfg.smallCap).as("g"))
      .select(col("pass"), col("bucket_key"), col("g.sz").as("sz"),
        col("g.mn").as("mn"), col("g.mn_aux").as("mn_aux"),
        col("g.members").as("members"))
      .where(col("sz") > 1))
    val small = agg.where(col("sz") <= cfg.smallCap)
    // all unordered member pairs of a complete small bucket, canonicalized
    // src < dst (collection order is nondeterministic). One tight loop per
    // bucket (BucketPairsExpr) — the earlier flatten(transform(slice, ...))
    // expression tree allocated O(s²) slice copies per bucket and dominated
    // this stage's task time.
    val smallPairs = small.where(col("pass") =!= PassWinnow)
      .select(col("pass"), explode(bucket_pairs(col("members"))).as("p"))
      .where(col("pass") =!= PassSimhash ||
        bit_count(col("p.a_aux").bitwiseXOR(col("p.b_aux"))) <= cfg.simhashMaxHamming)
      .select(col("pass"),
        least(col("p.a"), col("p.b")).as("src"),
        greatest(col("p.a"), col("p.b")).as("dst"))
    val smallStars = small.where(col("pass") === PassWinnow)
      .select(col("pass"), col("mn").as("src"), explode(col("members")).as("m"))
      .where(col("m.doc_id") =!= col("src"))
      .select(col("pass"), col("src"), col("m.doc_id").as("dst"))
    // Over-cap keys are mass-duplicate content classes — orders of magnitude
    // fewer than docs (10M keys ≈ 300 MB broadcast) — but AQE cannot know
    // the post-filter size and plans a sort-merge that shuffles the full
    // recomputed bucket stream (measured ~1 GB at 699k docs), so broadcast
    // explicitly; flip broadcastOverCapKeys off for adversarial corpora
    // where over-cap bucket counts rival the corpus.
    //
    // Joined PER FAMILY (r7): over-cap buckets cluster in one pass (winnow's
    // shared-fingerprint buckets on mass-duplicate corpora), but a single
    // join against the 3-family union re-evaluated EVERY family's explode
    // (measured 931 tasks / ~60 core-s at 699k docs) to pull the members of
    // a handful of hot buckets. Per-family joins let AQE's empty-relation
    // propagation collapse the families whose over-cap key subset is empty
    // at runtime — their explode never runs. Row set identical: pass is
    // part of the join key, so join(union) ≡ union of per-pass joins.
    val bigKeys0 = agg.where(col("sz") > cfg.smallCap)
      .select("pass", "bucket_key", "mn", "mn_aux")
    def bigKeysFor(p: Int): DataFrame = {
      val k = bigKeys0.where(col("pass") === p)
      if (cfg.broadcastOverCapKeys) broadcast(k) else k
    }
    val bigStars = bucketedFamilies(sigs, cfg)
      .map { case (p, fam) => fam.join(bigKeysFor(p), Seq("pass", "bucket_key")) }
      .reduce(_ unionByName _)
      .where(col("doc_id") =!= col("mn"))
      .where(col("pass") =!= PassSimhash ||
        bit_count(col("aux").bitwiseXOR(col("mn_aux"))) <= cfg.simhashMaxHamming)
      .select(col("pass"), col("mn").as("src"), col("doc_id").as("dst"))
    // Dedup across buckets once; materialize because the per-pass split
    // below would otherwise recompute the whole generation per branch.
    // Pairs are ~20 bytes each — this is the small relation of the job.
    val cand = Materialize(
      smallPairs.unionByName(smallStars).unionByName(bigStars).distinct())
    Materialize.release(agg) // cand was its only consumer
    val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    if (cfg.runMinhash)
      parts += verifyJaccard(cand.where(col("pass") === PassMinhash)
        .select("src", "dst"), sigs, cfg).select("src", "dst")
    if (cfg.runSimhash || cfg.runWinnow)
      parts += cand.where(col("pass") =!= PassMinhash).select("src", "dst")
    parts.reduce(_ unionByName _)
  }

  /** Distinct verified edges (public contract; clustering goes through
    * edgesRaw — ConnectedComponents dedups in its adjacency build, so a
    * pre-distinct would just add a full exchange of the edge set). */
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
