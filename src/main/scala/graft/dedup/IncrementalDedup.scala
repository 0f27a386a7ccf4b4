package graft.dedup

import graft.tables.{FsUtil, StageStore}
import org.apache.parquet.column.statistics.IntStatistics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

import scala.collection.immutable.ArraySeq
import scala.jdk.CollectionConverters._

/**
 * Incremental near-duplicate clustering — the batch-ingest form of
 * DedupPipeline for pipelines that receive the corpus in increments (daily
 * crawls): each batch is signed once, candidate generation touches ONLY the
 * buckets the new documents land in, SimHash pairs are Hamming-verified
 * inline from the fingerprint stored on the bucket rows, MinHash
 * verification reads stored signatures only for its candidates' endpoints
 * (doc_id pushdown), and the cluster labels are advanced by running
 * connected components over (new verified edges ∪ the prior labels of
 * TOUCHED components only, re-expressed as star edges) with every
 * untouched label passing through verbatim (relabelInputs). Nothing re-signs, re-buckets, re-pairs, re-verifies, or
 * re-labels the existing corpus; per-batch cost is O(delta + touched-bucket
 * membership + touched-component membership).
 *
 * This mirrors the reference's incremental index add (append new term/doc
 * blocks, re-sync readers — /root/reference/src/index/terms.c:320-414,
 * dtmap.c:246-355) lifted to the dedup layer, with the same commit
 * discipline as the search index: every batch's tables are StageStore
 * stages (atomic manifest publish, fingerprint lineage), so a killed ingest
 * resumes at the first uncommitted stage and a re-run of an
 * already-committed batch is a no-op read.
 *
 * Store shape (the 100-TB design): the bucket relation is a PERSISTED
 * table, not a per-ingest re-derivation from stored signature columns —
 *
 *   sigs_<batch>/     (url, doc_id, warc_ts, band_keys|simhash|winnow_fps)
 *                     doc_id-sorted + bloomed (point reads prune at rest)
 *   buckets_<batch>/  (doc_id, pass, bucket_key, aux, bpt) sorted by
 *                     (bpt, pass, bucket_key), bpt = pmod(bucket_key,
 *                     bucketParts); aux is the SimHash fingerprint on
 *                     SimHash rows, 0 elsewhere (DedupPipeline.bucketedAux)
 *   labels_<batch>/   (id, comp) — DELTA: only the rows this batch's scoped
 *                     CC re-derived; the full view is min(comp) per id
 *                     across stages (labels are monotonically
 *                     non-increasing), comp-sorted + id/comp bloomed
 *
 * Each batch APPENDS one bucket stage: a few files (one for a small batch)
 * whose row groups each cover a narrow bpt span. The touched-bucket read
 * is one multi-path scan over every stored bucket stage with a static
 * `bpt IN (...)` filter computed from the new batch's keys, which skips row
 * groups by their min/max statistics, before the exact (pass, bucket_key)
 * semi-join — per-batch read cost scales with the touched key space, not
 * the stored corpus. The stage count grows with batch count, so `compact()`
 * folds all committed batches into one generation (mirroring
 * IndexStore.compact): fold stages are written first, then the BATCHES list
 * is atomically rewritten to the single fold id — the commit point; a crash
 * before it leaves invisible orphan stages that an identical re-compact
 * reuses by fingerprint. Labels are byte-identical across a compact.
 *
 * Semantics vs a from-scratch recluster: EXACTLY equal whenever no candidate
 * bucket exceeds `smallCap` (the common case; equality is what the
 * q_incremental_dedup oracle checks value-for-value). In an over-cap bucket
 * the full run keeps only star edges through the CURRENT bucket-min, while
 * the incremental run also retains previously-found verified pairs whose
 * endpoints met the dup criterion — duplicate links are monotone (never
 * forgotten, never unverified), so incremental clustering can only be
 * strictly MORE connected than a recluster, and only by pairwise-verified
 * edges. The same over-cap observability applies (bucketStats).
 */
final class IncrementalDedup(spark: SparkSession, root: String,
    cfg: DedupConfig = DedupConfig(),
    // > 0: addBatch folds the store (compact) whenever the committed batch
    // count reaches this bound — the knob that keeps an UNBOUNDED ingest
    // (streaming micro-batches land one stage each) at a bounded stage
    // fan-in without the caller scheduling maintenance. 0 = manual compact.
    autoCompactAfter: Int = 0,
    // Bucket-key fan-out of the persisted bucket table: rows carry
    // bpt = pmod(bucket_key, bucketParts) and each bucket stage is sorted by
    // it, so the touched-bucket read's `bpt IN (...)` filter skips row
    // groups. A STORE-CREATION parameter, not a compile-time constant: a
    // web-scale store wants a finer granularity (e.g. 4096) than a local
    // test store, whose small batches must still leave some bpt values
    // untouched. Part of the pinned config fingerprint (it is physical
    // layout): opening a store with a different value fails with the
    // config-mismatch message instead of silently mis-pruning.
    bucketParts: Int = IncrementalDedup.BucketParts,
    // Max doc_id keys pushed as an IN-literal into a stored-sigs scan;
    // larger key sets resolve by join. A pure READ-path knob — it changes no
    // stored byte — so it is deliberately NOT pinned in CONFIG: retuning it
    // on an existing store is safe and supported.
    maxSigIdPushdown: Int = IncrementalDedup.MaxSigIdPushdown) {

  require(bucketParts > 0, "bucketParts must be positive")

  private val store = new StageStore(spark, root)

  private val cfgFp = {
    import cfg._
    s"w=$shingleW|k=$minhashK|b=$bands|r=$rowsPerBand|tau=$tau|d=$simhashMaxHamming|" +
      s"wa=$winnowA|ww=$winnowWindow|seed=$seed|cap=$smallCap|" +
      s"mh=$runMinhash|sh=$runSimhash|wn=$runWinnow|bp=$bucketParts|" +
      // url canonicalization = doc identity (see DedupConfig) — and the
      // NORMALIZATION ALGORITHM's version is part of that identity, not
      // just the boolean: r6 added pct-decoding + userinfo case retention,
      // so a store whose sigs were keyed under the r5 rules must fail the
      // pin loudly (old 'un=true') instead of silently minting different
      // doc_ids for pages it already holds. un=false stores are untouched
      // by the algorithm and keep their fingerprint. ONE shared token
      // definition with DedupRunner.fingerprint (DedupConfig.urlNormToken).
      s"un=$urlNormToken|" +
      // bucket-row format: buckets_<batch> rows carry `aux`. A store
      // written without it fails this pin up front instead of an
      // AnalysisException on the missing column mid-ingest.
      "bk=aux|" +
      // bucket-stage layout: one bpt-sorted table per batch with bpt as a
      // column. A store of hive-partitioned bpt directories fails the pin.
      "bl=sorted"
  }

  private def batchesPath = s"$root/BATCHES"
  private def configPath = s"$root/CONFIG"

  /** The store is single-config: the persisted bucket/signature keys are
    * functions of the shingle/band/seed parameters, so a batch ingested
    * with a DIFFERENT config would silently never collide with stored
    * documents (cross-batch recall quietly gone). First ingest pins the
    * config; every later construction must match — the dedup-layer
    * analogue of IndexStore.requireParamsMatch. A store that lists batches
    * but has no CONFIG predates the pin and is refused like a mismatch. */
  private def requireConfigMatch(pin: Boolean = false): Unit =
    FsUtil.read(configPath).map(_.trim) match {
      case Some(stored) if stored == cfgFp =>
      case None if batches().isEmpty =>
        // only the ingest path pins a fresh store's config
        if (pin) FsUtil.publish(configPath, cfgFp)
      case stored =>
        throw new IllegalArgumentException(
          s"store at $root was built with config " +
            s"[${stored.getOrElse("none: batches without a CONFIG pin")}] " +
            s"but this IncrementalDedup carries [$cfgFp] — use the original " +
            "config or a fresh root")
    }

  /** Committed batch ids, ingest order (a compacted store lists its single
    * fold id). */
  def batches(): Seq[String] =
    FsUtil.read(batchesPath).toSeq.flatMap(_.split('\n')).filter(_.nonEmpty)

  private def writeBatches(all: Seq[String]): Unit =
    FsUtil.publish(batchesPath, all.mkString("", "\n", "\n"))

  private def appendBatch(id: String): Unit = {
    require(!id.contains('\n') && !id.contains('/'), s"bad batch id: $id")
    writeBatches(batches() :+ id)
  }

  /** Enforce the store's pinned config without writing anything: the same
    * check every write/read entry point performs, exposed so a harness can
    * verify a persisted store is usable by THIS instance up front (a
    * mismatch otherwise surfaces only at the first store operation —
    * possibly inside timed work). */
  def checkConfig(): Unit = requireConfigMatch()

  /** The earliest listed batch whose label stage (the last stage of an
    * ingest) never committed — i.e. a batch a killed ingest left half done.
    * Re-running addBatch with that id resumes it at its first uncommitted
    * stage; it must be resumed before new batches or a compact. Public so
    * callers (e.g. bench harnesses) probe the invariant through one
    * accessor instead of re-implementing store-layout knowledge. */
  def incompleteBatch(): Option[String] =
    batches().find(id => !store.committed(labelStage(id)))

  private def sigStage(id: String) = s"sigs_$id"
  private def bucketStage(id: String) = s"buckets_$id"
  private def labelStage(id: String) = s"labels_$id"

  /** Scan partitions of a many-stage read track the store's FILE count,
    * and a checkpoint or shuffle-free consumer inherits that layout — on a
    * 20-batch store that measured 1000+ near-empty tasks per consumer.
    * Delta reads coalesce (no shuffle) to the session's parallelism.
    *
    * `capParts = true` is that DELTA-read layout fix and is wrong for
    * corpus-sized reads: the compact() fold streams the ENTIRE stored sigs
    * relation through this read, and coalescing that to unionParts caps the
    * fold's read/write parallelism at a handful of oversized tasks on a
    * large store. Corpus-scale callers (compact, clusters) pass false and
    * keep the native one-partition-per-file layout. */
  private def unionParts: Int = spark.sparkContext.defaultParallelism

  // ONE multi-path read (StageStore.read), not a per-stage unionByName fold
  // (r7): stage schemas are identical by construction (single pinned
  // config), and an N-branch union costs N scan subtrees in every plan that
  // touches the store. The schema comes from the stage manifests, so the
  // read runs no schema-inference job.
  private def readStages(names: Seq[String], capParts: Boolean): DataFrame = {
    val df = store.read(names)
    if (capParts) df.coalesce(unionParts) else df
  }

  private def readSigs(ids: Seq[String],
      capParts: Boolean = true): Option[DataFrame] =
    if (ids.isEmpty) None else Some(readStages(ids.map(sigStage), capParts))

  /** Stored signatures restricted to `docIds` — the sigs stages are written
    * doc_id-sorted with a doc_id bloom filter (the same at-rest mechanism as
    * the index's term/vh stages), so a small key set pushes `doc_id IN
    * (...)` into every stage scan: row groups + bloom filters prune AT REST
    * and the read costs O(|docIds|), not O(stored corpus). Key sets past
    * `maxSigIdPushdown` fall back to a semi-join (no driver-side giant
    * IN-literal, no codegen bloat) — still row-pruned before any wide-array
    * column ships, just without the at-rest scan skip. */
  private[dedup] def readSigsFor(ids: Seq[String], docIds: DataFrame): DataFrame =
    keyFiltered(readSigs(ids).get, "doc_id", docIds)

  /** `df` restricted to keyCol ∈ keys, for keys the driver holds: an IN
    * literal pushed to the parquet scans when few (≤ maxSigIdPushdown —
    * row groups + bloom filters then prune at rest), else a semi-join
    * against the keys as a local relation (no giant literal, no codegen
    * bloat — still row-pruned before any wide column ships). */
  private def keyFiltered(df: DataFrame, keyCol: String,
      keys: Array[Long]): DataFrame =
    if (keys.length <= maxSigIdPushdown)
      df.where(col(keyCol).isin(ArraySeq.unsafeWrapArray(keys): _*))
    else {
      import spark.implicits._
      semiJoin(df, keyCol, ArraySeq.unsafeWrapArray(keys).toDF(keyCol),
        keys.length <= IncrementalDedup.MaxBroadcastKeys)
    }

  /** `keyFiltered` for a key relation (a single long column). A relation
    * the optimizer folds to driver-held rows collects without a job; any
    * other pays one `limit(cap+1)` collect, and a key set past the cap
    * stays distributed as a semi-join. */
  private def keyFiltered(df: DataFrame, keyCol: String,
      keys: DataFrame): DataFrame =
    driverKeys(keys, keyCol) match {
      case Some(k) => keyFiltered(df, keyCol, k)
      case None =>
        // The bound probe is one cheap limit+count job on the (narrow) key
        // relation, paid only past the IN-pushdown cap.
        semiJoin(df, keyCol, keys, keys.limit(
          IncrementalDedup.MaxBroadcastKeys + 1).count() <=
            IncrementalDedup.MaxBroadcastKeys)
    }

  /** The single long column of `keys` in the driver when it has at most
    * maxSigIdPushdown rows, else None. */
  private def driverKeys(keys: DataFrame, keyCol: String): Option[Array[Long]] = {
    val sample = localRows(keys).getOrElse(
      graft.tables.JobLabel(spark, s"inc:keyprobe:$keyCol") {
        keys.limit(maxSigIdPushdown + 1).collect()
      })
    if (sample.length <= maxSigIdPushdown) Some(sample.map(_.getLong(0)))
    else None
  }

  /** The rows of `df` when its optimized plan is a local relation — rows
    * the driver already holds, so the collect runs no job — else None. */
  private def localRows(df: DataFrame): Option[Array[Row]] =
    df.queryExecution.optimizedPlan match {
      case _: LocalRelation => Some(df.collect())
      case _ => None
    }

  private def semiJoin(df: DataFrame, keyCol: String, keys: DataFrame,
      bounded: Boolean): DataFrame = {
    // Explicit broadcast: every caller passes a delta-bounded key set, but
    // it sits behind filters/joins whose selectivity the planner can't
    // estimate, so without the hint this plans sort-merge and EXCHANGES
    // the full stored relation (measured: a 1 GB sigs shuffle per delta
    // batch) instead of streaming it past a broadcast hash probe.
    //
    // Bounded, though: "delta-bounded" can still be millions of rows (a
    // real daily crawl's duplicate-id probe passes the WHOLE incoming
    // batch's doc_ids), and an unconditional hint would build an
    // arbitrarily large broadcast relation — driver/executor OOM. Above
    // MaxBroadcastKeys (8-byte keys ⇒ ~tens of MB of relation) the hint
    // is dropped and AQE picks the join strategy from the key set's
    // actual runtime size.
    val rhs = keys.toDF(keyCol)
    df.join(if (bounded) broadcast(rhs) else rhs, Seq(keyCol), "left_semi")
  }

  private def readLabels(ids: Seq[String],
      capParts: Boolean = true): DataFrame =
    readStages(ids.map(labelStage), capParts).select("id", "comp")

  /** The current FULL label view over the delta label stages: one row per
    * labeled doc, comp = its current component. Labels are monotonically
    * non-increasing per id (components only ever merge, and the merged
    * component's id is the min of the merged comp ids), so latest-wins
    * across stages IS `min(comp) per id` — one aggregate, no stage
    * sequencing, and a pre-delta-format store (whose stages are full
    * snapshots) reads identically. */
  private def fullLabels(ids: Seq[String],
      capParts: Boolean = true): DataFrame =
    readLabels(ids, capParts).groupBy("id").agg(min("comp").as("comp"))

  /** The stored bucket rows of `ids` in the touched `bpt` values: one scan
    * over every bucket stage with a static `bpt IN (...)` filter. The
    * stages are bpt-sorted, so the pushed filter skips every row group
    * whose bpt range misses the touched set. */
  private[dedup] def prunedStoredBuckets(ids: Seq[String],
      touchedPts: Seq[Int]): DataFrame =
    readStages(ids.map(bucketStage), capParts = true)
      .where(col("bpt").isin(touchedPts: _*))
      .select("pass", "bucket_key", "doc_id", "aux")

  /** The bucket stages' sort order: bpt first, so a row group spans few
    * bpt values. */
  private val bucketSortCols = Seq("bpt", "pass", "bucket_key")

  private def bptCol = pmod(col("bucket_key"), lit(bucketParts.toLong)).cast("int")

  /** Ingest one batch of pages(url, warc_ts, html, text, lang). Returns the
    * updated labels (doc_id, comp) covering every doc in any duplicate
    * relation so far. Re-running a committed batch id resumes/reads, never
    * recomputes (StageStore fingerprints). Documents whose doc_id is
    * already stored are rejected, like the reference's duplicate-id add. */
  def addBatch(batchId: String, pages: => DataFrame): DataFrame = {
    requireConfigMatch(pin = true)
    // Checkpoints created along the delta path (in-batch dedup, candidate
    // set, touched comps, new edges) are all fully consumed by the time the
    // last stage commits; released together at the end — on a cluster with
    // a reliable checkpoint dir, unreleased checkpoints are never cleaned
    // for the application's lifetime, and a streaming ingest calls this
    // once per micro-batch.
    val releasables = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val prior = {
      val b = batches()
      if (b.contains(batchId)) b.takeWhile(_ != batchId)
      else {
        // A batch whose ingest crashed mid-way is listed but has uncommitted
        // stages; a NEW id on top of it would read missing tables. Fail with
        // the resume instruction instead (re-running the crashed id resumes
        // at its first uncommitted stage — the supported recovery path).
        incompleteBatch().foreach { bad =>
          throw new IllegalStateException(
            s"batch '$bad' is partially ingested — re-run addBatch(\"$bad\", ...) " +
              "to resume it before ingesting new batches")
        }
        appendBatch(batchId); b
      }
    }
    val priorSigStages = prior.map(sigStage)
    // doc_id sort + bloom at rest: every later batch's delta-verify and
    // duplicate-id reads probe these stages by doc_id key sets (readSigsFor)
    val sigsNew = store.runStage(sigStage(batchId), cfgFp,
      inputs = priorSigStages,
      sortCols = Seq("doc_id"), bloomCols = Seq("doc_id")) {
      val raw = DedupPipeline.signatures(pages, cfg)
      // store the 16 band keys instead of the 128-long sig (same trim as
      // clustersFromSigs — the store is read every subsequent batch)
      val trimmed =
        if (cfg.runMinhash)
          raw.withColumn("band_keys",
            graft.functions.nxs_band_keys(col("sig"), cfg.bands,
              cfg.rowsPerBand, cfg.seed)).drop("sig")
        else raw
      // duplicate ids WITHIN the batch (same url fetched twice in one
      // crawl) keep the earliest (warc_ts, url) copy — the in-batch form
      // of the reference's duplicate-id rejection; cheap here because the
      // window runs over the delta only
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("warc_ts"), col("url"))
      val deduped = trimmed
        .withColumn("_rn", row_number().over(w))
        .where(col("_rn") === 1).drop("_rn")
      if (prior.isEmpty) deduped
      else {
        // Cross-batch duplicate-id rejection: anti-join(new, stored) only
        // ever needs stored ∩ new, so the stored side is read through the
        // SAME doc_id pushdown as the verify path (batch ids ≤ cap → IN
        // pushed into the sorted + bloomed sigs scans; else semi-join) —
        // no full stored-corpus id scan per batch.
        val dedupedM = Materialize(deduped)
        releasables += dedupedM
        dedupedM.join(
          readSigsFor(prior, dedupedM.select("doc_id")).select("doc_id"),
          Seq("doc_id"), "left_anti")
      }
    }
    // The batch's bucket rows, appended as one bpt-sorted stage: this is
    // the persisted form every later batch's touched-bucket read prunes by
    // row-group statistics. The range sort writes a handful of files (AQE
    // coalesces a delta batch's into one), not one file per bpt value.
    val bucketsNew = store.runStage(bucketStage(batchId), cfgFp,
      inputs = Seq(sigStage(batchId)), sortCols = bucketSortCols) {
      DedupPipeline.bucketedAux(sigsNew, cfg).withColumn("bpt", bptCol)
    }

    // DELTA label stage: only the rows the scoped CC re-derives (new-edge
    // endpoints + every member of a touched component) are written — an
    // untouched component has NO row in this stage, its label lives in the
    // stage that last touched it. Per-batch label WRITE is therefore
    // O(delta + touched), matching the relabel compute; the full view is
    // fullLabels' min aggregate. comp-sorted + id/comp bloomed at rest so
    // the next batches' endpoint and member lookups prune at the scan.
    store.runStage(labelStage(batchId), cfgFp,
      inputs = priorSigStages ++ prior.map(bucketStage) ++
        prior.map(labelStage) ++
        Seq(sigStage(batchId), bucketStage(batchId)),
      sortCols = Seq("comp"), bloomCols = Seq("id", "comp")) {
      if (prior.isEmpty)
        ConnectedComponents.run(DedupPipeline.edgesRaw(sigsNew, cfg))
          .select(col("id"), col("comp"))
      else {
        val newEdges = graft.tables.JobLabel(spark, "inc:deltaEdges") {
          deltaEdges(prior, sigsNew, bucketsNew, releasables)
        }
        // runAuto collects the (delta-sized) CC input once, within its
        // bound, and runs the driver union-find on it; a crawl-sized batch
        // falls back to the per-partition contraction of `run`, which
        // reads the input once more (its label reads are key-pruned scans).
        val ccInput = graft.tables.JobLabel(spark, "inc:relabelInputs") {
          relabelInputs(readLabels(prior), newEdges, releasables)
        }
        graft.tables.JobLabel(spark, "inc:cc") {
          ConnectedComponents.runAuto(ccInput)
        }.select(col("id"), col("comp"))
      }
    }
    releasables.foreach(Materialize.release)
    // Bounded-maintenance fold: transparent to readers (labels identical),
    // amortized O(store / autoCompactAfter) per batch. Only the LATEST
    // batch may trigger it: a re-run of an older committed id must return
    // the label view as of THAT batch (prior :+ batchId), and compact()
    // would fold every later batch into it.
    val isLatest = batches().lastOption.contains(batchId)
    val ids =
      if (autoCompactAfter > 0 && isLatest &&
          prior.size + 1 >= autoCompactAfter) compact()
      else prior :+ batchId
    // the documented contract — labels covering every doc in any duplicate
    // relation so far — is the full view, not the delta just written
    fullLabels(ids)
  }

  /** Touched-component-scoped label advancement: the CC input is the new
    * verified edges plus the prior label rows of ONLY the components a new
    * edge touches, re-expressed as star edges; untouched components
    * contribute nothing (and their labels are not even rewritten — see the
    * delta label stage above). Per-batch relabel cost is O(delta +
    * touched-component membership), not O(every labeled doc so far) — the
    * label-store analogue of the reference's consume-only-new-bytes
    * incremental sync (/root/reference/src/index/terms.c:320-344).
    *
    * Labels are IDENTICAL to running CC over (new edges ∪ all prior label
    * stars): duplicate links are monotone (never removed), so a component
    * with no new incident edge cannot change — its stored comp is already
    * the min member id — and a touched component's members ∪ new-edge
    * endpoints are exactly the nodes of its connected subgraph in the full
    * graph, so scoped CC computes the same min.
    *
    * `priorLabels` is the raw UNION of the delta stages and may carry
    * STALE rows (an id relabeled twice appears with both comps). Stale
    * rows are harmless here: a dead comp value is itself a doc id inside
    * the current merged component, so a stale star edge only connects two
    * nodes of the same current component, and a live touched component's
    * members all carry a row with the live comp (the scoped CC re-emits
    * every member whenever a component changes). Exposed private[dedup] so
    * the spec can assert the CC-input row count stays delta-scoped. */
  private[dedup] def relabelInputs(priorLabels: DataFrame,
      newEdges: DataFrame,
      releasables: scala.collection.mutable.Buffer[DataFrame] =
        scala.collection.mutable.ArrayBuffer.empty): DataFrame = {
    // comps containing a new-edge endpoint: delta-bounded (≤ |endpoints|);
    // both lookups push their key sets into the comp-sorted + bloomed label
    // scans via keyFiltered. Edges the driver holds (deltaEdges' driver
    // shape) give the endpoints without a job and their comps in one
    // collect; distributed edges keep both key sets distributed.
    val touched = localRows(newEdges.select("src", "dst")) match {
      case Some(edges) =>
        val ends = edges.flatMap(r => Array(r.getLong(0), r.getLong(1))).distinct
        keyFiltered(priorLabels, "comp", keyFiltered(priorLabels, "id", ends)
          .select("comp").collect().map(_.getLong(0)).distinct)
      case None =>
        val endpoints = newEdges.select(col("src").as("id"))
          .unionByName(newEdges.select(col("dst").as("id"))).distinct()
        val touchedComps = Materialize(
          keyFiltered(priorLabels, "id", endpoints).select("comp").distinct())
        releasables += touchedComps
        keyFiltered(priorLabels, "comp", touchedComps)
    }
    val touchedStars = touched.where(col("id") =!= col("comp"))
      .select(col("id").as("src"), col("comp").as("dst"))
    newEdges.select("src", "dst").unionByName(touchedStars)
  }

  /** Verified (src, dst) edges involving at least one new document, under
    * the batch path's candidate and verify policy (DedupPipeline.bucketPairs
    * with the SimHash Hamming test inline, then DedupPipeline.verified). The
    * stored side is the persisted bucket table read with (1) a static
    * `bpt IN (touched)` filter — row groups pruned at the scan — then (2) a
    * left-semi join on the exact (pass, bucket_key) key set of the new
    * batch; per-batch cost scales with the delta and its touched buckets,
    * not the corpus. Stored signatures are read ONLY for the MinHash
    * candidates' old endpoints (readSigsFor — doc_id pushdown against the
    * sorted + bloomed sigs stages), so no step of delta ingest scans the
    * stored corpus. `smallRowBound` is the driver-shape bound (see
    * DedupPipeline.pairsFromBucketsAuto); the driver shape returns its
    * edges as a local relation, the distributed shape materialized. */
  private[dedup] def deltaEdges(priorIds: Seq[String],
      sigsNew: DataFrame, bucketsNew: DataFrame,
      releasables: scala.collection.mutable.Buffer[DataFrame] =
        scala.collection.mutable.ArrayBuffer.empty,
      smallRowBound: Int = DedupPipeline.SmallBucketRowBound): DataFrame = {
    import DedupPipeline.{PassMinhash, PassWinnow}
    import spark.implicits._
    val bNew = bucketsNew.select("pass", "bucket_key", "doc_id", "aux")
    // The touched bpt values, from the new stage's parquet footers: the union
    // of its row-group bpt ranges, a superset the exact semi-join absorbs.
    val touchedPts = StageStore.footers(bucketsNew)(_.getRowGroups.asScala.toSeq
      .flatMap(_.getColumns.asScala.find(_.getPath.toDotString == "bpt").get
        .getStatistics match {
          case s: IntStatistics if s.hasNonNullValue => s.getMin to s.getMax
          case _ => 0 until bucketParts
        })).flatten.distinct
    // The semi-join's key side is the new bucket stage's own scan (a
    // broadcast build for a delta batch). The batch's own rows are tagged,
    // so the one collect below yields both the pairs and the new ids.
    val stream = prunedStoredBuckets(priorIds, touchedPts)
      .join(bNew.select("pass", "bucket_key"), Seq("pass", "bucket_key"),
        "left_semi")
      .withColumn("new", lit(false))
      .unionByName(bNew.withColumn("new", lit(true)))
    def endpointSigs(stored: => DataFrame): DataFrame =
      // materialized once because the verify joins reference it twice
      // (src and dst side)
      graft.tables.JobLabel(spark, "inc:endpointSigs:minhash") {
        val m = Materialize(stored.select("doc_id", "shingles")
          .unionByName(sigsNew.select("doc_id", "shingles")))
        releasables += m
        m
      }
    // Candidate pairs, then "involves a new document" (old-old pairs in a
    // touched bucket were found when their docs arrived). Two shapes, as in
    // DedupPipeline.pairsFromBucketsAuto:
    //  - stream within the bound (the steady-state micro-batch): one
    //    single-task collect (a limit over many partitions scans them in
    //    several jobs), then pairs enumerate in the driver, the filter is a
    //    set test on the tagged new ids, and the MinHash old endpoints are a
    //    driver key set for readSigsFor. The verified edges collect: the
    //    driver already held every candidate.
    //  - over-bound stream: the distributed generator, kept where either
    //    endpoint is new through keyFiltered (an IN filter for few ids, a
    //    bounded-broadcast semi-join for many).
    val rows = graft.tables.JobLabel(spark, "inc:candLocal") {
      stream.select(col("pass"), col("bucket_key"), col("doc_id"),
          coalesce(col("aux"), lit(0L)), col("new"))
        .coalesce(1).limit(smallRowBound + 1).collect()
    }
    if (rows.length <= smallRowBound) {
      val newIds = rows.iterator.filter(_.getBoolean(4)).map(_.getLong(2)).toSet
      val pairs = DedupPipeline.localBucketPairs(
          rows.map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))),
          cfg.smallCap, alwaysStarPass = PassWinnow, cfg.simhashMaxHamming)
        .filter(p => newIds(p._2) || newIds(p._3))
      val oldEnds = pairs.iterator.filter(_._1 == PassMinhash)
        .flatMap(p => Iterator(p._2, p._3)).filterNot(newIds).toArray.distinct
      val edges = DedupPipeline.verified(DedupPipeline.localPairsDF(spark, pairs),
          cfg)(_ => endpointSigs(
            keyFiltered(readSigs(priorIds).get, "doc_id", oldEnds)))
        .as[(Long, Long)].collect()
      ArraySeq.unsafeWrapArray(edges).toDF("src", "dst")
    } else {
      val newIds = sigsNew.select("doc_id")
      val cand = Materialize(DedupPipeline.pairsFromBuckets(stream,
        cfg.smallCap, alwaysStarPass = PassWinnow, cfg.simhashMaxHamming))
      releasables += cand
      val candDelta = Materialize(keyFiltered(cand, "src", newIds)
        .unionByName(keyFiltered(cand, "dst", newIds)).distinct())
      releasables += candDelta
      val edges = Materialize(DedupPipeline.verified(candDelta, cfg) { mh =>
        endpointSigs(readSigsFor(priorIds, mh.select(col("src").as("doc_id"))
          .unionByName(mh.select(col("dst").as("doc_id")))
          .distinct()
          .join(newIds, Seq("doc_id"), "left_anti")))
      }.select("src", "dst"))
      releasables += edges
      edges
    }
  }

  /** Fold every committed batch into one — bounds the per-ingest stage-union
    * fan-in that otherwise grows with batch count (the reference's analogue:
    * rewriting its db files instead of growing the append log forever,
    * terms.c:320-344). Fold stages are written (or resumed by fingerprint)
    * first; the atomic BATCHES rewrite to the single fold id is the commit
    * point. The label fold collapses the delta stages to the full min view —
    * clusters() before and after a compact are value-identical. */
  def compact(): Seq[String] = {
    requireConfigMatch() // every store entry point enforces the pinned config
    val ids = batches()
    require(ids.nonEmpty, "no batches ingested")
    incompleteBatch().foreach { bad =>
      throw new IllegalStateException(
        s"batch '$bad' is partially ingested — resume it before compacting")
    }
    if (ids.size == 1) return ids
    // Deterministic for an identical fold input (a crashed compact's orphan
    // stages are then reused by fingerprint), different once batches change.
    val foldId =
      s"fold${ids.length}_${(ids.mkString(",").hashCode & 0x7fffffff).toHexString}"
    store.runStage(sigStage(foldId), cfgFp, inputs = ids.map(sigStage),
      sortCols = Seq("doc_id"), bloomCols = Seq("doc_id")) {
      readSigs(ids, capParts = false).get
    }
    store.runStage(bucketStage(foldId), cfgFp,
      inputs = ids.map(bucketStage), sortCols = bucketSortCols) {
      readStages(ids.map(bucketStage), capParts = false)
    }
    store.runStage(labelStage(foldId), cfgFp,
      inputs = ids.map(labelStage),
      sortCols = Seq("comp"), bloomCols = Seq("id", "comp")) {
      // collapse the delta label stages to the full min view — one row per
      // labeled doc, stale rows gone; min over the single fold stage is
      // then the identity, so reads stay uniform. Corpus-sized fold read:
      // no partition cap (see readSigs).
      fullLabels(ids, capParts = false)
    }
    writeBatches(Seq(foldId)) // commit point
    // best-effort cleanup of the folded batches
    ids.foreach(id =>
      Seq(sigStage(id), bucketStage(id), labelStage(id)).foreach(store.drop))
    Seq(foldId)
  }

  /** Per-pass bucket-population diagnostics over the PERSISTED bucket
    * store (buckets, members, over-cap count, max size) — the incremental
    * path's form of DedupPipeline.bucketStats, so residual star-fallback
    * recall loss stays observable without re-deriving anything from
    * signatures. */
  def bucketStats(): DataFrame = {
    requireConfigMatch()
    val ids = batches()
    require(ids.nonEmpty, "no batches ingested")
    readStages(ids.map(bucketStage), capParts = false)
      .groupBy("pass", "bucket_key").agg(count(lit(1)).as("sz"))
      .where(col("sz") > 1)
      .groupBy("pass")
      .agg(count(lit(1)).as("n_buckets"),
        sum("sz").as("members"),
        sum(when(col("sz") > cfg.smallCap, 1).otherwise(0)).as("over_cap"),
        max("sz").as("max_sz"))
  }

  /** Current clusters over every ingested document:
    * (url, doc_id, cluster_id, is_champion) — the same resolve as
    * DedupPipeline.clusters (champion = earliest (warc_ts, url)). */
  def clusters(): DataFrame = {
    requireConfigMatch()
    val ids = batches()
    require(ids.nonEmpty, "no batches ingested")
    val docs = readSigs(ids, capParts = false).get
      .select("url", "doc_id", "warc_ts")
    DedupPipeline.resolveClusters(docs, fullLabels(ids, capParts = false))
  }
}

object IncrementalDedup {
  /** Default bpt granularity of the persisted bucket table (see the
    * `bucketParts` constructor parameter — a store-creation choice pinned
    * in CONFIG). Sized so local test batches demonstrably prune; a
    * web-scale store passes a finer value (e.g. 4096). */
  val BucketParts = 64

  /** Default for the `maxSigIdPushdown` constructor parameter: max doc_id
    * keys pushed as an IN-literal into a stored-sigs scan; larger key sets
    * resolve by join instead. */
  val MaxSigIdPushdown = 4096

  /** Key-set row bound above which keyFiltered's semi-join drops its
    * broadcast hint and lets AQE pick the strategy — an unbounded broadcast
    * of a crawl-sized key set is a driver OOM, and past this size the
    * relation is large enough that AQE's runtime statistics make the right
    * call anyway. 1M 8-byte keys ≈ a few tens of MB broadcast at most. */
  val MaxBroadcastKeys = 1 << 20
}
