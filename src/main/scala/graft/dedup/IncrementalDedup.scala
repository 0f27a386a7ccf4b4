package graft.dedup

import graft.tables.StageStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths, StandardCopyOption}
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
 * hive-partitioned table, not a per-ingest re-derivation from stored
 * signature columns —
 *
 *   sigs_<batch>/     (url, doc_id, warc_ts, band_keys|simhash|winnow_fps)
 *                     doc_id-sorted + bloomed (point reads prune at rest)
 *   buckets_<batch>/  (pass, bucket_key, doc_id, aux) partitioned by
 *                     bpt = pmod(bucket_key, bucketParts); aux is the
 *                     SimHash fingerprint on SimHash rows, 0 elsewhere
 *                     (DedupPipeline.bucketedAux)
 *   labels_<batch>/   (id, comp) — DELTA: only the rows this batch's scoped
 *                     CC re-derived; the full view is min(comp) per id
 *                     across stages (labels are monotonically
 *                     non-increasing), comp-sorted + id/comp bloomed
 *
 * Each batch APPENDS one partitioned bucket stage (the Iceberg
 * partition-append analogue); the touched-bucket read then prunes at the
 * SCAN with a static `bpt IN (...)` partition filter computed from the new
 * batch's keys, before the exact (pass, bucket_key) semi-join — per-batch
 * read cost scales with the touched key space, not the stored corpus. The
 * per-batch stage unions grow with batch count, so `compact()` folds all
 * committed batches into one generation (mirroring IndexStore.compact):
 * fold stages are written first, then the BATCHES list is atomically
 * rewritten to the single fold id — the commit point; a crash before it
 * leaves invisible orphan stages that an identical re-compact reuses by
 * fingerprint. Labels are byte-identical across a compact.
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
    // Hive-partition fan-out of the persisted bucket table — a STORE-CREATION
    // parameter, not a compile-time constant: a web-scale store wants its
    // fan-out to track the cluster's parallelism (e.g. 4096) while a local
    // test store wants a value small batches demonstrably prune. Part of the
    // pinned config fingerprint (it is physical layout): opening a store
    // with a different value fails with the config-mismatch message instead
    // of silently mis-pruning partition filters.
    bucketParts: Int = IncrementalDedup.BucketParts,
    // Max doc_id keys pushed as an IN-literal into a stored-sigs scan;
    // larger key sets resolve by join. A pure READ-path knob — it changes no
    // stored byte — so it is deliberately NOT pinned in CONFIG: retuning it
    // on an existing store is safe and supported.
    maxSigIdPushdown: Int = IncrementalDedup.MaxSigIdPushdown) {

  require(bucketParts > 0, "bucketParts must be positive")

  private val store = new StageStore(spark, root)

  // Partitioned-stage reads (buckets_* has `bucketParts` hive dirs) launch
  // a DISTRIBUTED listing job whenever the path count exceeds Spark's
  // parallel-discovery threshold (default 32) — measured ~120 ms of job
  // overhead per stage read on a local FS where a driver-side listing of
  // 64 dirs takes single-digit ms. Lift the threshold so bounded fan-outs
  // list driver-side; genuinely wide stores (e.g. bucketParts=4096 on an
  // object store) stay on the distributed listing, and an explicit user
  // setting is never overridden.
  locally {
    val k = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    if (spark.conf.get(k, "32") == "32") spark.conf.set(k, "128")
  }
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
      "bk=aux"
  }

  private def batchesPath = Paths.get(root, "BATCHES")
  private def configPath = Paths.get(root, "CONFIG")

  /** The store is single-config: the persisted bucket/signature keys are
    * functions of the shingle/band/seed parameters, so a batch ingested
    * with a DIFFERENT config would silently never collide with stored
    * documents (cross-batch recall quietly gone). First ingest pins the
    * config; every later construction must match — the dedup-layer
    * analogue of IndexStore.requireParamsMatch. */
  private def requireConfigMatch(pin: Boolean = false): Unit = {
    if (Files.exists(configPath)) {
      val stored = new String(Files.readAllBytes(configPath)).trim
      if (stored != cfgFp)
        throw new IllegalArgumentException(
          s"store at $root was built with config [$stored] but this " +
            s"IncrementalDedup carries [$cfgFp] — use the original config " +
            "or a fresh root")
    } else if (pin) { // only the ingest path pins a fresh store's config
      Files.createDirectories(Paths.get(root))
      val tmp = Paths.get(root, "CONFIG.tmp")
      Files.write(tmp, cfgFp.getBytes)
      Files.move(tmp, configPath,
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Committed batch ids, ingest order (a compacted store lists its single
    * fold id). */
  def batches(): Seq[String] =
    if (!Files.exists(batchesPath)) Nil
    else Files.readAllLines(batchesPath).asScala.toSeq.filter(_.nonEmpty)

  private def writeBatches(all: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(root))
    val tmp = Paths.get(root, "BATCHES.tmp")
    Files.write(tmp, all.mkString("", "\n", "\n").getBytes)
    Files.move(tmp, batchesPath,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

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
    batches().find(id => !Files.exists(
      Paths.get(root, labelStage(id), "MANIFEST.json")))

  private def sigStage(id: String) = s"sigs_$id"
  private def bucketStage(id: String) = s"buckets_$id"
  private def labelStage(id: String) = s"labels_$id"

  /** Scan partitions of a many-stage union track the store's FILE count,
    * and a checkpoint or shuffle-free consumer inherits that layout — on a
    * 20-batch store that measured 1000+ near-empty tasks per consumer.
    * Coalesce (no shuffle) to the session's parallelism; bucketParts keeps
    * a floor matching the bucket table's partition fan-out. */
  private def unionParts: Int =
    math.max(spark.sparkContext.defaultParallelism, bucketParts)

  /** `capParts = true` is the DELTA-read layout fix above and is wrong for
    * corpus-sized reads: the compact() fold streams the ENTIRE stored sigs
    * relation through this read, and coalescing that to unionParts caps the
    * fold's read/write parallelism at a handful of oversized tasks on a
    * large store. Corpus-scale callers (compact, clusters) pass false and
    * keep the native one-partition-per-file layout. */
  /** Data paths of `stageNames`, zero-row stages skipped (their rows
    * contribute nothing, and a zero-row PARTITIONED stage's fallback file
    * has a different directory shape than its siblings — see
    * StageStore.committedRows). When every stage is empty the first path is
    * kept as the schema source. */
  private def dataPaths(stageNames: Seq[String]): Seq[String] = {
    val nonEmpty = stageNames.filter(n => store.committedRows(n).forall(_ > 0))
    (if (nonEmpty.nonEmpty) nonEmpty else stageNames.take(1))
      .map(n => s"$root/$n/data")
  }

  private def readSigs(ids: Seq[String],
      capParts: Boolean = true): Option[DataFrame] =
    if (ids.isEmpty) None
    else Some {
      // ONE multi-path read, not a per-stage unionByName fold (r7): stage
      // schemas are identical by construction (single pinned config), and
      // an N-branch union costs N scan subtrees in every plan that touches
      // the store — analysis/optimization time grew with batch count on
      // every delta read (driver gaps between the delta path's jobs).
      val df = spark.read.parquet(dataPaths(ids.map(sigStage)): _*)
      if (capParts) df.coalesce(unionParts) else df
    }

  /** Stored signatures restricted to `docIds` — the sigs stages are written
    * doc_id-sorted with a doc_id bloom filter (the same at-rest mechanism as
    * the index's term/vh stages), so a small key set pushes `doc_id IN
    * (...)` into every stage scan: row groups + bloom filters prune AT REST
    * and the read costs O(|docIds|), not O(stored corpus). Key sets past
    * `MaxSigIdPushdown` fall back to a semi-join (no driver-side giant
    * IN-literal, no codegen bloat) — still row-pruned before any wide-array
    * column ships, just without the at-rest scan skip. */
  private[dedup] def readSigsFor(ids: Seq[String], docIds: DataFrame): DataFrame =
    keyFiltered(readSigs(ids).get, "doc_id", docIds)

  /** `df` restricted to keyCol ∈ keys (a single-column relation): the keys
    * collect into an IN literal pushed to the parquet scans when few
    * (≤ MaxSigIdPushdown — row groups + bloom filters then prune at rest),
    * and degrade to a semi-join when many (no giant literal, no codegen
    * bloat — still row-pruned before any wide column ships). */
  private def keyFiltered(df: DataFrame, keyCol: String,
      keys: DataFrame): DataFrame = {
    val sample = graft.tables.JobLabel(spark, s"inc:keyprobe:$keyCol") {
      keys.limit(maxSigIdPushdown + 1).collect()
    }
    if (sample.length <= maxSigIdPushdown)
      df.where(col(keyCol).isin(sample.map(_.getLong(0)): _*))
    else {
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
      // actual runtime size. The bound probe is one cheap limit+count job
      // on the (narrow) key relation, paid only past the IN-pushdown cap.
      val bounded = keys.limit(IncrementalDedup.MaxBroadcastKeys + 1).count() <=
        IncrementalDedup.MaxBroadcastKeys
      val rhs = keys.toDF(keyCol)
      df.join(if (bounded) broadcast(rhs) else rhs, Seq(keyCol), "left_semi")
    }
  }

  private def readLabels(ids: Seq[String],
      capParts: Boolean = true): DataFrame =
    spark.read.parquet(dataPaths(ids.map(labelStage)): _*)
      .select("id", "comp") // one multi-path scan — see readSigs
      .transform(df => if (capParts) df.coalesce(unionParts) else df)

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

  /** The stored bucket relation of `ids`, read with a STATIC partition
    * filter on the touched bucket partitions — the filter is applied per
    * stage scan (before the union), so every scan prunes to the `bpt`
    * directories a new batch actually touches. */
  private[dedup] def prunedStoredBuckets(ids: Seq[String],
      touchedPts: Seq[Int]): DataFrame =
    // Stays a per-stage union (unlike readSigs/readLabels' multi-path
    // read): each bucket stage is its own hive-partitioned root, and Spark
    // rejects one partitioned read over multiple roots
    // (CONFLICTING_DIRECTORY_STRUCTURES — basePath can only name one).
    ids.map { id =>
      spark.read.parquet(s"$root/${bucketStage(id)}/data")
        .where(col("bpt").isin(touchedPts: _*))
        .select("pass", "bucket_key", "doc_id", "aux")
    }.reduce(_ unionByName _)
      // see unionParts — measured 800+ near-empty tasks per consumer
      // without it, on a 10-batch store
      .coalesce(unionParts)

  private def bptCol = pmod(col("bucket_key"), lit(bucketParts.toLong)).cast("int")

  /** Stores ingested before the partitioned bucket-table format have
    * sigs_/labels_ stages but no buckets_ stage; fail with a migration
    * message instead of a path-not-found mid-job. */
  private def requireBucketStages(ids: Seq[String]): Unit =
    ids.find(id => !Files.exists(
        Paths.get(root, bucketStage(id), "MANIFEST.json"))).foreach { old =>
      throw new IllegalStateException(
        s"batch '$old' predates the partitioned bucket-table store format " +
          "(no committed buckets stage) — re-ingest the corpus into a " +
          "fresh store root")
    }

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
        // Migration check BEFORE the BATCHES append: appending first would
        // wedge the list with a stage-less id whose 'resume' re-throws this.
        requireBucketStages(b)
        appendBatch(batchId); b
      }
    }
    requireBucketStages(prior)
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
    // The batch's bucket rows, appended as one partitioned stage: this is
    // the persisted form every later batch's touched-bucket read prunes.
    val bucketsNew = store.runStage(bucketStage(batchId), cfgFp,
      inputs = Seq(sigStage(batchId)), partitionCols = Seq("bpt")) {
      // Cluster by bpt before the partitioned write: without it every write
      // task emits a file into every bpt dir (tasks × 64 small files per
      // stage); clustered, a dir gets one file and the store's file count —
      // which bounds the scan fan-in of every later touched-bucket read —
      // stays at bucketParts per batch.
      DedupPipeline.bucketedAux(sigsNew, cfg).withColumn("bpt", bptCol)
        .repartition(bucketParts, col("bpt"))
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
          val e = Materialize(
            deltaEdges(prior, sigsNew, bucketsNew, releasables)
              .select("src", "dst"))
          releasables += e
          e
        }
        // Eagerly materialize the (delta-sized) CC input: runAuto's probe
        // and an over-bound batch's contraction both read it, and without
        // blocks each would rescan the label store.
        val ccInput = graft.tables.JobLabel(spark, "inc:relabelInputs") {
          val c = Materialize(
            relabelInputs(readLabels(prior), newEdges, releasables))
          releasables += c
          c
        }
        // runAuto: ccInput is delta-scoped AND materialized (blocks), so
        // the small-graph probe is a cheap block read and a small batch's
        // CC runs as a driver union-find after that one probe; a crawl-sized
        // batch falls back to the per-partition contraction of `run`.
        val out = graft.tables.JobLabel(spark, "inc:cc") {
          ConnectedComponents.runAuto(ccInput)
        }.select(col("id"), col("comp"))
        out
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
    val endpoints = newEdges.select(col("src").as("id"))
      .unionByName(newEdges.select(col("dst").as("id"))).distinct()
    // comps containing a new-edge endpoint: delta-bounded (≤ |endpoints|),
    // materialized once; both lookups push their key sets into the
    // comp-sorted + bloomed label scans via keyFiltered.
    val touchedComps = Materialize(
      keyFiltered(priorLabels, "id", endpoints).select("comp").distinct())
    releasables += touchedComps
    val touchedStars = keyFiltered(priorLabels, "comp", touchedComps)
      .where(col("id") =!= col("comp"))
      .select(col("id").as("src"), col("comp").as("dst"))
    newEdges.select("src", "dst").unionByName(touchedStars)
  }

  /** Verified edges involving at least one new document, under the batch
    * path's candidate and verify policy (DedupPipeline.bucketPairs with
    * the SimHash Hamming test inline, then DedupPipeline.verified). The
    * stored side is the persisted bucket table read with (1) a static
    * `bpt IN (touched)` partition filter — pruned at the scan — then (2) a
    * left-semi join on the exact (pass, bucket_key) key set of the new
    * batch; per-batch cost scales with the delta and its touched buckets,
    * not the corpus. Stored signatures are read ONLY for the MinHash
    * candidates' old endpoints (readSigsFor — doc_id pushdown against the
    * sorted + bloomed sigs stages), so no step of delta ingest scans the
    * stored corpus. `smallRowBound` is the driver-shape bound (see
    * DedupPipeline.pairsFromBucketsAuto). */
  private[dedup] def deltaEdges(priorIds: Seq[String],
      sigsNew: DataFrame, bucketsNew: DataFrame,
      releasables: scala.collection.mutable.Buffer[DataFrame] =
        scala.collection.mutable.ArrayBuffer.empty,
      smallRowBound: Int = DedupPipeline.SmallBucketRowBound): DataFrame = {
    import DedupPipeline.PassWinnow
    val bNew = bucketsNew.select("pass", "bucket_key", "doc_id", "aux", "bpt")
    // The new-key set materializes ONCE before the semi-join: Catalyst
    // pushes the semi-join below the stored-stage union, so an inline
    // aggregate subtree would be re-planned (scan + exchange + aggregate +
    // broadcast build) once PER STORED STAGE branch; as checkpoint blocks
    // the per-branch build is a block read and exchange reuse can kick in.
    // bpt rides along (pmod of bucket_key — deterministic, so the distinct
    // stays one row per (pass, bucket_key)): the touched-partition collect
    // below then reads these blocks instead of re-evaluating the new bucket
    // stage a second time (r7 — was a separate distinct+collect job).
    val newKeys = graft.tables.JobLabel(spark, "inc:newKeys") {
      Materialize(bNew.select("pass", "bucket_key", "bpt").distinct())
    }
    releasables += newKeys
    // The touched partition set is at most bucketParts values — a driver
    // scalar, now a tiny block-read aggregate over the materialized keys.
    val touchedPts = graft.tables.JobLabel(spark, "inc:touchedPts") {
      newKeys.select("bpt").distinct().collect().map(_.getInt(0)).toSeq
    }
    val touched = prunedStoredBuckets(priorIds, touchedPts)
      .join(newKeys.select("pass", "bucket_key"),
        Seq("pass", "bucket_key"), "left_semi")
    // Materialized: the driver probe below and, over its bound, the
    // distributed fallback both read this stream, whose lineage is a full
    // stored-bucket semi-join — the checkpoint is delta-sized (touched
    // buckets only).
    val stream = graft.tables.JobLabel(spark, "inc:touchedBuckets") {
      Materialize(touched.unionByName(
        bNew.select("pass", "bucket_key", "doc_id", "aux")))
    }
    releasables += stream
    // Candidate pairs, then "involves a new document" (old-old pairs in a
    // touched bucket were found when their docs arrived). Two shapes, as in
    // DedupPipeline.pairsFromBucketsAuto:
    //  - stream within the bound (the steady-state micro-batch): pairs
    //    enumerate in the driver and the filter is a set test on the new
    //    doc_ids — no Catalyst plan at all, where the distributed shape
    //    pays a bucket shuffle + distinct + a key filter plan (r7: the
    //    candidate step fell from 2.4 s / 7 jobs to one LocalTableScan).
    //    Every new doc that can be a pair endpoint has a row in the
    //    stream, so collecting the new rows' ids is bounded with it.
    //  - over-bound stream: the distributed generator, kept where either
    //    endpoint is new through keyFiltered (an IN filter for few ids, a
    //    bounded-broadcast semi-join for many).
    val newIds = sigsNew.select("doc_id")
    val localPairs = graft.tables.JobLabel(spark, "inc:candLocal") {
      DedupPipeline.pairsFromBucketsLocal(stream, cfg.smallCap,
        alwaysStarPass = PassWinnow, cfg.simhashMaxHamming, smallRowBound)
    }
    val candDelta = localPairs match {
      case Some(pairs) =>
        val ids = graft.tables.JobLabel(spark, "inc:newIdProbe") {
          bNew.select("doc_id").collect().map(_.getLong(0)).toSet
        }
        graft.tables.JobLabel(spark, "inc:candDelta") {
          DedupPipeline.localPairsDF(spark,
            pairs.filter(p => ids(p._2) || ids(p._3)))
        }
      case None => graft.tables.JobLabel(spark, "inc:candDelta") {
        val cand = Materialize(DedupPipeline.pairsFromBuckets(stream,
          cfg.smallCap, alwaysStarPass = PassWinnow, cfg.simhashMaxHamming))
        releasables += cand
        val m = Materialize(keyFiltered(cand, "src", newIds)
          .unionByName(keyFiltered(cand, "dst", newIds)).distinct())
        releasables += m
        m
      }
    }
    // Stored signatures are read ONLY for the MinHash candidates' old
    // endpoints (real near-dup collisions, typically well under the
    // pushdown cap, so the small key set prunes the wide shingle arrays at
    // rest); materialized once because the verify joins reference it twice
    // (src and dst side).
    DedupPipeline.verified(candDelta, cfg) { mh =>
      graft.tables.JobLabel(spark, "inc:endpointSigs:minhash") {
        val oldEnds = mh.select(col("src").as("doc_id"))
          .unionByName(mh.select(col("dst").as("doc_id")))
          .distinct()
          .join(newIds, Seq("doc_id"), "left_anti")
        val m = Materialize(readSigsFor(priorIds, oldEnds)
          .select("doc_id", "shingles")
          .unionByName(sigsNew.select("doc_id", "shingles")))
        releasables += m
        m
      }
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
    requireBucketStages(ids)
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
      inputs = ids.map(bucketStage), partitionCols = Seq("bpt")) {
      ids.map(id => spark.read.parquet(s"$root/${bucketStage(id)}/data")
          .select("pass", "bucket_key", "doc_id", "aux", "bpt"))
        .reduce(_ unionByName _)
        .repartition(bucketParts, col("bpt")) // one file per dir (see addBatch)
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
    ids.foreach { id =>
      Seq(sigStage(id), bucketStage(id), labelStage(id))
        .foreach(s => graft.tables.FsUtil.deleteRecursively(
          new java.io.File(s"$root/$s")))
    }
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
    ids.map(id => spark.read.parquet(s"$root/${bucketStage(id)}/data")
        .select("pass", "bucket_key", "doc_id"))
      .reduce(_ unionByName _)
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
  /** Default hive-partition fan-out of the persisted bucket table (see the
    * `bucketParts` constructor parameter — a store-creation choice pinned
    * in CONFIG). Sized so local test batches demonstrably prune; a
    * web-scale store passes its cluster parallelism (e.g. 4096). */
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
