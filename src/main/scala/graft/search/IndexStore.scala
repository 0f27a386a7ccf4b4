package graft.search

import graft.tables.StageStore
import graft.text.PipelineConfig
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths, StandardCopyOption}

/**
 * Durable search index — the reference's index lifecycle (append to
 * nxsterms.db / nxsdtmap.db under an atomic header publish, re-sync on open;
 * /root/reference/src/index/terms.c:155-414, dtmap.c:246-544) re-expressed
 * as committed StageStore tables:
 *
 *   postings   (doc_id, term, cnt, first_pos) — the doc-term map (S5)
 *   doc_stats  (doc_id, dl)                   — per-doc counters
 *   term_stats (term, term_id, df, total)     — the interned terms file (S3)
 *   index_stats(doc_count, token_count)       — the dtmap header counters
 *
 * Each table is parquet + an atomically-published manifest (StageStore), so
 * a killed build resumes at the first uncommitted stage, and reopening after
 * a crash — or from a different session — reads the committed tables without
 * touching the corpus: the relational analogue of the reference's mmap
 * re-sync. A pipeline-config change fingerprints differently and rebuilds;
 * stage lineage invalidates downstream tables automatically.
 */
object IndexStore {

  private def fp(cfg: PipelineConfig): String =
    s"lang=${cfg.lang}|filters=${cfg.filters.mkString(",")}|sw=${cfg.stopwordsEnabled}"

  // ---- persisted params ----------------------------------------------------
  //
  // The reference persists the filter/lang/algo params as a JSON doc next to
  // the index and opens WITH them (/root/reference/src/core/params.c:159-198,
  // nxs.c:253-287) — the index carries its own pipeline. params.json is that
  // file: written at build (and on an explicit rebuild with new params),
  // read by the no-config openIndex, and checked by the config-taking open
  // path, which ERRORS on a conflict instead of silently rebuilding.
  // The legacy in-process `custom` function field cannot round-trip through
  // a file; durable indexes must express custom filters as registry-named
  // `custom:<name>` filter entries (graft.text.CustomFilters).

  private def paramsPath(root: String) = Paths.get(root, "params.json")

  private def algoName(a: Searcher.Algo): String = a match {
    case Searcher.TfIdf => "tfidf"
    case _ => "bm25"
  }

  private def writeParams(root: String, cfg: PipelineConfig,
      algo: Searcher.Algo): Unit = {
    val json = Seq(
      "filters" -> cfg.filters.mkString(","),
      "lang" -> cfg.lang,
      "stopwords" -> cfg.stopwordsEnabled.toString,
      "algo" -> algoName(algo))
      .map { case (k, v) => s""""$k": "${graft.tables.FlatJson.escape(v)}"""" }
      .mkString("{\n  ", ",\n  ", "\n}")
    Files.createDirectories(Paths.get(root))
    val tmp = Paths.get(root, "params.json.tmp")
    Files.write(tmp, json.getBytes)
    Files.move(tmp, paramsPath(root),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** The persisted pipeline params + ranking algo, when the index has been
    * built — the reference's full params.db triple (filters, lang, algo;
    * /root/reference/src/core/params.c:159-198, nxs_impl.h:39-41). A
    * params.json written before the algo field defaults to BM25 (the
    * reference default). */
  def readParamsFull(root: String): Option[(PipelineConfig, Searcher.Algo)] = {
    val p = paramsPath(root)
    if (!Files.exists(p)) return None
    val s = new String(Files.readAllBytes(p))
    // same escaped-string shape as StageStore manifests; iterative parse
    // (a regex scrape overflows the stack on long values — see FlatJson)
    val m = graft.tables.FlatJson.parse(s)
    val cfg = PipelineConfig(
      filters = m.getOrElse("filters", "").split(',').toSeq.filter(_.nonEmpty),
      lang = m.getOrElse("lang", "en"),
      stopwordsEnabled = m.get("stopwords").forall(_.toBoolean))
    val algo = m.get("algo") match {
      case Some("tfidf") => Searcher.TfIdf
      case _ => Searcher.Bm25
    }
    Some((cfg, algo))
  }

  /** The persisted pipeline params, when the index has been built. */
  def readParams(root: String): Option[PipelineConfig] =
    readParamsFull(root).map(_._1)

  private def requireParamsMatch(root: String, cfg: PipelineConfig,
      algo: Option[Searcher.Algo] = None): Unit =
    readParamsFull(root).foreach { case (stored, storedAlgo) =>
      if (fp(stored) != fp(cfg))
        throw new IllegalArgumentException(
          s"index at $root was built with params [${fp(stored)}] but open " +
            s"was called with [${fp(cfg)}] — open with no config to adopt " +
            "the stored params, or use buildOrOpen to rebuild explicitly")
      algo.filter(_ != storedAlgo).foreach { a =>
        throw new IllegalArgumentException(
          s"index at $root was built with algo [${algoName(storedAlgo)}] " +
            s"but open was called with [${algoName(a)}] — open with no algo " +
            "to adopt the stored one, or rebuild via buildOrOpen")
      }
    }

  /** Compaction generation: base stages and the mutation log are scoped to
    * the generation in the GENERATION file (absent = 0). `compact` writes
    * the next generation's stages and atomically bumps the file — the
    * single commit point; stale stages/mutations of older generations are
    * invisible from then on and deleted best-effort. */
  private def generation(root: String): Int = {
    val p = Paths.get(root, "GENERATION")
    if (Files.exists(p)) new String(Files.readAllBytes(p)).trim.toInt else 0
  }

  private def stageName(base: String, gen: Int): String =
    if (gen == 0) base else s"$base@$gen"

  /** Build-or-resume the index under `root`. `docs` is only evaluated for
    * stages that are not already committed. `algo` pins the index's ranking
    * algo at build (persisted in params.json like the reference's
    * params.db); None adopts the stored algo (BM25 on a fresh build). An
    * explicit algo differing from the stored one updates params.json only —
    * the stage tables are algo-independent. */
  def buildOrOpen(docs: => org.apache.spark.sql.DataFrame, cfg: PipelineConfig,
      spark: SparkSession, root: String,
      algo: Option[Searcher.Algo] = None): SearchIndex =
    // Some(IndexDefault) means "whatever the index has" — identical to None
    // (persisting the sentinel itself would make scoreCol's resolution
    // circular and the conflict error nonsensical).
    buildOrOpenGen(docs, cfg, spark, root, generation(root),
      algo.filter(_ != Searcher.IndexDefault))

  private def fuzzyFpOf(f: String): String =
    s"$f|fuzzy=d${Searcher.FuzzyTolerance}l${Searcher.FuzzyMaxLen}"

  /** The fuzzy_variants stage write, shared by build and compact (see the
    * comment at its build-time call site). */
  private def runFuzzyStage(store: StageStore, name: String, f: String,
      termStatsStage: String, termStats: DataFrame): DataFrame =
    store.runStage(name, fuzzyFpOf(f), inputs = Seq(termStatsStage),
      sortCols = Seq("vh"), bloomCols = Seq("vh")) {
      termStats.select(
        explode(graft.functions.delete_variants(col("term"),
          Searcher.FuzzyTolerance, Searcher.FuzzyMaxLen)).as("vh"),
        col("term"), col("total"))
    }

  private def buildOrOpenGen(docs: => org.apache.spark.sql.DataFrame,
      cfg: PipelineConfig, spark: SparkSession, root: String,
      gen: Int, algoOpt: Option[Searcher.Algo] = None): SearchIndex = {
    require(cfg.custom.isEmpty,
      "durable indexes cannot persist an in-process custom function — " +
        "register it and use a 'custom:<name>' filter entry instead " +
        "(graft.text.CustomFilters)")
    // Persist (or explicitly update, on a deliberate rebuild-with-new-params)
    // the pipeline params before the stages: the reference's params.db write
    // at index create (params.c:159-198). A rebuild with DIFFERENT pipeline
    // params abandons the mutation log — its postings/term_ids were
    // tokenized under the old pipeline and replaying them onto the new base
    // would mix configs and collide term ids. The abandonment is by
    // VISIBILITY, not deletion: every mutation manifest carries the pipeline
    // fingerprint it was committed under (pfp) and replay only admits
    // entries matching the CURRENT params, so params.json is the single
    // atomic switch. A crash at any point leaves either the old params with
    // their mutations fully live, or the new params with the old-pipeline
    // mutations invisible-by-fingerprint — never a committed old-params
    // base silently missing its durable mutations. Stale mutation dirs are
    // physically deleted (best-effort) only after the new base commits.
    // An algo-only change updates params.json and nothing else — the stage
    // tables are algo-independent (the reference stores algo in params.db
    // but its index files don't depend on it).
    val storedFull = readParamsFull(root)
    // Migration BEFORE any params write: stamp pfp-less legacy mutation
    // manifests with the CURRENTLY-STORED params' fingerprint — the only
    // params they can have been committed under. Ordering matters: if this
    // ran after a params-changing writeParams, a crash between the write
    // and the post-commit mutation cleanup would leave legacy entries that
    // the grandfathering clause then replays onto the NEW-params base
    // (mixed configs). Stamping first makes the legacy store
    // indistinguishable from a new-format one for every later code path.
    storedFull.foreach(p => stampLegacyMutations(root, fp(p._1)))
    val pipelineChanged = !storedFull.map(p => fp(p._1)).contains(fp(cfg))
    val effAlgo = algoOpt.orElse(storedFull.map(_._2)).getOrElse(Searcher.Bm25)
    if (pipelineChanged || !storedFull.map(_._2).contains(effAlgo))
      writeParams(root, cfg, effAlgo)
    val store = new StageStore(spark, root)
    val f = fp(cfg)
    def n(b: String) = stageName(b, gen)
    // Before running anything: is this a fresh BUILD or a read-only OPEN of
    // committed stages? An open must not write into the index root.
    val building = !store.wouldResume(n("postings"), f)
    // Sort orders at rest (the Iceberg sort-order analogue): the search
    // path reads postings/term_stats with `term = ...` / `term IN (...)`
    // point predicates, so term-sorted row groups + a term bloom filter
    // prune the scan to the query's terms instead of reading the corpus.
    val postings = store.runStage(n("postings"), f,
      sortCols = Seq("term"), bloomCols = Seq("term")) {
      SearchIndex.postingsOf(docs, cfg)
    }
    // The two stage chains hanging off the committed postings are
    // independent — doc_stats → index_stats and term_stats (→ fuzzy, run
    // below on the same thread) — so they run as two concurrent driver
    // threads (guide §2.6: actions are only sequential because the driver
    // calls them sequentially; the second chain's tasks back-fill the
    // executor slots the first chain's tail leaves idle). Stage dirs and
    // manifests are disjoint; the shared _metrics append is serialized
    // inside StageStore.
    val docStatsChain = java.util.concurrent.CompletableFuture.supplyAsync(() => {
      val docStats = store.runStage(n("doc_stats"), f,
        inputs = Seq(n("postings"))) {
        SearchIndex.docStatsOf(postings)
      }
      val statsDf = store.runStage(n("index_stats"), f,
        inputs = Seq(n("doc_stats"))) {
        docStats.agg(count(lit(1)).as("doc_count"),
          coalesce(sum("dl"), lit(0L)).as("token_count"))
      }
      (docStats, statsDf)
    })
    val termStats =
      try store.runStage(n("term_stats"), f,
        inputs = Seq(n("postings")),
        sortCols = Seq("term"), bloomCols = Seq("term")) {
        SearchIndex.termStatsOf(postings)
      } catch { case e: Throwable =>
        // the sibling chain must not be left running against a root the
        // failed caller may clean up
        docStatsChain.cancel(true); throw e
      }
    // (docStatsChain is joined AFTER the fuzzy stage below, so the fuzzy
    // build overlaps the chain's tail as well.)
    // Symmetric-delete fuzzy index (the reference's BK-tree re-expressed as
    // an at-rest table, /root/reference/src/algo/bktree.c:160-275): one row
    // per (deletion-variant hash, term), vh-sorted so row groups span
    // narrow hash ranges (IN-predicate row-group pruning) with a bloom
    // filter for point probes. Built alongside a fresh build (and by
    // compact for each fold); the tolerance/length params are part of its
    // fingerprint — bumping either invalidates rather than silently
    // reusing a stale neighborhood. An OPEN of an index that lacks a
    // current fuzzy stage (pre-upgrade index, or params bumped) does NOT
    // write one — opens stay read-only; such opens fall back to on-the-fly
    // candidate derivation until the next build/compact.
    val fuzzy: Option[DataFrame] =
      try {
        if (building || store.wouldResume(n("fuzzy_variants"), fuzzyFpOf(f),
            Seq(n("term_stats"))))
          Some(runFuzzyStage(store, n("fuzzy_variants"), f, n("term_stats"),
            termStats))
        else None
      } catch { case e: Throwable => docStatsChain.cancel(true); throw e }
    val (docStats, statsDf) =
      try docStatsChain.join()
      catch { case e: java.util.concurrent.CompletionException =>
        throw Option(e.getCause).getOrElse(e)
      }
    // The new base is committed: stale-pipeline mutation dirs (already
    // invisible to replay via their pfp mismatch) can now be removed.
    if (pipelineChanged && storedFull.isDefined)
      graft.tables.FsUtil.deleteRecursively(
        new java.io.File(s"$root/mutations"))
    val stats = statsDf.collect()(0)
    SearchIndex(postings.drop("first_pos"), docStats, termStats,
      stats.getLong(0), stats.getLong(1), cfg, fuzzyVariants = fuzzy,
      algo = effAlgo)
  }

  // ---- durable mutations ---------------------------------------------------
  //
  // The reference persists BOTH sides of its mutation surface: document
  // delete appends a tombstone marker and zeroes the doc block in nxsdtmap.db
  // (/root/reference/src/index/dtmap.c:546-655), add appends term/doc blocks
  // (terms.c:155-314, dtmap.c:246-355), and every open re-syncs from the
  // files. Relationally that is an append-only MUTATION LOG next to the base
  // stage tables:
  //
  //   root/mutations/NNNN_add/postings   (doc_id, term, cnt, first_pos, _seq)
  //   root/mutations/NNNN_add/term_ids   (term, term_id)  — new terms only
  //   root/mutations/NNNN_remove/tombstones (doc_id, _seq)
  //
  // each directory committed by an atomically-moved MANIFEST marker (the
  // same publish discipline as StageStore): a crash mid-write leaves an
  // unmarked directory that the replay ignores and the next mutation with
  // that sequence number overwrites. `openIndex` replays the log over the
  // base tables; a postings generation is dead iff a LATER tombstone covers
  // its doc (so delete → re-add of the same id works), and term ids are
  // stable because new-term assignments are persisted at mutation time, not
  // re-derived at open.

  private def mutDir(root: String) = s"$root/mutations/gen_${generation(root)}"

  /** Stamp every committed pfp-less (pre-upgrade) mutation manifest in the
    * current generation with `pfp` — atomic per manifest, idempotent. */
  private def stampLegacyMutations(root: String, pfp: String): Unit = {
    val d = Paths.get(mutDir(root))
    if (!Files.isDirectory(d)) return
    val s = Files.list(d)
    val items = try s.toArray.toSeq.map(_.toString) finally s.close()
    items.foreach { p =>
      val mf = Paths.get(p, "MANIFEST")
      if (Files.exists(mf)) {
        val body = new String(Files.readAllBytes(mf))
        if (!body.contains("\"pfp\"")) {
          val stamped = body.stripSuffix("}") + s""","pfp":"$pfp"}"""
          val tmp = Paths.get(p, "MANIFEST.tmp")
          Files.write(tmp, stamped.getBytes)
          Files.move(tmp, mf, StandardCopyOption.ATOMIC_MOVE,
            StandardCopyOption.REPLACE_EXISTING)
        }
      }
    }
  }

  /** Committed mutations as (seq, kind, path), replay order. Only entries
    * whose manifest pipeline fingerprint matches `pfp` replay — a mutation
    * committed under different pipeline params is invisible (its postings
    * were tokenized under another config; see buildOrOpenGen's rebuild
    * discipline). A manifest WITHOUT a pfp field (written before the field
    * existed) is grandfathered as matching — such entries can only exist
    * under the currently-stored params, and buildOrOpenGen stamps them with
    * that fingerprint (stampLegacyMutations) before ANY params change can
    * happen, so the grandfathering clause is only ever exercised for reads
    * that precede the first post-upgrade open of the store. */
  private def listMutations(root: String, pfp: String): Seq[(Int, String, String)] = {
    val d = Paths.get(mutDir(root))
    if (!Files.isDirectory(d)) return Nil
    // Files.list holds a directory fd until closed — this runs on every
    // openIndex/addDocs/removeDocs, so a leak here exhausts fds in a
    // long-running driver.
    val s = Files.list(d)
    val items = try s.toArray.toSeq.map(_.toString) finally s.close()
    items.flatMap { p =>
      val name = Paths.get(p).getFileName.toString
      val mf = Paths.get(p, "MANIFEST")
      name.split("_", 2) match {
        case Array(seq, kind) if Files.exists(mf) =>
          val stamped = graft.tables.FlatJson
            .parse(new String(Files.readAllBytes(mf))).get("pfp")
          if (stamped.forall(_ == pfp)) Some((seq.toInt, kind, p)) else None
        case _ => None
      }
    }.sortBy(_._1)
  }

  /** Next mutation sequence number — computed over EVERY committed entry
    * regardless of pfp, so a new mutation can never reuse (and its
    * SaveMode.Overwrite physically destroy) the directory of an entry that
    * is merely invisible to the current params. */
  private def nextSeq(root: String): Int = {
    val d = Paths.get(mutDir(root))
    if (!Files.isDirectory(d)) return 1
    val s = Files.list(d)
    val items = try s.toArray.toSeq.map(_.toString) finally s.close()
    val seqs = items.flatMap { p =>
      Paths.get(p).getFileName.toString.split("_", 2) match {
        case Array(seq, _) if seq.forall(_.isDigit) => Some(seq.toInt)
        case _ => None
      }
    }
    (seqs :+ 0).max + 1
  }

  /** Write `tables` under an uncommitted mutation dir, then publish it with
    * one atomic MANIFEST move (stamped with the pipeline fingerprint the
    * mutation was tokenized under). */
  private def commitMutation(root: String, seq: Int, kind: String, pfp: String,
      tables: Seq[(String, DataFrame)]): Unit = {
    val dir = s"${mutDir(root)}/${f"$seq%04d"}_$kind"
    tables.foreach { case (name, df) =>
      df.write.mode(SaveMode.Overwrite).parquet(s"$dir/$name")
    }
    val tmp = Paths.get(dir, "MANIFEST.tmp")
    Files.createDirectories(Paths.get(dir))
    Files.write(tmp, s"""{"seq":$seq,"kind":"$kind","pfp":"$pfp"}""".getBytes)
    Files.move(tmp, Paths.get(dir, "MANIFEST"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Open the index with the mutation log replayed — the durable analogue of
    * the reference's open-time dtmap/terms sync. `docs` is only evaluated if
    * the BASE stages are uncommitted (first build). Open-time cost is one
    * anti-join of the postings against the (broadcast) tombstone set plus
    * the doc/term stat aggregations over the live postings. */
  def openIndex(docs: => DataFrame, cfg: PipelineConfig,
      spark: SparkSession, root: String,
      asCompactState: Boolean = false,
      algo: Option[Searcher.Algo] = None): SearchIndex = {
    // Open-with-params semantics (nxs.c:253-287): opening an existing index
    // with CONFLICTING params — pipeline OR algo — is an error, never a
    // silent rebuild/rescore; a rebuild here would additionally orphan the
    // mutation log's term ids. (Some(IndexDefault) ≡ None, as in buildOrOpen.)
    val algoReq = algo.filter(_ != Searcher.IndexDefault)
    requireParamsMatch(root, cfg, algoReq)
    // Forward the algo: on a FIRST build through this entry point the
    // caller's pin must reach params.json (requireParamsMatch was a no-op).
    val base = buildOrOpen(docs, cfg, spark, root, algoReq)
    val muts = listMutations(root, fp(cfg))
    if (muts.isEmpty) return base

    val gen = generation(root)
    val basePostings = spark.read
      .parquet(s"$root/${stageName("postings", gen)}/data")
      .withColumn("_seq", lit(0))
    val addPostings = muts.collect { case (seq, "add", p) =>
      spark.read.parquet(s"$p/postings").withColumn("_seq", lit(seq))
    }
    val tombs = muts.collect { case (seq, "remove", p) =>
      spark.read.parquet(s"$p/tombstones").withColumn("_seq", lit(seq))
    }
    val postingsAll = (basePostings +: addPostings).reduce(_ unionByName _)
    // A generation (doc_id, _seq=a) is dead iff some tombstone (doc_id, s)
    // has s > a. Tombstone sets are tiny next to the corpus — broadcast.
    val live =
      if (tombs.isEmpty) postingsAll
      else {
        val t = tombs.reduce(_ unionByName _)
          .select(col("doc_id").as("_t_doc"), col("_seq").as("_t_seq"))
        postingsAll.join(broadcast(t),
          col("doc_id") === col("_t_doc") && col("_t_seq") > col("_seq"),
          "left_anti")
      }
    val docStats = live.groupBy("doc_id").agg(sum("cnt").as("dl"))
    // Interning: base dictionary ∪ persisted per-mutation new-term ids.
    // df/total are recomputed from the live postings; fully-deleted terms
    // stay interned at df=0 (reference semantics — ids never reused).
    val interning = (base.termStats.select("term", "term_id") +:
      muts.collect { case (_, "add", p) =>
        spark.read.parquet(s"$p/term_ids").select("term", "term_id")
      }).reduce(_ unionByName _)
    val termAgg = live.groupBy("term")
      .agg(count(lit(1)).as("df"), sum("cnt").as("total"))
    val termStats = interning
      .join(termAgg, Seq("term"), "left")
      .select(col("term"), col("term_id"),
        coalesce(col("df"), lit(0L)).as("df"),
        coalesce(col("total"), lit(0L)).as("total"))
    val c = docStats.agg(count(lit(1)), coalesce(sum("dl"), lit(0L))).collect()(0)
    if (asCompactState)
      return SearchIndex(live.drop("_seq"), docStats, termStats,
        c.getLong(0), c.getLong(1), cfg, algo = base.algo)
    SearchIndex(live.drop("first_pos", "_seq"), docStats, termStats,
      c.getLong(0), c.getLong(1), cfg, algo = base.algo)
  }

  /** Open a built index with its PERSISTED params — no config supplied, the
    * index's own params.json decides the pipeline (the reference's default
    * open path). Fails when `root` has never been built. */
  def openIndex(spark: SparkSession, root: String): SearchIndex = {
    val cfg = readParams(root).getOrElse(throw new IllegalStateException(
      s"no params.json under $root — not a built index"))
    openIndex(
      sys.error(s"index at $root has params.json but no committed stages — " +
        "rebuild with buildOrOpen"): DataFrame,
      cfg, spark, root)
  }

  /** Fold the mutation log into fresh base stages — the analogue of the
    * reference rewriting its db files rather than growing the append log
    * forever. Writes the NEXT generation's four stages from the replayed
    * live view (postings keep first_pos; term_stats keeps every interned
    * id, df=0 rows included, so ids stay stable), then atomically publishes
    * the GENERATION file — the single commit point. A crash before the
    * bump leaves the old generation + mutation log fully intact (the new
    * stages are invisible orphans, overwritten by the next compact); after
    * the bump the fold is visible and the old generation's dirs are
    * deleted best-effort. Open cost returns to a plain committed read. */
  def compact(docs: => DataFrame, cfg: PipelineConfig,
      spark: SparkSession, root: String): SearchIndex = {
    val gen = generation(root)
    if (listMutations(root, fp(cfg)).isEmpty)
      return openIndex(docs, cfg, spark, root)
    val state = openIndex(docs, cfg, spark, root, asCompactState = true)
    val store = new StageStore(spark, root)
    val f = fp(cfg)
    val next = gen + 1
    def n(b: String) = stageName(b, next)
    // A compact that crashed before the GENERATION bump leaves committed
    // orphan stages at gen+1 that may predate later mutations; they are
    // invisible (gen never bumped), so delete them rather than letting the
    // fingerprint check reuse a stale fold.
    Seq("postings", "doc_stats", "term_stats", "index_stats",
      "fuzzy_variants")
      .foreach(b => graft.tables.FsUtil.deleteRecursively(new java.io.File(s"$root/${n(b)}")))
    store.runStage(n("postings"), f,
      sortCols = Seq("term"), bloomCols = Seq("term")) { state.postings }
    store.runStage(n("doc_stats"), f, inputs = Seq(n("postings"))) {
      state.docStats
    }
    store.runStage(n("term_stats"), f, inputs = Seq(n("postings")),
      sortCols = Seq("term"), bloomCols = Seq("term")) {
      state.termStats
    }
    store.runStage(n("index_stats"), f, inputs = Seq(n("doc_stats"))) {
      state.docStats.agg(count(lit(1)).as("doc_count"),
        coalesce(sum("dl"), lit(0L)).as("token_count"))
    }
    // the fold's fuzzy index (compact is a build — opens never write it)
    runFuzzyStage(store, n("fuzzy_variants"), f, n("term_stats"),
      spark.read.parquet(s"$root/${n("term_stats")}/data"))
    // commit point
    val tmp = Paths.get(root, "GENERATION.tmp")
    Files.write(tmp, next.toString.getBytes)
    Files.move(tmp, Paths.get(root, "GENERATION"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    // best-effort cleanup of the superseded generation
    graft.tables.FsUtil.deleteRecursively(new java.io.File(s"$root/mutations/gen_$gen"))
    Seq("postings", "doc_stats", "term_stats", "index_stats",
      "fuzzy_variants")
      .foreach(b => graft.tables.FsUtil.deleteRecursively(new java.io.File(s"$root/${stageName(b, gen)}")))
    openIndex(docs, cfg, spark, root)
  }

  /** Destroy a built index — the reference's nxs_index_destroy
    * (/root/reference/src/core/nxs.c:303-345): refuses to touch a directory
    * that is not an index (no params.json), then removes only the artifacts
    * the store recognizes (params, generation marker, stage dirs incl.
    * every generation's, mutation log, metrics) and finally the root if
    * empty — an unrelated file someone put there survives and keeps the
    * directory, like the reference's failing rmdir. */
  def destroy(root: String): Unit = {
    if (!Files.exists(paramsPath(root)))
      throw new IllegalStateException(
        s"$root is not a built index (no params.json) — refusing to delete")
    val stageBases = Seq("postings", "doc_stats", "term_stats", "index_stats",
      "fuzzy_variants")
    val owned = Files.list(Paths.get(root))
    val names = try owned.toArray.toSeq.map(_.toString)
      .map(p => Paths.get(p).getFileName.toString) finally owned.close()
    names.foreach { name =>
      val isStage = stageBases.exists(b => name == b || name.startsWith(s"$b@"))
      if (isStage || name == "mutations" || name == "_metrics" ||
          name == "stage_metrics.jsonl")
        graft.tables.FsUtil.deleteRecursively(new java.io.File(root, name))
    }
    // our own crash leftovers (a .tmp beside an otherwise-complete index)
    // are recognized artifacts too
    Files.deleteIfExists(Paths.get(root, "GENERATION"))
    Files.deleteIfExists(Paths.get(root, "GENERATION.tmp"))
    Files.deleteIfExists(Paths.get(root, "params.json.tmp"))
    Files.deleteIfExists(paramsPath(root))
    try Files.deleteIfExists(Paths.get(root)): Unit
    catch { case _: java.nio.file.DirectoryNotEmptyException => } // foreign files stay
  }

  /** Durable add: tokenizes `newDocs(doc_id, text)`, rejects ids that are
    * currently live (nxs_index_add duplicate-id error, nxs.c:498-511),
    * assigns the new terms their next dense ids, and COMMITS the postings
    * delta + id assignments before returning the refreshed index. */
  def addDocs(docs: => DataFrame, cfg: PipelineConfig, spark: SparkSession,
      root: String, newDocs: DataFrame): SearchIndex = {
    val cur = openIndex(docs, cfg, spark, root)
    val fresh = newDocs.join(cur.docStats.select("doc_id"), Seq("doc_id"), "left_anti")
    val deltaPost = SearchIndex.postingsOf(fresh, cfg)
    val maxId = cur.termStats.agg(coalesce(max("term_id"), lit(0L)))
      .collect()(0).getLong(0)
    val newTerms = SearchIndex.termStatsOf(deltaPost)
      .join(cur.termStats.select("term"), Seq("term"), "left_anti")
      .select(col("term"), col("term_id").as("delta_id"))
    val newIds = SearchIndex.withDenseIds(newTerms, Seq("delta_id"), "rk", base = maxId)
      .select(col("term"), (lit(maxId) + col("rk")).as("term_id"))
    commitMutation(root, nextSeq(root), "add", fp(cfg),
      Seq("postings" -> deltaPost, "term_ids" -> newIds))
    openIndex(docs, cfg, spark, root)
  }

  /** Durable delete: commits the tombstone set (the reference's `(doc_id,0)`
    * marker append, dtmap.c:546-655), then returns the refreshed index. */
  def removeDocs(docs: => DataFrame, cfg: PipelineConfig, spark: SparkSession,
      root: String, tombstones: DataFrame): SearchIndex = {
    // validate BEFORE the durable commit — a rejected call must not have
    // already published tombstones (addDocs validates via its open too)
    requireParamsMatch(root, cfg)
    commitMutation(root, nextSeq(root), "remove", fp(cfg),
      Seq("tombstones" -> tombstones.select("doc_id").distinct()))
    openIndex(docs, cfg, spark, root)
  }
}
