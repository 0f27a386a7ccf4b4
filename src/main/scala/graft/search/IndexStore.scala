package graft.search

import graft.tables.{FlatJson, FsUtil, JobLabel, StageStore}
import graft.text.PipelineConfig
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Durable search index — the reference's index lifecycle (append to
 * nxsterms.db / nxsdtmap.db under an atomic header publish, re-sync on open;
 * /root/reference/src/index/terms.c:155-414, dtmap.c:246-544) re-expressed
 * as committed StageStore tables:
 *
 *   postings   (doc_id, term, dl, cnt, first_pos) — the doc-term map (S5);
 *              dl, the doc's length, rides on each of its rows
 *   term_stats (term, term_id, df, total)     — the interned terms file (S3)
 *   fuzzy_variants (vh, term, total, df)      — the fuzzy-resolve table
 *   index_stats(doc_count, token_count)       — the dtmap header counters,
 *              one aggregate over postings; committed last
 *
 * Each table is parquet + an atomically-published manifest (StageStore),
 * written in the order above (`writeGeneration`), so a killed build resumes
 * at the first uncommitted stage. There is one open, `buildOrOpen`: params
 * switch → `writeGeneration` (read-only when the generation is committed)
 * → replay of the mutation log. Every open therefore sees every committed
 * add and remove — reopening after a crash, or from a different session,
 * reads the committed tables without touching the corpus: the relational
 * analogue of the reference's mmap re-sync (nxs_index_open). With an empty
 * log the open is the committed base relations. A pipeline-config change
 * fingerprints differently and rebuilds; stage lineage invalidates
 * downstream tables automatically. The layout is pinned in params.json
 * (`PostingsFormat`); a root written in another layout refuses to open or
 * build in place.
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
  // read by the no-config openIndex, and checked by the config-taking
  // openIndex, which ERRORS on a conflict instead of silently rebuilding.
  // A user filter persists as its registry name, a `custom:<name>` filter
  // entry (graft.text.CustomFilters).

  private def paramsPath(root: String) = s"$root/params.json"

  private def algoName(a: Searcher.Algo): String = a match {
    case Searcher.TfIdf => "tfidf"
    case _ => "bm25"
  }

  /** The on-disk layout, pinned in params.json ("format"): postings rows
    * carry their doc's `dl`, and there is no per-doc stage (`doc_stats`,
    * which the `postings=dl` layout still wrote). A root without this value
    * was written in another layout. There is no reader for another layout,
    * and rebuilding in place would hide the root's mutation log (its
    * entries carry the pipeline fingerprint, not the layout), so every
    * entry point that reads params refuses such a root; `destroy` still
    * removes it. */
  private val PostingsFormat = "postings=dl;no-doc_stats"

  private def writeParams(root: String, cfg: PipelineConfig,
      algo: Searcher.Algo): Unit =
    FsUtil.publish(paramsPath(root), FlatJson.render(Seq(
      "filters" -> cfg.filters.mkString(","),
      "lang" -> cfg.lang,
      "stopwords" -> cfg.stopwordsEnabled.toString,
      "algo" -> algoName(algo),
      "format" -> PostingsFormat)))

  /** The persisted pipeline params + ranking algo, when the index has been
    * built — the reference's full params.db triple (filters, lang, algo;
    * /root/reference/src/core/params.c:159-198, nxs_impl.h:39-41). A
    * params.json written before the algo field defaults to BM25 (the
    * reference default). Throws when the root's postings layout is not
    * `PostingsFormat`. */
  def readParamsFull(root: String): Option[(PipelineConfig, Searcher.Algo)] =
    FsUtil.read(paramsPath(root)).map(FlatJson.parse).map { m =>
      if (!m.get("format").contains(PostingsFormat))
        throw new IllegalStateException(
          s"index at $root has postings format " +
            s"[${m.getOrElse("format", "none")}], not [$PostingsFormat] — " +
            "rebuild the index into a fresh root")
      val cfg = PipelineConfig(
        filters = m.getOrElse("filters", "").split(',').toSeq.filter(_.nonEmpty),
        lang = m.getOrElse("lang", "en"),
        stopwordsEnabled = m.get("stopwords").forall(_.toBoolean))
      val algo = m.get("algo") match {
        case Some("tfidf") => Searcher.TfIdf
        case _ => Searcher.Bm25
      }
      (cfg, algo)
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
  private def generation(root: String): Int =
    FsUtil.read(s"$root/GENERATION").fold(0)(_.trim.toInt)

  private def stageName(base: String, gen: Int): String =
    if (gen == 0) base else s"$base@$gen"

  /** The index's stage bases; each generation's stages carry `@<gen>`. */
  private val StageBases = Seq("postings", "term_stats", "fuzzy_variants",
    "index_stats")

  /** An opened generation before its counters reach the driver: postings
    * (doc_id, term, dl, cnt, first_pos) keep the first_pos a compact writes
    * back, `counters` is the one-row `countersOf` relation, and `fuzzy` the
    * at-rest variant stage when it matches the dictionary. */
  private final case class View(postings: DataFrame, termStats: DataFrame,
      counters: DataFrame, fuzzy: Option[DataFrame])

  private def toIndex(v: View, cfg: PipelineConfig,
      algo: Searcher.Algo): SearchIndex = {
    val (docCount, tokenCount) = JobLabel(v.counters.sparkSession,
      "search:open")(SearchIndex.collectCounters(v.counters))
    SearchIndex(v.postings.drop("first_pos"), v.termStats, docCount,
      tokenCount, cfg, fuzzyVariants = v.fuzzy, algo = algo)
  }

  /** Build-or-resume the index under `root` and open it with the mutation
    * log replayed — the one open every entry point goes through. `docs` is
    * only evaluated for stages that are not already committed. `algo` pins
    * the index's ranking algo at build (persisted in params.json like the
    * reference's params.db); None adopts the stored algo (BM25 on a fresh
    * build). An explicit algo differing from the stored one updates
    * params.json only — the stage tables are algo-independent. */
  def buildOrOpen(docs: => DataFrame, cfg: PipelineConfig,
      spark: SparkSession, root: String,
      algo: Option[Searcher.Algo] = None): SearchIndex = {
    val (v, a) = open(docs, cfg, spark, root, algo)
    toIndex(v, cfg, a)
  }

  private def open(docs: => DataFrame, cfg: PipelineConfig,
      spark: SparkSession, root: String,
      algo: Option[Searcher.Algo]): (View, Searcher.Algo) = {
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
    val pipelineChanged = !storedFull.map(p => fp(p._1)).contains(fp(cfg))
    val effAlgo = algo.orElse(storedFull.map(_._2)).getOrElse(Searcher.Bm25)
    if (pipelineChanged || !storedFull.map(_._2).contains(effAlgo))
      writeParams(root, cfg, effAlgo)
    val base = writeGeneration(new StageStore(spark, root), generation(root),
      cfg)(SearchIndex.postingsOf(docs, cfg))(SearchIndex.termStatsOf)
    // The new base is committed: stale-pipeline mutation dirs (already
    // invisible to replay via their pfp mismatch) can now be removed.
    if (pipelineChanged && storedFull.isDefined)
      FsUtil.delete(s"$root/mutations")
    (replay(spark, root, cfg, base), effAlgo)
  }

  /** Writes (or resumes) generation `gen`'s stages in commit order —
    * postings → term_stats → fuzzy_variants → index_stats — and returns
    * the view they hold. Build and compact differ only in the inputs:
    * `postings` (doc_id, term, dl, cnt, first_pos), and `termStats`, given
    * the committed postings (a build interns them afresh, a compact keeps
    * the ids it already has).
    *
    * index_stats is the generation's last commit, so a generation whose
    * index_stats is committed is complete and opens READ-ONLY; otherwise
    * this is a build (fresh, or resumed after a failure at any earlier
    * stage) and writes every missing stage. */
  private def writeGeneration(store: StageStore, gen: Int, cfg: PipelineConfig)(
      postings: => DataFrame)(termStats: DataFrame => DataFrame): View = {
    val f = fp(cfg)
    def n(b: String) = stageName(b, gen)
    val building = !store.wouldResume(n("index_stats"), f, Seq(n("postings")))
    // Sort orders at rest (the Iceberg sort-order analogue): the search
    // path reads postings/term_stats with `term = ...` / `term IN (...)`
    // point predicates, so term-sorted row groups + a term bloom filter
    // prune the scan to the query's terms instead of reading the corpus.
    val post = store.runStage(n("postings"), f,
      sortCols = Seq("term"), bloomCols = Seq("term")) { postings }
    val terms = store.runStage(n("term_stats"), f,
      inputs = Seq(n("postings")),
      sortCols = Seq("term"), bloomCols = Seq("term")) { termStats(post) }
    // Symmetric-delete fuzzy index (the reference's BK-tree re-expressed as
    // an at-rest table, src/algo/bktree.c:160-275): one row per
    // (deletion-variant hash, term) with the term's total and df, so a
    // query's one resolve collect reads both; vh-sorted so row groups span
    // narrow hash ranges (IN-predicate row-group pruning) with a bloom
    // filter for point probes. The tolerance/length params are part of its
    // fingerprint — bumping either invalidates rather than silently
    // reusing a stale neighborhood. An OPEN of a generation that lacks a
    // current fuzzy stage (params bumped) does NOT write one — opens stay
    // read-only; such opens fuzzy-resolve over variant rows derived from
    // term_stats until the next build/compact.
    val fuzzyFp =
      s"$f|fuzzy=d${Searcher.FuzzyTolerance}l${Searcher.FuzzyMaxLen}|cols=df"
    val fuzzy =
      if (building || store.wouldResume(n("fuzzy_variants"), fuzzyFp,
          Seq(n("term_stats"))))
        Some(store.runStage(n("fuzzy_variants"), fuzzyFp,
          inputs = Seq(n("term_stats")),
          sortCols = Seq("vh"), bloomCols = Seq("vh")) {
          Searcher.variantRows(terms)
        })
      else None
    val stats = store.runStage(n("index_stats"), f,
      inputs = Seq(n("postings"))) { SearchIndex.countersOf(post) }
    View(post, terms, stats, fuzzy)
  }

  // ---- durable mutations ---------------------------------------------------
  //
  // The reference persists BOTH sides of its mutation surface: document
  // delete appends a tombstone marker and zeroes the doc block in nxsdtmap.db
  // (src/index/dtmap.c:546-655), add appends term/doc blocks
  // (terms.c:155-314, dtmap.c:246-355), and every open re-syncs from the
  // files. Relationally that is an append-only MUTATION LOG next to the base
  // stage tables, scoped to the current compaction generation:
  //
  //   root/mutations/gen_G/NNNN_add/postings   (doc_id, term, dl, cnt, first_pos)
  //   root/mutations/gen_G/NNNN_add/term_ids   (term, term_id) — new terms only
  //   root/mutations/gen_G/NNNN_remove/tombstones (doc_id)
  //
  // Each directory is committed by its MANIFEST, published through
  // FsUtil.publish like every other commit point of the stores; the
  // manifest carries the pipeline fingerprint (`pfp`) the mutation was
  // tokenized under and each table's schema (`schema_json:<table>`, a stage
  // manifest's `schema_json` per table), read through the same
  // `StageStore.readParquet`, so replay plans its reads without Spark's
  // schema-inference job; a manifest without them reads by inference. A
  // crash mid-write leaves an unmarked directory: replay ignores it, and
  // the next mutation takes its sequence number (and overwrites it when of
  // the same kind). Every open replays the log over the base tables
  // (`replay`); a postings generation is dead iff a LATER tombstone covers
  // its doc (so delete → re-add of the same id works), and term ids are
  // stable because new-term assignments are persisted at mutation time, not
  // re-derived at open. This is the only mutation path: add and remove are
  // durable.

  private def mutDir(root: String) = s"$root/mutations/gen_${generation(root)}"

  /** A committed mutation: sequence number, kind, directory, manifest. */
  private final case class Mutation(seq: Int, kind: String, path: String,
      manifest: Map[String, String])

  /** Committed mutations of the current generation, replay order. */
  private def committedMutations(root: String): Seq[Mutation] = {
    val d = mutDir(root)
    FsUtil.list(d).flatMap { name =>
      name.split("_", 2) match {
        case Array(seq, kind) if seq.nonEmpty && seq.forall(_.isDigit) =>
          FsUtil.read(s"$d/$name/MANIFEST")
            .map(m => Mutation(seq.toInt, kind, s"$d/$name", FlatJson.parse(m)))
        case _ => None
      }
    }.sortBy(_.seq)
  }

  /** Committed mutations, replay order. Only entries whose manifest
    * pipeline fingerprint matches `pfp` replay — a mutation committed under
    * different pipeline params is invisible (its postings were tokenized
    * under another config; see `open`'s rebuild discipline). A manifest
    * without a `pfp` field predates the field; its params are unknown, so
    * the open refuses it rather than guess (replay could mix configs,
    * hiding it would lose the mutation). */
  private def listMutations(root: String, pfp: String): Seq[Mutation] =
    committedMutations(root).filter(m => m.manifest.getOrElse("pfp",
      throw new IllegalStateException(s"mutation ${m.path} has no pipeline " +
        "fingerprint (pfp): it predates the fingerprinted log — rebuild " +
        "the index into a fresh root")) == pfp)

  /** Next mutation sequence number — computed over EVERY committed entry
    * regardless of pfp, so a new mutation can never reuse (and its
    * SaveMode.Overwrite physically destroy) the directory of an entry that
    * is merely invisible to the current params. */
  private def nextSeq(root: String): Int =
    (committedMutations(root).map(_.seq) :+ 0).max + 1

  /** Write `tables` under an uncommitted mutation dir, then commit it by
    * publishing its MANIFEST (stamped with the pipeline fingerprint the
    * mutation was tokenized under and each table's schema). */
  private def commitMutation(root: String, seq: Int, kind: String, pfp: String,
      tables: Seq[(String, DataFrame)]): Unit = {
    val dir = s"${mutDir(root)}/${f"$seq%04d"}_$kind"
    tables.foreach { case (name, df) =>
      df.write.mode(SaveMode.Overwrite).parquet(s"$dir/$name")
    }
    FsUtil.publish(s"$dir/MANIFEST", FlatJson.render(Seq(
      "seq" -> seq.toString, "kind" -> kind, "pfp" -> pfp) ++
      tables.map { case (name, df) => s"schema_json:$name" -> df.schema.json }))
  }

  /** Table `name` of mutation `m`, read with the schema its manifest
    * records. */
  private def readMutation(spark: SparkSession, m: Mutation,
      name: String): DataFrame =
    StageStore.readParquet(spark, Seq(s"${m.path}/$name"),
      m.manifest.get(s"schema_json:$name"))

  /** `base` with the mutation log replayed — the durable analogue of the
    * reference's open-time dtmap/terms sync. An empty log returns `base`
    * itself. Otherwise the cost is one anti-join of the postings against
    * the (broadcast) tombstone set plus the term stats and counters
    * aggregations over the live postings; the at-rest fuzzy stage no longer
    * matches the dictionary and is left out. */
  private def replay(spark: SparkSession, root: String, cfg: PipelineConfig,
      base: View): View = {
    val muts = listMutations(root, fp(cfg))
    if (muts.isEmpty) return base
    val adds = muts.filter(_.kind == "add")
    val postingsAll = (base.postings.withColumn("_seq", lit(0)) +:
      adds.map(m => readMutation(spark, m, "postings")
        .withColumn("_seq", lit(m.seq)))).reduce(_ unionByName _)
    val tombs = muts.filter(_.kind == "remove").map(m =>
      readMutation(spark, m, "tombstones").withColumn("_seq", lit(m.seq)))
    // A generation (doc_id, _seq=a) is dead iff some tombstone (doc_id, s)
    // has s > a. Tombstone sets are tiny next to the corpus — broadcast.
    val live =
      (if (tombs.isEmpty) postingsAll
      else {
        val t = tombs.reduce(_ unionByName _)
          .select(col("doc_id").as("_t_doc"), col("_seq").as("_t_seq"))
        postingsAll.join(broadcast(t),
          col("doc_id") === col("_t_doc") && col("_t_seq") > col("_seq"),
          "left_anti")
      }).drop("_seq")
    // Interning: base dictionary ∪ persisted per-mutation new-term ids.
    // df/total are recomputed from the live postings; fully-deleted terms
    // stay interned at df=0 (reference semantics — ids never reused).
    val interning = (base.termStats.select("term", "term_id") +:
      adds.map(m => readMutation(spark, m, "term_ids")
        .select("term", "term_id"))).reduce(_ unionByName _)
    val termAgg = live.groupBy("term")
      .agg(count(lit(1)).as("df"), sum("cnt").as("total"))
    val termStats = interning
      .join(termAgg, Seq("term"), "left")
      .select(col("term"), col("term_id"),
        coalesce(col("df"), lit(0L)).as("df"),
        coalesce(col("total"), lit(0L)).as("total"))
    View(live, termStats, SearchIndex.countersOf(live), fuzzy = None)
  }

  /** Open with the caller's params (`buildOrOpen`) after checking them
    * against the stored ones. `docs` is only evaluated if the BASE stages
    * are uncommitted (first build). */
  def openIndex(docs: => DataFrame, cfg: PipelineConfig,
      spark: SparkSession, root: String,
      algo: Option[Searcher.Algo] = None): SearchIndex = {
    // Open-with-params semantics (nxs.c:253-287): opening an existing index
    // with CONFLICTING params — pipeline OR algo — is an error, never a
    // silent rebuild/rescore; a rebuild here would additionally orphan the
    // mutation log's term ids.
    requireParamsMatch(root, cfg, algo)
    // Forward the algo: on a FIRST build through this entry point the
    // caller's pin must reach params.json (requireParamsMatch was a no-op).
    buildOrOpen(docs, cfg, spark, root, algo)
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
    * forever. Writes the NEXT generation's stages from the replayed
    * live view (postings keep first_pos; term_stats keeps every interned
    * id, df=0 rows included, so ids stay stable), then atomically publishes
    * the GENERATION file — the single commit point. A crash before the
    * bump leaves the old generation + mutation log fully intact (the new
    * stages are invisible orphans, overwritten by the next compact); after
    * the bump the fold is visible and the old generation's dirs are
    * deleted best-effort. Open cost returns to a plain committed read. */
  def compact(docs: => DataFrame, cfg: PipelineConfig,
      spark: SparkSession, root: String): SearchIndex = {
    requireParamsMatch(root, cfg)
    val gen = generation(root)
    val pending = listMutations(root, fp(cfg)).nonEmpty
    val (live, algo) = open(docs, cfg, spark, root, None)
    if (!pending) return toIndex(live, cfg, algo)
    val store = new StageStore(spark, root)
    val next = gen + 1
    // A compact that crashed before the GENERATION bump leaves committed
    // orphan stages at gen+1 that may predate later mutations; they are
    // invisible (gen never bumped), so delete them rather than letting the
    // fingerprint check reuse a stale fold.
    StageBases.foreach(b => store.drop(stageName(b, next)))
    val folded = writeGeneration(store, next, cfg)(live.postings)(
      _ => live.termStats)
    FsUtil.publish(s"$root/GENERATION", next.toString) // commit point
    // best-effort cleanup of the superseded generation
    FsUtil.delete(s"$root/mutations/gen_$gen")
    StageBases.foreach(b => store.drop(stageName(b, gen)))
    toIndex(folded, cfg, algo)
  }

  /** Destroy a built index — the reference's nxs_index_destroy
    * (/root/reference/src/core/nxs.c:303-345): refuses to touch a directory
    * that is not an index (no params.json), then removes only the artifacts
    * the store recognizes (params, generation marker, stage dirs incl.
    * every generation's, mutation log) and finally the root if
    * empty — an unrelated file someone put there survives and keeps the
    * directory, like the reference's failing rmdir. */
  def destroy(root: String): Unit = {
    if (FsUtil.read(paramsPath(root)).isEmpty)
      throw new IllegalStateException(
        s"$root is not a built index (no params.json) — refusing to delete")
    // our own crash leftovers (a .tmp beside an otherwise-complete index)
    // are recognized artifacts too; params.json goes last. `doc_stats` is
    // the per-doc stage of the older `postings=dl` layout, which refuses
    // to open but is still ours to remove.
    val owned = Seq("mutations", "GENERATION", "GENERATION.tmp",
      "params.json.tmp")
    FsUtil.list(root).filter(name => owned.contains(name) ||
        (StageBases :+ "doc_stats").exists(b =>
          name == b || name.startsWith(s"$b@")))
      .foreach(name => FsUtil.delete(s"$root/$name"))
    FsUtil.delete(paramsPath(root))
    if (FsUtil.list(root).isEmpty) FsUtil.delete(root) // foreign files stay
  }

  /** Durable add: tokenizes `newDocs(doc_id, text)`, rejects ids that are
    * currently live (nxs_index_add duplicate-id error, nxs.c:498-511),
    * assigns the new terms their next dense ids, and COMMITS the postings
    * delta + id assignments before returning the refreshed index. */
  def addDocs(docs: => DataFrame, cfg: PipelineConfig, spark: SparkSession,
      root: String, newDocs: DataFrame): SearchIndex = {
    requireParamsMatch(root, cfg)
    val (cur, _) = open(docs, cfg, spark, root, None)
    val fresh = newDocs.join(cur.postings.select("doc_id").distinct(),
      Seq("doc_id"), "left_anti")
    val deltaPost = SearchIndex.postingsOf(fresh, cfg)
    val maxId = cur.termStats.agg(coalesce(max("term_id"), lit(0L)))
      .collect()(0).getLong(0)
    // the delta's unseen terms, ranked once in first-seen order past maxId
    val newTerms = SearchIndex.firstSeen(deltaPost)
      .join(cur.termStats.select("term"), Seq("term"), "left_anti")
    val newIds = SearchIndex.withDenseIds(newTerms, SearchIndex.FirstSeenKey,
      "rk", base = maxId)
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
