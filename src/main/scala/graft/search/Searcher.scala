package graft.search

import graft.tables.JobLabel
import graft.text.TextPipeline
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Query execution: the reference's bitmap set algebra + ranking + top-k
 * (/root/reference/src/query/search.c:118-271), re-expressed as ONE
 * per-doc aggregate: a single postings scan whose rows are shuffled once,
 * on doc_id, whatever the shape of the query tree:
 *   scan      → postings of the resolved query terms, joined to their
 *               df (broadcast termStats) and dl (docStats)
 *   aggregate → per doc: sum(score) and collect_set(term), the doc's
 *               matched-term set (results.c:128-150 sums the same scores)
 *   leaf      → array_contains(terms, t); an unresolved leaf is `false`
 *   AND       → `&&`                            (and_inplace)
 *   OR        → `||`                            (or_inplace)
 *   AND NOT   → `&& !`                          (andnot_inplace)
 *   top-k     → ORDER BY score DESC LIMIT k = TakeOrderedAndProject
 *               (the distributed form of the reference's capped min-heap,
 *               src/algo/heap.c:58-221)
 *
 * The grammar has no unary NOT, so a tree is true only where some leaf is:
 * aggregating just the query terms' postings loses no matching doc.
 */
object Searcher {

  sealed trait Algo
  case object TfIdf extends Algo
  case object Bm25 extends Algo   // the reference default (nxs_impl.h:40)
  /** Sentinel default for `search`: score with the index's own persisted
    * algo (params.json carries filters, lang, AND algo — the reference's
    * params.db triple, /root/reference/src/core/params.c:159-198 — and the
    * reference scores a reopened index with ITS algo, not the caller's). */
  case object IndexDefault extends Algo

  final case class Prepared(
      root: QExpr,
      resolved: Map[String, String]) // leaf value -> index term to match

  /** Leaf preparation: run each leaf through the same filter pipeline as
    * indexing — as ONE token, no word-break (query.c:99-104 calls
    * tokenize_value, not tokenize). With `fuzzy` off that is all: a token
    * absent from the dictionary has no postings rows, so its leaf already
    * matches nothing and no dictionary probe runs. With `fuzzy` on, tokens
    * absent from the dictionary fall back to the most popular term within
    * Levenshtein distance <= 2 (tokenizer.c:160-199; idxterm_fuzzysearch
    * idxterm.c:210-249; tolerance index.h:26), and leaves that resolve to
    * nothing are trimmed (tokenizer.c:181-191). */
  def prepare(idx: SearchIndex, root: QExpr, fuzzy: Boolean): Prepared = {
    val piped: Map[String, String] = QueryParser.leaves(root).distinct
      .flatMap(v => TextPipeline.filterToken(v, idx.pipeline).map(v -> _)).toMap
    if (!fuzzy || piped.isEmpty) return Prepared(root, piped)
    val tokens = piped.values.toSeq.distinct

    val present: Set[String] = idx.termStats
      .where(col("term").isin(tokens: _*))
      .select("term").collect().map(_.getString(0)).toSet

    // Fuzzy fallback for ALL unresolved tokens in one action (about 4 jobs
    // under AQE): probe the persisted variant table when the index carries
    // one that matches the dictionary, else derive the candidates on the
    // fly (same values).
    val unresolvedToks = tokens.filterNot(present)
    val fuzzyResolved: Map[String, String] =
      if (unresolvedToks.isEmpty) Map.empty
      else {
        val cand = idx.fuzzyVariants match {
          case Some(v) => fuzzyProbe(v, unresolvedToks)
          case None => fuzzyCandidates(idx.termStats, unresolvedToks)
        }
        cand.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      }

    val resolved = piped.collect {
      case (leaf, tok) if present(tok) => leaf -> tok
      case (leaf, tok) if fuzzyResolved.contains(tok) =>
        leaf -> fuzzyResolved(tok)
    }
    Prepared(root, resolved)
  }

  /** Fuzzy tolerance (edits) and the code-point length cap of the
    * symmetric-delete keyspace. Tokens longer than FuzzyMaxLen resolve
    * exactly only — the deletion neighborhood is O(L²) keys per term
    * (~2k hashes at 64), and 64 code points already covers compound words
    * and identifiers that survive tokenization; the reference's own
    * tolerance targets query terms (bounded levenshtein 2,
    * /root/reference/src/index/idxterm.c:210-249). */
  val FuzzyTolerance = graft.functions.DeleteVariantsExpr.DefaultTolerance
  val FuzzyMaxLen = graft.functions.DeleteVariantsExpr.DefaultMaxLen

  /** Most-popular in-dictionary term within Levenshtein distance <= 2 of
    * each unresolved query token, as (qtok, term) — one row per qtok.
    *
    * Access path: an EQUI-JOIN on symmetric-delete neighborhood hashes
    * (SymSpell; see DeleteVariantsExpr for the completeness argument) — the
    * relational analogue of the reference's BK-tree metric-ball bound
    * (/root/reference/src/algo/bktree.c:160-275). The per-term work is
    * generating its ~L²/2 deletion-variant hashes and probing the broadcast
    * hash table of the query tokens' variants; the bounded levenshtein runs
    * only on hash-matched candidates, never per (term × token). The variant
    * generation depends only on termStats, so at dictionary scale it
    * amortizes: materialize `term_stats × delete_variants` once per index
    * generation and this becomes a pure probe. */
  def fuzzyCandidates(termStats: DataFrame,
      unresolvedToks: Seq[String]): DataFrame =
    resolveMostPopular(
      termStats
        .select(col("term"), col("total"),
          explode(graft.functions.delete_variants(
            col("term"), FuzzyTolerance, FuzzyMaxLen)).as("vh"))
        .join(broadcast(queryVariants(termStats.sparkSession, unresolvedToks)),
          Seq("vh")))

  /** The query tokens' (qtok, variant hash) pairs — computed once per
    * resolve; tiny, broadcast. */
  private def queryVariantPairs(toks: Seq[String]): Seq[(String, Long)] =
    toks.flatMap { t =>
      graft.functions.DeleteVariantsExpr
        .hashArray(t, FuzzyTolerance, FuzzyMaxLen).map(h => (t, h))
    }

  private def queryVariants(spark: org.apache.spark.sql.SparkSession,
      toks: Seq[String]): DataFrame = {
    import spark.implicits._
    queryVariantPairs(toks).toDF("qtok", "vh")
  }

  /** Shared resolution tail for both candidate sources: exact bounded
    * levenshtein on hash-matched (qtok, term) pairs, then the most-popular
    * pick (total desc, term asc). Keeping this in one place is what makes
    * probe == derive hold by construction. */
  private def resolveMostPopular(cand: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qtok").orderBy(col("total").desc, col("term"))
    cand
      .where(levenshtein(col("term"), col("qtok"), FuzzyTolerance) >= 0)
      .select("qtok", "term", "total").distinct()
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select("qtok", "term")
  }

  /** Fuzzy resolution against a PERSISTED variant table (vh, term, total) —
    * the probe form of fuzzyCandidates: the query tokens' variant hashes
    * filter the table at the scan (vh-sorted row groups + bloom filters
    * prune at rest; IndexStore writes both), then the same bounded
    * levenshtein + most-popular pick. Values identical to the derive path
    * by construction — both join the same complete candidate keyspace. */
  def fuzzyProbe(variants: DataFrame,
      unresolvedToks: Seq[String]): DataFrame = {
    val pairs = queryVariantPairs(unresolvedToks)
    val spark = variants.sparkSession
    import spark.implicits._
    val qv = pairs.toDF("qtok", "vh")
    val hashes = pairs.map(_._2).distinct
    // A ~2k-literal IN bloats the plan/codegen and the pushed parquet
    // predicate (several long unresolved tokens → multi-thousand literals),
    // so the isin scan filter is capped: past the cap the broadcast
    // equi-join alone resolves (same rows) and scan pruning falls back to
    // the vh bloom filter + row-group stats that the stage writes anyway.
    val probed =
      if (hashes.size <= MaxIsinHashes)
        variants.where(col("vh").isin(hashes: _*)) // pushed to the scan
      else variants
    resolveMostPopular(probed.join(broadcast(qv), Seq("vh")))
  }

  /** Cap on the vh IN-list pushed into the variant-stage scan. */
  private[search] val MaxIsinHashes = 512

  /** The boolean tree as one predicate over a doc's matched-term set
    * (`terms`). */
  private def matches(p: Prepared, e: QExpr): Column = e match {
    case QToken(v) =>
      p.resolved.get(v).fold(lit(false))(t => array_contains(col("terms"), t))
    case QAnd(l, r) => matches(p, l) && matches(p, r)
    case QOr(l, r) => matches(p, l) || matches(p, r)
    case QAndNot(l, r) => matches(p, l) && !matches(p, r)
  }

  /** Per-(doc, term) score column. BM25 constants and the *integer* average
    * document length division replicate /root/reference/src/algo/ranking.c
    * (k=1.2, b=0.75 :141-142; adl integer division :163). */
  private def scoreCol(idx: SearchIndex, algo: Algo): Column = algo match {
    // guard the degenerate idx.algo == IndexDefault (a hand-built
    // SearchIndex could carry the sentinel): fall to the reference default
    // rather than recursing forever
    case IndexDefault =>
      scoreCol(idx, if (idx.algo == IndexDefault) Bm25 else idx.algo)
    case TfIdf =>
      // tf = ln(cnt+1); idf = ln(N/df) + 1   (ranking.c:90-91)
      (log(col("cnt") + 1) *
        (log(lit(idx.docCount.toDouble) / col("df")) + 1)).as("score")
    case Bm25 =>
      val k = 1.2; val b = 0.75
      val adl = (idx.tokenCount / idx.docCount).toDouble // integer division!
      val tf = log(col("cnt") + 1)
      val tfBm25 = tf / (tf + lit(k) * (lit(1 - b) + lit(b) * col("dl") / lit(adl)))
      val idf = log((lit(idx.docCount.toDouble) - col("df") + 0.5) / (col("df") + 0.5) + 1)
      (tfBm25 * idf).as("score")
  }

  /** Full search: returns (doc_id, score), descending, capped at `limit`
    * (default 1000 = NXS_DEFAULT_RESULTS_LIMIT, nxs_impl.h:39). With no
    * explicit `algo` the index's own persisted algo scores (IndexDefault —
    * a TF-IDF-built index reopened without config scores TF-IDF). */
  def search(idx: SearchIndex, query: String, algo: Algo = IndexDefault,
      limit: Int = 1000, fuzzy: Boolean = true): Either[String, DataFrame] =
    QueryParser.parse(query).map { root =>
      val p = JobLabel(idx.termStats.sparkSession, "search:query:resolve")(
        prepare(idx, root, fuzzy))
      val queryTerms = p.resolved.values.toSeq.distinct
      // docCount == 0 happens with a live dictionary: fully-deleted terms
      // stay interned (df=0) after every doc is removed — resolve succeeds
      // but there is nothing to score (and the BM25 adl would divide 0/0)
      if (queryTerms.isEmpty || idx.docCount == 0) {
        idx.postings.select(col("doc_id"), lit(0.0).as("score")).limit(0)
      } else {
        // score every query term present in a doc, sum per doc
        // (search.c:236-271, results.c:128-150), and keep the docs whose
        // matched-term set satisfies the tree
        idx.postings
          .where(col("term").isin(queryTerms: _*))
          .join(broadcast(idx.termStats.where(col("term").isin(queryTerms: _*))),
            Seq("term"))
          .join(idx.docStats, Seq("doc_id"))
          .select(col("doc_id"), col("term"), scoreCol(idx, algo))
          .groupBy("doc_id")
          .agg(sum("score").as("score"), collect_set("term").as("terms"))
          .where(matches(p, root))
          .select("doc_id", "score")
          .orderBy(col("score").desc, col("doc_id"))
          .limit(limit)
      }
    }

  /** JSON response in the reference wire shape, `{"results":[{"doc_id":..,
    * "score":..}],"count":n}` (src/core/results.c:152-220), in the order
    * `search` returns: descending score. */
  def toJsonResponse(results: DataFrame): String = {
    val rows = results.select("doc_id", "score").collect()
    val items = rows.map { r =>
      val score = String.format(java.util.Locale.ROOT, "%.6f",
        Double.box(r.getDouble(1)))
      s"""{"doc_id":${r.getLong(0)},"score":$score}"""
    }
    s"""{"results":[${items.mkString(",")}],"count":${rows.length}}"""
  }
}
