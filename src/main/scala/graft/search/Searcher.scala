package graft.search

import graft.tables.JobLabel
import graft.text.TextPipeline
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/**
 * Query execution: the reference's bitmap set algebra + ranking + top-k
 * (the reference's src/query/search.c:118-271), re-expressed as ONE
 * resolve collect and ONE job over the index's doc-hash postings shards
 * (`SearchIndex.shards`), whatever the shape of its tree:
 *   resolve   → one collect of each leaf token's candidate terms with their
 *               df, then a driver pick (`prepare`, `pick`)
 *   execute   → one task per shard: for each resolved term, its postings in
 *               the shard's docs; per doc, the sum of the term scores
 *               (`score`; results.c:128-150 sums the same scores) and the
 *               doc's matched-term set
 *   leaf      → the term is in the doc's set; an unresolved leaf is false
 *   AND       → `&&`                            (and_inplace)
 *   OR        → `||`                            (or_inplace)
 *   AND NOT   → `&& !`                          (andnot_inplace)
 *   top-k     → each task keeps its best `limit` docs in a capped min-heap
 *               (src/algo/heap.c:58-221) by (score desc, doc_id asc); the
 *               driver merges the tasks' rows into the first `limit`
 *
 * The grammar has no unary NOT, so a tree is true only where some leaf is:
 * scoring just the query terms' postings loses no matching doc. A doc's
 * postings all sit in one shard, so no task needs another's rows.
 */
object Searcher {

  sealed trait Algo
  case object TfIdf extends Algo
  case object Bm25 extends Algo   // the reference default (nxs_impl.h:40)

  final case class Prepared(
      root: QExpr,
      resolved: Map[String, String], // leaf value -> index term to match
      df: Map[String, Long])         // resolved term -> its df

  /** Leaf preparation: run each leaf through the same filter pipeline as
    * indexing — as ONE token, no word-break (query.c:99-104 calls
    * tokenize_value, not tokenize) — then resolve every token in ONE
    * action. With `fuzzy` off it collects the tokens' termStats rows. With
    * `fuzzy` on, a token absent from the dictionary falls back to the most
    * popular term within Levenshtein distance <= 2 (tokenizer.c:160-199;
    * idxterm_fuzzysearch idxterm.c:210-249; tolerance index.h:26): the
    * collect probes one variant table (`fuzzyProbe`) for the candidate
    * rows of all tokens' deletion-variant hashes — the persisted stage when
    * the index carries one that matches the dictionary, else the same rows
    * derived from termStats (`variantRows`) once per opened index
    * (`SearchIndex.variants`). A token's own hash is among its variants, so
    * the same rows hold its exact hit. Leaves that resolve to nothing are
    * trimmed (tokenizer.c:181-191). */
  def prepare(idx: SearchIndex, root: QExpr, fuzzy: Boolean): Prepared = {
    val piped: Map[String, String] = QueryParser.leaves(root).distinct
      .flatMap(v => TextPipeline.filterToken(v, idx.pipeline).map(v -> _)).toMap
    val toks = piped.values.toSeq.distinct
    val picked: Map[String, (String, Long)] =
      if (toks.isEmpty) Map.empty
      else if (!fuzzy)
        pick(idx.termStats.where(col("term").isin(toks: _*))
          .select("term", "total", "df").collect().toSeq
          .map(r => (r.getString(0), r.getString(0), r.getLong(1), r.getLong(2))))
      else resolveFuzzy(fuzzyProbe(idx.variants, toks), toks)
    Prepared(root,
      piped.collect { case (l, t) if picked.contains(t) => l -> picked(t)._1 },
      picked.values.toMap)
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

  /** (vh, term, total, df): every dictionary term under each of its
    * deletion-variant hashes — the rows IndexStore persists as the
    * fuzzy_variants stage, and the variant table of an index without one. */
  def variantRows(termStats: DataFrame): DataFrame =
    termStats.select(
      explode(graft.functions.delete_variants(
        col("term"), FuzzyTolerance, FuzzyMaxLen)).as("vh"),
      col("term"), col("total"), col("df"))

  /** The query tokens' (qtok, variant hash) pairs, every token's own hash
    * included. */
  private def queryVariantPairs(toks: Seq[String]): Seq[(String, Long)] =
    toks.flatMap { t =>
      graft.functions.DeleteVariantsExpr
        .hashArray(t, FuzzyTolerance, FuzzyMaxLen).map(h => (t, h))
    }

  /** Candidate rows (vh, term, total, df) of the query tokens in a variant
    * table (vh, term, total, df): the tokens' variant hashes filter it —
    * an EQUALITY on symmetric-delete neighborhood hashes (SymSpell; see
    * DeleteVariantsExpr for the completeness argument), the relational
    * analogue of the reference's BK-tree metric-ball bound
    * (src/algo/bktree.c:160-275); the bounded levenshtein runs in `pick`,
    * only on hash-matched candidates, never per (term × token). On the
    * persisted stage the filter reaches the scan (vh-sorted row groups +
    * bloom filters prune at rest; IndexStore writes both). */
  def fuzzyProbe(variants: DataFrame, toks: Seq[String]): DataFrame = {
    val hashes = queryVariantPairs(toks).map(_._2).distinct
    // A ~2k-literal IN bloats the plan/codegen and the pushed parquet
    // predicate (several long tokens → multi-thousand literals), so the
    // isin scan filter is capped: past the cap the broadcast semi-join
    // filters (same rows) and scan pruning falls back to the vh bloom
    // filter + row-group stats that the stage writes anyway.
    if (hashes.size <= MaxIsinHashes)
      variants.where(col("vh").isin(hashes: _*)) // pushed to the scan
    else {
      val spark = variants.sparkSession
      import spark.implicits._
      variants.join(broadcast(hashes.toDF("vh")), Seq("vh"), "left_semi")
    }
  }

  /** Cap on the vh IN-list pushed into the variant-stage scan. */
  private[search] val MaxIsinHashes = 512

  /** Collects the candidate rows (vh, term, total, df) — the one resolve
    * action — and picks each token's term: qtok -> (term, df). */
  def resolveFuzzy(cands: DataFrame, toks: Seq[String]): Map[String, (String, Long)] = {
    val byHash = queryVariantPairs(toks).groupMap(_._2)(_._1)
    pick(cands.collect().toSeq.flatMap(r => byHash.getOrElse(r.getLong(0), Nil)
      .map(q => (q, r.getString(1), r.getLong(2), r.getLong(3)))))
  }

  /** The driver pick over (qtok, term, total, df) candidates, shared by
    * every resolve path and the q_fuzzy_resolve oracle leaf: an exact hit
    * wins; otherwise the highest `total` among terms within Levenshtein
    * distance FuzzyTolerance (the bounded distance Spark's `levenshtein(l,
    * r, 2)` computes), ties to the lowest term in binary (UTF8String)
    * order. A token with neither is absent. Returns qtok -> (term, df). */
  private def pick(cands: Seq[(String, String, Long, Long)]): Map[String, (String, Long)] =
    cands.groupBy(_._1).flatMap { case (q, cs) =>
      val qs = UTF8String.fromString(q)
      def u(c: (String, String, Long, Long)) = UTF8String.fromString(c._2)
      cs.find(_._2 == q).orElse(
        cs.filter(c => u(c).levenshteinDistance(qs, FuzzyTolerance) >= 0)
          .reduceOption((a, b) =>
            if (a._3 > b._3 || a._3 == b._3 && u(a).compareTo(u(b)) <= 0) a else b))
        .map(c => q -> (c._2, c._4))
    }

  /** The score of one (doc, term) posting: `cnt` occurrences in a doc of
    * length `dl`, the term in `df` of the index's `n` docs. BM25 constants
    * and the *integer* average document length division replicate
    * /root/reference/src/algo/ranking.c (k=1.2, b=0.75 :141-142; adl
    * integer division :163). The logarithm is `StrictMath.log`, the one
    * Spark's `log` evaluates, so scores equal those of the SQL form of
    * these formulas bit for bit. */
  private[search] def score(algo: Algo, n: Long, tokenCount: Long)(
      cnt: Long, dl: Long, df: Long): Double = {
    val tf = StrictMath.log((cnt + 1).toDouble)
    algo match {
      case TfIdf => // tf = ln(cnt+1); idf = ln(N/df) + 1   (ranking.c:90-91)
        tf * (StrictMath.log(n.toDouble / df) + 1)
      case Bm25 =>
        val k = 1.2; val b = 0.75
        val adl = (tokenCount / n).toDouble // integer division!
        tf / (tf + k * ((1 - b) + b * dl / adl)) *
          StrictMath.log((n.toDouble - df + 0.5) / (df + 0.5) + 1)
    }
  }

  /** One query's execute task: `terms` (each with its `df`) are the
    * resolved terms, `leafTerm` maps a resolved leaf to its index in
    * `terms`. Serialized to the executors with the job. */
  private final case class Execute(terms: Array[String], df: Array[Long],
      root: QExpr, leafTerm: Map[String, Int], algo: Algo, n: Long,
      tokenCount: Long, limit: Int) {

    private def holds(e: QExpr, matched: java.util.BitSet): Boolean = e match {
      case QToken(v) => leafTerm.get(v).exists(t => matched.get(t))
      case QAnd(l, r) => holds(l, matched) && holds(r, matched)
      case QOr(l, r) => holds(l, matched) || holds(r, matched)
      case QAndNot(l, r) => holds(l, matched) && !holds(r, matched)
    }

    /** The shard's best `limit` (doc_id, score) matches, unordered. */
    def apply(shard: Shard): Array[(Long, Double)] = {
      val docs = mutable.LongMap.empty[(Array[Double], java.util.BitSet)]
      for (t <- terms.indices; i <- shard.rows(terms(t))) {
        val (sum, matched) = docs.getOrElseUpdate(shard.docId(i),
          (Array(0.0), new java.util.BitSet(terms.length)))
        sum(0) += score(algo, n, tokenCount)(shard.cnt(i), shard.dl(i), df(t))
        matched.set(t)
      }
      // a capped min-heap: its head is the worst row kept
      val heap = new java.util.PriorityQueue[(Long, Double)](Worst)
      for ((d, (sum, matched)) <- docs if holds(root, matched)) {
        heap.add((d, sum(0)))
        if (heap.size > limit) heap.poll()
      }
      heap.toArray(new Array[(Long, Double)](0))
    }
  }

  /** (score desc, doc_id asc), the result order: a row is less than every
    * row ranked before it. */
  private val Worst: java.util.Comparator[(Long, Double)] = (a, b) =>
    if (a._2 != b._2) java.lang.Double.compare(a._2, b._2)
    else java.lang.Long.compare(b._1, a._1)

  private val ResultSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("score", DoubleType)))

  /** Full search: returns (doc_id, score), descending, capped at `limit`
    * (default 1000 = NXS_DEFAULT_RESULTS_LIMIT, nxs_impl.h:39), as a local
    * DataFrame: the query has run when this returns. With no `algo` the
    * index's own persisted algo scores (params.json carries filters, lang
    * AND algo — the reference's params.db triple,
    * /root/reference/src/core/params.c:159-198 — so a TF-IDF-built index
    * reopened without config scores TF-IDF). */
  def search(idx: SearchIndex, query: String, algo: Option[Algo] = None,
      limit: Int = 1000, fuzzy: Boolean = true): Either[String, DataFrame] =
    QueryParser.parse(query).map { root =>
      require(limit >= 0, s"limit must be >= 0, got $limit")
      val spark = idx.termStats.sparkSession
      val p = JobLabel(spark, "search:query:resolve")(prepare(idx, root, fuzzy))
      val terms = p.resolved.values.toArray.distinct.sorted
      // docCount == 0 happens with a live dictionary: fully-deleted terms
      // stay interned (df=0) after every doc is removed — resolve succeeds
      // but there is nothing to score (and the BM25 adl would divide 0/0)
      val top =
        if (terms.isEmpty || idx.docCount == 0 || limit == 0) Array.empty[(Long, Double)]
        else {
          // score every query term present in a doc, sum per doc
          // (search.c:236-271, results.c:128-150), and keep the docs whose
          // matched-term set satisfies the tree
          val exec = Execute(terms, terms.map(p.df), root,
            p.resolved.map { case (l, t) => l -> terms.indexOf(t) },
            algo.getOrElse(idx.algo), idx.docCount, idx.tokenCount, limit)
          val shards = idx.shards // an index's first query builds them
          JobLabel(spark, "search:query:execute")(
            spark.sparkContext.runJob(shards, (it: Iterator[Shard]) =>
              it.flatMap(exec(_)).toArray))
            .flatten.sortWith((a, b) => Worst.compare(a, b) > 0).take(limit)
        }
      spark.createDataFrame(
        java.util.Arrays.asList(top.map { case (d, s) => Row(d, s) }: _*),
        ResultSchema)
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
