package graft.search

import graft.functions._
import graft.text.PipelineConfig
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * The reference's index, as two relations + two scalars
 * (SURVEY.md §1.2): terms interning and the doc-term map
 * (/root/reference/src/index/terms.c, dtmap.c) become `termStats` and
 * `postings`; the dtmap header counters doc_count/token_count
 * (/root/reference/src/index/storage.h:112-118) become `docCount` /
 * `tokenCount`, one aggregate over the postings (`countersOf`). A doc's
 * length is the `dl` column of its postings rows. The reverse term→docs
 * bitmap is not materialized — it IS the postings relation keyed by term
 * (a term filter on the postings scan replaces roaring64_bitmap lookup).
 *
 * Like the reference's, the index lives on disk: every SearchIndex is the
 * view `IndexStore` opens from a root, its relations reads of the
 * committed stages with the mutation log replayed over them. This object
 * holds the relational definitions the store writes with.
 */
final case class SearchIndex(
    postings: DataFrame,   // (doc_id, term, dl, cnt)
    termStats: DataFrame,  // (term, term_id, df, total)
    docCount: Long,
    tokenCount: Long,
    pipeline: PipelineConfig,
    // The persisted symmetric-delete variant table (vh, term, total, df),
    // sorted by vh with parquet bloom filters — the durable analogue of the
    // reference's BK-tree (built once per index generation, probed per
    // fuzzy query). Present only when it exactly matches the dictionary:
    // IndexStore sets it on opens with an empty mutation log and clears it
    // while mutations are pending (Searcher then probes the same rows
    // derived from termStats — same values, slower — until compact()).
    fuzzyVariants: Option[DataFrame] = None,
    // The index's persisted ranking algo (params.json "algo"; the
    // reference's third params.db field) — what Searcher.search scores
    // with when the caller does not override.
    algo: Searcher.Algo = Searcher.Bm25)

object SearchIndex {

  /** The dtmap header counters of a postings relation as one row
    * (doc_count, token_count): its distinct docs and the sum of its `cnt`,
    * which is the sum of their `dl`s. The one definition every index
    * build, open and compact uses. */
  private[search] def countersOf(postings: DataFrame): DataFrame =
    postings.agg(countDistinct("doc_id").as("doc_count"),
      coalesce(sum("cnt"), lit(0L)).as("token_count"))

  /** The row of `countersOf` (or of a stage holding it) on the driver. */
  private[search] def collectCounters(counters: DataFrame): (Long, Long) = {
    val r = counters.collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** Reference term-length cap: UINT16_MAX bytes
    * (/root/reference/src/index/terms.c:226-230 — exactly 65535 is legal,
    * 65536 is NXS_ERR_LIMIT "term too long"). The reference errors the whole
    * add; in a batch pipeline over untrusted web text the documented
    * behavior here is DROP — an over-long "term" (e.g. a base64 blob that
    * survived normalization) is discarded at the postings build, never
    * interned, never counted in dl. */
  val MaxTermBytes = 65535

  /** Reference id width: term ids are u32 (terms.c:47 MAX_TERM_ID). */
  val MaxTermId = 0xFFFFFFFFL

  /** Postings (doc_id, term, dl, cnt, first_pos): the per-(doc, term)
    * first occurrence position is kept for termStatsOf's interning (dropped
    * from the public index), and every row carries its doc's length `dl`
    * (the tokens that pass the MaxTermBytes cap), so scoring needs no
    * per-doc table. `dl` is computed once per doc, on the token array
    * before the explode; a doc's `dl` never changes after it is indexed. */
  def postingsOf(docs: DataFrame, cfg: PipelineConfig): DataFrame =
    docs
      .select(col("doc_id"), nxs_tokenize_filters(col("text"), lit(cfg.lang),
        cfg.filters, cfg.stopwordsEnabled).as("toks"))
      .select(col("doc_id"), col("toks"),
        size(filter(col("toks"), t => octet_length(t) <= MaxTermBytes)).cast("long").as("dl"))
      .select(col("doc_id"), col("dl"), posexplode(col("toks")).as(Seq("pos", "term")))
      .where(octet_length(col("term")) <= MaxTermBytes)
      .groupBy("doc_id", "term", "dl") // dl: one value per doc
      .agg(count(lit(1)).as("cnt"), min("pos").as("first_pos"))

  /** Per term of `postings`: (term, df, total, _fs_doc, _fs_pos), its
    * first-seen key being the first doc containing it and its first
    * position within that doc. */
  private[search] def firstSeen(postings: DataFrame): DataFrame =
    postings
      .groupBy("term")
      .agg(count(lit(1)).as("df"), sum("cnt").as("total"),
        min(struct(col("doc_id"), col("first_pos"))).as("first_seen"))
      .select(col("term"), col("df"), col("total"),
        col("first_seen.doc_id").as("_fs_doc"),
        col("first_seen.first_pos").as("_fs_pos"))

  /** Term stats (term, term_id, df, total) of a fresh build.
    *
    * Term interning (reference A3, /root/reference/src/index/terms.c:226-235
    * assigns ids 1..N in insertion order): `term_id` is the dense first-seen
    * rank — ordered by (first doc containing the term, first position within
    * that doc), the batch equivalent of the reference's sequential append
    * order. The rank is two-phase (`withDenseIds`): range-partition by the
    * first-seen key, rank locally, add per-partition offsets — a web-scale
    * dictionary (billions of terms) never funnels through one partition. */
  def termStatsOf(postings: DataFrame): DataFrame =
    withDenseIds(firstSeen(postings), FirstSeenKey, "term_id")
      .select("term", "term_id", "df", "total")

  private[search] val FirstSeenKey = Seq("_fs_doc", "_fs_pos")

  /** Dense ids 1..N in `sortCols` order WITHOUT a no-partition window (which
    * moves the whole relation to one partition): range-partition by the sort
    * key (so partition p's keys all precede partition p+1's), rank within
    * each partition, then add per-partition offsets — the only driver-side
    * data is one count per partition. The keys must be duplicate-free or the
    * ordering is not total. The partitioned relation is materialized once so
    * the offsets action and the ranked output see identical partitioning
    * (range sampling is not re-run). */
  private[graft] def withDenseIds(df: DataFrame, sortCols: Seq[String],
      out: String, base: Long = 0L): DataFrame = {
    val sortExprs = sortCols.map(col)
    val parted = graft.dedup.Materialize(
      df.repartitionByRange(sortExprs: _*).withColumn("_pid", spark_partition_id()))
    val counts = parted.groupBy("_pid").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets: Map[Int, Long] = counts.map { case (pid, n) =>
      val e = pid -> acc; acc += n; e
    }.toMap
    // u32 id-width guard (terms.c:231-234 "reached the term limit") — the
    // counts are already on the driver, so the check is free.
    if (base + acc > MaxTermId)
      throw new IllegalStateException(
        s"reached the term limit ($MaxTermId): ${base + acc} ids requested")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_pid").orderBy(sortExprs: _*)
    parted
      .withColumn(out,
        (element_at(typedLit(offsets), col("_pid")) + row_number().over(w))
          .cast("long"))
      .drop("_pid")
  }
}
