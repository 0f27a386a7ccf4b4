package graft.search

import graft.functions._
import graft.tables.JobLabel
import graft.text.PipelineConfig
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/**
 * The reference's index, as two relations + two scalars
 * (SURVEY.md §1.2): terms interning and the doc-term map
 * (/root/reference/src/index/terms.c, dtmap.c) become `termStats` and
 * `postings`; the dtmap header counters doc_count/token_count
 * (/root/reference/src/index/storage.h:112-118) become `docCount` /
 * `tokenCount`, one aggregate over the postings (`countersOf`). A doc's
 * length is the `dl` column of its postings rows.
 *
 * Like the reference's, the index lives on disk: every SearchIndex is the
 * view `IndexStore` opens from a root, its relations reads of the
 * committed stages with the mutation log replayed over them. This object
 * holds the relational definitions the store writes with.
 *
 * Queries are served from `shards`, a copy of the postings the executors
 * hold: `defaultParallelism` shards by `doc_id` hash, each one map from
 * term to that term's postings in the shard's docs — the reference's
 * term→docs lookup (it opens its index once and walks each query term's
 * postings in-process, src/query/search.c:118-271). The copy is built
 * once per opened index, on its first query (jobs labelled
 * `search:open:shards`), and persisted MEMORY_AND_DISK. Nothing closes
 * it: the persisted RDD belongs to this object, and Spark's
 * ContextCleaner drops its blocks once the index is unreachable. The
 * derived fuzzy variant table of an index with mutations pending
 * (`variants`) has the same lifetime.
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
    // while mutations are pending (`variants` then derives the same rows
    // from termStats once per opened index, until compact()).
    fuzzyVariants: Option[DataFrame] = None,
    // The index's persisted ranking algo (params.json "algo"; the
    // reference's third params.db field) — what Searcher.search scores
    // with when the caller does not override.
    algo: Searcher.Algo = Searcher.Bm25) {

  /** The postings by `doc_id` hash, one `Shard` per partition, built on
    * first use and kept for the life of this object (see the class doc). */
  @transient private[search] lazy val shards: RDD[Shard] =
    JobLabel(postings.sparkSession, "search:open:shards") {
      val n = postings.sparkSession.sparkContext.defaultParallelism
      val rdd = postings.select("doc_id", "term", "dl", "cnt")
        .repartition(n, col("doc_id")).queryExecution.toRdd
        .mapPartitions(rows => Iterator.single(Shard(rows)))
        .persist(StorageLevel.MEMORY_AND_DISK)
      rdd.count()
      rdd
    }

  /** The variant table (vh, term, total, df) fuzzy resolve probes: the
    * persisted stage, or with mutations pending its rows derived from
    * termStats, materialized once per opened index (jobs labelled
    * `search:open:variants`) so a query probes them instead of deriving
    * the whole dictionary's variants again. */
  @transient private[search] lazy val variants: DataFrame =
    fuzzyVariants.getOrElse(
      JobLabel(termStats.sparkSession, "search:open:variants")(
        Searcher.variantRows(termStats)
          .localCheckpoint(eager = true, StorageLevel.MEMORY_AND_DISK)))
}

/** One doc-hash shard of the postings, grouped by term: the postings of
  * the term at slot s are rows `from(s)` until `from(s + 1)` of the three
  * columns, so the shard is a handful of arrays and one term map. */
private[search] final class Shard(slots: java.util.HashMap[String, Integer],
    from: Array[Int], val docId: Array[Long], val dl: Array[Long],
    val cnt: Array[Long]) extends Serializable {

  /** The rows of `term`'s postings in this shard, empty when it has none. */
  def rows(term: String): Range = {
    val s = slots.get(term)
    if (s == null) Range(0, 0) else Range(from(s), from(s + 1))
  }
}

private[search] object Shard {

  /** The shard of postings rows (doc_id, term, dl, cnt): rows are appended
    * as they come, then placed term by term (a counting sort on slots). */
  def apply(rows: Iterator[InternalRow]): Shard = {
    val slots = new java.util.HashMap[String, Integer]
    val sizes = mutable.ArrayBuffer.empty[Int] // rows per slot
    val slotOf = mutable.ArrayBuilder.make[Int]
    val docs, dls, cnts = mutable.ArrayBuilder.make[Long]
    rows.foreach { r =>
      val s: Int = slots.computeIfAbsent(r.getUTF8String(1).toString,
        _ => { sizes += 0; Int.box(sizes.size - 1) })
      sizes(s) += 1
      slotOf += s; docs += r.getLong(0); dls += r.getLong(2); cnts += r.getLong(3)
    }
    val from = sizes.scanLeft(0)(_ + _).toArray
    val next = from.clone()
    val (ss, ds, ls, cs) = (slotOf.result(), docs.result(), dls.result(), cnts.result())
    val (d, l, c) = (new Array[Long](ds.length), new Array[Long](ds.length),
      new Array[Long](ds.length))
    for (i <- ds.indices) {
      val at = next(ss(i)); next(ss(i)) += 1
      d(at) = ds(i); l(at) = ls(i); c(at) = cs(i)
    }
    new Shard(slots, from, d, l, c)
  }
}
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
    * before the explode; a doc's `dl` never changes after it is indexed.
    * The explode is the outer one so each doc is tokenized once: for a
    * plain `posexplode`, Spark infers a `size(toks) > 0` filter and pushes
    * it below the projection, where it re-runs the tokenizer. The row an
    * outer explode emits for a token-less doc has a null term, which the
    * MaxTermBytes filter drops. */
  def postingsOf(docs: DataFrame, cfg: PipelineConfig): DataFrame =
    docs
      .select(col("doc_id"), nxs_tokenize_filters(col("text"), lit(cfg.lang),
        cfg.filters, cfg.stopwordsEnabled).as("toks"))
      .select(col("doc_id"), col("toks"),
        size(filter(col("toks"), t => octet_length(t) <= MaxTermBytes)).cast("long").as("dl"))
      .select(col("doc_id"), col("dl"), posexplode_outer(col("toks")).as(Seq("pos", "term")))
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
