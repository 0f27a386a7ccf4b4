package graft.perfbench

import graft.corpus.SyntheticCorpus
import graft.corpus.SyntheticCorpus.{PageRow, mix2}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Every input of every workload, derived from the run's seed alone. */
object Inputs {

  private def pick(h: Long, n: Int): Int = {
    val m = (h % n).toInt; if (m < 0) m + n else m
  }

  def corpusCfg(seed: Long, nClusters: Int): SyntheticCorpus.Config =
    SyntheticCorpus.Config(nClusters = nClusters, seed = seed)

  /** The batch corpus's cluster range: just long enough to hold `exact`
    * planted "exact" clusters, so every seed yields the same number of
    * mirror clusters and verified edges. */
  def batchCfg(seed: Long, exact: Int): SyntheticCorpus.Config = {
    val cfg = corpusCfg(seed, Int.MaxValue)
    var c = 0L
    var n = 0
    while (n < exact) {
      c += 1
      if (SyntheticCorpus.kindOf(cfg, c) == "exact") n += 1
    }
    corpusCfg(seed, (c + 1).toInt)
  }

  /** Members of cluster `c` in the batch-dedup corpus. Planted "exact"
    * clusters carry 16 byte-identical pages (mirrored or syndicated pages;
    * 16 is the pipeline's exact-pair bucket cap); one in six of the other
    * clusters is kept at its SyntheticCorpus size, the rest are left out.
    * Members past `sizeOf` are further `pageOf` draws of the same planted
    * cluster. The mirrored clusters put the verified edge set over
    * ConnectedComponents.SmallEdgeBound (each adds 255 edges) at a corpus
    * one run can process in seconds. */
  def batchSize(cfg: SyntheticCorpus.Config, c: Long): Int =
    if (c != 0 && SyntheticCorpus.kindOf(cfg, c) == "exact") 16
    else if (c == 0 || pick(mix2(cfg.seed, 0x6b656570L + c), 6) == 0) SyntheticCorpus.sizeOf(cfg, c)
    else 0

  /** Pages of the batch corpus's clusters that `keep` accepts. */
  def batchPages(spark: SparkSession, cfg: SyntheticCorpus.Config,
      keep: Long => Boolean = _ => true): DataFrame = {
    import spark.implicits._
    spark.range(cfg.nClusters).filter(c => keep(c)).flatMap { c =>
      (0 until batchSize(cfg, c)).map(m => SyntheticCorpus.pageOf(cfg, c, m))
    }.toDF()
  }

  /** The seeded eighth of the batch corpus's clusters whose planted pairs
    * the recall check scores. */
  def recallSample(cfg: SyntheticCorpus.Config, c: Long): Boolean =
    pick(mix2(cfg.seed, 0x73616d70L + c), 8) == 0

  def recallPages(spark: SparkSession, cfg: SyntheticCorpus.Config): DataFrame =
    batchPages(spark, cfg, recallSample(cfg, _))

  /** Planted duplicate pairs (url_a, url_b) of the recall sample. */
  def batchTruth(spark: SparkSession, cfg: SyntheticCorpus.Config): DataFrame = {
    import spark.implicits._
    spark.range(cfg.nClusters).filter(c => recallSample(cfg, c)).flatMap { c =>
      val s = batchSize(cfg, c)
      for (a <- 0 until s; b <- (a + 1) until s)
        yield (SyntheticCorpus.urlOf(cfg, c, a), SyntheticCorpus.urlOf(cfg, c, b))
    }.toDF("url_a", "url_b")
  }

  /** Pages of clusters [from, until) at their natural SyntheticCorpus size. */
  def naturalPages(spark: SparkSession, cfg: SyntheticCorpus.Config,
      from: Long, until: Long): DataFrame = {
    import spark.implicits._
    spark.range(from, until).flatMap { c =>
      (0 until SyntheticCorpus.sizeOf(cfg, c)).map(m => SyntheticCorpus.pageOf(cfg, c, m))
    }.toDF()
  }

  /** One delta batch of the incremental workload: the new clusters after
    * the base store's and earlier batches' clusters that first reach
    * `freshPages` pages, plus `recrawls` new members of stored duplicate
    * clusters. */
  final case class Delta(id: String, freshFrom: Long, freshUntil: Long,
      recrawled: Seq[(Long, Int)])

  def delta(cfg: SyntheticCorpus.Config, nBase: Int, i: Int, freshPages: Int,
      recrawls: Int): Delta = {
    def next(from: Long): Long = {
      var c = from
      var pages = 0
      while (pages < freshPages) { pages += SyntheticCorpus.sizeOf(cfg, c); c += 1 }
      c
    }
    val from = (0 until i).foldLeft(nBase.toLong)((c, _) => next(c))
    val picked = scala.collection.mutable.LinkedHashSet.empty[Long]
    var k = 0L
    while (picked.size < recrawls) {
      val c = 1L + pick(mix2(mix2(cfg.seed, 0x72656372L + i), k), nBase - 1)
      if (SyntheticCorpus.sizeOf(cfg, c) > 1) picked += c
      k += 1
    }
    // member index past every planted member and past the members earlier
    // batches recrawled, so no url is ever ingested twice
    Delta(f"delta_$i%03d", from, next(from),
      picked.toSeq.map(c => (c, SyntheticCorpus.sizeOf(cfg, c) + i)))
  }

  def deltaPages(spark: SparkSession, cfg: SyntheticCorpus.Config,
      d: Delta): DataFrame = {
    import spark.implicits._
    val re = d.recrawled.map { case (c, m) => SyntheticCorpus.pageOf(cfg, c, m) }
    naturalPages(spark, cfg, d.freshFrom, d.freshUntil)
      .unionByName(spark.createDataset[PageRow](re).toDF())
  }

  // --- search corpus ---

  /** Token stream of search document `d`: 60..299 Zipf-sampled words from
    * SyntheticCorpus's 8192-word vocabulary plus English stopwords. */
  def searchTokens(seed: Long, d: Long): Array[String] = {
    val h = mix2(mix2(seed, 0x73726368L), d)
    Array.tabulate(60 + pick(h, 240))(i => SyntheticCorpus.sampleToken(seed, mix2(h, i)))
  }

  def searchDocs(spark: SparkSession, seed: Long, nDocs: Int): DataFrame = {
    import spark.implicits._
    spark.range(1, nDocs + 1L)
      .map(d => (d, searchTokens(seed, d).mkString(" ")))
      .toDF("doc_id", "text")
  }

  /** A query and whether it runs with fuzzy term resolution. */
  final case class Query(text: String, fuzzy: Boolean, kind: String)

  /** Seeded query mix over terms known to occur: every query is anchored
    * on one generated document whose terms make it match. Head terms are
    * the most frequent words of a document sample, tail terms the rarest
    * words of the anchor document. */
  def queryMix(seed: Long, nDocs: Int, n: Int): Seq[Query] = {
    val cfg = graft.text.TextPipeline.default
    def indexed(w: String) = graft.text.TextPipeline.filterToken(w, cfg).isDefined
    val sampleDocs = (0 until 400).map(k => 1L + pick(mix2(seed, 0x71L + k), nDocs))
    val toks = sampleDocs.map(d => d -> searchTokens(seed, d).filter(indexed).distinct)
    val freq = toks.flatMap(_._2).groupBy(identity).view.mapValues(_.size).toMap
    val head = freq.toSeq.sortBy(p => (-p._2, p._1)).take(40).map(_._1)
    def typo(w: String, h: Long): String = {
      val p = 1 + pick(h, w.length - 2)
      val c = ('a' + pick(mix2(h, 1), 26)).toChar
      w.substring(0, p) + (if (c == w.charAt(p)) 'z' else c) + w.substring(p + 1)
    }
    (0 until n).map { q =>
      val h = mix2(seed, 0x717279L + q)
      val (_, words) = toks(pick(h, toks.size))
      val byRarity = words.sortBy(w => (freq(w), w))
      val tail = byRarity(pick(mix2(h, 2), math.max(1, byRarity.size / 4)))
      val common = byRarity.last
      val other = toks(pick(mix2(h, 3), toks.size))._2
      val otherTail = other.minBy(w => (freq(w), w))
      val absentHead = head.find(w => !words.contains(w)).getOrElse(otherTail)
      q % 6 match {
        case 0 => Query(s"$common AND $tail", fuzzy = false, "and")
        case 1 => Query(s"$tail OR $otherTail", fuzzy = false, "or")
        case 2 => Query(s"$tail AND NOT $absentHead", fuzzy = false, "and_not")
        case 3 => Query(head(pick(mix2(h, 4), head.size)), fuzzy = false, "head")
        case 4 =>
          val long = words.filter(_.length >= 6)
          val w = if (long.isEmpty) tail else long(pick(mix2(h, 5), long.size))
          Query(s"${typo(w, mix2(h, 6))} OR $tail", fuzzy = true, "fuzzy_or")
        case _ => Query(s"$tail AND $common", fuzzy = true, "fuzzy_and")
      }
    }
  }
}
