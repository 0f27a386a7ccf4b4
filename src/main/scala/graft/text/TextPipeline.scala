package graft.text

import scala.collection.mutable

/**
 * The reference token filter pipeline, re-expressed as pure functions:
 *   tokenizer => normalizer -> stopwords -> stemmer => terms
 * (/root/reference/src/core/filters_builtin.c:8-14; default filter list
 * ["normalizer","stopwords","stemmer"], /root/reference/src/core/nxs.c:87-89;
 * driver semantics MUTATION/DISCARD + zero-length ⇒ discard,
 * /root/reference/src/core/filters.c:199-219).
 *
 * `filters` mirrors the params `filters` list; `lang` the `lang` param.
 * The user extension slot (the reference's Lua filter,
 * /root/reference/src/core/filters_lua.c) is a `custom:<name>` filter-list
 * entry resolved against the CustomFilters registry: only the name is
 * serialized, so the same filter runs on executors, in persisted index
 * params and in query preparation. None ⇒ discard.
 */
final case class PipelineConfig(
    filters: Seq[String] = Seq("normalizer", "stopwords", "stemmer"),
    lang: String = "en",
    stopwordsEnabled: Boolean = true)

object TextPipeline {

  /** LANGUAGE CONTRACT (mirrors the reference build): the pipeline is
    * language-AWARE but ships resources for `en` only, exactly like the
    * reference, whose default tree carries an English stopword list and
    * builds libstemmer's English stemmer
    * (/root/reference/src/core/filters_builtin.c:89, tools/
    * fetch_ext_data.sh). For any other `lang` — including labels produced
    * by graft.ops.LangId, which exist for routing/metrics, not to switch
    * filters — stopwording is a pass-through (Stopwords.forLang) and
    * stemming is skipped; tokenization + NFKC normalization remain fully
    * Unicode. Adding a language = providing its stopword set in Stopwords
    * and a stemmer branch here; ids/postings schemas are unaffected. */

  /** Run the filter pipeline on a single raw segment.
    * Returns None when any filter discards the token. */
  def filterToken(raw: String, cfg: PipelineConfig): Option[String] = {
    var v = raw
    val it = cfg.filters.iterator
    while (it.hasNext) {
      it.next() match {
        case "normalizer" =>
          v = Normalizer.normalize(v)
        case "stopwords" =>
          if (cfg.stopwordsEnabled && Stopwords.forLang(cfg.lang).contains(v))
            return None
        case "stemmer" =>
          if (cfg.lang == "en") v = Porter2.stem(v)
        case named if named.startsWith(CustomFilters.Prefix) =>
          // By-name registry filter — the form that survives serialization
          // to executors (the Catalyst expression ships only the filter CSV;
          // see CustomFilters for the registration contract).
          CustomFilters.resolve(named.stripPrefix(CustomFilters.Prefix))(v) match {
            case Some(nv) => v = nv
            case None => return None
          }
        case other =>
          throw new IllegalArgumentException(s"unknown filter: $other")
      }
      if (v.isEmpty) return None // filters.c:208-210
    }
    Some(v)
  }

  /** Full post-filter token stream (duplicates kept, document order).
    * This is the reference's per-document `seen` stream — its length is the
    * BM25 document length dl (storage doc_len, tokenset->seen). */
  def tokens(text: String, cfg: PipelineConfig): Array[String] = {
    val segs = Tokenizer.segments(text, cfg.lang)
    val out = new mutable.ArrayBuffer[String](segs.length)
    var i = 0
    while (i < segs.length) {
      filterToken(segs(i), cfg) match {
        case Some(t) => out += t
        case None =>
      }
      i += 1
    }
    out.toArray
  }

  /** Distinct tokens in first-seen order with per-doc counts — the
    * reference `tokenset_t` (tokenizer.c:94-117). */
  def tokenSet(text: String, cfg: PipelineConfig): Seq[(String, Int)] = {
    val counts = mutable.LinkedHashMap.empty[String, Int]
    tokens(text, cfg).foreach { t =>
      counts.updateWith(t) { c => Some(c.getOrElse(0) + 1) }
    }
    counts.toSeq
  }

  val default: PipelineConfig = PipelineConfig()
  /** Pipeline as used by the reference scoring/query-logic unit tests:
    * default filters but NO stopword list present on disk (tests run against
    * a fresh tmp basedir, helpers.c:233-242), so the stopword filter is a
    * pass-through. */
  val noStopwords: PipelineConfig = PipelineConfig(stopwordsEnabled = false)
}
