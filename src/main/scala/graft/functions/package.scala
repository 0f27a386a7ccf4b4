package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.graft.bridge.{column, expression}

/**
 * Column-level API for the engine's custom Catalyst expressions, plus SQL
 * registration. Mirrors the `org.apache.spark.sql.functions` style: these
 * compose with built-ins and stay codegen'd.
 */
package object functions {

  /** Full reference filter pipeline: normalizer → stopwords → stemmer
    * (/root/reference/src/core/nxs.c:87-89 default). */
  def nxs_tokenize(text: Column, lang: Column): Column =
    column(NxsTokenizeExpr(expression(text), expression(lang)))

  def nxs_tokenize(text: Column): Column =
    nxs_tokenize(text, org.apache.spark.sql.functions.lit("en"))

  /** Pipeline with a custom filter list, e.g. Seq("normalizer"). */
  def nxs_tokenize_filters(text: Column, lang: Column, filters: Seq[String],
      stopwords: Boolean = true): Column =
    column(NxsTokenizeExpr(expression(text), expression(lang),
      filters.mkString(","), stopwords))

  /** HTML → text extraction over the input table's `html: binary` column
    * (tags/comments/script/style stripped, entities decoded, whitespace
    * collapsed) — see HtmlTextExpr. */
  def nxs_html_text(html: Column): Column =
    column(HtmlTextExpr(expression(html)))

  def nxs_shingles(tokens: Column, w: Int = 5, seed: Long = 42L): Column =
    column(ShingleHashesExpr(expression(tokens), w, seed))

  def nxs_minhash(shingles: Column, k: Int = 128, seed: Long = 42L): Column =
    column(MinHashSigExpr(expression(shingles), k, seed))

  def nxs_simhash(tokens: Column, seed: Long = 42L): Column =
    column(SimHash64Expr(expression(tokens), seed))

  def vec_cosine(a: Column, b: Column): Column =
    column(CosineSimExpr(expression(a), expression(b)))

  /** Double-array cosine (Lloyd-refined centroids are double means). */
  def vec_cosine_d(a: Column, b: Column): Column =
    column(CosineSimDExpr(expression(a), expression(b)))

  def nxs_band_keys(sig: Column, bands: Int = 16, rowsPerBand: Int = 8,
      seed: Long = 42L): Column =
    column(BandKeysExpr(expression(sig), bands, rowsPerBand, seed))

  /** Symmetric-delete neighborhood hashes for bounded fuzzy matching. */
  def delete_variants(term: Column,
      maxDel: Int = DeleteVariantsExpr.DefaultTolerance,
      maxLen: Int = DeleteVariantsExpr.DefaultMaxLen): Column =
    column(DeleteVariantsExpr(expression(term), maxDel, maxLen))

  def sign_lsh(vec: Column, nBits: Int = 16, nTables: Int = 8,
      seed: Long = 42L): Column =
    column(SignLshExpr(expression(vec), nBits, nTables, seed))

  /** Fused signature bundle — one shared token-hash pass for the enabled
    * families; values bit-identical to the individual expressions. */
  def nxs_sig_bundle(tokens: Column, w: Int, k: Int, a: Int, win: Int,
      runMinhash: Boolean, runSimhash: Boolean, runWinnow: Boolean,
      seed: Long): Column =
    column(SigBundleExpr(expression(tokens), w, k, a, win,
      runMinhash, runSimhash, runWinnow, seed))

  /** |a ∩ b| of two sorted-distinct long arrays by linear merge (the
    * shingle-set contract; see SortedIntersectCountExpr). */
  def nxs_inter_count(a: Column, b: Column): Column =
    column(SortedIntersectCountExpr(expression(a), expression(b)))

  /** Exact Jaccard of two sorted-distinct long arrays, one merge pass. */
  def nxs_jaccard(a: Column, b: Column): Column =
    column(SortedJaccardExpr(expression(a), expression(b)))

  def nxs_winnow(tokens: Column, a: Int = 40, win: Int = 21,
      seed: Long = 42L): Column =
    column(WinnowExpr(expression(tokens), a, win, seed))

  /** Positioned winnowing anchors for the span-extension pass. */
  def nxs_winnow_pos(tokens: Column, a: Int = 40, win: Int = 21,
      seed: Long = 42L): Column =
    column(WinnowPosExpr(expression(tokens), a, win, seed))

  /** RFC 3986 §6.2.2.2 percent-encoding normalization, pure codegen'd
    * built-ins: decode escapes of UNRESERVED characters (%41 → 'A'; hex
    * values 41-5A, 61-7A, 30-39, 2D '-', 2E '.', 5F '_', 7E '~') and
    * uppercase the hex digits of every other valid escape (%2f → %2F).
    * Malformed escapes ('%zz', a trailing '%') pass through verbatim —
    * normalizing only what is well-formed keeps the step idempotent and
    * total. Decoding an unreserved byte can never mint a URI delimiter
    * (the unreserved set contains none), so running this BEFORE the
    * syntactic decomposition in url_normalize is sound. */
  private[graft] def pct_normalize(u: Column): Column = {
    import org.apache.spark.sql.functions._
    // split on '%': parts(0) precedes the first escape; every later part
    // STARTS with the two chars that followed a '%'
    val parts = split(u, "%", -1)
    val rest = transform(
      slice(parts, lit(2), greatest(size(parts) - 1, lit(0))),
      seg => {
        val hx = upper(substring(seg, 1, 2))
        // on 2-char uppercase hex, string order == numeric order
        val unreserved = hx.between("41", "5A") || hx.between("61", "7A") ||
          hx.between("30", "39") || hx.isin("2D", "2E", "5F", "7E")
        val tail = substring(seg, 3, Int.MaxValue)
        when(!hx.rlike("^[0-9A-F]{2}$"), concat(lit("%"), seg))
          .when(unreserved, concat(decode(unhex(hx), "UTF-8"), tail))
          .otherwise(concat(lit("%"), hx, tail))
      })
    concat(element_at(parts, 1), array_join(rest, ""))
  }

  /** RFC 3986 §6 syntax-based URL canonicalization for Common-Crawl-style
    * ingest, as a pure composition of codegen'd built-ins (no UDF): the
    * pipeline keys document identity on xxhash64(url), so trivially-variant
    * URLs of one page (case-shifted scheme/host, default ports, fragments,
    * tracking parameters, unordered query strings, unreserved %-escapes)
    * would otherwise mint distinct doc_ids and silently duplicate the page
    * past exact dedup.
    *
    * Steps: normalize percent-encoding (pct_normalize — §6.2.2.2); drop the
    * fragment; lowercase scheme + host (the HOST only: userinfo is
    * case-sensitive per §6.2.2.1 and passes through verbatim, split from
    * the host at the authority's last '@'); strip the host's trailing dot;
    * drop a default port (http:80, https:443 — ONLY exact textual matches:
    * ':0080' is out of normalization scope); empty path → '/'; drop
    * `utm_*`/`gclid`/`fbclid`/`msclkid` query parameters; sort the
    * remaining parameters byte-lexicographically (duplicates kept, order
    * within duplicates normalized by the sort's stability on value); drop
    * an emptied query. Dot-segment normalization is intentionally out of
    * scope. Returns NULL for inputs without a `scheme://` prefix —
    * malformed rows degrade, they don't kill the job (same contract as
    * vec_cosine). */
  def url_normalize(url: Column): Column = {
    import org.apache.spark.sql.functions._
    val pre = regexp_extract(pct_normalize(url), "^[^#]*", 0)
    val scheme = lower(regexp_extract(pre, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val auth = regexp_extract(pre, "^[^:/?#]+://([^/?#]*)", 1)
    // userinfo (through the LAST '@', greedy) keeps its case; only the
    // host:port remainder is lowercased and port/dot-stripped
    val userinfo = regexp_extract(auth, "^(.*@)", 1)
    val hostport = lower(regexp_replace(auth, "^.*@", ""))
    val port = regexp_extract(hostport, ":([0-9]+)$", 1)
    val host =
      regexp_replace(regexp_replace(hostport, ":[0-9]+$", ""), "\\.$", "")
    val keepPort = port =!= "" &&
      !(scheme === "http" && port === "80") &&
      !(scheme === "https" && port === "443")
    val rawPath = regexp_extract(pre, "^[^:/?#]+://[^/?#]*([^?]*)", 1)
    val path = when(rawPath === "", "/").otherwise(rawPath)
    val params = filter(split(regexp_extract(pre, "\\?(.*)$", 1), "&"),
      p => p =!= "" &&
        !p.rlike("^(utm_[^=&]*|gclid|fbclid|msclkid)(=|$)"))
    val qs = array_join(array_sort(params), "&")
    when(scheme === "", lit(null).cast("string")).otherwise(concat(
      scheme, lit("://"), userinfo, host,
      when(keepPort, concat(lit(":"), port)).otherwise(""),
      path,
      when(qs =!= "", concat(lit("?"), qs)).otherwise("")))
  }

  /** Register SQL-callable forms (static default configs). */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("nxs_tokenize",
      es => NxsTokenizeExpr(es.head,
        es.lift(1).getOrElse(org.apache.spark.sql.catalyst.expressions.Literal("en"))),
      "built-in")
    reg.createOrReplaceTempFunction("nxs_html_text",
      es => HtmlTextExpr(es.head), "built-in")
    reg.createOrReplaceTempFunction("nxs_shingles",
      es => ShingleHashesExpr(es.head, 5, 42L), "built-in")
    reg.createOrReplaceTempFunction("nxs_minhash",
      es => MinHashSigExpr(es.head, 128, 42L), "built-in")
    reg.createOrReplaceTempFunction("nxs_simhash",
      es => SimHash64Expr(es.head, 42L), "built-in")
    reg.createOrReplaceTempFunction("vec_cosine",
      es => CosineSimExpr(es.head, es(1)), "built-in")
    reg.createOrReplaceTempFunction("vec_cosine_d",
      es => CosineSimDExpr(es.head, es(1)), "built-in")
    reg.createOrReplaceTempFunction("nxs_band_keys",
      es => BandKeysExpr(es.head, 16, 8, 42L), "built-in")
    reg.createOrReplaceTempFunction("nxs_winnow",
      es => WinnowExpr(es.head, 40, 21, 42L), "built-in")
    reg.createOrReplaceTempFunction("nxs_winnow_pos",
      es => WinnowPosExpr(es.head, 40, 21, 42L), "built-in")
    reg.createOrReplaceTempFunction("sign_lsh",
      es => SignLshExpr(es.head, 16, 8, 42L), "built-in")
    reg.createOrReplaceTempFunction("delete_variants",
      es => DeleteVariantsExpr(es.head, DeleteVariantsExpr.DefaultTolerance,
        DeleteVariantsExpr.DefaultMaxLen), "built-in")
  }
}
