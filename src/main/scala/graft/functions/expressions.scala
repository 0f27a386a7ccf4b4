package graft.functions

import graft.text.{PipelineConfig, TextPipeline}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Catalyst expressions for the nxsearch-semantics text pipeline and the
 * dedup signatures. All are deterministic and codegen'd via a static-method
 * call so they stay inside WholeStageCodegen spans (ICU/stemmer state lives
 * in thread-locals, one per executor thread — the Spark analogue of the
 * reference's per-pipeline reusable filter contexts,
 * /root/reference/src/core/filters.c:125-178).
 *
 * Reference semantics:
 *  - NxsTokenizeExpr = tokenize() + filter_pipeline_run()
 *    (/root/reference/src/core/tokenizer.c:234-302, filters.c:199-219).
 *  - Shingle/MinHash/SimHash are the dedup layer mandated by BASELINE.json's
 *    north_rule; their input is the reference token stream.
 */
object NxsTokenizeExpr {
  // Per-(filters, lang, stopwords) config cache — the config is loop-invariant
  // per column but `lang` varies per row; interning it here keeps the per-row
  // path allocation-free (the Spark analogue of the reference's reusable
  // filter contexts, /root/reference/src/core/filters.c:125-178).
  // `lang` comes from untrusted corpus data, so the cache is size-capped:
  // when a dirty column's garbage cardinality fills it, the whole cache is
  // cleared (a rare O(MAX_CACHED) event) and hot keys immediately re-enter —
  // legitimate languages always end up cached, and the per-row read path
  // stays a lock-free ConcurrentHashMap get (an access-ordered LRU would
  // take a lock per row across all executor threads).
  private val MAX_CACHED = 256
  private val cfgCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Boolean), PipelineConfig]()

  // Per-thread memo of the per-token filter pipeline: web-text token
  // frequencies are Zipfian, so normalize→stopword→stem→UTF-8-re-encode for
  // a RAW segment is recomputed thousands of times per partition for the
  // same few thousand distinct tokens. The memo maps raw segment →
  // (immutable, shareable) UTF8String of the filtered token, or DROPPED.
  // Thread-local because executor threads each stream their own partition
  // (no locking on the per-row path); bounded by clear-on-full like the
  // config cache — BOTH levels: the inner per-config maps (MAX_MEMO entries)
  // AND the outer per-config keying (MAX_MEMO_CFGS), because `lang` is
  // untrusted corpus data and each garbage value mints a new PipelineConfig;
  // without the outer bound every executor thread would accumulate one
  // (small but never-freed) map per distinct garbage lang for the JVM's
  // lifetime. Clearing on full keeps the 'slower, never OOM' guarantee; hot
  // configs re-enter on their next row. Pure-function memoization — values
  // are identical to the uncached pipeline by construction.
  private val DROPPED = new Object
  private val MAX_MEMO = 1 << 16
  private val MAX_MEMO_CFGS = 64
  // LinkedHashMap in ACCESS order: eviction below removes the eldest
  // (least-recently-used) config, so a hot config genuinely survives
  // garbage-config churn — a plain HashMap's bucket-order "arbitrary"
  // eviction can land on the hot entry every time.
  // Values are region-keyed TokenMemo tables (r7): the filter result for a
  // token is probed by (text, start, end) without materializing the
  // substring, so the memo-HIT path — the vast majority under Zipfian
  // token frequencies — allocates nothing (the per-token substring garbage
  // previously made GC the dominant cost of the signature scan).
  private val memo = ThreadLocal.withInitial(() =>
    new java.util.LinkedHashMap[PipelineConfig, TokenMemo](16, 0.75f, true))

  /** Static entry used by both interpreted eval and codegen. */
  def tokenize(text: UTF8String, lang: UTF8String, filtersCsv: String,
      stopwords: Boolean): ArrayData = {
    val langStr = if (lang == null || lang.numBytes() == 0) "en" else lang.toString
    def mkCfg(key: (String, String, Boolean)) = PipelineConfig(
      filters = key._1.split(',').toSeq.filter(_.nonEmpty),
      lang = key._2, stopwordsEnabled = key._3)
    val key = (filtersCsv, langStr, stopwords)
    val cfg = {
      val hit = cfgCache.get(key)
      if (hit != null) hit
      else {
        if (cfgCache.size >= MAX_CACHED) cfgCache.clear()
        cfgCache.computeIfAbsent(key, mkCfg)
      }
    }
    val m = {
      val byCfg = memo.get()
      var inner = byCfg.get(cfg)
      if (inner == null) {
        if (byCfg.size >= MAX_MEMO_CFGS) {
          // Evict the LEAST-RECENTLY-USED config (access-order iteration
          // starts at the eldest) instead of clearing the map: a corpus
          // whose corrupt lang values mint configs past the cap must not
          // reset the memo of every HOT config each time (near-zero hit
          // rate on that thread otherwise); hot configs stay, the garbage
          // churns.
          val it = byCfg.entrySet().iterator()
          if (it.hasNext) { it.next(); it.remove() }
        }
        inner = new TokenMemo(MAX_MEMO)
        byCfg.put(cfg, inner)
      }
      inner
    }
    // Drive the ICU boundary iteration directly (same segmentation as
    // Tokenizer.segments — UBRK_WORD, skip rule status WORD_NONE,
    // tokenizer.c:280-282) and probe the memo by REGION: a memo hit never
    // materializes the segment substring.
    val s = text.toString
    val it = graft.text.Tokenizer.wordIterator(cfg.lang)
    it.setText(s)
    var out = new Array[Any](32)
    var n = 0
    var start = it.first()
    var end = it.next()
    while (end != com.ibm.icu.text.BreakIterator.DONE) {
      if (it.getRuleStatus != com.ibm.icu.text.BreakIterator.WORD_NONE) {
        var h = 0
        var j = start
        while (j < end) { h = 31 * h + s.charAt(j); j += 1 }
        var v = m.get(s, start, end, h)
        if (v == null) {
          val seg = s.substring(start, end)
          v = TextPipeline.filterToken(seg, cfg) match {
            case Some(t) => UTF8String.fromString(t)
            case None => DROPPED
          }
          m.put(seg, v)
        }
        if (v ne DROPPED) {
          if (n == out.length) {
            val t = new Array[Any](n * 2)
            System.arraycopy(out, 0, t, 0, n)
            out = t
          }
          out(n) = v
          n += 1
        }
      }
      start = end
      end = it.next()
    }
    new GenericArrayData(
      if (n == out.length) out
      else { val t = new Array[Any](n); System.arraycopy(out, 0, t, 0, n); t })
  }
}

/** `nxs_tokenize(text, lang)` → array<string> — the full post-filter token
  * stream (duplicates kept; its length is the reference's BM25 dl). */
case class NxsTokenizeExpr(
    text: Expression, lang: Expression,
    filtersCsv: String = "normalizer,stopwords,stemmer",
    stopwords: Boolean = true)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[org.apache.spark.sql.graft.bridge.AbstractType] = Seq(StringType, StringType)
  override def left: Expression = text
  override def right: Expression = lang
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = text.nullable
  override def prettyName: String = "nxs_tokenize"

  override def eval(input: InternalRow): Any = {
    val t = text.eval(input)
    if (t == null) null
    else NxsTokenizeExpr.tokenize(
      t.asInstanceOf[UTF8String],
      lang.eval(input).asInstanceOf[UTF8String], filtersCsv, stopwords)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fcsv = ctx.addReferenceObj("filtersCsv", filtersCsv, "java.lang.String")
    val textGen = text.genCode(ctx)
    val langGen = lang.genCode(ctx)
    ev.copy(code =
      code"""
        ${textGen.code}
        ${langGen.code}
        boolean ${ev.isNull} = ${textGen.isNull};
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
        if (!${ev.isNull}) {
          ${ev.value} = graft.functions.NxsTokenizeExpr.tokenize(
            ${textGen.value},
            ${langGen.isNull} ? null : ${langGen.value},
            $fcsv, $stopwords);
        }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(text = newLeft, lang = newRight)
}

object ShingleHashesExpr {
  /** Distinct hashed w-gram shingles of the token stream (set semantics for
    * Jaccard). Token hash = XXH64 over its UTF-8 bytes; w-gram hash = XXH64
    * fold over the window's token hashes. w=1 reproduces the reference's
    * unigram term stream as a hash set. */
  def shingles(tokens: ArrayData, w: Int, seed: Long): ArrayData = {
    val n = tokens.numElements()
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      th(i) = XXH64.hashUTF8String(tokens.getUTF8String(i), seed)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(shinglesFromTh(th, w, seed))
  }

  /** Shingles from precomputed token hashes (shared token-hash pass in the
    * fused signature bundle — values identical to `shingles`). */
  def shinglesFromTh(th: Array[Long], w: Int, seed: Long): Array[Long] = {
    val n = th.length
    if (n < w) return Array.empty[Long]
    shinglesFromTh(th, n, w, seed, new Array[Long](n - w + 1))
  }

  /** Scratch-buffer form (r7): `th` may be larger than the logical token
    * count `n`, and `raw` (length >= n - w + 1) is caller-provided scratch —
    * the fused bundle reuses per-thread buffers so a memo-warm document
    * allocates only its exact-size outputs. Values identical to
    * `shinglesFromTh(th.take(n), w, seed)`; the returned array is always a
    * fresh exact-size copy (the scratch never escapes). */
  private[functions] def shinglesFromTh(th: Array[Long], n: Int, w: Int,
      seed: Long, raw: Array[Long]): Array[Long] = {
    if (n < w) return Array.empty[Long]
    var i = 0
    while (i + w <= n) {
      var h = seed
      var j = 0
      while (j < w) { h = XXH64.hashLong(th(i + j), h); j += 1 }
      raw(i) = h
      i += 1
    }
    sortedDistinctCopy(raw, n - w + 1)
  }

  /** Sort + dedup in place (primitive — no boxed TreeSet garbage in the
    * per-row hot path). */
  private[functions] def sortedDistinct(a: Array[Long], len: Int): Array[Long] = {
    java.util.Arrays.sort(a, 0, len)
    var out = 0
    var i = 0
    while (i < len) {
      if (out == 0 || a(out - 1) != a(i)) { a(out) = a(i); out += 1 }
      i += 1
    }
    if (out == a.length) a else java.util.Arrays.copyOf(a, out)
  }

  /** `sortedDistinct` that ALWAYS returns a fresh exact-size copy — the
    * form scratch-buffer callers need (returning the buffer itself would
    * leak a mutable thread-local into row values). */
  private[functions] def sortedDistinctCopy(a: Array[Long], len: Int): Array[Long] = {
    java.util.Arrays.sort(a, 0, len)
    var out = 0
    var i = 0
    while (i < len) {
      if (out == 0 || a(out - 1) != a(i)) { a(out) = a(i); out += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(a, out)
  }
}

/** `nxs_shingles(tokens)` → array<bigint> — sorted distinct hashed w-shingles. */
case class ShingleHashesExpr(child: Expression, w: Int, seed: Long)
  extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graft.bridge.AbstractType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "nxs_shingles"

  override def nullSafeEval(tokens: Any): Any =
    ShingleHashesExpr.shingles(tokens.asInstanceOf[ArrayData], w, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ShingleHashesExpr.shingles($c, $w, ${seed}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSigExpr {
  /** k-permutation MinHash signature over the shingle hash set (Broder
    * 1997). Permutation j is the multiply-add bijection of Z/2^64
    * h_j(x) = a_j·x + b_j with odd a_j (an exact permutation of the 64-bit
    * space — precisely the family MinHash wants), with (a_j, b_j) drawn
    * from a splitmix64 stream of the seed. The shingles are already XXH64
    * hashes, so no per-permutation rehash is needed: this replaces k full
    * XXH64 rounds per shingle with one multiply+add each (~10× fewer ops in
    * the signature stage, which dominates the dedup scan). Coefficients are
    * interned per (k, seed) — loop-invariant per column. */
  private val coefCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Long), (Array[Long], Array[Long])]()

  @inline private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def coefs(k: Int, seed: Long): (Array[Long], Array[Long]) =
    coefCache.computeIfAbsent((k, seed), { key =>
      val (kk, s) = key
      val a = new Array[Long](kk)
      val b = new Array[Long](kk)
      var j = 0
      while (j < kk) {
        a(j) = mix(s ^ (2L * j + 1)) | 1L // odd => bijective multiplier
        b(j) = mix(s ^ (2L * j + 2))
        j += 1
      }
      (a, b)
    })

  def signature(shingles: ArrayData, k: Int, seed: Long): ArrayData = {
    val n = shingles.numElements()
    val arr = new Array[Long](n)
    var i = 0
    while (i < n) { arr(i) = shingles.getLong(i); i += 1 }
    UnsafeArrayData.fromPrimitiveArray(signatureArr(arr, k, seed))
  }

  /** Signature from a raw shingle array (fused-bundle path — values
    * identical to `signature`). */
  def signatureArr(shingles: Array[Long], k: Int, seed: Long): Array[Long] = {
    val sig = new Array[Long](k)
    signatureInto(shingles, k, seed, sig)
    sig
  }

  /** Fill-in-place form (r7): `sig` is caller-provided scratch of length
    * exactly k, reset here — the fused bundle reuses a per-thread buffer
    * and copies it into the UnsafeArrayData output (which copies on
    * construction, so the scratch never escapes). */
  private[functions] def signatureInto(shingles: Array[Long], k: Int,
      seed: Long, sig: Array[Long]): Unit = {
    java.util.Arrays.fill(sig, Long.MaxValue)
    val (as, bs) = coefs(k, seed)
    // Shingle-outer loop: each shingle is read once and streamed through all
    // k permutations while sig stays cache-resident.
    var i = 0
    while (i < shingles.length) {
      val x = shingles(i)
      var j = 0
      while (j < k) {
        val h = as(j) * x + bs(j)
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      i += 1
    }
  }
}

/** `nxs_minhash(shingles)` → array<bigint> of length k. Empty shingle sets
  * produce the all-MaxValue signature (never matches a non-empty doc). */
case class MinHashSigExpr(child: Expression, k: Int, seed: Long)
  extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graft.bridge.AbstractType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "nxs_minhash"

  override def nullSafeEval(shingles: Any): Any =
    MinHashSigExpr.signature(shingles.asInstanceOf[ArrayData], k, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinHashSigExpr.signature($c, $k, ${seed}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64Expr {
  /** Charikar SimHash over the token stream: each occurrence votes ±1 on
    * each of 64 bits of XXH64(token); sign of the sum sets the bit.
    *
    * Counting form: the ±1 vote sum for bit b is positive iff the count of
    * 1s exceeds n/2 (acc = 2·ones − n > 0 ⟺ 2·ones > n), so the inner loop
    * counts 1-bits with a branch-free shift-mask-add — the original
    * per-bit if/else mispredicted ~50% of the time on hash bits and made
    * simhash the single most expensive signature kernel (60 µs/doc
    * measured in tools/MicroBench; the branch-free form is ~5×). Values
    * are bit-identical, ties (2·ones == n) stay 0. */
  def simhash(tokens: ArrayData, seed: Long): Long = {
    val n = tokens.numElements()
    val ones = new Array[Long](64)
    var i = 0
    while (i < n) {
      val h = XXH64.hashUTF8String(tokens.getUTF8String(i), seed)
      accumulate(ones, h)
      i += 1
    }
    assemble(ones, n)
  }

  /** SimHash from precomputed token hashes (the fused signature-bundle
    * path — one token-hash pass shared with shingles/winnow). */
  def simhashFromTh(th: Array[Long]): Long =
    simhashFromTh(th, th.length, new Array[Long](64))

  /** Scratch-buffer form (r7): `th` may exceed the logical count `n`;
    * `ones` (length 64) is caller scratch, reset here. */
  private[functions] def simhashFromTh(th: Array[Long], n: Int,
      ones: Array[Long]): Long = {
    java.util.Arrays.fill(ones, 0L)
    var i = 0
    while (i < n) { accumulate(ones, th(i)); i += 1 }
    assemble(ones, n)
  }

  @inline private def accumulate(ones: Array[Long], h: Long): Unit = {
    // unrolled 4-way: independent adds pipeline; no data-dependent branches
    var b = 0
    while (b < 64) {
      ones(b) += (h >>> b) & 1L
      ones(b + 1) += (h >>> (b + 1)) & 1L
      ones(b + 2) += (h >>> (b + 2)) & 1L
      ones(b + 3) += (h >>> (b + 3)) & 1L
      b += 4
    }
  }

  @inline private def assemble(ones: Array[Long], n: Int): Long = {
    var out = 0L
    var b = 0
    while (b < 64) { if (2L * ones(b) > n) out |= (1L << b); b += 1 }
    out
  }
}

/** `nxs_simhash(tokens)` → bigint (64-bit fingerprint). */
case class SimHash64Expr(child: Expression, seed: Long)
  extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graft.bridge.AbstractType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "nxs_simhash"

  override def nullSafeEval(tokens: Any): Any =
    SimHash64Expr.simhash(tokens.asInstanceOf[ArrayData], seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SimHash64Expr.simhash($c, ${seed}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CosineSimExpr {
  /** Returns null (boxed) on a per-row dimension mismatch: embeddings come
    * from untrusted corpora, and one ragged row must degrade to null (which
    * every consumer filters/sorts away) rather than abort a full pipeline
    * run. Same-dimension rows return the boxed cosine. */
  def cosine(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i); val y = b.getFloat(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    java.lang.Double.valueOf(
      if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb))
  }
}

/** `vec_cosine(a, b)` → double, over array<float> embeddings; null when the
  * two arrays' dimensions differ (ragged rows degrade, they don't kill the
  * job). */
case class CosineSimExpr(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graft.bridge.AbstractType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val r = CosineSimExpr.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (r == null) null else r.doubleValue()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aGen = left.genCode(ctx)
    val bGen = right.genCode(ctx)
    val boxed = ctx.freshName("cos")
    ev.copy(code =
      code"""
        ${aGen.code}
        ${bGen.code}
        boolean ${ev.isNull} = ${aGen.isNull} || ${bGen.isNull};
        double ${ev.value} = 0.0;
        if (!${ev.isNull}) {
          java.lang.Double $boxed =
            graft.functions.CosineSimExpr.cosine(${aGen.value}, ${bGen.value});
          if ($boxed == null) { ${ev.isNull} = true; }
          else { ${ev.value} = $boxed.doubleValue(); }
        }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimDExpr {
  /** Double-array variant of CosineSimExpr.cosine — cosines against
    * Lloyd-refined IVF centroids, which are double-precision coordinate
    * means (computing them through a float round-trip would shift values
    * vs the double-precision oracle). Same ragged-row null contract. */
  def cosine(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    java.lang.Double.valueOf(
      if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb))
  }
}

/** `vec_cosine_d(a, b)` → double, over array<double> vectors (see
  * CosineSimDExpr; CosineSimExpr is the array<float> form). */
case class CosineSimDExpr(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graft.bridge.AbstractType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_cosine_d"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val r = CosineSimDExpr.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (r == null) null else r.doubleValue()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aGen = left.genCode(ctx)
    val bGen = right.genCode(ctx)
    val boxed = ctx.freshName("cos")
    ev.copy(code =
      code"""
        ${aGen.code}
        ${bGen.code}
        boolean ${ev.isNull} = ${aGen.isNull} || ${bGen.isNull};
        double ${ev.value} = 0.0;
        if (!${ev.isNull}) {
          java.lang.Double $boxed =
            graft.functions.CosineSimDExpr.cosine(${aGen.value}, ${bGen.value});
          if ($boxed == null) { ${ev.isNull} = true; }
          else { ${ev.value} = $boxed.doubleValue(); }
        }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object BandKeysExpr {
  /** LSH band keys from a MinHash signature: band i's key is the XXH64 fold
    * of (band index, its `rowsPerBand` signature slots) — one 64-bit long
    * per band, so the downstream shuffle key is a single long and keys never
    * collide across bands except by hash collision (which only ADDS
    * candidates that Jaccard verification removes). One pass over the sig;
    * the naive column form (array of xxhash64-over-slice) re-evaluates the
    * signature child per band and allocates per-band slice copies. */
  def keys(sig: ArrayData, bands: Int, rowsPerBand: Int, seed: Long): ArrayData = {
    val out = new Array[Long](bands)
    var i = 0
    while (i < bands) {
      var h = XXH64.hashInt(i, seed)
      var j = 0
      while (j < rowsPerBand) {
        h = XXH64.hashLong(sig.getLong(i * rowsPerBand + j), h)
        j += 1
      }
      out(i) = h
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** `nxs_band_keys(sig)` → array<bigint> of length `bands`. */
case class BandKeysExpr(child: Expression, bands: Int, rowsPerBand: Int,
    seed: Long) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graft.bridge.AbstractType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "nxs_band_keys"

  override def nullSafeEval(sig: Any): Any =
    BandKeysExpr.keys(sig.asInstanceOf[ArrayData], bands, rowsPerBand, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.BandKeysExpr.keys($c, $bands, $rowsPerBand, ${seed}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SignLshExpr {
  /** Random-hyperplane (sign) LSH bucket keys over an embedding: `nTables`
    * independent tables, each hashing the vector to an `nBits`-bit sketch
    * (bit h = sign of Σ_d w(t,h,d)·v_d with pseudo-random ±1 weights from a
    * seeded splitmix64 mix — Charikar 2002 sign-LSH). Each table's sketch is
    * folded with the table index into one 64-bit key so the shuffle key is a
    * single long and keys never collide across tables. */
  @inline private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  // The ±1 weights are loop-invariant per column (they depend only on the
  // expression parameters + the vector dimension), so they are interned the
  // same way as MinHashSigExpr.coefs — the old code re-derived them with
  // nTables × nBits × dim splitmix mixes PER ROW (~8k mixes/row at
  // defaults): pure waste at a billion vectors. One byte per weight,
  // flattened [table][bit][dim]; values are bit-identical to the per-row
  // derivation (same mix chain), so bucket keys are unchanged.
  //
  // `dim` is untrusted (ragged rows): a corrupt multi-million-element
  // embedding must not trigger a nTables×nBits×dim allocation, so only
  // dims up to MAX_CACHED_DIM are interned (≤ 512 KB at defaults); bigger
  // rows fall back to the allocation-free per-row derivation below. The
  // cache is additionally clear-on-full bounded like cfgCache.
  private val MAX_CACHED_DIM = 4096
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Long, Int), Array[Byte]]()

  private def planes(nBits: Int, nTables: Int, seed: Long, dim: Int): Array[Byte] = {
    if (planeCache.size > 16) planeCache.clear()
    planeCache.computeIfAbsent((nBits, nTables, seed, dim), { key =>
      val (bits, tables, s, d0) = key
      val w = new Array[Byte](tables * bits * d0)
      var t = 0
      var o = 0
      while (t < tables) {
        var h = 0
        while (h < bits) {
          val planeSeed = mix(s ^ (t.toLong << 32) ^ h.toLong)
          var d = 0
          while (d < d0) {
            w(o) = if (mix(planeSeed ^ d.toLong) > 0) 1 else -1
            o += 1; d += 1
          }
          h += 1
        }
        t += 1
      }
      w
    })
  }

  def buckets(vec: ArrayData, nBits: Int, nTables: Int, seed: Long): ArrayData = {
    val dim = vec.numElements()
    if (dim > MAX_CACHED_DIM) return bucketsDerived(vec, nBits, nTables, seed)
    val w = planes(nBits, nTables, seed, dim)
    val out = new Array[Long](nTables)
    var t = 0
    var o = 0
    while (t < nTables) {
      var sketch = 0L
      var h = 0
      while (h < nBits) {
        var dot = 0.0
        var d = 0
        while (d < dim) {
          dot += w(o) * vec.getFloat(d)
          o += 1; d += 1
        }
        if (dot >= 0) sketch |= (1L << h)
        h += 1
      }
      out(t) = XXH64.hashLong(sketch, seed + t)
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Allocation-free per-row weight derivation (identical mix chain) for
    * dims too large to intern. Package-visible so the spec can pin the
    * cached ≡ derived equality. */
  private[functions] def bucketsDerived(vec: ArrayData, nBits: Int, nTables: Int,
      seed: Long): ArrayData = {
    val dim = vec.numElements()
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var sketch = 0L
      var h = 0
      while (h < nBits) {
        val planeSeed = mix(seed ^ (t.toLong << 32) ^ h.toLong)
        var dot = 0.0
        var d = 0
        while (d < dim) {
          val w = if (mix(planeSeed ^ d.toLong) > 0) 1.0 else -1.0
          dot += w * vec.getFloat(d)
          d += 1
        }
        if (dot >= 0) sketch |= (1L << h)
        h += 1
      }
      out(t) = XXH64.hashLong(sketch, seed + t)
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** `sign_lsh(embedding)` → array<bigint> of nTables bucket keys. */
case class SignLshExpr(child: Expression, nBits: Int, nTables: Int, seed: Long)
  extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graft.bridge.AbstractType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sign_lsh"

  override def nullSafeEval(vec: Any): Any =
    SignLshExpr.buckets(vec.asInstanceOf[ArrayData], nBits, nTables, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SignLshExpr.buckets($c, $nBits, $nTables, ${seed}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DeleteVariantsExpr {
  /** The engine-wide fuzzy keyspace parameters — every surface that
    * generates variant hashes (Searcher, the persisted fuzzy_variants
    * stage, the DataFrame/SQL function defaults) references THESE, so the
    * query and dictionary sides can never desynchronize. */
  val DefaultTolerance = 2
  val DefaultMaxLen = 64

  /** XXH64 hashes of every string obtainable from `s` by deleting up to
    * `maxDel` code points (the string itself included), distinct. The
    * symmetric-delete fuzzy-match keyspace (Garbe's SymSpell construction):
    * two strings within Levenshtein distance d share at least one common
    * ≤d-deletion variant — an alignment with i insertions, e deletions and
    * s substitutions (i+e+s ≤ d) leaves a common subsequence reachable with
    * e+s ≤ d deletions from one side and i+s ≤ d from the other. Joining on
    * these hashes is therefore a COMPLETE candidate generator for the
    * bounded-levenshtein verify that follows; hash collisions only add
    * candidates, which that verify removes.
    *
    * Strings longer than `maxLen` code points emit only their own hash:
    * fuzzy tolerance is contractually limited to tokens of ≤ maxLen code
    * points (the deletion neighborhood is O(L²) keys; the reference bounds
    * its equivalent with a BK-tree over short query terms,
    * /root/reference/src/algo/bktree.c:160-275). */
  def hashes(str: UTF8String, maxDel: Int, maxLen: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(hashArray(str.toString, maxDel, maxLen))

  def hashArray(s: String, maxDel: Int, maxLen: Int): Array[Long] = {
    val cps = s.codePoints().toArray
    val variants = new java.util.HashSet[String]()
    variants.add(s)
    if (cps.length <= maxLen) {
      // The empty variant IS produced (for 1–2-cp strings under maxDel=2):
      // two 2-cp tokens at distance 2 share only the empty subsequence, and
      // the levenshtein verify prunes the small all-short-tokens bucket.
      // Duplicate variants reached by different deletion orders carry the
      // same remaining depth, so skipping recursion on a failed add is safe.
      def recur(cur: Array[Int], depth: Int): Unit = {
        if (depth == 0) return
        var i = 0
        while (i < cur.length) {
          val next = new Array[Int](cur.length - 1)
          System.arraycopy(cur, 0, next, 0, i)
          System.arraycopy(cur, i + 1, next, i, cur.length - i - 1)
          if (variants.add(new String(next, 0, next.length)))
            recur(next, depth - 1)
          i += 1
        }
      }
      recur(cps, maxDel)
    }
    val out = new Array[Long](variants.size)
    val it = variants.iterator()
    var i = 0
    while (it.hasNext) {
      out(i) = XXH64.hashUTF8String(UTF8String.fromString(it.next()), 0L)
      i += 1
    }
    java.util.Arrays.sort(out)
    out
  }
}

/** `delete_variants(term)` → array<bigint> — symmetric-delete neighborhood
  * hashes for the bounded fuzzy-resolve equi-join. */
case class DeleteVariantsExpr(child: Expression, maxDel: Int, maxLen: Int)
  extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graft.bridge.AbstractType] =
    Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "delete_variants"

  override def nullSafeEval(s: Any): Any =
    DeleteVariantsExpr.hashes(s.asInstanceOf[UTF8String], maxDel, maxLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.DeleteVariantsExpr.hashes($c, $maxDel, $maxLen)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowExpr {
  /** Winnowing fingerprints (Schleimer, Wilkerson, Aiken, SIGMOD 2003 —
    * the MOSS local document fingerprinting algorithm): hash every a-gram
    * of the token stream, then keep the minimum hash of every sliding
    * window of `win` consecutive a-gram hashes (rightmost min on ties).
    * Guarantee: two documents sharing a token run of length >= a + win - 1
    * share at least one fingerprint. Used by the exact-long-substring
    * duplication pass. Returns sorted distinct fingerprints. */
  def fingerprints(tokens: ArrayData, a: Int, win: Int, seed: Long): ArrayData = {
    val n = tokens.numElements()
    val th = new Array[Long](n)
    var i = 0
    while (i < n) { th(i) = XXH64.hashUTF8String(tokens.getUTF8String(i), seed); i += 1 }
    UnsafeArrayData.fromPrimitiveArray(fpsFromTh(th, a, win, seed))
  }

  /** Fingerprints from precomputed token hashes (fused-bundle path —
    * values identical to `fingerprints`). */
  def fpsFromTh(th: Array[Long], a: Int, win: Int, seed: Long): Array[Long] = {
    val n = th.length
    if (n < a) return Array.empty[Long]
    fpsFromTh(th, n, a, win, seed,
      new Array[Long](n - a + 1), new Array[Long](n - a + 1),
      new Array[Int](n - a + 1))
  }

  /** Scratch-buffer form (r7): `th` may exceed the logical count `n`; `gh`,
    * `sel`, `dq` (each length >= n - a + 1) are caller scratch — the fused
    * bundle reuses per-thread buffers. The returned array is always a fresh
    * exact-size copy (the scratch never escapes). */
  private[functions] def fpsFromTh(th: Array[Long], n: Int, a: Int, win: Int,
      seed: Long, gh: Array[Long], sel: Array[Long],
      dq: Array[Int]): Array[Long] = {
    if (n < a) return Array.empty[Long]
    val nGrams = n - a + 1
    var i = 0
    while (i < nGrams) {
      var h = seed
      var j = 0
      while (j < a) { h = XXH64.hashLong(th(i + j), h); j += 1 }
      gh(i) = h
      i += 1
    }
    var nSel = 0
    if (nGrams <= win) {
      // single window
      var min = gh(0); i = 1
      while (i < nGrams) { if (gh(i) <= min) min = gh(i); i += 1 }
      sel(0) = min; nSel = 1
    } else {
      // Monotonic deque of indices: O(1) amortized per position instead of
      // an O(win) rescan. Popping on >= keeps the RIGHTMOST of equal minima
      // at the front — the same tie-break as the rescan form (and the MOSS
      // paper's robust-winnowing rule).
      var head = 0
      var tail = 0 // deque occupies dq[head, tail)
      i = 0
      while (i < nGrams) {
        while (tail > head && gh(dq(tail - 1)) >= gh(i)) tail -= 1
        dq(tail) = i; tail += 1
        if (dq(head) <= i - win) head += 1
        if (i >= win - 1) { sel(i - win + 1) = gh(dq(head)); nSel += 1 }
        i += 1
      }
    }
    ShingleHashesExpr.sortedDistinctCopy(sel, nSel)
  }
}

object WinnowPosExpr {
  /** Winnowing fingerprints WITH their gram positions (0-based index of the
    * a-gram's first token), distinct by position, ascending — the anchor set
    * for the substring span pass: anchors shared by two documents at a
    * consistent position delta delimit the shared run, which is then
    * extended over the token-hash arrays (see TrainingOps.winnowSpans).
    * Same selection rule as WinnowExpr (rightmost min per window). */
  def fingerprints(tokens: ArrayData, a: Int, win: Int, seed: Long): ArrayData = {
    val n = tokens.numElements()
    if (n < a) return new GenericArrayData(Array.empty[Any])
    val nGrams = n - a + 1
    val th = new Array[Long](n)
    var i = 0
    while (i < n) { th(i) = XXH64.hashUTF8String(tokens.getUTF8String(i), seed); i += 1 }
    val gh = new Array[Long](nGrams)
    i = 0
    while (i < nGrams) {
      var h = seed
      var j = 0
      while (j < a) { h = XXH64.hashLong(th(i + j), h); j += 1 }
      gh(i) = h
      i += 1
    }
    val selPos = new Array[Int](math.max(1, nGrams))
    var nSel = 0
    def push(p: Int): Unit =
      if (nSel == 0 || selPos(nSel - 1) != p) { selPos(nSel) = p; nSel += 1 }
    if (nGrams <= win) {
      var best = 0; i = 1
      while (i < nGrams) { if (gh(i) <= gh(best)) best = i; i += 1 }
      push(best)
    } else {
      val dq = new Array[Int](nGrams)
      var head = 0; var tail = 0
      i = 0
      while (i < nGrams) {
        while (tail > head && gh(dq(tail - 1)) >= gh(i)) tail -= 1
        dq(tail) = i; tail += 1
        if (dq(head) <= i - win) head += 1
        if (i >= win - 1) push(dq(head))
        i += 1
      }
    }
    val out = new Array[Any](nSel)
    i = 0
    while (i < nSel) {
      out(i) = InternalRow(gh(selPos(i)), selPos(i))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `nxs_winnow_pos(tokens)` → array<struct<fp:bigint, pos:int>> — positioned
  * winnowing anchors (fed to the span-extension pass and dumped as an
  * oracle primitive). */
case class WinnowPosExpr(child: Expression, a: Int, win: Int, seed: Long)
  extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graft.bridge.AbstractType] =
    Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("fp", LongType, nullable = false),
      StructField("pos", IntegerType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "nxs_winnow_pos"

  override def nullSafeEval(tokens: Any): Any =
    WinnowPosExpr.fingerprints(tokens.asInstanceOf[ArrayData], a, win, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.WinnowPosExpr.fingerprints($c, $a, $win, ${seed}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `nxs_winnow(tokens)` → array<bigint> — winnowing fingerprints for the
  * exact-substring duplication pass. */
case class WinnowExpr(child: Expression, a: Int, win: Int, seed: Long)
  extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graft.bridge.AbstractType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "nxs_winnow"

  override def nullSafeEval(tokens: Any): Any =
    WinnowExpr.fingerprints(tokens.asInstanceOf[ArrayData], a, win, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.WinnowExpr.fingerprints($c, $a, $win, ${seed}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SigBundleExpr {
  /** Fused per-document signature kernel (r7 optimization): ONE token-hash
    * pass shared by every enabled signature family. The separate
    * nxs_shingles / nxs_simhash / nxs_winnow expressions each re-hash every
    * token with XXH64 (the same seed, so the same values) — at 128-token
    * documents that is 2 redundant full passes over the token stream per
    * row, plus 2 redundant ArrayData element walks. This kernel hashes the
    * tokens once and feeds the th array to the shingle fold, the
    * (branch-free) simhash bit count, and the winnow gram fold.
    *
    * Output values are BIT-IDENTICAL to the individual expressions (pinned
    * by SigBundleSpec against each of them): shingles = sortedDistinct of
    * the w-gram folds, sig = the k-permutation MinHash of those shingles,
    * simhash = the ±1 bit votes of the token hashes, winnow_fps = the
    * window minima of the a-gram folds. The individual expressions remain
    * the public/SQL surface (Verify's oracle dumps use them); this bundle
    * is the hot-path form used by DedupPipeline.signatures. */
  /** Per-thread scratch buffers (r7): the bundle runs once per document in
    * the pipeline's biggest stage, and its working arrays (token hashes,
    * raw gram hashes, deque, 64 bit counters, k-long signature) are
    * size-bounded by the document — reusing them cuts roughly half the
    * kernel's per-document allocation (the stage measured 81 s of
    * task-attributed GC against 103 s of CPU at 699k docs). Only exact-size
    * OUTPUT arrays are still allocated; every scratch use below either
    * copies out (sortedDistinctCopy, UnsafeArrayData.fromPrimitiveArray) or
    * is consumed before return, so no thread-local buffer escapes into row
    * values. Expression evaluation is single-threaded per task thread —
    * no reentrancy. */
  private final class Scratch {
    var th: Array[Long] = new Array[Long](256)
    var raw: Array[Long] = new Array[Long](256)
    var sel: Array[Long] = new Array[Long](256)
    var dq: Array[Int] = new Array[Int](256)
    val ones: Array[Long] = new Array[Long](64)
    var sig: Array[Long] = Array.empty[Long]
    def grow(n: Int): Unit = if (th.length < n) {
      val c = math.max(n, th.length * 2)
      th = new Array[Long](c)
      raw = new Array[Long](c)
      sel = new Array[Long](c)
      dq = new Array[Int](c)
    }
    def sigFor(k: Int): Array[Long] = {
      if (sig.length != k) sig = new Array[Long](k)
      sig
    }
  }
  private val scratch = ThreadLocal.withInitial[Scratch](() => new Scratch)

  def bundle(tokens: ArrayData, w: Int, k: Int, a: Int, win: Int,
      runMinhash: Boolean, runSimhash: Boolean, runWinnow: Boolean,
      seed: Long): InternalRow = {
    val n = tokens.numElements()
    val s = scratch.get()
    s.grow(n)
    val th = s.th
    var i = 0
    while (i < n) {
      th(i) = XXH64.hashUTF8String(tokens.getUTF8String(i), seed)
      i += 1
    }
    var nf = 0
    if (runMinhash) nf += 2
    if (runSimhash) nf += 1
    if (runWinnow) nf += 1
    val vals = new Array[Any](nf)
    var f = 0
    if (runMinhash) {
      val sh = ShingleHashesExpr.shinglesFromTh(th, n, w, seed, s.raw)
      vals(f) = UnsafeArrayData.fromPrimitiveArray(sh)
      val sig = s.sigFor(k)
      MinHashSigExpr.signatureInto(sh, k, seed, sig)
      vals(f + 1) = UnsafeArrayData.fromPrimitiveArray(sig)
      f += 2
    }
    if (runSimhash) { vals(f) = SimHash64Expr.simhashFromTh(th, n, s.ones); f += 1 }
    if (runWinnow)
      vals(f) = UnsafeArrayData.fromPrimitiveArray(
        WinnowExpr.fpsFromTh(th, n, a, win, seed, s.raw, s.sel, s.dq))
    new GenericInternalRow(vals)
  }
}

/** `nxs_sig_bundle(tokens)` → struct of the enabled signature columns
  * (shingles, sig, simhash, winnow_fps) computed in one fused pass. */
case class SigBundleExpr(child: Expression, w: Int, k: Int, a: Int, win: Int,
    runMinhash: Boolean, runSimhash: Boolean, runWinnow: Boolean, seed: Long)
  extends UnaryExpression with ExpectsInputTypes {
  require(runMinhash || runSimhash || runWinnow, "no signature family enabled")
  override def inputTypes: Seq[org.apache.spark.sql.graft.bridge.AbstractType] =
    Seq(ArrayType(StringType))
  override def dataType: DataType = StructType(
    (if (runMinhash) Seq(
      StructField("shingles", ArrayType(LongType, containsNull = false), nullable = false),
      StructField("sig", ArrayType(LongType, containsNull = false), nullable = false))
    else Nil) ++
    (if (runSimhash) Seq(StructField("simhash", LongType, nullable = false)) else Nil) ++
    (if (runWinnow) Seq(
      StructField("winnow_fps", ArrayType(LongType, containsNull = false), nullable = false))
    else Nil))
  override def prettyName: String = "nxs_sig_bundle"

  override def nullSafeEval(tokens: Any): Any =
    SigBundleExpr.bundle(tokens.asInstanceOf[ArrayData], w, k, a, win,
      runMinhash, runSimhash, runWinnow, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SigBundleExpr.bundle($c, $w, $k, $a, $win, " +
        s"$runMinhash, $runSimhash, $runWinnow, ${seed}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SortedIntersectCountExpr {
  /** |a ∩ b| over two SORTED-DISTINCT long arrays (the nxs_shingles
    * contract — its output is sortedDistinct by construction, and the
    * persisted sigs stages store that column unmodified) via a linear
    * merge: no per-pair hash-set build, no boxing. `array_intersect` on the
    * same inputs builds an OpenHashSet per evaluation and was evaluated
    * TWICE per pair once the Jaccard filter collapsed into the join
    * condition (see DedupPipeline.verifyJaccard) — the merge is a ~10×
    * cheaper inner loop for the verify join, the pipeline's hottest join.
    *
    * Duplicate runs (inputs violating distinctness) are skipped so the
    * count matches array_intersect's distinct-element semantics on any
    * SORTED input; unsorted input is a caller contract violation. */
  def count(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) {
        c += 1
        i += 1; j += 1
        while (i < na && a.getLong(i) == x) i += 1 // skip duplicate runs
        while (j < nb && b.getLong(j) == y) j += 1
      } else if (x < y) i += 1
      else j += 1
    }
    c
  }
}

/** `nxs_inter_count(a, b)` → bigint — intersection cardinality of two
  * sorted-distinct long arrays (shingle sets) by linear merge. */
case class SortedIntersectCountExpr(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graft.bridge.AbstractType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "nxs_inter_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectCountExpr.count(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SortedIntersectCountExpr.count($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedJaccardExpr {
  /** Exact Jaccard over two sorted-distinct long arrays in ONE merge pass:
    * j = |A∩B| / (|A| + |B| − |A∩B|), 0.0 when the union is empty. The
    * arithmetic reproduces the previous column formula step for step
    * (int size sum → double, minus double inter), so the produced doubles
    * are bit-identical to the old array_intersect-based pipeline. A single
    * expression keeps the verify join's condition to ONE merge per pair —
    * the split inter/uni/jaccard columns collapse into the join predicate
    * where `inter` appears twice and Catalyst does not eliminate common
    * subexpressions inside join conditions. */
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val inter = SortedIntersectCountExpr.count(a, b).toDouble
    val uni = (a.numElements() + b.numElements()).toDouble - inter
    if (uni > 0) inter / uni else 0.0
  }
}

/** `nxs_jaccard(a, b)` → double — exact Jaccard of two sorted-distinct
  * long arrays (shingle sets) in one merge pass. */
case class SortedJaccardExpr(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.graft.bridge.AbstractType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "nxs_jaccard"

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedJaccardExpr.jaccard(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SortedJaccardExpr.jaccard($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
