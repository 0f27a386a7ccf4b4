package graft.text

import org.scalatest.funsuite.AnyFunSuite

/** Tokenizer goldens ported verbatim from
  * /root/reference/src/tests/t_tokenize.c:22-80 (filters = ["normalizer"],
  * lang=en) and Unicode goldens from /root/reference/src/tests/t_utf8.c:88-148. */
class TextPipelineSpec extends AnyFunSuite {
  private val normOnly = PipelineConfig(filters = Seq("normalizer"))

  private val tokenizeGoldens: Seq[(String, Seq[String])] = Seq(
    ("a", Seq("a")),
    ("The quick brown fox jumped over the lazy dog.",
      Seq("the", "quick", "brown", "fox", "jumped", "over", "lazy", "dog")),
    ("We will play with I.B.M.",
      Seq("we", "will", "play", "with", "i.b.m")),
    ("Hello_I_m_arbitrary_concatenated, foo and bar",
      Seq("hello_i_m_arbitrary_concatenated", "foo", "and", "bar")),
    ("the [client] is <foo>, some *bold* marks.",
      Seq("the", "client", "is", "foo", "some", "bold", "marks")),
    ("Text,which doesn't  have spaces right;one;two;three..",
      Seq("text", "which", "doesn't", "have", "spaces", "right",
        "one", "two", "three")),
    ("", Seq.empty))

  test("tokenizer goldens (t_tokenize.c)") {
    tokenizeGoldens.foreach { case (text, expected) =>
      val got = TextPipeline.tokenSet(text, normOnly).map(_._1)
      assert(got == expected, s"text=[$text]")
    }
  }

  test("tokenset dedup counts (t_tokenize.c run_tokenset_test)") {
    val ts = TextPipeline.tokenSet(
      "The quick brown fox jumped over the lazy dog.", normOnly).toMap
    assert(ts("the") == 2)
    assert(ts("quick") == 1)
  }

  test("NFKC_Casefold goldens (t_utf8.c run_norm_test)") {
    assert(Normalizer.nfkcCaseFold("Henry Ⅷ") == "henry viii")
    assert(Normalizer.nfkcCaseFold("AirForce ①") == "airforce 1")
  }

  test("diacritics goldens (t_utf8.c run_diacritic_test)") {
    assert(Normalizer.subsDiacritics("azúl") == "azul")
    assert(Normalizer.subsDiacritics("ĄŽUOLĖLIS") == "AZUOLELIS")
    assert(Normalizer.subsDiacritics("Fuglafjørður") == "Fuglafjordur")
    assert(Normalizer.subsDiacritics("Árbæ") == "Arbae")
  }

  test("full default pipeline: normalizer -> stopwords -> stemmer") {
    val got = TextPipeline.tokens(
      "The quick brown foxes jumped over the lazy dogs", TextPipeline.default)
    // the/over are NLTK stopwords; foxes/jumped/lazy/dogs stem
    assert(got.toSeq == Seq("quick", "brown", "fox", "jump", "lazi", "dog"))
  }

  test("no-stopword-file pipeline matches scoring-test tokenization") {
    // The reference scoring tests run against a fresh basedir with no
    // stopword list, so every token survives (helpers.c test_index_search).
    val got = TextPipeline.tokens(
      "The quick brown fox jumped over the lazy dog",
      TextPipeline.noStopwords)
    assert(got.length == 9) // dl for BM25 parity
    assert(got.count(_ == "the") == 2)
  }

  test("discard of zero-length tokens") {
    // A custom filter that empties a token ⇒ discard (filters.c:208-210)
    CustomFilters.register("empty_drop", t => Some(if (t == "drop") "" else t))
    val cfg = PipelineConfig(filters = Seq("normalizer", "custom:empty_drop"))
    val got = TextPipeline.tokens("keep drop keep2", cfg)
    assert(got.toSeq == Seq("keep", "keep2"))
  }

  test("custom filter discard semantics (lua-filter analogue)") {
    CustomFilters.register("x_discard_reverse",
      t => if (t.startsWith("x")) None else Some(t.reverse))
    val cfg = PipelineConfig(filters = Seq("normalizer", "custom:x_discard_reverse"))
    val got = TextPipeline.tokens("abc xyz def", cfg)
    assert(got.toSeq == Seq("cba", "fed"))
  }

  test("unicode terms survive the pipeline") {
    val got = TextPipeline.tokens("Київ ąžuolas", TextPipeline.default)
    assert(got.length == 2)
    // ї NFKD-decomposes to і + combining diaeresis; the reference's
    // "[:Nonspacing Mark:] Remove" rule strips the mark, so киів.
    assert(got(0) == "киів")
    assert(got(1) == "azuola")       // folded + stemmed
  }
}
