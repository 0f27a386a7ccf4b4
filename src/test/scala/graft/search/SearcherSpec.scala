package graft.search

import graft.SparkTestBase
import graft.text.TextPipeline
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.scalatest.funsuite.AnyFunSuite

/** Scoring goldens ported verbatim from
  * /root/reference/src/tests/t_scoring.c:16-158 (tolerance 1e-4 per
  * helpers.c:215) and query-logic goldens from t_querylogic.c:16-56.
  * Like the reference tests, the index is built with the default filter
  * pipeline but no stopword list on disk (fresh basedir ⇒ stopword filter
  * is a pass-through), on a fresh index root per test (`TempIndex`). */
class SearcherSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def withIndex[T](docs: Seq[(Long, String)])(body: SearchIndex => T): T =
    TempIndex(docs.toDF("doc_id", "text"), TextPipeline.noStopwords)((_, idx) => body(idx))

  private def run(idx: SearchIndex, q: String, algo: Searcher.Algo):
      Map[Long, Double] =
    Searcher.search(idx, q, Some(algo)).fold(
      e => fail(s"query [$q] failed: $e"),
      df => df.as[(Long, Double)].collect().toMap)

  private def checkCase(docs: Seq[(Long, String)], query: String,
      expected: Seq[(Long, Double, Double)]): Unit = withIndex(docs) { idx =>
    for ((algo, idx2) <- Seq(Searcher.TfIdf -> 0, Searcher.Bm25 -> 1)) {
      val got = run(idx, query, algo)
      assert(got.size == expected.size,
        s"[$query/$algo] result count ${got.size} != ${expected.size}: $got")
      expected.foreach { case (id, tfidf, bm25) =>
        val exp = if (idx2 == 0) tfidf else bm25
        assert(got.contains(id), s"[$query/$algo] doc $id missing")
        assert(math.abs(got(id) - exp) < 1e-4,
          f"[$query/$algo] doc $id score ${got(id)}%.6f != $exp%.6f")
      }
    }
  }

  private val docs1 = Seq(
    1L -> "The quick brown fox jumped over the lazy dog",
    2L -> "Once upon a time there were three little foxes")

  test("t_scoring case 1: basic score") {
    checkCase(docs1, "dog", Seq((1L, 1.1736, 0.253785)))
  }

  test("t_scoring case 2: equal scores across docs") {
    checkCase(docs1, "fox", Seq(
      (1L, 0.693147, 0.066754), (2L, 0.693147, 0.066754)))
  }

  test("t_scoring case 3: multi-term sum") {
    checkCase(docs1, "fox dog", Seq(
      (1L, 1.1736 + 0.693147, 0.253785 + 0.066754),
      (2L, 0.693147, 0.066754)))
  }

  test("t_scoring case 4: TF weighting") {
    checkCase(Seq(1L -> "cat dog rat", 2L -> "cat cat dog"), "cat", Seq(
      (1L, 0.693147, 0.066754), (2L, 1.098612, 0.087140)))
  }

  test("t_scoring case 5: term variety") {
    checkCase(Seq(
      1L -> "cat cat dog dog", 2L -> "dog dog cat cat",
      3L -> "cat dog rat cow", 4L -> "cat dog rat bat"),
      "cat dog rat cow", Seq(
        (1L, 2.197225, 0.100713), (2L, 2.197225, 0.100713),
        (3L, 4.213948, 0.771754), (4L, 2.559895, 0.330938)))
  }

  test("t_scoring case 6: TF saturation") {
    checkCase(Seq(
      1L -> "aa aa aa aa aa aa aa aa aa aa aa aa aa aa aa aa aa aa aa aa",
      2L -> "aa aa aa aa aa aa aa aa aa aa bb bb bb bb bb bb bb bb bb bb",
      3L -> "aa bb bb bb bb bb bb bb bb bb bb bb bb bb bb bb bb bb bb bb"),
      "aa", Seq(
        (1L, 3.044523, 0.095780), (2L, 2.397895, 0.088995),
        (3L, 0.693147, 0.048890)))
  }

  test("t_scoring case 7: doc length normalization (BM25)") {
    checkCase(Seq(
      1L -> ("This is a very long document about the cats " +
             "All kind of cats including the tabby and other cats"),
      2L -> "cats cats cats",
      3L -> "cats cats dogs"),
      "cats", Seq(
        (1L, 1.386294, 0.048411), (2L, 1.386294, 0.091469),
        (3L, 1.098612, 0.084499)))
  }

  private val logicDocs = Seq(
    1L -> "Textbook about Erlang in Linux environment",
    2L -> "Unix Shell scripting textbook",
    3L -> "Erlang and Python examples",
    4L -> "Textbook about Python using Linux and Windows",
    5L -> "All but NOT: Textbook Erlang Python Shell Linux Unix Java",
    6L -> "All keywords: Textbook Erlang Python Shell Linux Unix")

  test("t_querylogic: unused term -> empty") {
    withIndex(logicDocs) { idx =>
      assert(run(idx, "non-existant-term", Searcher.Bm25).isEmpty)
    }
  }

  test("t_querylogic: single term") {
    withIndex(logicDocs) { idx =>
      assert(run(idx, "unix", Searcher.Bm25).keySet == Set(2L, 5L, 6L))
    }
  }

  test("t_querylogic: composite boolean query") { withIndex(logicDocs) { idx =>
    val q = "textbook AND (Erlang OR Python OR Shell) AND " +
      "(Linux OR Unix) AND NOT (Windows OR Java)"
    assert(run(idx, q, Searcher.Bm25).keySet == Set(1L, 2L, 6L))
    assert(run(idx, q, Searcher.TfIdf).keySet == Set(1L, 2L, 6L))
  } }

  test("fuzzy resolve: tolerance 2, most-popular wins") { withIndex(logicDocs) { idx =>
    // 'unxi' is distance 2 from 'unix'
    assert(run(idx, "unxi", Searcher.Bm25).keySet == Set(2L, 5L, 6L))
    // fuzzy off -> no results
    val r = Searcher.search(idx, "unxi", Some(Searcher.Bm25), fuzzy = false)
      .toOption.get.count()
    assert(r == 0)
  } }

  test("fuzzy resolve is an equi-join on deletion-neighborhood keys, not BNLJ") {
    withIndex(logicDocs) { idx =>
      // the variant rows derived from termStats (an index without its
      // at-rest stage) are filtered by hash equality: no pairwise plan
      val toks = Seq("unxi", "documnt")
      val df = Searcher.fuzzyProbe(Searcher.variantRows(idx.termStats), toks)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), plan)
      // the same candidate rows as the persisted stage's
      assert(df.collect().toSet ==
        Searcher.fuzzyProbe(idx.fuzzyVariants.get, toks).collect().toSet)
      val got = Searcher.resolveFuzzy(df, toks).map { case (q, (t, _)) => q -> t }
      assert(got("unxi") == "unix", got)
    }
  }

  test("every query kind runs at most 3 Spark jobs on a stored index: " +
    "one resolve collect, then the aggregate and the top-k") { withIndex(logicDocs) { idx =>
    assert(idx.fuzzyVariants.isDefined)
    val mix = Seq(
      "and" -> ("textbook AND linux", false),
      "or" -> ("erlang OR java", false),
      "and_not" -> ("textbook AND NOT windows", false),
      "head" -> ("textbook", false),
      "fuzzy hit" -> ("textbook AND unix", true),
      "fuzzy miss" -> ("unxi OR erlang", true))
    val jobs = mix.map { case (kind, (q, fuzzy)) =>
      val (rows, phases) = graft.obs.PhaseTrace(spark)(
        Searcher.search(idx, q, fuzzy = fuzzy).fold(e => fail(e), _.collect()))
      assert(rows.nonEmpty, s"$kind [$q]")
      kind -> phases.map(_.jobs).sum
    }
    assert(jobs.forall(_._2 <= 3), jobs)
  } }

  test("limit caps results (top-k)") { withIndex(logicDocs) { idx =>
    val top = Searcher.search(idx, "textbook", Some(Searcher.Bm25), limit = 2)
      .toOption.get.collect()
    assert(top.length == 2)
    // scores descending
    assert(top(0).getDouble(1) >= top(1).getDouble(1))
  } }

  test("top-k plan uses TakeOrderedAndProject") { withIndex(logicDocs) { idx =>
    val df = Searcher.search(idx, "textbook", Some(Searcher.Bm25), limit = 5).toOption.get
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // the whole boolean tree is one per-doc aggregate over ONE postings
    // read: no semi/anti join per operator, no second scan for scoring
    val q = Searcher.search(idx,
      "textbook AND (erlang OR python) AND NOT windows", Some(Searcher.Bm25),
      limit = 5).toOption.get
    val qplan = q.queryExecution.executedPlan.toString
    assert(qplan.contains("TakeOrderedAndProject"), qplan)
    assert(!qplan.contains("LeftSemi") && !qplan.contains("LeftAnti"), qplan)
    // exactly one scan carries `cnt`: the postings stage's
    val postingsReads = q.queryExecution.optimizedPlan.collect {
      case r: LogicalRelation if r.output.exists(_.name == "cnt") => r
    }
    assert(postingsReads.size == 1, q.queryExecution.optimizedPlan)
  } }

  test("boolean algebra == brute force over per-doc term sets " +
    "(random trees, fuzzy on and off)") {
    val rnd = new scala.util.Random(4242)
    val syl = Seq("ba", "ke", "lo", "mu", "ri", "sa", "te", "vo", "zu", "pi")
    val vocab = (0 until 100).map(i => syl(i / 10) + syl(i % 10) + "n")
    // Zipf-like: head terms in most docs, tail terms in few; stopwords
    // between words are dropped at indexing
    val docs = (1L to 80L).map { id =>
      id -> Seq.fill(3 + rnd.nextInt(10))(
        vocab((vocab.size * math.pow(rnd.nextDouble(), 2)).toInt)).mkString(" the ")
    }
    val cfg = TextPipeline.default
    TempIndex(docs.toDF("doc_id", "text"), cfg) { (_, idx) =>
      // driver-side brute force over the index's per-doc term sets
      val post = idx.postings.select("doc_id", "term", "cnt")
        .as[(Long, String, Long)].collect().toSeq
      val docTerms: Map[Long, Map[String, Long]] = post.groupBy(_._1).map {
        case (d, rs) => d -> rs.map(r => r._2 -> r._3).toMap
      }
      val dl = docTerms.map { case (d, tc) => d -> tc.values.sum }
      val df = post.groupBy(_._2).map { case (t, rs) => t -> rs.size.toDouble }
      val total = post.groupBy(_._2).map { case (t, rs) => t -> rs.map(_._3).sum }
      val n = idx.docCount.toDouble
      assert(idx.docCount == docTerms.size)
      val adl = (idx.tokenCount / idx.docCount).toDouble
      def score(algo: Searcher.Algo, cnt: Long, dl: Long, df: Double): Double = {
        val tf = math.log(cnt + 1.0)
        algo match {
          case Searcher.TfIdf => tf * (math.log(n / df) + 1)
          case _ =>
            tf / (tf + 1.2 * (0.25 + 0.75 * dl / adl)) *
              math.log((n - df + 0.5) / (df + 0.5) + 1)
        }
      }
      def lev(a: String, b: String): Int = {
        val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
          if (i == 0) j else if (j == 0) i else 0)
        for (i <- 1 to a.length; j <- 1 to b.length)
          d(i)(j) = Seq(d(i - 1)(j) + 1, d(i)(j - 1) + 1,
            d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)).min
        d(a.length)(b.length)
      }
      def resolve(leaf: String, fuzzy: Boolean): Option[String] =
        TextPipeline.filterToken(leaf, cfg).flatMap { tok =>
          if (!fuzzy || df.contains(tok)) Some(tok)
          else df.keys.filter(lev(_, tok) <= 2).toSeq
            .sortBy(t => (-total(t), t)).headOption
        }
      def holds(e: QExpr, res: Map[String, Option[String]], terms: Set[String])
          : Boolean = e match {
        case QToken(v) => res(v).exists(terms)
        case QAnd(l, r) => holds(l, res, terms) && holds(r, res, terms)
        case QOr(l, r) => holds(l, res, terms) || holds(r, res, terms)
        case QAndNot(l, r) => holds(l, res, terms) && !holds(r, res, terms)
      }

      // leaves: index terms (some upper-cased), one-edit typos, terms absent
      // from the index at any distance, stopwords, and repeats of earlier leaves
      val absent = Seq("zyzzyva", "quorum", "xylophone")
      val stop = Seq("the", "of", "is")
      def leaf(seen: collection.mutable.Buffer[String]): String = {
        val w = vocab((vocab.size * math.pow(rnd.nextDouble(), 1.5)).toInt)
        val i = rnd.nextInt(w.length)
        val v = rnd.nextInt(10) match {
          case 0 => w.updated(i, 'q')
          case 1 => w.take(i) + "q" + w.drop(i)
          case 2 => absent(rnd.nextInt(absent.size))
          case 3 => stop(rnd.nextInt(stop.size))
          case 4 if seen.nonEmpty => seen(rnd.nextInt(seen.size))
          case 5 => w.toUpperCase
          case _ => w
        }
        seen += v; v
      }
      def tree(depth: Int, seen: collection.mutable.Buffer[String]): QExpr =
        if (depth == 0 || rnd.nextInt(4) == 0) QToken(leaf(seen))
        else rnd.nextInt(3) match {
          case 0 => QAnd(tree(depth - 1, seen), tree(depth - 1, seen))
          case 1 => QOr(tree(depth - 1, seen), tree(depth - 1, seen))
          case _ => QAndNot(tree(depth - 1, seen), tree(depth - 1, seen))
        }
      def render(e: QExpr): String = e match {
        case QToken(v) => v
        case QAnd(l, r) => s"(${render(l)} AND ${render(r)})"
        case QOr(l, r) => s"(${render(l)} OR ${render(r)})"
        case QAndNot(l, r) => s"(${render(l)} AND NOT ${render(r)})"
      }
      val random = (1 to 24).map { _ =>
        val t = tree(4, collection.mutable.Buffer.empty); t -> render(t)
      }
      val chain = vocab.take(70).map(QToken(_): QExpr).reduceLeft(QOr(_, _))
      val special = Seq(
        QAndNot(QToken(vocab(0)), QToken(vocab(0))) -> s"${vocab(0)} AND NOT ${vocab(0)}",
        QAnd(QOr(QToken(vocab(1)), QToken(vocab(1))), QToken(vocab(2))) ->
          s"(${vocab(1)} OR ${vocab(1)}) AND ${vocab(2)}",
        QToken("the") -> "the",
        QAndNot(chain, QToken(vocab(0))) ->
          s"(${vocab.take(70).mkString(" OR ")}) AND NOT ${vocab(0)}")

      // fuzzy leaves resolve against both variant sources: the at-rest
      // fuzzy_variants stage, and the rows derived from term_stats that an
      // open with mutations pending probes (the 70-term chain takes
      // fuzzyProbe's semi-join branch on each)
      require(idx.fuzzyVariants.isDefined)
      val sources = Seq("stage" -> idx, "derived" -> idx.copy(fuzzyVariants = None))
      var nonEmpty = 0
      for ((t, q) <- random ++ special; fuzzy <- Seq(true, false);
           (src, in) <- if (fuzzy) sources else sources.take(1);
           algo <- Seq(Searcher.Bm25, Searcher.TfIdf)) {
        val res = QueryParser.leaves(t).map(l => l -> resolve(l, fuzzy)).toMap
        val qTerms = res.values.flatten.toSet
        val expected: Map[Long, Double] = docTerms.collect {
          case (d, tc) if holds(t, res, tc.keySet) =>
            d -> qTerms.toSeq.filter(tc.contains)
              .map(x => score(algo, tc(x), dl(d), df(x))).sum
        }
        val got = Searcher.search(in, q, Some(algo), fuzzy = fuzzy).fold(
          e => fail(s"query [$q] failed: $e"), _.as[(Long, Double)].collect().toSeq)
        val ctx = s"[$q fuzzy=$fuzzy $src $algo]"
        assert(got.map(_._1).toSet == expected.keySet && got.size == expected.size,
          s"$ctx got ${got.map(_._1).sorted} expected ${expected.keys.toSeq.sorted}")
        got.foreach { case (d, s) =>
          assert(math.abs(s - expected(d)) <= 1e-9 * math.abs(expected(d)),
            s"$ctx doc $d score $s != ${expected(d)}")
        }
        assert(got == got.sortBy { case (d, s) => (-s, d) }, s"$ctx order $got")
        if (got.nonEmpty && src == "stage") nonEmpty += 1
      }
      // the generator must exercise both matching and empty results
      assert(nonEmpty > 20 && nonEmpty < 4 * (random ++ special).size, nonEmpty)
    }
  }

  test("custom registry filter applies at indexing AND query preparation") {
    // the reference's Lua-filter story: the same user filter runs inside
    // indexing and inside query prepare (filters_lua.c:74-289)
    graft.text.CustomFilters.register("brit_search",
      s => Some(if (s == "colour") "color" else s))
    val cfg = graft.text.PipelineConfig(
      filters = Seq("normalizer", "custom:brit_search", "stemmer"),
      stopwordsEnabled = false)
    TempIndex(
      Seq(1L -> "the color is red", 2L -> "nothing else").toDF("doc_id", "text"),
      cfg) { (_, idx) =>
      // query leaf "Colour" must resolve through the custom filter to the
      // indexed term — exact resolve, no fuzzy assist
      val got = Searcher.search(idx, "Colour", Some(Searcher.Bm25), fuzzy = false)
        .fold(e => fail(e), df => df.as[(Long, Double)].collect().toMap)
      assert(got.keySet == Set(1L), got)
    }
  }
}
