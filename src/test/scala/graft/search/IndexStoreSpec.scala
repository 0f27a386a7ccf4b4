package graft.search

import graft.SparkTestBase
import graft.text.TextPipeline
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Durable-index lifecycle (build → kill → reopen), term interning order,
  * and query-error positions — reference semantics:
  * terms.c:226-235 (ids 1..N first-seen), query.c:47-58 (line:offset +
  * 50-char context). */
class IndexStoreSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val base = Seq(
    1L -> "cats eat fish",
    2L -> "dogs eat meat",
    3L -> "cats and dogs play")

  test("term ids are dense 1..N in first-seen order (terms.c:226-235)") {
    val idx = SearchIndex.build(base.toDF("doc_id", "text"),
      TextPipeline.noStopwords)
    val byId = idx.termStats.orderBy("term_id")
      .select("term_id", "term").as[(Long, String)].collect()
    assert(byId.map(_._1).toSeq == (1L to byId.length))
    // insertion order: doc 1 ("cat", "eat", "fish"), then doc 2 adds
    // ("dog", "meat"), then doc 3 adds ("and", "play") — stemmed forms
    assert(byId.map(_._2).toSeq ==
      Seq("cat", "eat", "fish", "dog", "meat", "and", "play"))
  }

  test("build, kill session state, reopen: identical scores, no recompute") {
    val root = java.nio.file.Files.createTempDirectory("idxstore").toString
    val cfg = TextPipeline.noStopwords
    def scores(idx: SearchIndex): Map[Long, Double] =
      Searcher.search(idx, "cats AND dogs").fold(e => fail(e),
        _.select("doc_id", "score").as[(Long, Double)].collect().toMap)

    val idx1 = IndexStore.buildOrOpen(base.toDF("doc_id", "text"), cfg, spark, root)
    val s1 = scores(idx1)
    assert(s1.nonEmpty)

    // "restart": clear every cached/checkpointed block, then reopen with a
    // docs thunk that would fail if evaluated — proving the committed
    // tables alone serve the index.
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val idx2 = IndexStore.buildOrOpen(
      { fail("docs must not be recomputed on reopen"); null }, cfg, spark, root)
    assert(scores(idx2) == s1)
    assert(idx2.docCount == idx1.docCount && idx2.tokenCount == idx1.tokenCount)

    // a config change invalidates the committed stages and rebuilds
    val idx3 = IndexStore.buildOrOpen(base.toDF("doc_id", "text"),
      TextPipeline.default, spark, root)
    assert(idx3.termStats.count() > 0)
  }

  test("algo persists in params.json: TF-IDF index reopens scoring TF-IDF") {
    val root = java.nio.file.Files.createTempDirectory("idxalgo").toString
    val cfg = TextPipeline.noStopwords
    def scores(idx: SearchIndex, algo: Searcher.Algo = Searcher.IndexDefault) =
      Searcher.search(idx, "cats", algo).fold(e => fail(e),
        _.select("doc_id", "score").as[(Long, Double)].collect().toMap)

    // build pinned to TF-IDF (the reference's params.db stores algo too)
    val idx1 = IndexStore.buildOrOpen(base.toDF("doc_id", "text"), cfg, spark,
      root, algo = Some(Searcher.TfIdf))
    assert(idx1.algo == Searcher.TfIdf)
    val tfidf = scores(idx1, Searcher.TfIdf)

    // reopen with NO config at all: params.json supplies pipeline AND algo,
    // and the default search scores with the index's algo
    val idx2 = IndexStore.openIndex(spark, root)
    assert(idx2.algo == Searcher.TfIdf)
    assert(scores(idx2) == tfidf)
    assert(scores(idx2) != scores(idx2, Searcher.Bm25))

    // opening with a CONFLICTING algo errors (never silently rescores)
    intercept[IllegalArgumentException] {
      IndexStore.openIndex({ fail("no recompute"); null }, cfg, spark, root,
        algo = Some(Searcher.Bm25))
      ()
    }
    // an explicit buildOrOpen with a new algo is the supported repin: the
    // stage tables are untouched, params.json updates
    val idx3 = IndexStore.buildOrOpen({ fail("no recompute"); null }, cfg,
      spark, root, algo = Some(Searcher.Bm25))
    assert(idx3.algo == Searcher.Bm25)
    assert(IndexStore.openIndex(spark, root).algo == Searcher.Bm25)
  }

  test("rebuild-with-new-params never strands durable mutations mid-crash") {
    val root = java.nio.file.Files.createTempDirectory("idxpfp").toString
    val cfg = TextPipeline.noStopwords
    def ids(idx: SearchIndex, q: String): Set[Long] =
      Searcher.search(idx, q).fold(e => fail(e),
        _.select("doc_id").as[Long].collect().toSet)
    IndexStore.buildOrOpen(base.toDF("doc_id", "text"), cfg, spark, root)
    IndexStore.addDocs({ fail("no recompute"); null }, cfg, spark, root,
      Seq(9L -> "cats chase fish").toDF("doc_id", "text"))
    // Reopen with the ORIGINAL params at any point before a rebuild commits
    // the new base: the mutation log must still be fully live (the old
    // design deleted it first — a crash there silently lost the add).
    val idx = IndexStore.openIndex({ fail("no recompute"); null }, cfg, spark, root)
    assert(ids(idx, "cats") == Set(1L, 3L, 9L))
    // An actual rebuild with different params abandons old-pipeline
    // mutations BY FINGERPRINT (not replayed onto the new base).
    val idx2 = IndexStore.buildOrOpen(base.toDF("doc_id", "text"),
      TextPipeline.default, spark, root)
    assert(ids(idx2, "cats") == Set(1L, 3L))
  }

  test("a mutation manifest without its pfp field fails the open, naming it") {
    val root = java.nio.file.Files.createTempDirectory("idxnopfp").toString
    val cfg = TextPipeline.noStopwords
    IndexStore.buildOrOpen(base.toDF("doc_id", "text"), cfg, spark, root)
    IndexStore.addDocs({ fail("no recompute"); null }, cfg, spark, root,
      Seq(9L -> "cats chase fish").toDF("doc_id", "text"))
    val entry = java.nio.file.Paths.get(root, "mutations", "gen_0", "0001_add")
    val mf = entry.resolve("MANIFEST")
    val m = graft.tables.FlatJson.parse(java.nio.file.Files.readString(mf))
    assert(m.contains("pfp"), m)
    java.nio.file.Files.writeString(mf, graft.tables.FlatJson.render(m - "pfp"))
    // neither replayed under a guessed pipeline nor silently skipped
    val e = intercept[IllegalStateException] {
      IndexStore.openIndex({ fail("no recompute"); null }, cfg, spark, root)
    }
    assert(e.getMessage.contains(entry.toString), e.getMessage)
  }

  test("durable add/remove survive restart (dtmap.c:546-655 tombstone + append)") {
    val root = java.nio.file.Files.createTempDirectory("idxmut").toString
    val cfg = TextPipeline.noStopwords
    def ids(idx: SearchIndex, q: String): Set[Long] =
      Searcher.search(idx, q).fold(e => fail(e),
        _.select("doc_id").as[Long].collect().toSet)

    val idx0 = IndexStore.openIndex(base.toDF("doc_id", "text"), cfg, spark, root)
    assert(ids(idx0, "cats") == Set(1L, 3L))

    // durable delete of doc 1, durable add of doc 9
    IndexStore.removeDocs(base.toDF("doc_id", "text"), cfg, spark, root,
      Seq(1L).toDF("doc_id"))
    val idx1 = IndexStore.addDocs(base.toDF("doc_id", "text"), cfg, spark, root,
      Seq(9L -> "cats chase fish").toDF("doc_id", "text"))
    assert(ids(idx1, "cats") == Set(3L, 9L))
    val s1 = Searcher.search(idx1, "cats AND fish").fold(e => fail(e),
      _.select("doc_id", "score").as[(Long, Double)].collect().toMap)
    assert(s1.keySet == Set(9L))

    // "restart": drop all session state, reopen with a docs thunk that must
    // NOT be evaluated — the committed base stages + mutation log alone
    // serve the mutated index.
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val idx2 = IndexStore.openIndex(
      { fail("docs must not be recomputed on reopen"); null }, cfg, spark, root)
    assert(ids(idx2, "cats") == Set(3L, 9L))
    val s2 = Searcher.search(idx2, "cats AND fish").fold(e => fail(e),
      _.select("doc_id", "score").as[(Long, Double)].collect().toMap)
    assert(s2 == s1)
    assert(idx2.docCount == idx1.docCount && idx2.tokenCount == idx1.tokenCount)

    // delete -> re-add of the same doc id works (generation sequencing):
    IndexStore.removeDocs(
      { fail("no recompute"); null }, cfg, spark, root, Seq(9L).toDF("doc_id"))
    val idx3 = IndexStore.addDocs(
      { fail("no recompute"); null }, cfg, spark, root,
      Seq(9L -> "dogs herd sheep").toDF("doc_id", "text"))
    assert(ids(idx3, "dogs") == Set(2L, 3L, 9L))
    assert(ids(idx3, "fish") == Set.empty[Long])
    // fully-deleted term stays interned at df=0 (ids never reused)
    val fish = idx3.termStats.where("term = 'fish'")
      .select("df").as[Long].collect()
    assert(fish.toSeq == Seq(0L))

    // compact: fold the log into fresh base stages; scores, counters, and
    // interned ids unchanged; reopen reads the fold with no mutation log
    val fishId = idx3.termStats.where("term = 'fish'")
      .select("term_id").as[Long].collect().head
    val dogScores = Searcher.search(idx3, "dogs").fold(e => fail(e),
      _.select("doc_id", "score").as[(Long, Double)].collect().toMap)
    val idx4 = IndexStore.compact(
      { fail("no recompute"); null }, cfg, spark, root)
    val s4 = Searcher.search(idx4, "dogs").fold(e => fail(e),
      _.select("doc_id", "score").as[(Long, Double)].collect().toMap)
    assert(s4 == dogScores)
    assert(idx4.docCount == idx3.docCount && idx4.tokenCount == idx3.tokenCount)
    assert(idx4.termStats.where("term = 'fish'")
      .select("term_id", "df").as[(Long, Long)].collect().toSeq ==
      Seq((fishId, 0L)))
    // post-compact mutations keep working (ids continue past the fold)
    val idx5 = IndexStore.addDocs(
      { fail("no recompute"); null }, cfg, spark, root,
      Seq(11L -> "fish and newword").toDF("doc_id", "text"))
    assert(ids(idx5, "fish") == Set(11L))
    assert(ids(idx5, "newword") == Set(11L))
    val maxBefore = idx4.termStats.agg(org.apache.spark.sql.functions.max("term_id"))
      .as[Long].collect().head
    val newId = idx5.termStats.where("term = 'newword'")
      .select("term_id").as[Long].collect().head
    assert(newId > maxBefore)
  }

  test("stress: 12 mutation generations + compact equal a fresh build " +
    "(t_stress_terms/t_stress_dtmap analogue)") {
    val root = java.nio.file.Files.createTempDirectory("idxstress").toString
    val cfg = TextPipeline.noStopwords
    def docText(i: Long) = s"word${i % 7} common${i % 3} unique$i tail${i % 5}"
    var live = (1L to 20L).map(i => i -> docText(i)).toMap
    IndexStore.openIndex(live.toSeq.toDF("doc_id", "text"), cfg, spark, root)

    var nextId = 21L
    val rnd = new scala.util.Random(11)
    for (gen <- 1 to 12) {
      if (gen % 3 == 0) {
        // remove a random live doc
        val victim = live.keys.toSeq.sorted.apply(rnd.nextInt(live.size))
        IndexStore.removeDocs({ fail("no recompute"); null }, cfg, spark, root,
          Seq(victim).toDF("doc_id"))
        live -= victim
      } else {
        val adds = (0 until 2).map { _ =>
          val id = nextId; nextId += 1; id -> docText(id)
        }
        IndexStore.addDocs({ fail("no recompute"); null }, cfg, spark, root,
          adds.toDF("doc_id", "text"))
        live ++= adds
      }
    }
    def scores(idx: SearchIndex, q: String): Map[Long, Double] =
      Searcher.search(idx, q).fold(e => fail(e),
        _.select("doc_id", "score").as[(Long, Double)].collect().toMap)
    val mutated = IndexStore.openIndex({ fail("no recompute"); null },
      cfg, spark, root)
    val fresh = SearchIndex.build(live.toSeq.toDF("doc_id", "text"), cfg)
    assert(mutated.docCount == fresh.docCount)
    assert(mutated.tokenCount == fresh.tokenCount)
    val queries = Seq("word1", "common2 AND word3", "unique25", "tail4 OR word0",
      "common2 AND NOT word3", "(word1 OR tail4) AND NOT common0")
    queries.foreach { q => assert(scores(mutated, q) == scores(fresh, q), q) }

    // fold everything, reopen, same answers from the compacted generation
    val compacted = IndexStore.compact({ fail("no recompute"); null },
      cfg, spark, root)
    queries.foreach { q => assert(scores(compacted, q) == scores(fresh, q), q) }
    val reopened = IndexStore.openIndex({ fail("no recompute"); null },
      cfg, spark, root)
    assert(reopened.docCount == fresh.docCount)
    fresh.unpersist()
  }

  test("reference limits: 65535-byte term kept, 65536 dropped (t_index_limits.c)") {
    // the reference accepts a UINT16_MAX-byte token and errors on one byte
    // more ("term too long (65536)", terms.c:226-230); the batch analogue
    // drops the over-limit term at the postings build (documented on
    // SearchIndex.MaxTermBytes)
    val maxTerm = "a" * SearchIndex.MaxTermBytes
    val tooBig = "b" * (SearchIndex.MaxTermBytes + 1)
    val idx = SearchIndex.build(
      Seq(1L -> s"$maxTerm $tooBig normal").toDF("doc_id", "text"),
      TextPipeline.noStopwords)
    val terms = idx.termStats.select("term").as[String].collect().toSet
    assert(terms.contains(maxTerm))
    assert(!terms.contains(tooBig))
    assert(terms.contains("normal"))
    // dropped term is not counted in dl either
    assert(idx.tokenCount == 2L)
  }

  test("params.json: reopen with NO config adopts stored params; conflict errors") {
    val root = java.nio.file.Files.createTempDirectory("idxparams").toString
    val cfg = TextPipeline.noStopwords
    val idx1 = IndexStore.buildOrOpen(base.toDF("doc_id", "text"), cfg, spark, root)
    val s1 = Searcher.search(idx1, "cats AND dogs").fold(e => fail(e),
      _.select("doc_id", "score").as[(Long, Double)].collect().toMap)

    // open with no config at all: params.json supplies the pipeline
    // (the reference's open-with-params.db, nxs.c:253-287)
    val idx2 = IndexStore.openIndex(spark, root)
    assert(idx2.pipeline.filters == cfg.filters &&
      idx2.pipeline.lang == cfg.lang &&
      idx2.pipeline.stopwordsEnabled == cfg.stopwordsEnabled)
    val s2 = Searcher.search(idx2, "cats AND dogs").fold(e => fail(e),
      _.select("doc_id", "score").as[(Long, Double)].collect().toMap)
    assert(s2 == s1)

    // open with a CONFLICTING config: error, never a silent rebuild
    val err = intercept[IllegalArgumentException] {
      IndexStore.openIndex(
        { fail("conflicting open must not rebuild"); null },
        TextPipeline.default, spark, root)
    }
    assert(err.getMessage.contains("params"), err.getMessage)

    // an unbuilt root has no params to adopt
    val empty = java.nio.file.Files.createTempDirectory("idxempty").toString
    intercept[IllegalStateException] { IndexStore.openIndex(spark, empty) }
  }

  test("persisted fuzzy-variant stage: probe == derive, pushed scan, mutation-aware") {
    val root = java.nio.file.Files.createTempDirectory("idxfuzzy").toString
    val cfg = TextPipeline.noStopwords
    val idx = IndexStore.buildOrOpen(base.toDF("doc_id", "text"), cfg, spark, root)
    assert(idx.fuzzyVariants.isDefined)

    val toks = Seq("catz", "doggs")
    val probe = Searcher.fuzzyProbe(idx.fuzzyVariants.get, toks)
    val derive = Searcher.fuzzyCandidates(idx.termStats, toks)
    // the same candidate rows (vh, term, total, df), hence the same pick
    assert(probe.collect().toSet == derive.collect().toSet)
    val got = Searcher.resolveFuzzy(probe, toks)
    assert(got == Searcher.resolveFuzzy(derive, toks))
    assert(got.nonEmpty)
    // the variant-hash predicate reaches the parquet scan
    val plan = probe.queryExecution.executedPlan.toString
    assert("""PushedFilters: \[[^\]]*vh""".r.findFirstIn(plan).isDefined, plan)

    // pending mutations invalidate the at-rest table (dictionary drift);
    // search still resolves fuzzily through the derive path
    val idx2 = IndexStore.addDocs(base.toDF("doc_id", "text"), cfg, spark, root,
      Seq(9L -> "zebra zebra").toDF("doc_id", "text"))
    assert(idx2.fuzzyVariants.isEmpty)
    val viaSearch = Searcher.search(idx2, "zebr", fuzzy = true)
      .fold(e => fail(e), _.select("doc_id").as[Long].collect().toSet)
    assert(viaSearch == Set(9L), viaSearch)
    // compact folds the log; the rebuilt generation carries fresh variants
    // including the mutated-in term
    val idx3 = IndexStore.compact(
      { fail("no recompute"); null }, cfg, spark, root)
    assert(idx3.fuzzyVariants.isDefined)
    val z = Searcher.resolveFuzzy(
      Searcher.fuzzyProbe(idx3.fuzzyVariants.get, Seq("zebraa")), Seq("zebraa"))
    assert(z.get("zebraa").map(_._1).contains("zebra"), z)

    // OPENS ARE READ-ONLY: an index whose fuzzy stage is missing (built
    // before the fuzzy index existed, or its params were bumped) opens
    // with the derive fallback and writes NOTHING into the root
    val gen = java.nio.file.Files.readString(
      java.nio.file.Paths.get(root, "GENERATION")).trim.toInt
    val fuzzyDir = new java.io.File(root, s"fuzzy_variants@$gen")
    assert(fuzzyDir.isDirectory)
    graft.tables.FsUtil.deleteRecursively(fuzzyDir)
    val idx4 = IndexStore.openIndex(spark, root)
    assert(idx4.fuzzyVariants.isEmpty)
    assert(!fuzzyDir.exists(), "open must not write the fuzzy stage")
    // and search still fuzzy-resolves through the derive path
    val viaDerive = Searcher.search(idx4, "zebraa", fuzzy = true)
      .fold(e => fail(e), _.select("doc_id").as[Long].collect().toSet)
    assert(viaDerive == Set(9L), viaDerive)
  }

  test("a root without the pinned postings format refuses every entry " +
    "point, naming the root, and is left untouched") {
    import java.nio.file.{Files, Paths}
    val cfg = TextPipeline.noStopwords
    def docs = base.toDF("doc_id", "text")
    def setFormat(root: String, format: Option[String]): Unit = {
      val p = Paths.get(root, "params.json")
      val params = graft.tables.FlatJson.parse(Files.readString(p)) - "format"
      Files.writeString(p, graft.tables.FlatJson.render(
        params ++ format.map("format" -> _)))
    }
    def tree(root: String): Set[(String, Long, Long)] = {
      val s = Files.walk(Paths.get(root))
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(f =>
        (f.toString, Files.size(f), Files.getLastModifiedTime(f).toMillis)).toSet
      finally s.close()
    }
    val built = Files.createTempDirectory("idxfmt").toString
    IndexStore.buildOrOpen(docs, cfg, spark, built)
    // a pending add mutation: a rebuild in place would hide it
    val pending = Files.createTempDirectory("idxfmtmut").toString
    IndexStore.buildOrOpen(docs, cfg, spark, pending)
    IndexStore.addDocs(docs, cfg, spark, pending,
      Seq(9L -> "zebra zebra").toDF("doc_id", "text"))
    // the `postings=dl` layout: the same pin, plus a committed doc_stats
    val docStatsLayout = Files.createTempDirectory("idxfmtdocstats").toString
    val idx = IndexStore.buildOrOpen(docs, cfg, spark, docStatsLayout)
    new graft.tables.StageStore(spark, docStatsLayout).runStage("doc_stats",
      "old", inputs = Seq("postings")) {
      idx.postings.groupBy("doc_id")
        .agg(org.apache.spark.sql.functions.sum("cnt").as("dl"))
    }
    setFormat(docStatsLayout, Some("postings=dl"))
    setFormat(built, None)
    setFormat(pending, None)
    for (root <- Seq(built, pending, docStatsLayout)) {
      val before = tree(root)
      val calls: Seq[(String, () => Any)] = Seq(
        "open" -> (() => IndexStore.openIndex(spark, root)),
        "open(cfg)" -> (() => IndexStore.openIndex(docs, cfg, spark, root)),
        "build" -> (() => IndexStore.buildOrOpen(docs, cfg, spark, root)),
        "rebuild with new params" ->
          (() => IndexStore.buildOrOpen(docs, TextPipeline.default, spark, root)),
        "add" -> (() => IndexStore.addDocs(docs, cfg, spark, root,
          Seq(10L -> "new doc").toDF("doc_id", "text"))),
        "remove" -> (() => IndexStore.removeDocs(docs, cfg, spark, root,
          Seq(1L).toDF("doc_id"))),
        "compact" -> (() => IndexStore.compact(docs, cfg, spark, root)))
      for ((name, call) <- calls) {
        val e = intercept[IllegalStateException](call())
        assert(e.getMessage.contains(root) && e.getMessage.contains("fresh root"),
          s"$name: ${e.getMessage}")
      }
      assert(tree(root) == before, s"$root changed")
      IndexStore.destroy(root)
      assert(!new java.io.File(root).exists())
    }
  }

  test("destroy removes only recognized index artifacts (nxs.c:303-345)") {
    val root = java.nio.file.Files.createTempDirectory("idxdestroy").toString
    val cfg = TextPipeline.noStopwords
    IndexStore.buildOrOpen(base.toDF("doc_id", "text"), cfg, spark, root)
    // a foreign file keeps the directory alive through a destroy
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "NOT_OURS.txt"), "keep me")
    IndexStore.destroy(root)
    val left = new java.io.File(root).listFiles.map(_.getName).toSet
    assert(left == Set("NOT_OURS.txt"), left)
    // a non-index directory is refused
    val plain = java.nio.file.Files.createTempDirectory("notanindex").toString
    intercept[IllegalStateException] { IndexStore.destroy(plain) }
    // destroy on a clean index removes the root entirely
    val root2 = java.nio.file.Files.createTempDirectory("idxdestroy2").toString
    IndexStore.buildOrOpen(base.toDF("doc_id", "text"), cfg, spark, root2)
    IndexStore.destroy(root2)
    assert(!new java.io.File(root2).exists())
  }

  test("syntax errors carry line:offset + context (query.c:47-58 format)") {
    val e1 = QueryParser.parse("a AND").left.getOrElse(fail("expected error"))
    assert(e1.matches("""syntax error near \d+:\d+: ".*""""), e1)
    val e2 = QueryParser.parse("ok\nalso (broken").left.getOrElse(fail("err"))
    // the unclosed paren is on line 2; context quotes from the failing token
    assert(e2.startsWith("syntax error near 2:"), e2)
    val e3 = QueryParser.parse(")").left.getOrElse(fail("err"))
    assert(e3.contains("1:0"), e3)
    // a newline INSIDE a quoted token must advance the line accounting for
    // everything after it
    val e4 = QueryParser.parse("\"a\nb\" AND )").left.getOrElse(fail("err"))
    assert(e4.startsWith("syntax error near 2:"), e4)
  }
}
