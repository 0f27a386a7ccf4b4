package graft.search

import graft.SparkTestBase
import graft.text.TextPipeline
import org.scalatest.funsuite.AnyFunSuite

/** Delete (tombstone) semantics mirror the reference's
  * src/tests/t_index_remove.c: a removed doc disappears from results,
  * counters decrement, and re-adding the same id is rejected while present
  * (nxs.c:498-511). Incremental add mirrors the terms/dtmap sync path
  * (terms.c:320-414): stats after add(idx, d2) == stats of build(d1 ∪ d2).
  * Every mutation runs through the durable path (IndexStore.removeDocs /
  * addDocs) on a fresh index root (`TempIndex`). */
class IndexMaintenanceSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val base = Seq(
    1L -> "cats eat fish",
    2L -> "dogs eat meat",
    3L -> "cats and dogs play")

  private val cfg = TextPipeline.noStopwords

  /** `body` on a durable index of `docs` under a fresh root. */
  private def withIndex[T](docs: Seq[(Long, String)] = base)(
      body: (String, SearchIndex) => T): T =
    TempIndex(docs.toDF("doc_id", "text"), cfg)(body)

  private def remove(root: String, ids: Long*): SearchIndex =
    IndexStore.removeDocs({ fail("no recompute"); null }, cfg, spark, root,
      ids.toDF("doc_id"))

  private def add(root: String, docs: (Long, String)*): SearchIndex =
    IndexStore.addDocs({ fail("no recompute"); null }, cfg, spark, root,
      docs.toDF("doc_id", "text"))

  /** Every postings row carries its doc's length: dl == the doc's sum(cnt). */
  private def assertDlOnRows(idx: SearchIndex): Unit = {
    val rows = idx.postings.select("doc_id", "cnt", "dl")
      .as[(Long, Long, Long)].collect()
    val dl = rows.groupMapReduce(_._1)(_._2)(_ + _)
    assert(rows.nonEmpty)
    rows.foreach { case (d, _, l) => assert(l == dl(d), s"doc $d: dl $l != ${dl(d)}") }
  }

  private def searchIds(idx: SearchIndex, q: String): Set[Long] =
    Searcher.search(idx, q).fold(e => fail(e),
      _.select("doc_id").as[Long].collect().toSet)

  test("remove tombstones a doc: gone from results, counters decremented") { withIndex() { (root, idx) =>
    assert(searchIds(idx, "cats") == Set(1L, 3L))
    val idx2 = remove(root, 1L)
    assert(searchIds(idx2, "cats") == Set(3L))
    assert(idx2.docCount == idx.docCount - 1)
    assert(idx2.tokenCount == idx.tokenCount - 3)
    // term only present in the removed doc STAYS INTERNED at df=0 — the
    // reference never reuses or compacts term ids on delete (terms.c); a
    // query on it just finds no postings
    val fishBefore = idx.termStats.where("term = 'fish'")
      .select("term_id").as[Long].collect().head
    val fishRow = idx2.termStats.where("term = 'fish'")
      .select("term_id", "df").as[(Long, Long)].collect()
    assert(fishRow.toSeq == Seq((fishBefore, 0L)))
    assert(searchIds(idx2, "fish") == Set.empty[Long])
    // shared term df decremented, not dropped
    val catRow = idx2.termStats.where("term = 'cat'")
      .select("df").as[Long].collect()
    assert(catRow.toSeq == Seq(1L))
  } }

  test("fully-deleted term keeps its interned id across delete/re-add") { withIndex() { (root, idx) =>
    val fishId = idx.termStats.where("term = 'fish'")
      .select("term_id").as[Long].collect().head
    remove(root, 1L)
    val readded = add(root, 7L -> "fish swim")
    val after = readded.termStats.where("term = 'fish'")
      .select("term_id", "df").as[(Long, Long)].collect()
    assert(after.toSeq == Seq((fishId, 1L)))
    assert(searchIds(readded, "fish") == Set(7L))
  } }

  test("incremental add equals full rebuild; duplicate ids rejected") {
    val extra = Seq(4L -> "fish play in water", 1L -> "duplicate id ignored")
    withIndex() { (root, _) =>
      withIndex(base :+ (4L -> "fish play in water")) { (_, full) =>
        val added = add(root, extra: _*)
        assertDlOnRows(added)
        assert(added.docCount == full.docCount)
        assert(added.tokenCount == full.tokenCount)
        // full tuple including term_id: incremental interning must assign the
        // SAME dense first-seen ids as a from-scratch rebuild over base ∪ extra
        val a = added.termStats.orderBy("term")
          .as[(String, Long, Long, Long)].collect()
        val f = full.termStats.orderBy("term")
          .as[(String, Long, Long, Long)].collect()
        assert(a.toSeq == f.toSeq)
        // doc 1 keeps its ORIGINAL text (duplicate add rejected)
        assert(searchIds(added, "duplicate") == Set.empty[Long])
      }
    }
  }

  test("remove then re-add the same id succeeds (t_index_remove.c flow)") { withIndex() { (root, idx) =>
    remove(root, 2L)
    val readded = add(root, 2L -> "dogs eat meat")
    assertDlOnRows(readded)
    assert(searchIds(readded, "dogs") == Set(2L, 3L))
    assert(readded.docCount == idx.docCount)
    assert(readded.tokenCount == idx.tokenCount)
  } }

  test("json response matches the reference wire shape (results.c:152-220)") {
    withIndex() { (_, idx) =>
      val res = Searcher.search(idx, "cats").fold(e => fail(e), identity)
      val json = Searcher.toJsonResponse(res)
      assert(json.matches(
        """\{"results":\[(\{"doc_id":\d+,"score":\d+\.\d{6}\},?)+\],"count":2\}"""))
    }
  }
}
