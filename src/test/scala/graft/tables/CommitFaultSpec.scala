package graft.tables

import graft.SparkTestBase
import graft.corpus.SyntheticCorpus
import graft.dedup.IncrementalDedup
import graft.search.{IndexStore, SearchIndex, Searcher}
import graft.text.TextPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}

/** Every commit point of the two mutable stores, failed on purpose: a
  * non-empty directory at the path a call publishes makes its atomic move
  * fail. The call must throw; once the directory is gone, re-running the
  * call must give exactly what an uninterrupted run gives — the store
  * either resumes or failed cleanly, and never loses data silently. A
  * target that already exists before the call (BATCHES on compact) cannot
  * be replaced by the directory without hiding its committed content, so
  * its `.tmp` sibling is blocked instead: the publish then fails one step
  * earlier, with the old file in place, as after a failed move. */
class CommitFaultSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** `call` with `target` blocked by a non-empty directory: asserts the
    * call throws, then removes the directory. */
  private def failsAt(target: Path)(call: => Any): Unit = {
    Files.createDirectories(target.resolve("blocker"))
    try intercept[java.io.IOException] { call }
    finally FsUtil.delete(target.toString)
  }

  /** Runs `calls` (a call and the paths it publishes, in publish order)
    * on a fresh store and on one whose every publish fails once, and
    * asserts each call's result is the same on both. */
  private def resumesAtEveryCommit[S](fresh: String => S,
      calls: Seq[(S => Any, String => Seq[Path])]): Unit = {
    val refRoot = Files.createTempDirectory("commit_ref").toString
    val root = Files.createTempDirectory("commit_fault").toString
    try {
      val ref = fresh(refRoot)
      val want = calls.map(_._1(ref))
      val faulted = fresh(root)
      calls.zip(want).foreach { case ((call, targets), expected) =>
        targets(root).foreach(t => failsAt(t)(call(faulted)))
        assert(call(faulted) == expected)
      }
    } finally Seq(refRoot, root).foreach(FsUtil.delete)
  }

  test("IncrementalDedup resumes after a failed publish at every commit point") {
    val corpus = SyntheticCorpus.pages(spark,
      SyntheticCorpus.Config(nClusters = 40)).cache()
    def half(i: Int) = corpus.where(abs(xxhash64(col("url"))) % 2 === i)
    def labels(df: DataFrame) = df.select("id", "comp")
      .as[(Long, Long)].collect().toSet
    def stages(root: String, b: String) = Seq("sigs", "buckets", "labels")
      .map(s => Paths.get(root, s"${s}_$b", "MANIFEST.json"))
    resumesAtEveryCommit[IncrementalDedup](new IncrementalDedup(spark, _), Seq(
      ((inc: IncrementalDedup) => labels(inc.addBatch("b0", half(0))),
        (root: String) => Seq(Paths.get(root, "CONFIG"),
          Paths.get(root, "BATCHES")) ++ stages(root, "b0")),
      ((inc: IncrementalDedup) => labels(inc.addBatch("b1", half(1))),
        (root: String) => stages(root, "b1")),
      ((inc: IncrementalDedup) => (inc.compact(),
          inc.clusters().as[(String, Long, Long, Boolean)].collect().toSet),
        (root: String) => Seq(Paths.get(root, "BATCHES.tmp")))))
    corpus.unpersist()
  }

  test("IndexStore resumes after a failed publish at every commit point") {
    val cfg = TextPipeline.noStopwords
    val docs = Seq(1L -> "cats eat fish", 2L -> "dogs eat meat",
      3L -> "cats and dogs play").toDF("doc_id", "text")
    def state(idx: SearchIndex) = (idx.docCount, idx.tokenCount,
      idx.fuzzyVariants.isDefined,
      idx.termStats.as[(String, Long, Long, Long)].collect().toSet,
      Searcher.search(idx, "cats OR dogs OR fish").fold(e => fail(e),
        _.as[(Long, Double)].collect().toSeq))
    resumesAtEveryCommit[String](identity, Seq(
      ((root: String) => state(IndexStore.buildOrOpen(docs, cfg, spark, root)),
        (root: String) => Paths.get(root, "params.json") +:
          Seq("postings", "term_stats", "fuzzy_variants", "index_stats")
            .map(Paths.get(root, _, "MANIFEST.json"))),
      ((root: String) => state(IndexStore.addDocs(docs, cfg, spark, root,
          Seq(9L -> "cats chase fish").toDF("doc_id", "text"))),
        (root: String) => Seq(
          Paths.get(root, "mutations", "gen_0", "0001_add", "MANIFEST"))),
      ((root: String) => state(IndexStore.compact(docs, cfg, spark, root)),
        (root: String) => Seq(Paths.get(root, "GENERATION")))))
  }
}
