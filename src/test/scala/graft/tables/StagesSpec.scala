package graft.tables

import graft.SparkTestBase
import graft.corpus.SyntheticCorpus
import graft.dedup.{DedupConfig, DedupRunner}
import graft.search.IndexStore
import graft.text.TextPipeline
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}
import java.util.Comparator

class StagesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def tmpRoot(): String = {
    val p = Files.createTempDirectory("graft_stages")
    p.toFile.deleteOnExit()
    p.toString
  }

  test("stage commit + resume skips recompute") {
    val root = tmpRoot()
    val store = new StageStore(spark, root)
    var computeCalls = 0
    def runOnce() = store.runStage("s1", "cfgA") {
      computeCalls += 1
      Seq(1, 2, 3).toDF("x")
    }
    assert(runOnce().count() == 3)
    assert(computeCalls == 1)
    assert(runOnce().count() == 3)
    assert(computeCalls == 1) // resumed from manifest, not recomputed
  }

  test("fingerprint change invalidates the stage") {
    val root = tmpRoot()
    val store = new StageStore(spark, root)
    var calls = 0
    store.runStage("s1", "cfgA") { calls += 1; Seq(1).toDF("x") }
    // a cfgB run whose write fails part-way must not leave cfgA's manifest
    // claiming the overwritten data: re-running cfgA recomputes its rows
    intercept[Exception] {
      store.runStage("s1", "cfgB") {
        spark.range(2).toDF("x").filter((_: Any) =>
          throw new IllegalStateException("write fails"))
      }
    }
    assert(store.runStage("s1", "cfgA") { calls += 1; Seq(1).toDF("x") }
      .as[Int].collect().toSeq == Seq(1))
    assert(calls == 2)
    store.runStage("s1", "cfgB") { calls += 1; Seq(1, 2).toDF("x") }
    assert(calls == 3)
    assert(store.runStage("s1", "cfgB") { calls += 1; Seq(1).toDF("x") }
      .count() == 2)
    assert(calls == 3)
  }

  test("upstream fingerprint change invalidates downstream (lineage)") {
    val root = tmpRoot()
    val store = new StageStore(spark, root)
    store.runStage("up", "v1") { Seq(1).toDF("x") }
    var downCalls = 0
    store.runStage("down", "d1", inputs = Seq("up")) {
      downCalls += 1; Seq(1).toDF("y")
    }
    assert(downCalls == 1)
    // same config, same upstream -> resume
    store.runStage("down", "d1", inputs = Seq("up")) {
      downCalls += 1; Seq(1).toDF("y")
    }
    assert(downCalls == 1)
    // upstream recommitted with new fingerprint -> downstream recomputes
    store.runStage("up", "v2") { Seq(1, 2).toDF("x") }
    store.runStage("down", "d1", inputs = Seq("up")) {
      downCalls += 1; Seq(1).toDF("y")
    }
    assert(downCalls == 2)
  }

  test("metrics table records per-partition rows per stage") {
    val root = tmpRoot()
    val store = new StageStore(spark, root)
    store.runStage("m1", "c") { spark.range(100).toDF("x") }
    val m = store.metrics()
    assert(m.columns.toSet == Set("partition_id", "rows", "stage", "run_fingerprint"))
    assert(m.where($"stage" === "m1").agg(org.apache.spark.sql.functions.sum("rows"))
      .collect()(0).getLong(0) == 100)

    // An index build commits its four stages in one sequence: every
    // committed stage reports per-partition rows whose sum is its
    // manifest's `rows`, and no journal file is written.
    val idxRoot = tmpRoot()
    IndexStore.buildOrOpen(Seq(1L -> "cats eat fish", 2L -> "dogs eat meat",
      3L -> "cats and dogs play").toDF("doc_id", "text"),
      TextPipeline.noStopwords, spark, idxRoot)
    val manifestRows = new java.io.File(idxRoot).listFiles.toSeq
      .map(d => d.toPath.resolve("MANIFEST.json"))
      .filter(Files.isRegularFile(_))
      .map(mf => mf.getParent.getFileName.toString ->
        FlatJson.parse(Files.readString(mf))("rows").toLong).toMap
    assert(manifestRows.keySet == Set("postings", "term_stats",
      "fuzzy_variants", "index_stats"))
    val sums = new StageStore(spark, idxRoot).metrics()
      .groupBy("stage").agg(org.apache.spark.sql.functions.sum("rows"))
      .as[(String, Long)].collect().toMap
    assert(sums == manifestRows)
    val journal = Files.walk(Path.of(idxRoot))
    try assert(journal.noneMatch(_.getFileName.toString == "stage_metrics.jsonl"))
    finally journal.close()
  }

  test("dedup pipeline kill/restart resume (e2e)") {
    val root = tmpRoot()
    val cfg = DedupConfig()
    val corpus = SyntheticCorpus.pages(spark, SyntheticCorpus.Config(nClusters = 60))
    val first = DedupRunner.run(corpus, cfg, root).collect().toSet

    // "kill" after stage 2: delete downstream commits, keep signatures/edges
    def rmStage(name: String): Unit = {
      val p = Path.of(root, name)
      if (Files.exists(p))
        Files.walk(p).sorted(Comparator.reverseOrder[Path]())
          .forEach(f => Files.delete(f))
    }
    rmStage("cc_labels")
    rmStage("clusters")
    val resumed = DedupRunner.run(corpus, cfg, root).collect().toSet
    assert(resumed == first)

    // full re-run with same config: all stages resume, same result
    val rerun = DedupRunner.run(corpus, cfg, root).collect().toSet
    assert(rerun == first)
  }
}
