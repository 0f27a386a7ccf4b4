package graft.obs

import graft.SparkTestBase
import graft.corpus.SyntheticCorpus
import graft.dedup.DedupPipeline
import org.apache.spark.TestListeners
import org.scalatest.funsuite.AnyFunSuite

class PhaseTraceSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("clusters() jobs carry the five dedup phase labels; the listener " +
    "lives only while the body runs") {
    val sc = spark.sparkContext
    val pages = SyntheticCorpus.pages(spark, SyntheticCorpus.Config(nClusters = 60))
    val (rows, phases) = PhaseTrace(spark) {
      assert(TestListeners.count[PhaseTrace.Recorder](sc) == 1)
      DedupPipeline.clusters(pages).count()
    }
    assert(rows == pages.count())
    assert(TestListeners.count[PhaseTrace.Recorder](sc) == 0)
    val jobs = phases.map(p => p.label -> p.jobs).toMap
    for (phase <- Seq("signatures", "candidates", "verify", "cc", "resolve"))
      assert(jobs.getOrElse(s"dedup:$phase", 0) >= 1, s"dedup:$phase in $jobs")
    assert(phases.forall(p => p.driverGapS >= 0 && p.wallS >= p.driverGapS))
    assert(phases.map(_.jobs).sum > 5)
    // removed on failure too
    intercept[IllegalStateException](PhaseTrace(spark)(throw new IllegalStateException))
    assert(TestListeners.count[PhaseTrace.Recorder](sc) == 0)
  }
}
