package graft.dedup

import graft.SparkTestBase
import graft.corpus.SyntheticCorpus
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Checkpointed end-to-end run: kill/restart resume semantics over the
  * whole pipeline INCLUDING the connected-components stage (north_rule:
  * "resumable from checkpoint with per-partition lineage + metrics"). */
class DedupRunnerSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private val cfg = DedupConfig()
  private val corpusCfg = SyntheticCorpus.Config(nClusters = 120)

  private def poisonPages: DataFrame =
    SyntheticCorpus.pages(spark, corpusCfg)
      .filter((_: Any) => throw new IllegalStateException(
        "pages must not be recomputed on resume"))

  test("full resume: committed stages serve a restarted run untouched") {
    val root = java.nio.file.Files.createTempDirectory("dedup_run").toString
    val pages = SyntheticCorpus.pages(spark, corpusCfg)
    val r1 = DedupRunner.run(pages, cfg, root).collect().toSet
    assert(r1.nonEmpty)
    // "restart": new run over the same root; the pages relation throws if
    // any stage actually evaluates it.
    val r2 = DedupRunner.run(poisonPages, cfg, root).collect().toSet
    assert(r2 == r1)
    // metrics table has per-partition rows for every stage incl. CC labels
    val stages = new graft.tables.StageStore(spark, root).metrics()
      .select("stage").distinct().collect().map(_.getString(0)).toSet
    assert(stages == Set("signatures", "bucket_stats", "edges", "cc_labels",
      "clusters"))
  }

  test("partial resume: a lost CC stage recomputes from committed edges") {
    val root = java.nio.file.Files.createTempDirectory("dedup_run2").toString
    val pages = SyntheticCorpus.pages(spark, corpusCfg)
    val r1 = DedupRunner.run(pages, cfg, root).collect().toSet
    // simulate a crash that lost the CC + clusters commits
    for (s <- Seq("cc_labels", "clusters")) {
      java.nio.file.Files.delete(java.nio.file.Paths.get(root, s, "MANIFEST.json"))
    }
    val r2 = DedupRunner.run(poisonPages, cfg, root).collect().toSet
    assert(r2 == r1)
  }

  test("incremental store: sorted bucket reads prune; compact keeps labels") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val corpus = SyntheticCorpus.pages(spark,
      SyntheticCorpus.Config(nClusters = 150)).cache()
    val root = java.nio.file.Files.createTempDirectory("incstore").toString
    val inc = new IncrementalDedup(spark, root)
    val nb = 5
    val ids = (0 until nb).map(i => s"day$i")
    for (i <- 0 until nb)
      inc.addBatch(ids(i), corpus.where(abs(xxhash64(col("url"))) % nb === i))
    def snap() = inc.clusters()
      .select("doc_id", "cluster_id", "is_champion")
      .as[(Long, Long, Boolean)].collect().toSet
    val before = snap()
    // batch-ingest == from-scratch recluster (5-way split)
    val full = DedupPipeline.clusters(corpus)
      .select("doc_id", "cluster_id", "is_champion")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(before == full)

    // the touched-bucket read is PRUNED AT THE SCAN: the static bpt filter
    // is pushed into the scan of the bpt-sorted bucket stages, where row
    // group statistics skip the untouched bpt ranges
    val pushedBpt = """PushedFilters: \[[^\]]*In\(bpt""".r
    val pruned = inc.prunedStoredBuckets(ids.dropRight(1), Seq(1, 2, 3))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(pushedBpt.findFirstIn(plan).isDefined, plan)
    // and it actually restricts rows to those partitions
    assert(pruned.count() <
      inc.prunedStoredBuckets(ids.dropRight(1),
        0 until IncrementalDedup.BucketParts).count())

    // compaction collapses the store to one fold; labels byte-identical
    assert(inc.compact().size == 1)
    assert(inc.batches().size == 1)
    assert(snap() == before)
    // the folded bucket stage is still bpt-sorted (reads still prune)
    val plan2 = inc.prunedStoredBuckets(inc.batches(), Seq(1, 2, 3))
      .queryExecution.executedPlan.toString
    assert(pushedBpt.findFirstIn(plan2).isDefined, plan2)

    // ingest on the compacted store: an all-duplicate batch is a no-op
    inc.addBatch("day_dup", corpus.where(abs(xxhash64(col("url"))) % nb === 0))
    assert(snap() == before)

    // over-cap observability over the persisted store: stats equal the
    // batch path's derivation from the same signatures
    val fromStore = inc.bucketStats().collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val sigsAll = DedupPipeline.signatures(corpus, DedupConfig())
    val trimmed = sigsAll.withColumn("band_keys",
        graft.functions.nxs_band_keys(col("sig"))).drop("sig")
    val fromSigs = DedupPipeline.bucketStats(trimmed, DedupConfig()).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(fromStore == fromSigs)
    corpus.unpersist()
  }

  test("relabel scopes CC input to touched components; sig reads prune by doc_id") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // Three batches of DISJOINT dup clusters: batch b holds clusters
    // {b*100 .. b*100+9}, each cluster = 3 docs with identical text.
    val words = (0 until 60).map(i => s"w$i")
    def pages(b: Int) = (0 until 10).flatMap { c =>
      val cid = b * 100 + c
      val text = words.map(w => s"$w$cid").mkString(" ")
      (0 until 3).map(m => (s"u${cid}_$m", cid * 10L + m,
        java.sql.Timestamp.valueOf("2020-01-01 00:00:00"),
        null: Array[Byte], text, "en"))
    }.toDF("url", "doc_id", "warc_ts", "html", "text", "lang")
    val root = java.nio.file.Files.createTempDirectory("increlabel").toString
    val inc = new IncrementalDedup(spark, root,
      DedupConfig(runSimhash = false, runWinnow = false))
    inc.addBatch("b1", pages(1))
    inc.addBatch("b2", pages(2))
    def stageRows(name: String): Long =
      spark.read.parquet(s"$root/$name/data").count()
    val priorLabels = spark.read.parquet(s"$root/labels_b1/data")
      .select("id", "comp")
      .unionByName(spark.read.parquet(s"$root/labels_b2/data")
        .select("id", "comp"))
    assert(priorLabels.count() == 60) // 60 docs in dup relations so far

    // Batch 3 is disjoint from everything stored: its relabel CC input must
    // carry ONLY batch-3 edges, and its DELTA label stage must hold only
    // batch-3's 30 labeled docs — no prior label is re-run or rewritten.
    inc.addBatch("b3", pages(3))
    assert(stageRows("labels_b3") == 30,
      "delta label stage must not rewrite untouched labels")
    val sigs3 = spark.read.parquet(s"$root/sigs_b3/data")
    val buckets3 = spark.read.parquet(s"$root/buckets_b3/data")
    val newEdges = inc.deltaEdges(Seq("b1", "b2"), sigs3, buckets3)
      .select("src", "dst")
    val ccInput = inc.relabelInputs(priorLabels, newEdges)
    val nNew = newEdges.count()
    assert(nNew > 0)
    assert(ccInput.count() == nNew,
      "disjoint batch must not drag prior labels into CC")

    // A batch touching exactly ONE stored cluster scopes to that cluster:
    // CC input = new edges + that component's 2 star edges; the delta
    // label stage holds exactly the 4 re-derived rows (3 old members of
    // cluster 101 + the new doc).
    val touchText = words.map(w => s"${w}101").mkString(" ")
    val touch = Seq(("u_touch", 9999L,
      java.sql.Timestamp.valueOf("2020-01-02 00:00:00"),
      null: Array[Byte], touchText, "en"))
      .toDF("url", "doc_id", "warc_ts", "html", "text", "lang")
    inc.addBatch("b4", touch)
    assert(stageRows("labels_b4") == 4,
      "touched-cluster delta = its members + the new doc, nothing else")
    val labels123 = priorLabels
      .unionByName(spark.read.parquet(s"$root/labels_b3/data").select("id", "comp"))
    val sigs4 = spark.read.parquet(s"$root/sigs_b4/data")
    val buckets4 = spark.read.parquet(s"$root/buckets_b4/data")
    val e4 = inc.deltaEdges(Seq("b1", "b2", "b3"), sigs4, buckets4)
      .select("src", "dst")
    val cc4 = inc.relabelInputs(labels123, e4)
    assert(e4.count() == 3) // new doc pairs with each of cluster 101's docs
    assert(cc4.count() == e4.count() + 2) // + the touched comp's 2 stars
    // edges the driver does not hold take the distributed key-set shape
    // and give the same CC input
    assert(inc.relabelInputs(labels123, e4.localCheckpoint())
      .as[(Long, Long)].collect().toSet == cc4.as[(Long, Long)].collect().toSet)

    // labels stay value-identical to a from-scratch recluster of everything
    val all = pages(1).unionByName(pages(2)).unionByName(pages(3))
      .unionByName(touch)
    val full = DedupPipeline.clusters(all,
        DedupConfig(runSimhash = false, runWinnow = false))
      .select("doc_id", "cluster_id", "is_champion")
      .as[(Long, Long, Boolean)].collect().toSet
    val got = inc.clusters().select("doc_id", "cluster_id", "is_champion")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got == full)

    // the delta-verify's stored-sig read pushes the doc_id key set into the
    // parquet scan (sorted + bloom-filtered at rest)
    val probe = inc.readSigsFor(Seq("b1", "b2"), Seq(1010L).toDF("doc_id"))
    val plan = probe.queryExecution.executedPlan.toString
    assert("""PushedFilters: \[[^\]]*doc_id""".r.findFirstIn(plan).isDefined, plan)

    // past the IN-pushdown cap, the key probe must degrade to a BROADCAST
    // semi-join: the planner can't estimate the key side's selectivity, so
    // without the explicit hint it plans sort-merge and EXCHANGES the full
    // stored sigs table per batch (measured 1 GB of shuffle on the bench
    // store) — pin the plan shape so the hint can't silently regress
    val manyKeys = spark.range(0,
      IncrementalDedup.MaxSigIdPushdown.toLong + 512).toDF("doc_id")
    val big = inc.readSigsFor(Seq("b1", "b2"), manyKeys)
    val bigPlan = big.queryExecution.executedPlan.toString
    assert(bigPlan.contains("BroadcastHashJoin") &&
      !bigPlan.contains("SortMergeJoin"), bigPlan)
  }

  test("stale label rows across comp merges stay harmless (delta store)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // One logical cluster whose comp CHANGES mid-history: batch a labels
    // {1010,1011,1012} with comp 1010; batch b ingests doc 5 with the same
    // text — the merged comp becomes 5, leaving batch-a's rows STALE
    // (they still say 1010). Batch c touches the cluster again (doc 7000):
    // its relabel must gather members through BOTH the live comp 5 and the
    // stale comp 1010 and still land everything on 5 — the stale-row
    // harmlessness argument in relabelInputs, exercised end-to-end.
    val text = (0 until 60).map(i => s"stale$i").mkString(" ")
    def pages(ids: Seq[Long]) = ids.map(i => (s"u$i", i,
        new java.sql.Timestamp(1577836800000L + i),
        null: Array[Byte], text, "en"))
      .toDF("url", "doc_id", "warc_ts", "html", "text", "lang")
    val root = java.nio.file.Files.createTempDirectory("incstale").toString
    val inc = new IncrementalDedup(spark, root,
      DedupConfig(runSimhash = false, runWinnow = false))
    inc.addBatch("a", pages(Seq(1010L, 1011L, 1012L)))
    inc.addBatch("b", pages(Seq(5L)))
    inc.addBatch("c", pages(Seq(7000L)))
    def stage(n: String) = spark.read.parquet(s"$root/labels_$n/data")
      .select("id", "comp").as[(Long, Long)].collect().toSet
    assert(stage("a") == Set((1010L, 1010L), (1011L, 1010L), (1012L, 1010L)))
    assert(stage("b") ==
      Set((5L, 5L), (1010L, 5L), (1011L, 5L), (1012L, 5L)))
    assert(stage("c") ==
      Set((5L, 5L), (1010L, 5L), (1011L, 5L), (1012L, 5L), (7000L, 5L)))
    val got = inc.clusters().select("doc_id", "cluster_id", "is_champion")
      .as[(Long, Long, Boolean)].collect().toSet
    val full = DedupPipeline.clusters(
        pages(Seq(1010L, 1011L, 1012L, 5L, 7000L)),
        DedupConfig(runSimhash = false, runWinnow = false))
      .select("doc_id", "cluster_id", "is_champion")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got == full)
  }

  test("autoCompactAfter folds the store transparently during ingest") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val corpus = SyntheticCorpus.pages(spark,
      SyntheticCorpus.Config(nClusters = 80)).cache()
    val root = java.nio.file.Files.createTempDirectory("incauto").toString
    val inc = new IncrementalDedup(spark, root, DedupConfig(),
      autoCompactAfter = 3)
    val nb = 4
    for (i <- 0 until nb)
      inc.addBatch(s"day$i", corpus.where(abs(xxhash64(col("url"))) % nb === i))
    // the fold at batch 3 collapsed day0-2; batch 4 then sits on top of the
    // fold — the stage fan-in stays bounded by the threshold, and labels
    // stay identical to a from-scratch recluster
    assert(inc.batches().size == 2, inc.batches().toString)
    assert(inc.batches().head.startsWith("fold"))
    val got = inc.clusters().select("doc_id", "cluster_id", "is_champion")
      .as[(Long, Long, Boolean)].collect().toSet
    val full = DedupPipeline.clusters(corpus)
      .select("doc_id", "cluster_id", "is_champion")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got == full)
    corpus.unpersist()
  }

  test("bucketParts is a per-store creation parameter pinned in CONFIG") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val corpus = SyntheticCorpus.pages(spark,
      SyntheticCorpus.Config(nClusters = 60)).cache()
    def half(i: Int) = corpus.where(abs(xxhash64(col("url"))) % 2 === i)
    def snap(inc: IncrementalDedup) = inc.clusters()
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toSet
    // two stores with different fan-outs, side by side
    val stores = Seq(8, 64).map { bp =>
      val root = java.nio.file.Files.createTempDirectory(s"incbp$bp").toString
      val inc = new IncrementalDedup(spark, root, bucketParts = bp)
      inc.addBatch("b0", half(0))
      inc.addBatch("b1", half(1))
      (bp, root, snap(inc))
    }
    // fan-out is physical layout only: labels identical across values
    assert(stores(0)._3 == stores(1)._3 && stores(0)._3.nonEmpty)
    // the bp=8 store's bucket rows carry bpt in [0, 8), in a few sorted
    // files (at most one per shuffle partition), not one file per bpt value
    val data8 = s"${stores(0)._2}/buckets_b0/data"
    val bpts = spark.read.parquet(data8).select("bpt").distinct().as[Int]
      .collect()
    assert(bpts.nonEmpty && bpts.forall(b => b >= 0 && b < 8), bpts.toSeq)
    val files8 = new java.io.File(data8).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files8 > 0 &&
      files8 <= spark.conf.get("spark.sql.shuffle.partitions").toInt,
      s"bucket stage files: $files8")
    // reopen under the same bucketParts: config pin passes, labels resume
    stores.foreach { case (bp, root, before) =>
      val re = new IncrementalDedup(spark, root, bucketParts = bp)
      re.checkConfig()
      assert(snap(re) == before)
    }
    // a mismatched bucketParts fails loud with the pinned-config message
    val e = intercept[IllegalArgumentException] {
      new IncrementalDedup(spark, stores(0)._2, bucketParts = 64).checkConfig()
    }
    assert(e.getMessage.contains("built with config"))
    corpus.unpersist()
  }

  test("a store without the aux bucket-row format fails the config pin") {
    val root = java.nio.file.Files.createTempDirectory("incfmt").toString
    val pages = SyntheticCorpus.pages(spark,
      SyntheticCorpus.Config(nClusters = 20))
    new IncrementalDedup(spark, root).addBatch("b0", pages)
    // a store written before buckets_<batch> carried `aux`, or before the
    // bucket stages were bpt-sorted tables, has the same CONFIG pin minus
    // that format token; a store written before the config pin lists
    // batches but has no CONFIG at all
    val conf = java.nio.file.Paths.get(root, "CONFIG")
    val pinned = java.nio.file.Files.readString(conf).trim
    val olderStores = Seq[() => Unit](
      () => java.nio.file.Files.writeString(conf, pinned.replace("|bk=aux", "")),
      () => java.nio.file.Files.writeString(conf, pinned.replace("|bl=sorted", "")),
      () => java.nio.file.Files.delete(conf))
    assert(pinned.contains("|bk=aux") && pinned.contains("|bl=sorted"), pinned)
    for (makeOlder <- olderStores) {
      makeOlder()
      for (op <- Seq[IncrementalDedup => Any](
          _.checkConfig(), _.addBatch("b1", pages))) {
        val e = intercept[IllegalArgumentException] {
          op(new IncrementalDedup(spark, root))
        }
        assert(e.getMessage.contains("built with config"))
      }
    }
  }

  test("delta ingest runs a bounded number of Spark jobs per batch") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val corpus = SyntheticCorpus.pages(spark,
      SyntheticCorpus.Config(nClusters = 60)).cache()
    val root = java.nio.file.Files.createTempDirectory("incjobs").toString
    val inc = new IncrementalDedup(spark, root)
    inc.addBatch("b0", corpus.where(abs(xxhash64(col("url"))) % 2 === 0))
    // Jobs of the second addBatch, counted by job group: the listener bus
    // is asynchronous, so a marker job in a second group is awaited after
    // it (one queue delivers job starts in submission order).
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val labels = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("inc-jobs") =>
            jobs.incrementAndGet()
            labels.add(e.properties.getProperty("spark.job.description"))
          case Some("inc-jobs-marker") => marker.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("inc-jobs", "second addBatch")
      inc.addBatch("b1", corpus.where(abs(xxhash64(col("url"))) % 2 === 1))
      sc.setJobGroup("inc-jobs-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
      corpus.unpersist()
    }
    // the delta path runs 21 jobs on this store; 2 of slack. A return of
    // per-call key probes or of re-reads of held key sets fails this.
    assert(jobs.get() <= 21 + 2, s"second addBatch ran ${jobs.get()} jobs")
    // the phase labels that benchmark attribution matches by equality
    import scala.jdk.CollectionConverters._
    assert(labels.asScala.filter(_.startsWith("inc:")).toSet == Set(
      "inc:deltaEdges", "inc:candLocal", "inc:keyprobe:doc_id",
      "inc:endpointSigs:minhash", "inc:relabelInputs", "inc:cc"))
  }

  test("deltaEdges: driver and distributed candidate shapes agree") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val corpus = SyntheticCorpus.pages(spark,
      SyntheticCorpus.Config(nClusters = 80)).cache()
    val root = java.nio.file.Files.createTempDirectory("incshapes").toString
    // a 4-id pushdown cap sends keyFiltered (the distributed shape's
    // involves-a-new-doc filter) and the MinHash endpoint read to their
    // semi-join side
    val inc = new IncrementalDedup(spark, root, cfg, maxSigIdPushdown = 4)
    inc.addBatch("b0", corpus.where(abs(xxhash64(col("url"))) % 2 === 0))
    inc.addBatch("b1", corpus.where(abs(xxhash64(col("url"))) % 2 === 1))
    val sigs1 = spark.read.parquet(s"$root/sigs_b1/data")
    val buckets1 = spark.read.parquet(s"$root/buckets_b1/data")
    def edges(bound: Int) = inc.deltaEdges(Seq("b0"), sigs1, buckets1,
        smallRowBound = bound)
      .select("src", "dst").as[(Long, Long)].collect().toSeq.sorted
    val driver = edges(DedupPipeline.SmallBucketRowBound)
    val distributed = edges(0) // any non-empty stream is over a 0-row bound
    assert(driver.nonEmpty)
    assert(driver == distributed)
    // every edge involves a new doc
    val newIds = sigs1.select("doc_id").as[Long].collect().toSet
    assert(driver.forall { case (a, b) => newIds(a) || newIds(b) })
    corpus.unpersist()
  }

  test("fingerprint versions the url-normalization ALGORITHM, not just " +
    "the boolean (shared un token with the incremental store pin)") {
    val off = DedupRunner.fingerprint(DedupConfig(normalizeUrls = false))
    val on = DedupRunner.fingerprint(DedupConfig(normalizeUrls = true))
    // un=false stores keep their fingerprint; normalized ones carry the
    // algorithm version — a pre-r6 root written as 'untrue' can never
    // match, so it recomputes instead of resuming r5-rule signatures
    assert(off.endsWith("unfalse"))
    assert(on.endsWith("unv2") && !on.contains("untrue"))
    assert(DedupConfig(normalizeUrls = true).urlNormToken == "v2")
  }

  test("config change invalidates downstream stages (fingerprint lineage)") {
    val root = java.nio.file.Files.createTempDirectory("dedup_run3").toString
    val pages = SyntheticCorpus.pages(spark, corpusCfg)
    DedupRunner.run(pages, cfg, root).count()
    // different tau -> everything recomputes; poisoned pages must now throw
    intercept[Exception] {
      DedupRunner.run(poisonPages, cfg.copy(tau = 0.9), root).count()
    }
  }
}
