package graft.dedup

import graft.SparkTestBase
import graft.corpus.SyntheticCorpus
import graft.functions._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ConnectedComponentsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Union-find oracle. */
  private def ufComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** Every entry point on `edges` spread over 1, 3 and 8 partitions:
    * `run` (per-partition contraction, driver finish), `runAuto` (driver
    * union-find under the bound), and `runAuto` with a 16- and a 2-row
    * bound, which send the edges through `run` and the forest through the
    * contraction rounds. No entry point may emit an id twice. */
  private def labelings(edges: Seq[(Long, Long)]): Seq[(String, Map[Long, Long])] =
    for {
      parts <- Seq(1, 3, 8)
      df = edges.toDF("src", "dst").repartition(parts)
      (name, cc) <- Seq[(String, org.apache.spark.sql.DataFrame)](
        "run" -> ConnectedComponents.run(df),
        "runAuto" -> ConnectedComponents.runAuto(df),
        "runAuto(bound=16)" -> ConnectedComponents.runAuto(df, smallEdgeBound = 16),
        "runAuto(bound=2)" -> ConnectedComponents.runAuto(df, smallEdgeBound = 2))
    } yield {
      val how = s"$name on $parts partitions"
      val rows = cc.as[(Long, Long)].collect()
      val ids = rows.map(_._1).distinct.length
      assert(ids == rows.length, s"$how emits ${rows.length} rows for $ids ids")
      (how, rows.toMap)
    }

  /** Ids 0 until n in a seeded random order. */
  private def shuffledIds(n: Int, seed: Int): Vector[Long] =
    new scala.util.Random(seed).shuffle((0L until n.toLong).toVector)

  /** A path through `n` nodes whose ids are not in path order: the case
    * that keeps a component spread over every partition longest. */
  private def randomPath(n: Int, seed: Int): Seq[(Long, Long)] =
    shuffledIds(n, seed).sliding(2).map(s => (s(0), s(1))).toSeq

  private def assertOracle(edges: Seq[(Long, Long)], components: Int): Unit = {
    val exp = ufComponents(edges)
    assert(exp.values.toSet.size == components)
    for ((how, got) <- labelings(edges)) {
      val wrong = exp.count { case (id, c) => !got.get(id).contains(c) }
      assert(got.size == exp.size && wrong == 0, s"$how: ${got.size} ids, $wrong wrong")
    }
  }

  test("CC matches union-find on random graphs") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 200
      val edges = (1 to 300).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val exp = ufComponents(edges)
      for ((how, got) <- labelings(edges)) assert(got == exp, s"trial $trial, $how")
    }
  }

  test("CC on long path converges to min") {
    val path = (0L until 40L).sliding(2).map(s => (s(0), s(1))).toSeq
    val exp = ufComponents(path)
    assert(exp.values.toSet == Set(0L))
    for ((how, got) <- labelings(path)) assert(got == exp, how)
  }

  test("CC empty edges") {
    for ((how, got) <- labelings(Seq.empty)) assert(got.isEmpty, how)
  }

  test("CC on a 2,000-node random-id path") {
    assertOracle(randomPath(2000, 11), components = 1)
  }

  test("CC on a 10^5-leaf star and a 10^5-node random-id path") {
    val ids = shuffledIds(100001, 12)
    assertOracle(ids.tail.map(leaf => (ids.head, leaf)), components = 1)
    assertOracle(randomPath(100000, 13), components = 1)
  }

  test("CC on 5,000 disjoint pairs stops at the fixpoint") {
    val ids = shuffledIds(10000, 14)
    assertOracle(ids.grouped(2).map(p => (p(0), p(1))).toSeq, components = 5000)
  }
}

/** Incremental ingest == from-scratch recluster (batch equivalence), plus
  * resume semantics: a re-run of a committed batch reads, never recomputes. */
class IncrementalDedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("two-batch incremental clustering equals full recluster") {
    val corpus = SyntheticCorpus.pages(spark,
      SyntheticCorpus.Config(nClusters = 200)).cache()
    // split by url hash parity — arbitrary, deterministic
    val b1 = corpus.where(abs(xxhash64(col("url"))) % 2 === 0)
    val b2 = corpus.where(abs(xxhash64(col("url"))) % 2 === 1)
    def ingest(cfg: DedupConfig) = {
      val root = java.nio.file.Files.createTempDirectory("incdedup").toString
      val inc = new IncrementalDedup(spark, root, cfg)
      inc.addBatch("day1", b1)
      inc.addBatch("day2", b2)
      (root, inc)
    }
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "cluster_id", "is_champion")
        .as[(Long, Long, Boolean)].collect().toSet

    // SimHash alone: the delta path's inline Hamming check on stored
    // bucket rows must agree with the batch path, on clusters that really
    // link docs of both batches
    val shCfg = DedupConfig(runMinhash = false, runWinnow = false)
    val shGot = ingest(shCfg)._2.clusters()
    assert(snap(shGot) == snap(DedupPipeline.clusters(corpus, shCfg)))
    val spanning = shGot
      .withColumn("half", abs(xxhash64(col("url"))) % 2)
      .groupBy("cluster_id").agg(countDistinct("half").as("halves"))
      .where(col("halves") === 2).count()
    assert(spanning > 0, "no SimHash cluster spans both batches")

    val full = snap(DedupPipeline.clusters(corpus))
    val (root, inc) = ingest(DedupConfig())
    val got = snap(inc.clusters())
    assert(got == full)

    // resume: re-running a committed batch must not recompute (thunk throws)
    val again = inc.addBatch("day2", { fail("must not recompute"); null })
    assert(again.count() > 0)

    // crash recovery: a listed-but-uncommitted batch blocks NEW ids with a
    // resume instruction (simulate by listing an id with no stages)
    val batchesFile = java.nio.file.Paths.get(root, "BATCHES")
    val orig = java.nio.file.Files.readString(batchesFile)
    java.nio.file.Files.writeString(batchesFile, orig + "crashed\n")
    val e = intercept[IllegalStateException] {
      inc.addBatch("fresh", b1)
    }
    assert(e.getMessage.contains("crashed"))
    java.nio.file.Files.writeString(batchesFile, orig)

    // an all-duplicate batch (every doc_id already stored) is a no-op:
    // clusters unchanged
    inc.addBatch("day3", b1)
    assert(snap(inc.clusters()) == full)
    corpus.unpersist()
  }
}

/** The simhashDedup completeness contract at its boundary: a forced
  * over-cap block bucket falls back to Hamming-verified star pairs
  * (bucket-min <-> member) — the documented behavior on
  * TrainingOps.simhashDedup and exactly what the q_simhash_pairs oracle
  * models. Fabricated fingerprints, no tokenization involved. */
class SimHashOverCapSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("over-cap block bucket: star pairs only, documented fallback") {
    val cfg = DedupConfig(runMinhash = false, runWinnow = false) // smallCap=16
    // 20 docs (> smallCap) sharing blocks 0, 2, 3 (= 0); block 1 varies:
    //   doc 1 (bucket-min): block1 = 0
    //   docs 2..17:         block1 = doc_id  (within Hamming 3 of min? no —
    //                       ids 2..17 have bit_count 1..2, some within 3)
    //   doc 18: block1 = 0xFF00 (8 bits from min — fails min-verify)
    //   doc 19: block1 = 0xFF01 (9 bits from min, 1 bit from doc 18)
    // Every shared block of (18, 19) is over-cap (blocks 0/2/3) or absent
    // (block1 differs), so the TRUE pair (18, 19) [Hamming 1] is traded for
    // star edges; members within 3 of the min keep their pairs via stars.
    def fp(block1: Long): Long = block1 << 16
    val rows = Seq(1L -> fp(0L)) ++
      (2L to 17L).map(i => i -> fp(i)) ++
      Seq(18L -> fp(0xFF00L), 19L -> fp(0xFF01L), 20L -> fp(1L))
    val sigs = rows.toDF("doc_id", "simhash")
    val pairs = DedupPipeline.simhashCandidates(sigs, cfg)
      .as[(Long, Long)].collect().toSet

    // stars from the bucket-min (doc 1): members with bit_count(block1) <= 3
    val expected = rows.collect {
      case (id, f) if id != 1L && java.lang.Long.bitCount(f) <= 3 => (1L, id)
    }.toSet
    assert(pairs == expected)
    // the documented loss at the boundary, stated explicitly:
    assert(!pairs.contains((18L, 19L)),
      "over-cap-only pair is traded for star edges (documented fallback)")
    // observability: the over-cap population is reported
    val stats = DedupPipeline.bucketStats(sigs, cfg)
      .select("over_cap").as[Long].collect()
    assert(stats.exists(_ > 0))
  }
}

/** Materialize.release must not leak reliable-checkpoint directories:
  * clusters()/CC release superseded iterates eagerly, and on cluster
  * deployments those are FILES that Spark's cleaner never deletes. */
class MaterializeSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("release deletes reliable checkpoint files (no per-iteration leak)") {
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt")
    sc.setCheckpointDir(dir.toString)
    try {
      def checkpointFiles: Seq[java.nio.file.Path] = {
        val s = java.nio.file.Files.walk(dir)
        try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
          .filter(p => java.nio.file.Files.isRegularFile(p))
        finally s.close()
      }
      val df = Materialize(spark.range(1000).toDF("id"))
      assert(df.count() == 1000)
      assert(checkpointFiles.nonEmpty, "expected checkpoint files on disk")
      Materialize.release(df)
      assert(checkpointFiles.isEmpty,
        "release must delete the reliable checkpoint's files")
      // end-to-end: a full clusters() run leaves no checkpoint dirs behind
      // beyond the final labels (released internally) — CC releases each
      // superseded iterate
    } finally {
      org.apache.spark.sql.graft.bridge.clearCheckpointDir(sc)
    }
  }
}

/** Anchor-extend span evidence: winnowSpans must recover the EXACT length
  * of a planted shared token run (winnowing guarantee places anchors inside
  * any run >= a + win - 1; token-hash extension walks to the run ends). */
class WinnowSpanSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("span of a planted shared run is exact (a=20, win=11)") {
    // 37 shared tokens (>= 30 guarantees detection), distinct elsewhere
    val run = (1 to 37).map(i => s"sharedrun$i").mkString(" ")
    val docA = (1 to 25).map(i => s"alpha$i").mkString(" ") + " " + run +
      " " + (1 to 18).map(i => s"omega$i").mkString(" ")
    val docB = (1 to 9).map(i => s"beta$i").mkString(" ") + " " + run +
      " " + (1 to 30).map(i => s"gamma$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("spans").toString
    Seq((1L, docA, "en"), (2L, docB, "en"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val spans = graft.ops.TrainingOps.winnowSpans(spark, dir)
      .as[(Long, Long, Int)].collect()
    assert(spans.toSeq == Seq((1L, 2L, 37)))

    // below the guarantee and with no shared anchor -> no pair
    val shortRun = (1 to 12).map(i => s"tiny$i").mkString(" ")
    Seq((1L, s"one two $shortRun three", "en"),
        (2L, s"four five $shortRun six", "en"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(graft.ops.TrainingOps.winnowSpans(spark, dir).count() == 0)
  }

  test("disjoint header+footer runs at one delta split into exact runs") {
    // Shared 40-token header and 55-token footer around 30-token bodies
    // that DIFFER between the docs — both runs sit at delta 0, and before
    // the gap split the reported span was their combined extent (~125, an
    // upper bound). The split at anchor gaps > win must yield the two
    // exact runs; the reported max is the footer's exact 55.
    val header = (1 to 40).map(i => s"hdr$i").mkString(" ")
    val footer = (1 to 55).map(i => s"ftr$i").mkString(" ")
    def body(tag: String) = (1 to 30).map(i => s"$tag$i").mkString(" ")
    val docA = s"$header ${body("bodya")} $footer"
    val docB = s"$header ${body("bodyb")} $footer"
    val dir = java.nio.file.Files.createTempDirectory("spans2").toString
    Seq((1L, docA, "en"), (2L, docB, "en"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val spans = graft.ops.TrainingOps.winnowSpans(spark, dir)
      .as[(Long, Long, Int)].collect()
    assert(spans.toSeq == Seq((1L, 2L, 55)))
  }
}

class DedupPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val cfg = DedupConfig()
  private val corpusCfg = SyntheticCorpus.Config(nClusters = 300)
  private lazy val pages = SyntheticCorpus.pages(spark, corpusCfg).cache()
  private lazy val sigs = DedupPipeline.signatures(pages, cfg).cache()
  private lazy val clusters = DedupPipeline.clusters(pages, cfg).cache()

  test("corpus is deterministic and well-formed") {
    val n = pages.count()
    assert(n > 400)
    assert(pages.select("url").distinct().count() == n)
    val again = SyntheticCorpus.pages(spark, corpusCfg)
    assert(pages.exceptAll(again).count() == 0)
  }

  test("exact duplicates always share a cluster") {
    val truth = SyntheticCorpus.truth(spark, corpusCfg)
      .where($"kind" === "exact")
    val c = clusters.select($"url", $"cluster_id")
    val joined = truth
      .join(c.withColumnRenamed("url", "url_a").withColumnRenamed("cluster_id", "ca"), "url_a")
      .join(c.withColumnRenamed("url", "url_b").withColumnRenamed("cluster_id", "cb"), "url_b")
    val total = joined.count()
    val hit = joined.where($"ca" === $"cb").count()
    assert(total > 0)
    assert(hit == total, s"exact-dup recall $hit/$total")
  }

  test("dup-pair recall >= 0.99 vs brute-force Jaccard oracle") {
    // Oracle: all pairs with exact shingle-Jaccard >= tau (FIXTURES.md §3).
    val sh = sigs.select($"doc_id", $"shingles")
    val pairs = sh.as("a").join(sh.as("b"), $"a.doc_id" < $"b.doc_id")
      .withColumn("inter", size(array_intersect($"a.shingles", $"b.shingles")).cast("double"))
      .withColumn("uni", size($"a.shingles") + size($"b.shingles") - $"inter")
      .where($"uni" > 0 && $"inter" / $"uni" >= cfg.tau)
      .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"))
      .cache()
    val oracleCount = pairs.count()
    assert(oracleCount > 50, s"oracle too small: $oracleCount")

    val c = clusters.select($"doc_id", $"cluster_id")
    val found = pairs
      .join(c.withColumnRenamed("doc_id", "id_a").withColumnRenamed("cluster_id", "ca"), "id_a")
      .join(c.withColumnRenamed("doc_id", "id_b").withColumnRenamed("cluster_id", "cb"), "id_b")
      .where($"ca" === $"cb")
      .count()
    val recall = found.toDouble / oracleCount
    info(f"oracle pairs=$oracleCount found=$found recall=$recall%.4f")
    assert(recall >= 0.99, f"recall $recall%.4f < 0.99 ($found/$oracleCount)")
  }

  test("substring duplicates found by winnowing pass") {
    val truth = SyntheticCorpus.truth(spark, corpusCfg).where($"kind" === "substring")
    val c = clusters.select($"url", $"cluster_id")
    val joined = truth
      .join(c.withColumnRenamed("url", "url_a").withColumnRenamed("cluster_id", "ca"), "url_a")
      .join(c.withColumnRenamed("url", "url_b").withColumnRenamed("cluster_id", "cb"), "url_b")
    val total = joined.count()
    val hit = joined.where($"ca" === $"cb").count()
    assert(total > 0)
    assert(hit.toDouble / total >= 0.95, s"substring recall $hit/$total")
  }

  test("each cluster has exactly one champion") {
    val bad = clusters.groupBy("cluster_id")
      .agg(sum(when($"is_champion", 1).otherwise(0)).as("nch"))
      .where($"nch" =!= 1).count()
    assert(bad == 0)
  }

  test("clusters are replay-stable (determinism)") {
    val again = DedupPipeline.clusters(pages, cfg)
    assert(clusters.exceptAll(again).count() == 0)
  }

  test("hot boilerplate cluster is connected without O(s^2) pairs") {
    val hotUrls = clusters.where($"url".startsWith("https://hot.example.com/p0/"))
    val comps = hotUrls.select("cluster_id").distinct().count()
    assert(comps == 1, s"hot cluster split into $comps components")
  }

  test("string-typed html column extracts instead of silently dropping rows") {
    // parquet written from JSON commonly carries html as STRING; an
    // html-only page (text null) must flow through extraction via a
    // binary cast, not vanish at the text-notnull filter.
    val doc = "<html><body><p>alpha beta gamma delta</p></body></html>"
    val pagesStr = Seq(
      ("https://s/1", java.sql.Timestamp.valueOf("2020-01-01 00:00:00"),
        doc, null: String, "en"),
      ("https://s/2", java.sql.Timestamp.valueOf("2020-01-01 00:00:01"),
        null: String, "plain text here", "en"))
      .toDF("url", "warc_ts", "html", "text", "lang")
    val sigs = DedupPipeline.signatures(pagesStr, cfg)
    assert(sigs.count() == 2, "html-only page must survive ingest")
    // and an exotic html type is ignored, not fatal
    val pagesInt = Seq(("https://s/3",
      java.sql.Timestamp.valueOf("2020-01-01 00:00:02"), 7, "t", "en"))
      .toDF("url", "warc_ts", "html", "text", "lang")
    assert(DedupPipeline.signatures(pagesInt, cfg).count() == 1)
  }

  test("normalizeUrls is doc identity: pinned per store, applied in-pipeline") {
    val ts = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    val variants = Seq(
      ("HTTP://Dup.COM:80/p?utm_source=x&b=2&a=1#f", ts,
        null: Array[Byte], "w1 w2 w3 w4 w5 w6", "en"),
      ("http://dup.com/p?a=1&b=2", ts,
        null: Array[Byte], "w1 w2 w3 w4 w5 w6", "en"))
      .toDF("url", "warc_ts", "html", "text", "lang")
    // in-pipeline: both variants collapse to ONE canonical doc_id
    val norm = DedupPipeline.signatures(variants,
      DedupConfig(normalizeUrls = true))
    assert(norm.select("doc_id").distinct().count() == 1)
    assert(norm.select("url").distinct().collect().map(_.getString(0)).toSeq
      == Seq("http://dup.com/p?a=1&b=2"))
    // without the flag they stay distinct identities
    assert(DedupPipeline.signatures(variants, DedupConfig())
      .select("doc_id").distinct().count() == 2)

    // store pin: a flagged store rejects a flagless ingest LOUDLY
    val root = java.nio.file.Files.createTempDirectory("incnorm").toString
    val flagged = new IncrementalDedup(spark, root,
      DedupConfig(normalizeUrls = true))
    flagged.addBatch("b1", variants)
    val flagless = new IncrementalDedup(spark, root, DedupConfig())
    val e = intercept[IllegalArgumentException] {
      flagless.addBatch("b2", variants)
    }
    assert(e.getMessage.contains("config"))
    // ...and the write-free probe harnesses use up front reports the same
    intercept[IllegalArgumentException](flagless.checkConfig())
    flagged.checkConfig() // matching instance passes
  }
}

/** The driver fast path of the shared candidate generator must emit
  * EXACTLY the distributed form's pair set — the same `bucketPairs` over
  * the same groups — on a randomized relation that includes over-cap
  * buckets, alwaysStar buckets, duplicate (doc_id, bucket) rows and an aux
  * column under a Hamming bound, with null aux reading as 0. */
class PairsFromBucketsAutoSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("driver enumeration == distributed bounded-agg pair set") {
    val rnd = new scala.util.Random(7)
    val smallCap = 4
    val maxHamming = 2
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Long, Long, Option[Long])]
    // pass 0/1: pairwise passes; pass 2: alwaysStar. Bucket sizes 1..9
    // straddle the cap; ~10% duplicated rows; a 4-bit aux per doc (null
    // for one doc in ten) puts about a third of the edges over maxHamming.
    for (pass <- 0 to 2; b <- 0 until 40) {
      val key = rnd.nextLong()
      val sz = 1 + rnd.nextInt(9)
      val members = Seq.fill(sz)(rnd.nextInt(50).toLong + 100 * pass)
      members.foreach { m =>
        val aux = if (m % 10 == 3) None else Some((m * 0x9E3779B97F4A7C15L) >>> 60)
        rows += ((pass, key, m, aux))
        if (rnd.nextInt(10) == 0) rows += ((pass, key, m, aux)) // duplicate row
      }
    }
    val rel = rows.toSeq.toDF("pass", "bucket_key", "doc_id", "aux")
      .repartition(7) // multi-partition input on the distributed side
    val dist = DedupPipeline.pairsFromBuckets(rel, smallCap,
      alwaysStarPass = 2, maxHamming).as[(Int, Long, Long)].collect().toSet
    val local = DedupPipeline.pairsFromBucketsLocal(rel, smallCap,
      alwaysStarPass = 2, maxHamming)
    assert(local.isDefined)
    assert(local.get.toSet == dist)
    assert(local.get.size == dist.size) // the driver form dedups too
    // the Hamming bound is live: without it the pair set is strictly larger
    val unbounded = DedupPipeline.pairsFromBucketsLocal(rel, smallCap,
      alwaysStarPass = 2).get.toSet
    assert(dist.subsetOf(unbounded) && unbounded.size > dist.size)
    // over the bound: falls back to the distributed form
    assert(DedupPipeline.pairsFromBucketsLocal(rel, smallCap, 2, maxHamming,
      smallRowBound = 10).isEmpty)
    assert(DedupPipeline.pairsFromBucketsAuto(rel, smallCap, 2, maxHamming,
      smallRowBound = 10).as[(Int, Long, Long)].collect().toSet == dist)
  }
}
