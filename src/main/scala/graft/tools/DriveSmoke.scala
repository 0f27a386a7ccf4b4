package graft.tools

import graft.search.{IndexStore, Searcher}
import graft.text.TextPipeline
import graft.dedup.{DedupConfig, DedupPipeline}
import org.apache.spark.sql.SparkSession

/** Verification drive: exercises the changed code through the library's
  * public API, exactly as an external user would (packaged jar on cp). */
object DriveSmoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // --- search surface, durable: build → query → remove → add → JSON,
    // through IndexStore on a temporary index root ---
    val root = java.nio.file.Files.createTempDirectory("drivesmoke").toString
    val cfg = TextPipeline.default
    val docs = Seq(
      1L -> "Cats chase the lasers, naïve façades glow",   // non-ASCII: slow path
      2L -> "dogs chase cats down the résumé café street",
      3L -> "quiet pages about nothing at all").toDF("doc_id", "text")
    val idx = IndexStore.buildOrOpen(docs, cfg, spark, root)
    val r1 = Searcher.search(idx, "cats AND chase").fold(sys.error, identity)
    println("Q1 cats AND chase -> " + Searcher.toJsonResponse(r1))

    val idx2 = IndexStore.removeDocs(docs, cfg, spark, root, Seq(1L).toDF("doc_id"))
    val r2 = Searcher.search(idx2, "cats AND chase").fold(sys.error, identity)
    println("Q2 after remove(1) -> " + Searcher.toJsonResponse(r2))

    val idx3 = IndexStore.addDocs(docs, cfg, spark, root,
      Seq(9L -> "cats chase everything chase chase").toDF("doc_id", "text"))
    val r3 = Searcher.search(idx3, "cats AND chase").fold(sys.error, identity)
    println("Q3 after add(9) -> " + Searcher.toJsonResponse(r3))

    // probe: malformed query at the public surface
    println("Q4 malformed -> " + Searcher.search(idx3, "cats AND (dogs"))
    // probe: query that normalizes to nothing
    println("Q5 stopword-only -> " +
      Searcher.search(idx3, "the").fold(e => s"err: $e",
        d => Searcher.toJsonResponse(d)))
    IndexStore.destroy(root)

    // --- dedup surface: tiny corpus incl. null text + non-ASCII ---
    val pages = Seq(
      ("https://a/1", "t one two three four five six seven eight nine ten one two three four five", "en"),
      ("https://a/2", "t one two three four five six seven eight nine ten one two three four five", "en"),
      ("https://b/1", "völlig andere Wörter überall ähnlich für müde Läufer im Gehege heute", "de"),
      ("https://c/1", null, "en"))
      .toDF("url", "text", "lang")
      .selectExpr("url", "timestamp('2020-01-01 00:00:00') as warc_ts",
        "cast(null as binary) as html", "text", "lang")
    val clusters = DedupPipeline.clusters(pages,
      DedupConfig(shingleW = 2, winnowA = 4, winnowWindow = 3))
    println("CLUSTERS:")
    clusters.orderBy("url").collect().foreach(println)

    spark.stop()
  }
}
