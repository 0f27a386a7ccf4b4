package graft.perfbench

import graft.search.{IndexStore, QueryParser, SearchIndex, Searcher}
import graft.text.TextPipeline
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `search`: a durable index is built with `IndexStore.buildOrOpen` into
  * a fresh root over a seeded synthetic-text corpus (set-up), reopened, and
  * queried with a seeded mix of AND / OR / AND NOT, exact and fuzzy, head-
  * and tail-frequency queries through `Searcher.search`. */
final class SearchWorkload(spark: SparkSession, a: PerfBench.Args) extends Workload {
  private val docsPath = a.work.resolve("search_docs").toString
  private var root: Path = _
  private var builds = 0
  private var idx: SearchIndex = _
  private val buildS = mutable.ArrayBuffer.empty[Double]
  private val queries = Inputs.queryMix(a.seed, a.sizes.searchDocs, a.sizes.searchQueries)
  private val emptyQueries = mutable.LinkedHashSet.empty[String]
  private val diag = mutable.LinkedHashMap.empty[String, Any]

  def itemName = "queries"
  /** One set-up: the index build is most of a run's time budget. */
  def setups: Int = 1

  private def docs = spark.read.parquet(docsPath)

  /** Builds into a fresh path each time: Spark caches file listings by
    * path, so a rebuilt index under the old path could read stale ones. */
  private def build(): SearchIndex = {
    if (root != null) PerfBench.deleteTree(root)
    builds += 1
    root = a.work.resolve(s"search_index_$builds")
    IndexStore.buildOrOpen(docs, TextPipeline.default, spark, root.toString)
  }

  private def reopen(): SearchIndex =
    IndexStore.buildOrOpen(sys.error("a committed index must not rebuild"),
      TextPipeline.default, spark, root.toString)

  def setup(): Unit = {
    Inputs.searchDocs(spark, a.seed, a.sizes.searchDocs)
      .write.mode("overwrite").parquet(docsPath)
    buildS += PerfBench.time(build())._2
    idx = reopen()
  }

  /** One query of each kind; measured queries then cycle the whole mix. */
  def warmup(): Unit = queries.groupBy(_.kind).values.map(_.head).foreach(run(_): Unit)

  private def run(q: Inputs.Query): Long = {
    val rows = Searcher.search(idx, q.text, fuzzy = q.fuzzy)
      .fold(e => throw new IllegalStateException(s"query '${q.text}': $e"), identity)
      .collect().length.toLong
    if (rows == 0) emptyQueries += q.text
    expect(rows > 0, s"query '${q.text}' returned no rows")
    rows
  }

  def op(i: Int): Long = { run(queries(math.floorMod(i, queries.size))); 1L }

  def check(): Boolean = {
    diag("queries_in_mix") = queries.size
    diag("empty_queries") = emptyQueries.toSeq
    diag("index_build_s") = PerfBench.median(buildS.toSeq)
    emptyQueries.isEmpty
  }

  def diagnostics: Map[String, Any] = diag.toMap ++
    Map("query_kinds" -> queries.groupBy(_.kind).view.mapValues(_.size).toMap)

  private def sizeMb(p: Path): Double = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum / (1024.0 * 1024.0)
    finally s.close()
  }

  def traced(tr: JobTrace, m: Metrics): (Int, Boolean) = {
    def set(n: String, v: Double) = Layers.set(m, n, v)
    val fromMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (_, _, b) = tr.span("search.build")(build())
    set("search.build.wall_s", b.wallS)
    set("search.build.jobs", b.jobs)
    set("search.build.task_s", b.taskS)
    set("search.build.bytes_written_mb", sizeMb(root))
    idx = reopen()
    val parse = mutable.ArrayBuffer.empty[Double]
    val exec = mutable.ArrayBuffer.empty[JobStats]
    val rows = mutable.ArrayBuffer.empty[Long]
    var untracedQ = 0.0
    queries.foreach { q =>
      // untraced and traced runs of a query alternate, so both see the
      // same JIT state
      untracedQ += PerfBench.time(run(q))._2
      parse += PerfBench.time(QueryParser.parse(q.text))._2
      val (n, _, s) = tr.span("search.query")(run(q))
      exec += s
      rows += n
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    Layers.spark(m, tr.all().filter(j => j.startMs >= fromMs && j.group.startsWith("perfbench:")), wallS, fromMs, System.currentTimeMillis())
    set("search.query.parse_us", PerfBench.median(parse.toSeq) * 1e6)
    set("search.query.exec_ms", PerfBench.median(exec.map(_.wallS).toSeq) * 1e3)
    set("search.query.jobs", exec.map(_.jobs).sum.toDouble / exec.size)
    set("search.query.driver_gap_ms", PerfBench.median(exec.map(_.driverGapS).toSeq) * 1e3)
    set("search.query.rows", rows.sum.toDouble / rows.size)
    Layers.overhead(m, parse.sum + exec.map(_.wallS).sum, untracedQ)
    (2 * queries.size + 1, emptyQueries.isEmpty)
  }
}
