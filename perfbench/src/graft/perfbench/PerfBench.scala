package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Sizes of one benchmark profile. `full` is what the benchmark measures;
  * `tiny` exists for the smoke test, which checks the output shape only. */
final case class Sizes(
    batchExactClusters: Int,
    incBaseClusters: Int, incFreshPages: Int, incRecrawls: Int, incTracedBatches: Int,
    searchDocs: Int, searchQueries: Int,
    setups: Int, kernelDocs: Int)

object Sizes {
  val full = Sizes(
    batchExactClusters = 1200,
    incBaseClusters = 1000, incFreshPages = 850, incRecrawls = 150, incTracedBatches = 1,
    searchDocs = 3000, searchQueries = 24,
    setups = 3, kernelDocs = 200)
  val tiny = Sizes(
    batchExactClusters = 18,
    incBaseClusters = 300, incFreshPages = 60, incRecrawls = 10, incTracedBatches = 2,
    searchDocs = 300, searchQueries = 12,
    setups = 2, kernelDocs = 50)
}

/** What one workload contributes to a run. The harness times `setup`
  * (repeated), one untimed `warmup`, then `op` until the time is up, then
  * `check`s the outputs outside the clock. */
trait Workload {
  /** Unit of `op`'s item count, for the diagnostics line. */
  def itemName: String
  /** How many times a measured run sets up; the last set-up is used. */
  def setups: Int
  def setup(): Unit
  def warmup(): Unit
  /** One measured operation; returns the items it processed, or throws. A
    * wrong result (not a failure) is recorded through `wrong`. */
  def op(i: Int): Long
  def check(): Boolean
  /** Workload-specific readings for the diagnostics line. */
  def diagnostics: Map[String, Any]
  /** The traced run: fills per-layer metrics. Returns (ops attempted, ok). */
  def traced(tr: JobTrace, m: Metrics): (Int, Boolean)

  val wrong = new java.util.concurrent.atomic.AtomicInteger(0)
  protected def expect(ok: Boolean, what: => String): Unit =
    if (!ok) { wrong.incrementAndGet(); System.err.println(s"[perfbench] WRONG: $what") }
}

/** Ordered name → (value, unit) map printed as the result's `metrics`. */
final class Metrics {
  val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, unit: String, v: Double): Unit = values(name) = (v, unit)
  def json: String = values.map { case (k, (v, u)) =>
    s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}"""
  }.mkString("{", ", ", "}")
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case d: Double => num(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.map { case (k, x) => k.toString -> x }.toSeq)
    case s: Seq[_] => s.map(value).mkString("[", ", ", "]")
    case x => str(String.valueOf(x))
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
}

/** Peak heap after garbage collection: the largest heap occupancy any GC
  * left behind, read from the JVM's GC notifications. */
final class HeapPeak {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  @volatile private var peak = 0L
  private val heapPools = java.lang.management.ManagementFactory
    .getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { if (used > peak) peak = used }
      }
  }
  private val emitters = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  def reset(): Unit = synchronized { peak = 0L }
  /** Peak in MiB; one full collection at the end guarantees a reading. */
  def peakMb(): Double = {
    System.gc()
    Thread.sleep(200) // notifications arrive on a JMX thread
    val bytes: Long = synchronized(peak)
    bytes / (1024.0 * 1024.0)
  }
  def close(): Unit = emitters.foreach(e =>
    try e.removeNotificationListener(listener) catch { case _: Exception => })
}

object PerfBench {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, sizes: Sizes, work: Path)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val sizes = kv.getOrElse("size", "full") match {
      case "full" => Sizes.full
      case "tiny" => Sizes.tiny
      case s => throw new IllegalArgumentException(s"unknown --size $s")
    }
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", sizes, Paths.get(need("work")).toAbsolutePath)
  }

  def cores: Int = Runtime.getRuntime.availableProcessors()

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", (2L << 20).toString)
      .config("spark.sql.files.openCostInBytes", (64L << 10).toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.registerAll(s)
    s
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** `f`, with its wall time logged to stderr under `phase`. */
  def phase[T](name: String)(f: => T): T = {
    val (out, s) = time(f)
    System.err.println(f"[perfbench] $name%s: $s%.2f s")
    out
  }

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = f
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** Unpersist every persistent RDD created since `before` — the blocks a
    * finished operation left behind (its final local checkpoints). */
  def releaseSince(spark: SparkSession, before: Set[Int]): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before(id)) rdd.unpersist(blocking = true)
    }

  /** Delete a directory tree. */
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally s.close()
  }

  /** Copy a directory tree byte for byte, file times included. */
  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst, java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  def persistentIds(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Host readings that tell throttle storms from regressions: the
    * in-process signature kernel and streaming memory bandwidth. */
  def hostReadings(docs: Int): Map[String, Any] = Map(
    "kernel_docs_per_s" -> graft.bench.KernelControl.dps(cores, docs, 1),
    "bandwidth_gbps" -> graft.bench.HostControls.bandwidthGBps(cores, 1))

  /** One result: the result line's fields and the diagnostics line. */
  final case class Result(ok: Boolean, attempted: Int, failed: Int, m: Metrics,
      diag: Map[String, Any])

  def workload(spark: SparkSession, a: Args): Workload = a.workload match {
    case "dedup_batch" => new DedupBatch(spark, a)
    case "dedup_incremental" => new DedupIncremental(spark, a)
    case "search" => new SearchWorkload(spark, a)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  /** Timed set-ups, one warmup, operations until `a.seconds` are up, then
    * the output check; end-to-end metrics. */
  def measured(a: Args, wl: Workload, heap: HeapPeak): Result = {
    val setups = (1 to wl.setups).map(_ => phase("setup")(time(wl.setup())._2))
    phase("warmup")(wl.warmup())
    val before = phase("host")(hostReadings(a.sizes.kernelDocs))
    heap.reset()
    val lat = mutable.ArrayBuffer.empty[Double]
    var items = 0L
    var attempted, failed = 0
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    while (System.nanoTime() < deadline || lat.isEmpty) {
      attempted += 1
      System.gc() // every operation starts from the same collected heap
      try {
        val (n, s) = time(wl.op(attempted - 1))
        lat += s
        items += n
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] op failed: $e")
          if (failed > 3 && lat.isEmpty) throw e
      }
    }
    val peak = phase("measured")(heap.peakMb())
    val after = phase("host")(hostReadings(a.sizes.kernelDocs))
    val ok = phase("check")(wl.check())
    val m = new Metrics
    m.put("setup_s", "s", median(setups))
    m.put("op_ms.p50", "ms", quantile(lat.toSeq, 0.5) * 1e3)
    m.put("items_per_s", "items/s", items / lat.sum)
    // Too few operations per run for a tail percentile, and a peak heap
    // that depends on when collections happen to run: diagnostics only.
    Result(ok, attempted, failed, m, Map("item" -> wl.itemName, "ops" -> lat.size,
      "op_ms.p95" -> quantile(lat.toSeq, 0.95) * 1e3, "peak_heap_mb" -> peak,
      "error_rate" -> failed.toDouble / attempted, "setup_s.runs" -> setups,
      "op_s.runs" -> lat.toSeq, "host_before" -> before, "host_after" -> after) ++
      wl.diagnostics)
  }

  /** One set-up and warmup, then the workload's traced pass; per-layer
    * metrics. */
  def traced(a: Args, wl: Workload, tr: JobTrace): Result = {
    phase("setup")(wl.setup())
    phase("warmup")(wl.warmup())
    val before = hostReadings(a.sizes.kernelDocs)
    val m = new Metrics
    Layers.kernels(a.sizes.kernelDocs, m)
    val (n, ok) = phase("traced")(wl.traced(tr, m))
    val after = hostReadings(a.sizes.kernelDocs)
    Layers.fill(m)
    Result(ok, n, 0, m, Map("host_before" -> before, "host_after" -> after) ++
      wl.diagnostics)
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = parse(argv)
    Files.createDirectories(a.work)
    val spark = phase("session")(session(a.work))
    val heap = new HeapPeak
    val tr = new JobTrace(spark.sparkContext)
    if (a.workload == "cds-training") {
      // Class-loading pass for the JVM's class-data-sharing archive at the
      // tiny profile; the incremental workload runs the batch pipeline's
      // code too.
      for (w <- Seq("dedup_incremental", "search")) {
        val wa = a.copy(workload = w, sizes = Sizes.tiny, work = a.work.resolve(w))
        Files.createDirectories(wa.work)
        measured(wa, workload(spark, wa), heap)
      }
    } else {
      val wl = workload(spark, a)
      val r = if (a.trace) traced(a, wl, tr) else measured(a, wl, heap)
      println(Json.obj(Seq("diagnostics" -> (Map("workload" -> a.workload, "cores" -> cores,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024)) ++ r.diag))))
      val ok = r.ok && wl.wrong.get() == 0 && r.attempted > r.failed
      println(s"""{"correct": $ok, "attempted": ${r.attempted}, "failed": ${r.failed}, "metrics": ${r.m.json}}""")
    }
    heap.close()
    phase("stop")(spark.stop())
  }
}
