package graft.tables

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets

/**
 * Iceberg-style stage persistence (SURVEY.md §7.1: no Iceberg runtime jar is
 * available offline, so the properties the north_rule actually needs are
 * implemented directly):
 *
 *  - atomic commit: stage output parquet is only visible once its JSON
 *    manifest is atomically moved into place (write-tmp + ATOMIC_MOVE —
 *    the same publish discipline as the reference's atomic data_len header
 *    publish, /root/reference/src/index/terms.c:302-305);
 *  - checkpoint resume: a re-run with an unchanged fingerprint (config +
 *    input lineage) reads the committed parquet instead of recomputing;
 *  - lineage: every manifest records its input stage names + fingerprints;
 *  - metrics: per-stage, per-file row counts appended driver-side to a
 *    `stage_metrics.jsonl` journal (parquet-footer based; pre-r7 stores'
 *    `_metrics` parquet dir is still read by metrics()). The name is NOT
 *    underscore-prefixed on purpose: Spark's file index silently filters
 *    `_`-prefixed files, so an `_metrics.jsonl` would read as empty.
 *
 * Swapping this for a real Iceberg catalog is a config change: `runStage`
 * maps to `writeTo(...).createOrReplace()` + snapshot lookup.
 */
/** Scoped Spark job-description labels (guide: label your jobs). The
  * description is a driver thread-local that SQL broadcast futures capture,
  * so every job a block launches — including broadcast builds — carries the
  * label; restored on exit so callers' labels survive nesting. */
object JobLabel {
  def apply[T](spark: SparkSession, label: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try f finally sc.setJobDescription(prev)
  }
}

final class StageStore(val spark: SparkSession, val root: String) {

  private def dir(name: String) = s"$root/$name"
  private def dataDir(name: String) = s"${dir(name)}/data"
  private def manifestPath(name: String) = Paths.get(dir(name), "MANIFEST.json")

  private def readManifest(name: String): Option[Map[String, String]] = {
    val p = manifestPath(name)
    if (!Files.exists(p)) None
    else {
      // flat string-map JSON, written by us; iterative parse — the manifest
      // `inputs` lineage grows with stage fan-in and a regex scrape
      // overflows the stack on long values (see FlatJson)
      val s = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      Some(FlatJson.parse(s))
    }
  }

  private def writeManifest(name: String, fields: Map[String, String]): Unit = {
    Files.createDirectories(Paths.get(dir(name)))
    val json = fields.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k": "${FlatJson.escape(v)}"""" }
      .mkString("{\n  ", ",\n  ", "\n}")
    val tmp = Paths.get(dir(name), s"MANIFEST.json.tmp")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, manifestPath(name),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** True if `name` is committed with the given fingerprint. */
  def isCommitted(name: String, fingerprint: String): Boolean =
    readManifest(name).exists(_.get("fingerprint").contains(fingerprint))

  /** Committed row count of `name` from its manifest (every commit records
    * it), None if the stage is not committed. Lets readers skip zero-row
    * stages — a zero-row PARTITIONED stage falls back to one unpartitioned
    * empty file (see runStage), whose directory shape would poison a
    * multi-path partitioned read. */
  def committedRows(name: String): Option[Long] =
    readManifest(name).flatMap(_.get("rows")).map(_.toLong)

  private def fingerprintFor(configFingerprint: String,
      inputs: Seq[String]): String = {
    val lineage = inputs.map { in =>
      val fp = readManifest(in).flatMap(_.get("fingerprint")).getOrElse("?")
      s"$in=$fp"
    }.mkString(";")
    s"$configFingerprint|$lineage".hashCode.toHexString + ":" + configFingerprint
  }

  /** True if a runStage(name, configFingerprint, inputs) call would resume
    * (read) rather than compute — lets callers keep opens read-only. */
  def wouldResume(name: String, configFingerprint: String,
      inputs: Seq[String] = Nil): Boolean =
    isCommitted(name, fingerprintFor(configFingerprint, inputs))

  /** Run (or resume) a stage. `inputs` are upstream stage names — their
    * fingerprints are folded into this stage's fingerprint, so an upstream
    * config change invalidates everything downstream.
    *
    * `partitionCols` hive-partitions the stage parquet (the Iceberg
    * partition-spec analogue): readers filtering on a partition column get
    * static partition pruning at the scan. A zero-row partitioned write
    * emits no schema-bearing files, so empty relations fall back to one
    * unpartitioned empty file (pruning is moot on nothing).
    *
    * `sortCols` range-sorts the stage before writing (the Iceberg
    * sort-order analogue): each parquet row group then covers a narrow key
    * span, so pushed point/IN predicates on those columns skip row groups
    * via min/max statistics. `bloomCols` additionally writes parquet bloom
    * filters for point-lookup pruning on high-cardinality keys. */
  def runStage(name: String, configFingerprint: String,
      inputs: Seq[String] = Nil, partitionCols: Seq[String] = Nil,
      sortCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil)(
      compute: => DataFrame): DataFrame = {
    val lineage = inputs.map { in =>
      val fp = readManifest(in).flatMap(_.get("fingerprint")).getOrElse("?")
      s"$in=$fp"
    }.mkString(";")
    val fingerprint = fingerprintFor(configFingerprint, inputs)
    if (isCommitted(name, fingerprint)) {
      spark.read.parquet(dataDir(name))
    } else JobLabel(spark, s"stage:$name") {
      val t0 = System.nanoTime()
      val df0 = compute
      val df =
        if (sortCols.isEmpty) df0
        else df0.sort(sortCols.map(org.apache.spark.sql.functions.col): _*)
      def writer = bloomCols.foldLeft(df.write.mode(SaveMode.Overwrite)) {
        (w, c) => w.option(s"parquet.bloom.filter.enabled#$c", "true")
      }
      JobLabel(spark, s"stage:$name:write") {
        if (partitionCols.isEmpty)
          writer.parquet(dataDir(name))
        else {
          writer.partitionBy(partitionCols: _*).parquet(dataDir(name))
          val anyFile = {
            val s = Files.walk(Paths.get(dataDir(name)))
            try s.anyMatch(p => p.toString.endsWith(".parquet"))
            finally s.close()
          }
          if (!anyFile)
            df.limit(0).write.mode(SaveMode.Overwrite).parquet(dataDir(name))
        }
      }
      val committed = spark.read.parquet(dataDir(name))
      // Per-file row counts from the parquet FOOTERS, read driver-side (r7):
      // this replaces a full post-write re-read job per stage (a
      // groupBy(spark_partition_id) scan of everything just written — one
      // extra stage-output read on every stage of every index build /
      // incremental batch). Footer metadata is exact (the writer records
      // per-row-group counts), the file walk is the same driver-side
      // listing the committer already did, and one write file ≈ one write
      // partition, so the metrics keep their skew-visibility meaning.
      val perPart: Array[(Int, Long)] = {
        val files = {
          val s = Files.walk(Paths.get(dataDir(name)))
          try s.filter(p => p.toString.endsWith(".parquet")).toArray
            .map(_.toString).sorted
          finally s.close()
        }
        val conf = spark.sparkContext.hadoopConfiguration
        files.zipWithIndex.map { case (f, i) =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(f), conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try (i, r.getRecordCount) finally r.close()
        }
      }
      val rows = perPart.map(_._2).sum
      val durMs = (System.nanoTime() - t0) / 1e6
      // Per-partition metrics (lineage + skew visibility at scale) as a
      // DRIVER-SIDE JSONL journal append (r7): the parquet Append here was
      // a scheduled Spark job per stage whose committer setup + output
      // listing measured ~0.5 s of driver time per stage on the
      // incremental path — for a handful of rows already sitting in driver
      // memory. One buffered file append under the same lock; metrics()
      // reads the journal (and any legacy parquet dir) back as the same
      // relation. Best-effort diagnostics, not part of the stage commit
      // point, so a torn tail line on crash loses only that stage's rows.
      val metricsJson = perPart.map { case (p, r) =>
        s"""{"partition_id":$p,"rows":$r,"stage":"${FlatJson.escape(name)}",""" +
          s""""run_fingerprint":"${FlatJson.escape(fingerprint)}"}"""
      }.mkString("", "\n", "\n")
      // Serialized across threads: concurrent stage runs (IndexStore
      // overlaps independent stages) must not interleave their appends.
      StageStore.metricsLock.synchronized {
        Files.write(Paths.get(root, "stage_metrics.jsonl"),
          metricsJson.getBytes(StandardCharsets.UTF_8),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      }
      writeManifest(name, Map(
        "stage" -> name,
        "fingerprint" -> fingerprint,
        "rows" -> rows.toString,
        "duration_ms" -> f"$durMs%.1f",
        "inputs" -> lineage,
        "schema" -> committed.schema.simpleString.take(4000)))
      committed
    }
  }

  def metrics(): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("partition_id",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("rows",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("stage",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("run_fingerprint",
        org.apache.spark.sql.types.StringType)))
    val journal = Paths.get(root, "stage_metrics.jsonl")
    val legacy = Paths.get(root, "_metrics") // pre-r7 parquet Append dir
    val parts = Seq(
      if (Files.exists(journal))
        Some(spark.read.schema(schema).json(journal.toString)) else None,
      if (Files.exists(legacy))
        Some(spark.read.parquet(legacy.toString)
          .select("partition_id", "rows", "stage", "run_fingerprint"))
      else None).flatten
    require(parts.nonEmpty, s"no stage metrics recorded under $root")
    parts.reduce(_ unionByName _)
  }
}

object StageStore {
  /** Guards the `_metrics` Append across stage-running threads (one lock
    * JVM-wide: metrics writes are driver-side one-row-group files, so
    * coarse serialization costs nothing). */
  private[tables] val metricsLock = new Object
}
