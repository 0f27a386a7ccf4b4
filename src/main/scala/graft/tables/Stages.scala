package graft.tables

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Iceberg-style stage persistence (SURVEY.md §7.1: no Iceberg runtime jar is
 * available offline, so the properties the north_rule actually needs are
 * implemented directly):
 *
 *  - atomic commit: stage output parquet is only visible once its JSON
 *    manifest is published (FsUtil.publish: write-tmp + atomic move — the
 *    reference's atomic data_len header publish, src/index/terms.c:302-305);
 *  - checkpoint resume: a re-run with an unchanged fingerprint (config +
 *    input lineage) reads the committed parquet instead of recomputing;
 *  - lineage: every manifest records its input stage names + fingerprints;
 *  - schema: every manifest records the committed `StructType` as JSON, so
 *    `read` plans a committed stage without Spark's schema-inference job;
 *  - metrics: every manifest records its stage's per-file row counts (read
 *    from the parquet footers), and `metrics()` reads them back from the
 *    committed manifests, so a commit writes one file, never an append.
 *
 * The on-disk layout, `<root>/<stage>/MANIFEST.json` beside
 * `<root>/<stage>/data`, is known to this class only: the other stores go
 * through `read`, `committed` and `drop`.
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
  private def manifestPath(name: String) = s"${dir(name)}/MANIFEST.json"

  // flat string-map JSON, written by us; iterative parse — the manifest
  // `inputs` lineage grows with stage fan-in and a regex scrape overflows
  // the stack on long values (see FlatJson)
  private def readManifest(name: String): Option[Map[String, String]] =
    FsUtil.read(manifestPath(name)).map(FlatJson.parse)

  /** True if `name` is committed with the given fingerprint. */
  def isCommitted(name: String, fingerprint: String): Boolean =
    readManifest(name).exists(_.get("fingerprint").contains(fingerprint))

  /** True if `name` is committed under any fingerprint. */
  def committed(name: String): Boolean = readManifest(name).isDefined

  /** Deletes stage `name`: the manifest first, so a crash part-way leaves
    * an uncommitted directory, never a manifest over missing data. */
  def drop(name: String): Unit = {
    FsUtil.delete(manifestPath(name))
    FsUtil.delete(dir(name))
  }

  /** `input=fingerprint` per input stage, each manifest read once: the
    * lineage a manifest records and the input half of a stage fingerprint. */
  private def lineageOf(inputs: Seq[String]): String =
    inputs.map { in =>
      s"$in=${readManifest(in).flatMap(_.get("fingerprint")).getOrElse("?")}"
    }.mkString(";")

  private def fingerprintOf(configFingerprint: String, lineage: String): String =
    s"$configFingerprint|$lineage".hashCode.toHexString + ":" + configFingerprint

  /** True if a runStage(name, configFingerprint, inputs) call would resume
    * (read) rather than compute — lets callers keep opens read-only. */
  def wouldResume(name: String, configFingerprint: String,
      inputs: Seq[String] = Nil): Boolean =
    isCommitted(name, fingerprintOf(configFingerprint, lineageOf(inputs)))

  /** One multi-path read of the committed stages `names`, each manifest
    * read once. Zero-row stages are skipped (when every stage is empty the
    * first stays as the schema source). The schema comes from the
    * manifests, so the read plans without Spark's schema-inference job; a
    * manifest written before the schema was recorded reads by inference. */
  def read(names: Seq[String]): DataFrame = {
    require(names.nonEmpty, "no stages to read")
    val committed = names.map { n =>
      n -> readManifest(n).getOrElse(throw new IllegalStateException(
        s"stage $n is not committed under $root"))
    }
    val nonEmpty = committed.filter(_._2.get("rows").forall(_ != "0"))
    readData(if (nonEmpty.nonEmpty) nonEmpty else committed.take(1))
  }

  private def readData(stages: Seq[(String, Map[String, String])]): DataFrame =
    StageStore.readParquet(spark, stages.map(s => dataDir(s._1)),
      stages.map(_._2.get("schema_json")).distinct match {
        case Seq(json) => json
        case _ => None
      })

  /** Run (or resume) a stage. `inputs` are upstream stage names — their
    * fingerprints are folded into this stage's fingerprint, so an upstream
    * config change invalidates everything downstream.
    *
    * `sortCols` range-sorts the stage before writing (the Iceberg
    * sort-order analogue): each parquet row group then covers a narrow key
    * span, so pushed point/IN predicates on those columns skip row groups
    * via min/max statistics. A relation whose rows the driver already
    * holds (a local relation, e.g. a driver union-find's labels) is sorted
    * in one task into one file instead, without the range sort's sample
    * and exchange jobs. `bloomCols` additionally writes parquet bloom
    * filters for point-lookup pruning on high-cardinality keys. */
  def runStage(name: String, configFingerprint: String,
      inputs: Seq[String] = Nil,
      sortCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil)(
      compute: => DataFrame): DataFrame = {
    val lineage = lineageOf(inputs)
    val fingerprint = fingerprintOf(configFingerprint, lineage)
    val current = readManifest(name)
    if (current.exists(_.get("fingerprint").contains(fingerprint)))
      readData(Seq(name -> current.get))
    else JobLabel(spark, s"stage:$name") {
      val t0 = System.nanoTime()
      val df0 = compute
      val df =
        if (sortCols.isEmpty) df0
        else if (df0.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
          df0.coalesce(1).sortWithinPartitions(sortCols.map(col): _*)
        else df0.sort(sortCols.map(col): _*)
      def writer = bloomCols.foldLeft(df.write.mode(SaveMode.Overwrite)) {
        (w, c) => w.option(s"parquet.bloom.filter.enabled#$c", "true")
      }
      // The overwrite below deletes the committed data first: drop the old
      // manifest before it, or a write that fails part-way leaves that
      // manifest claiming its fingerprint over deleted or partial data, and
      // a later run under the old fingerprint would resume a torn stage.
      if (current.isDefined) FsUtil.delete(manifestPath(name))
      JobLabel(spark, s"stage:$name:write") {
        writer.parquet(dataDir(name))
      }
      val schemaJson = df.schema.json
      val out = readData(Seq(name -> Map("schema_json" -> schemaJson)))
      // Per-file row counts from the parquet FOOTERS of the files the read
      // above listed, opened driver-side: exact (the writer records
      // per-row-group counts) and no re-read job. One write file ≈ one
      // write partition, so the counts keep their skew-visibility meaning.
      val perFile = StageStore.footers(out)(_.getRecordCount)
      val durMs = (System.nanoTime() - t0) / 1e6
      FsUtil.publish(manifestPath(name), FlatJson.render(Map(
        "stage" -> name,
        "fingerprint" -> fingerprint,
        "rows" -> perFile.sum.toString,
        "partition_rows" -> perFile.mkString(","),
        "duration_ms" -> f"$durMs%.1f",
        "inputs" -> lineage,
        "schema_json" -> schemaJson)))
      out
    }
  }

  /** Per-partition row counts of every stage committed under `root`, as
    * (partition_id, rows, stage, run_fingerprint): one row per written file
    * of the stage's last committed run, from its manifest. A manifest
    * committed before the counts moved into it has none and is skipped. */
  def metrics(): DataFrame = {
    val rows = FsUtil.list(root).flatMap { name =>
      readManifest(name).toSeq.flatMap { m =>
        m.get("partition_rows").toSeq.flatMap(_.split(',').filter(_.nonEmpty))
          .zipWithIndex.map { case (r, i) =>
            Row(i, r.toLong, name, m.getOrElse("fingerprint", ""))
          }
      }
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("partition_id", IntegerType),
      StructField("rows", LongType),
      StructField("stage", StringType),
      StructField("run_fingerprint", StringType))))
  }
}

object StageStore {
  /** One parquet read of `paths` with the schema a manifest recorded
    * (`StructType.json`), so it plans without Spark's schema-inference job;
    * without one (a manifest written before schemas were recorded) the
    * read infers. */
  private[graft] def readParquet(spark: SparkSession, paths: Seq[String],
      schemaJson: Option[String]): DataFrame =
    schemaJson.fold(spark.read)(json =>
      spark.read.schema(DataType.fromJson(json).asInstanceOf[StructType]))
      .parquet(paths: _*)

  /** `f` applied to the footer of every parquet file `df` reads, in file
    * name order, each opened in the driver: metadata only, no job. */
  private[graft] def footers[T](df: DataFrame)(
      f: org.apache.parquet.hadoop.ParquetFileReader => T): Seq[T] = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val files = df.inputFiles
    files.sorted.toSeq.map { uri =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(new java.net.URI(uri)), conf))
      try f(r) finally r.close()
    }
  }
}
