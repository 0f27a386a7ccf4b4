package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/**
 * Structured Streaming surface. The reference is synchronous
 * request/response — its only incremental notion is mmap re-sync between
 * processes (/root/reference/src/index/terms.c:320-414, dtmap.c:440-544).
 * The streaming ports below cover the natural streaming analogues:
 *
 *  - `dedupedPages`: S1's duplicate-id rejection
 *    (/root/reference/src/core/nxs.c:498-511) as watermarked
 *    dropDuplicates on url;
 *  - `windowedEventCounts`: event-time tumbling windows + watermark for
 *    late data;
 *  - `runningUserCounts`: custom state via mapGroupsWithState.
 */
object StreamOps {

  /** Streaming ingest of a pages directory with exactly-once-per-url
    * semantics inside the watermark horizon. */
  def dedupedPages(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream
      .schema(schema)
      .parquet(dir)
      .withWatermark("warc_ts", "1 hour")
      .dropDuplicates("url")

  /** Event-time tumbling window counts with a 30-minute watermark. */
  def windowedEventCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("total_value"))

  /** Streaming near-dup ingest: every micro-batch of pages is committed as
    * one IncrementalDedup batch against the store at `root`. Exactly-once
    * falls out of the two commit layers composing: Structured Streaming
    * redelivers a micro-batch with the SAME batchId after a crash, and
    * IncrementalDedup.addBatch is idempotent per batch id (its stages are
    * fingerprint-committed — a redelivered batch resumes/reads instead of
    * re-ingesting). Per micro-batch, candidate generation touches only the
    * buckets the new pages land in, the relabel touches only the components
    * a new edge reaches, and the label stage written is delta-sized;
    * `autoCompactAfter` folds the store every N micro-batches so an
    * unbounded stream keeps a bounded stage fan-in. clusters() on the store
    * serves the continuously-updated labels. */
  def dedupIngest(pages: DataFrame, root: String,
      cfg: graft.dedup.DedupConfig = graft.dedup.DedupConfig(),
      checkpointDir: String,
      autoCompactAfter: Int = 64,
      // store-creation bpt granularity, pinned in the store CONFIG (see
      // IncrementalDedup.bucketParts) — a long-lived streaming store at web
      // scale wants a finer value set up front
      bucketParts: Int = graft.dedup.IncrementalDedup.BucketParts)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = pages.sparkSession
    pages.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        new graft.dedup.IncrementalDedup(spark, root, cfg, autoCompactAfter,
          bucketParts = bucketParts)
          .addBatch(f"stream_$batchId%06d", batch): Unit
      }
      .start()
  }

  final case class UserEvent(user_id: Long, value: Double)
  final case class UserTotal(user_id: Long, n: Long, total: Double)

  /** Stateful running per-user totals (mapGroupsWithState). */
  def runningUserCounts(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").cast("long"), col("value").cast("double"))
      .as[UserEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserTotal, UserTotal](GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[UserEvent], state: GroupState[UserTotal]) =>
          val prev = state.getOption.getOrElse(UserTotal(user, 0L, 0.0))
          var n = prev.n; var tot = prev.total
          rows.foreach { e => n += 1; tot += e.value }
          val next = UserTotal(user, n, tot)
          state.update(next)
          next
      }
      .toDF()
  }
}
