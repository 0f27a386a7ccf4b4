package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made `new Column(expr)` private to
  * the sql package (connect split); extension libraries bridge through a
  * package-local object — same pattern as other Catalyst-extending libs. */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `AbstractDataType` (the `inputTypes` element type of ExpectsInputTypes)
    * is `private[sql]` in Spark 4; re-expose it so graft expressions can
    * declare typed inputs and fail analysis instead of misreading bytes
    * (e.g. sign_lsh over array<double>). */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType

  /** Release the block-manager blocks behind a `localCheckpoint`ed
    * DataFrame. Iterative algorithms (connected components) checkpoint per
    * round; without explicit release the superseded iterates accumulate
    * until they crowd out execution memory (ContextCleaner only frees them
    * on driver GC, far too lazily for a tight loop).
    *
    * IRREVERSIBLE: a localCheckpoint truncates lineage, so once its blocks
    * are dropped the DataFrame can never be recomputed — any later action on
    * it (or on a plan derived from it) fails. Only call this on a checkpoint
    * that nothing will read again. On a plan that is not a bare
    * localCheckpoint scan this is a silent no-op. Internal helper for the
    * graft iterative ops; not a general-purpose API. */
  def unpersistCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        // What RDD.unpersist does, minus its WARN for every locally
        // checkpointed RDD (its lineage cannot be recomputed — the contract
        // above): drop the blocks and forget the persisted RDD.
        lr.rdd.sparkContext.unpersistRDD(lr.rdd.id, blocking = false)
        // Reliable checkpoints are files, and Spark's cleaner does not
        // delete them by default (spark.cleaner.referenceTracking
        // .cleanCheckpoints=false) — an iterative job would otherwise leak
        // one checkpoint directory per iteration for the application's
        // lifetime. Same irreversibility contract as the block release.
        lr.rdd.getCheckpointFile.foreach { p =>
          val path = new org.apache.hadoop.fs.Path(p)
          val fs = path.getFileSystem(
            df.sparkSession.sparkContext.hadoopConfiguration)
          fs.delete(path, true)
        }
      case _ =>
    }

  /** Blocks until every listener event posted so far is delivered. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)

  /** Test-only: clear the context's checkpoint dir (private[spark] field —
    * there is no public unset API), restoring localCheckpoint behavior for
    * suites that share one SparkSession. */
  def clearCheckpointDir(sc: org.apache.spark.SparkContext): Unit =
    sc.checkpointDir = None
}
