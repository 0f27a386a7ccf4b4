package graft.dedup

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Connected components on an edge DataFrame by union-find with local
 * contraction (after BTS, ICDE 2024): one map-only Spark job runs a
 * union-find inside every partition of the edge relation and emits that
 * partition's spanning forest as `(node, partition-local min)` rows. A
 * partition emits at most one row per input edge, so the relation never
 * grows, and every node of a non-self edge survives as a row's node or
 * root. The forest has the same components as the edges.
 *
 * When the forest holds at most `SmallEdgeBound` rows, the driver finishes
 * it with the same union-find function the executors ran. Every graph our
 * candidate generators emit at bench scale lands here: star edges per
 * bucket collapse inside a partition, and the 308k-edge `dedup_batch`
 * graph contracts to a ~131k-row forest.
 *
 * A forest still over the bound goes to iterative minimum-label
 * propagation with pointer jumping, run over the forest instead of the
 * raw edges. It stays because it is the only path whose driver memory is
 * bounded on corpus-scale graphs; no benchmark workload reaches it.
 *
 * Iterates materialize through `Materialize`: a reliable checkpoint when the
 * context has a checkpoint dir configured (cluster durability), else
 * localCheckpoint; superseded local iterates are released eagerly.
 */
object ConnectedComponents {

  /** Row bound for the driver union-find, both for `runAuto`'s input and
    * for `run`'s contracted forest. Collecting that many rows allocates
    * ~52 MB of transient driver heap (~200 B/row measured on JDK 17: the
    * decoded UnsafeRows, their buffers and the (Long, Long) tuples; boxed
    * generic Rows cost ~223 B/row), plus the union-find's boxed map,
    * against the dozen-plus scheduled jobs of the label-propagation
    * rounds. */
  val SmallEdgeBound: Int = 1 << 18

  /** Label-propagation rounds executed per Spark job by the fallback. */
  private val FusedRounds = 4

  private val pairs = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)

  /** Union-find over `edges`, which hold no self-edges: (node, min node id
    * of its component) for every node. Roots are always the component min
    * (a union hangs the larger root under the smaller), so no relabel
    * pass is needed. Shared by the executors' contraction and the
    * driver finish. */
  private def unionFind(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) {
        parent.put(r, parent.get(parent.get(r))) // path halving
        r = parent.get(r)
      }
      r
    }
    edges.foreach { case (s, d) =>
      parent.putIfAbsent(s, s)
      parent.putIfAbsent(d, d)
      val (rs, rd) = (find(s), find(d))
      if (rs != rd) parent.put(math.max(rs, rd), math.min(rs, rd))
    }
    val ids = parent.keySet().toArray(Array.empty[java.lang.Long])
    ids.iterator.map(id => (id.longValue, find(id)))
  }

  /** The (src, dst) pairs of `edges` minus self-edges (and null ends): a
    * node appearing only in self-edges is absent from every path's output. */
  private def nonSelf(edges: DataFrame) =
    edges.select("src", "dst").where(col("src") =!= col("dst"))
      .as[(Long, Long)](pairs)

  private def labelsDF(spark: SparkSession,
      labels: Iterator[(Long, Long)]): DataFrame =
    spark.createDataset(labels.toSeq)(pairs).toDF("id", "comp")

  /** `run` without the distributed contraction for small edge sets: when
    * `edges` holds at most `smallEdgeBound` non-self rows they collect and
    * the driver union-find labels them in microseconds, where `run` costs
    * its contraction job plus the collect. Same output contract as `run`.
    *
    * Callers must pass a MATERIALIZED (or cheap) relation: an over-bound
    * input pays one extra `limit(bound+1)` evaluation before `run`. */
  def runAuto(edges: DataFrame,
      smallEdgeBound: Int = SmallEdgeBound): DataFrame = {
    val sample = nonSelf(edges).limit(smallEdgeBound + 1).collect()
    if (sample.length > smallEdgeBound) run(edges, smallEdgeBound)
    else labelsDF(edges.sparkSession, unionFind(sample.iterator))
  }

  /** @param edges DataFrame with (src: long, dst: long), read by the one
    *        contraction job
    * @param smallEdgeBound forest size up to which the driver finishes
    * @param maxIter label-propagation round cap for an over-bound forest
    * @return (id: long, comp: long) for every node appearing in a non-self
    *         edge; comp = min node id of the component. */
  def run(edges: DataFrame, smallEdgeBound: Int = SmallEdgeBound,
      maxIter: Int = 25): DataFrame = {
    // Lazy checkpoint fused with the count: one job contracts every
    // partition and materializes the forest, which is all the rest reads.
    // The count runs on the RDD: a SQL count() under AQE is two jobs.
    val forest = Materialize(
      nonSelf(edges).mapPartitions((it: Iterator[(Long, Long)]) =>
        unionFind(it).filter(p => p._1 != p._2))(pairs).toDF("src", "dst"),
      eager = false)
    val labels =
      if (forest.queryExecution.toRdd.count() <= smallEdgeBound)
        labelsDF(edges.sparkSession,
          unionFind(forest.as[(Long, Long)](pairs).collect().iterator))
      else propagate(forest, maxIter)
    Materialize.release(forest)
    labels
  }

  /** Iterative minimum-label propagation with pointer jumping, pure
    * DataFrame algebra. Each round every node adopts the min label among
    * itself and its neighbors, then jumps to its parent's label
    * (comp ← comp(comp)), doubling the horizon per round. Labels only
    * decrease, so the exact decimal sum of comp strictly decreases until
    * the fixpoint; the sum is computed by the job that materializes the
    * iterate. `FusedRounds` rounds run per job through lazily materialized
    * intermediates, since per-job driver latency dominates these cheap
    * rounds. */
  private def propagate(forest: DataFrame, maxIter: Int): DataFrame = {
    // Symmetric adjacency (both directions), deduped, materialized once —
    // lazily, so the first iteration's job does it (no separate barrier).
    // repartition BEFORE distinct: hashpartitioning(src) satisfies the
    // (src, dst) aggregate's clustering requirement, so the dedup runs in
    // place and lands partitioned by src for the per-round message join.
    val adj = Materialize(
      forest
        .select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .repartition(col("src"))
        .distinct(),
      eager = false)

    var labels = Materialize(
      adj.select(col("src").as("id")).distinct().withColumn("comp", col("id")),
      eager = false)

    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("comp").cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO))).collect()(0)
        .getDecimal(0)

    // One round: (a) neighbor-min — each edge forwards the src's current
    // comp to dst; (b) pointer jumping — comp <- comp(comp). The label and
    // message relations are a few narrow columns, so every join is hinted
    // SHUFFLE_HASH rather than paying sort-merge's sort of both sides.
    def round(cur: DataFrame): DataFrame = {
      val msgs = adj
        .join(cur.withColumnRenamed("id", "src").hint("shuffle_hash"), "src")
        .groupBy(col("dst").as("id"))
        .agg(min("comp").as("nbr_comp"))
      val stepped = cur
        .join(msgs.hint("shuffle_hash"), Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"))
      val parents = stepped
        .select(col("id").as("comp"), col("comp").as("pcomp"))
      stepped
        .join(parents.hint("shuffle_hash"), Seq("comp"), "left")
        .select(col("id"), coalesce(col("pcomp"), col("comp")).as("comp"))
    }

    // Intermediate rounds must be SHARED by the next round's consumers.
    // localCheckpoint(eager=false) does that; Dataset.checkpoint(eager=false)
    // does NOT — with a reliable checkpoint dir Spark checkpoints only the
    // LAST marked RDD per job, so intermediates persist() instead.
    val reliable = forest.sparkSession.sparkContext.getCheckpointDir.isDefined
    def midMaterialize(df: DataFrame): DataFrame =
      if (reliable) df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else Materialize(df, eager = false)
    def midRelease(df: DataFrame): Unit =
      if (reliable) { df.unpersist(); () } else Materialize.release(df)

    var prevSum: java.math.BigDecimal = null
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val mids = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      var cur = labels
      for (r <- 1 to FusedRounds) {
        cur =
          if (r < FusedRounds) { val m = midMaterialize(round(cur)); mids += m; m }
          else Materialize(round(cur), eager = false)
      }
      val next = cur
      val nextSum = labelSum(next)
      // Early fixpoint: equal sums for the last intermediate round and the
      // final round mean the final round changed nothing, so the
      // confirming iteration is provably a no-op.
      val earlyFix = labelSum(mids.last).compareTo(nextSum) == 0
      Materialize.release(labels)
      mids.foreach(midRelease)
      labels = next
      converged = earlyFix ||
        (prevSum != null && nextSum.compareTo(prevSum) == 0)
      prevSum = nextSum
      iter += 1
    }
    Materialize.release(adj)
    labels
  }
}
