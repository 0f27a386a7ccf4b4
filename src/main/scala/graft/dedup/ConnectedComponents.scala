package graft.dedup

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator
import scala.jdk.CollectionConverters._

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
 * A forest still over the bound is contracted again by the same
 * union-find, round after round (`contractRound`), until a round changes
 * no row: the forest is then a star forest rooted at the component minima.
 * The loop never exits on the row count: a forest keeps at least
 * nodes − components rows, so many small components stay over any bound.
 * A component's root task holds all its rows, so a giant component is one
 * task per round.
 *
 * Forests materialize through `Materialize`: a reliable checkpoint when
 * the context has a checkpoint dir configured (cluster durability), else
 * localCheckpoint; a superseded forest is released eagerly.
 */
object ConnectedComponents {

  /** Row bound for the driver union-find, both for `runAuto`'s input and
    * for `run`'s contracted forest. Collecting that many rows allocates
    * ~52 MB of transient driver heap (~200 B/row measured on JDK 17: the
    * decoded UnsafeRows, their buffers and the (Long, Long) tuples; boxed
    * generic Rows cost ~223 B/row), plus the union-find's boxed map,
    * against the jobs of at least one contraction round and the label
    * materialization on the distributed path. */
  val SmallEdgeBound: Int = 1 << 18

  /** Contraction rounds after which `run` fails instead of returning
    * labels that are not yet a fixpoint. A 10^6-node path with random ids
    * over 8 partitions takes 8, the confirming round included. */
  private val MaxRounds = 64

  private val pairs = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)

  /** Union-find over `edges`, which hold no self-edges: every node mapped
    * to the min node id of its component. Roots are always the component
    * min (a union hangs the larger root under the smaller), so no relabel
    * pass is needed. Shared by the executors' contraction rounds and the
    * driver finish. */
  private def unionFind(edges: Iterator[(Long, Long)]): collection.Map[Long, Long] = {
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
    ids.foreach(id => parent.put(id, find(id)))
    parent.asScala
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
    else labelsDF(edges.sparkSession, unionFind(sample.iterator).iterator)
  }

  /** @param edges DataFrame with (src: long, dst: long), read by the first
    *        contraction job
    * @param smallEdgeBound forest size up to which the driver finishes
    * @return (id: long, comp: long) for every node appearing in a non-self
    *         edge, each once; comp = min node id of the component.
    * @throws IllegalStateException when an over-bound forest reaches no
    *         fixpoint within `MaxRounds` contraction rounds */
  def run(edges: DataFrame, smallEdgeBound: Int = SmallEdgeBound): DataFrame = {
    // Lazy checkpoint fused with the count: one job contracts every
    // partition and materializes the forest, which is all the rest reads.
    // The count runs on the RDD: a SQL count() under AQE is two jobs.
    var forest = Materialize(
      nonSelf(edges).mapPartitions((it: Iterator[(Long, Long)]) =>
        unionFind(it).iterator.filter(p => p._1 != p._2))(pairs).toDF("src", "dst"),
      eager = false)
    val labels =
      if (forest.queryExecution.toRdd.count() <= smallEdgeBound)
        labelsDF(edges.sparkSession,
          unionFind(forest.as[(Long, Long)](pairs).collect().iterator).iterator)
      else {
        var rounds = 0
        var changed = true
        while (changed) {
          if (rounds == MaxRounds) {
            Materialize.release(forest)
            throw new IllegalStateException(
              s"connected components: no fixpoint after $MaxRounds contraction rounds")
          }
          val acc = edges.sparkSession.sparkContext.longAccumulator
          val next = contractRound(forest, acc)
          Materialize.release(forest)
          forest = next
          changed = !acc.isZero
          rounds += 1
        }
        Materialize(forest.union(forest.select(col("dst"), col("dst")))
          .distinct().toDF("id", "comp"))
      }
    Materialize.release(forest)
    labels
  }

  /** One contraction round over `forest`, materialized. Every row `(x, r)`
    * goes to the tasks of both `x` and `r`, hashed to the forest's own
    * partition count (no setting; AQE never coalesces an explicit count),
    * so each node's whole neighborhood meets in one task and its
    * union-find jumps pointers across it. A key switched between node and
    * root cannot do this: a row and its parent row never share it.
    *
    * A task emits its union-find forest without root rows, and raises
    * `changed` unless every input row already points at its node's root,
    * i.e. unless output and input are the same row set. A round in which no
    * task raises it has reached a star forest rooted at component minima:
    * every row of node v sits in v's task, where an unchanged output gives
    * v at most one parent, makes v a root if it is anyone's parent, and
    * makes every root the min of its children. */
  private def contractRound(forest: DataFrame, changed: LongAccumulator): DataFrame =
    Materialize(
      forest
        .withColumn("key", explode(array(col("src"), col("dst"))))
        .repartition(forest.queryExecution.toRdd.getNumPartitions, col("key"))
        .select("src", "dst").as[(Long, Long)](pairs)
        .mapPartitions { (rows: Iterator[(Long, Long)]) =>
          val in = rows.toArray
          val root = unionFind(in.iterator)
          if (in.exists { case (x, r) => root(x) != r }) changed.add(1)
          root.iterator.filter(p => p._1 != p._2)
        }(pairs).toDF("src", "dst"))
}
