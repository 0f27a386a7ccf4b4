package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Salted two-phase shapes for hot-key skew (north_rule: "salted
 * repartitioning for hot-domain skew"). Web corpora are Zipf-distributed by
 * domain — parked domains and boilerplate templates put 10^6+ pages behind
 * single keys.
 *
 * The dedup pipeline never calls these helpers; only `SkewSpec` does. The
 * pipeline bounds skew in other ways:
 *  1. Candidate generation emits star edges once a bucket passes the cap
 *     (O(s) edges, never O(s²)) — see `DedupPipeline.bucketPairs`.
 *  2. Nothing combines a bucket map-side: a hot bucket's sorted stream is
 *     ONE reduce task, which holds O(cap) rows but spends O(s) time.
 *  3. AQE skew-join splitting handles oversized join partitions at runtime.
 * The shapes below spread one hot key over `s` reducers, for an
 * aggregation or join that needs more than that.
 */
object Skew {

  /** Deterministic salt in [0, s) derived from `distributor` (any column
    * that varies within a hot key, e.g. url). No rand(): replay-stable. */
  def salt(distributor: Column, s: Int): Column =
    pmod(xxhash64(distributor), lit(s)).cast("int")

  /** Salted two-phase aggregation: groupBy(key, salt).agg(partials) then
    * groupBy(key).agg(merge). Caller supplies algebraic partial/merge pairs;
    * e.g. min/min, count/sum. */
  def saltedAgg(df: DataFrame, key: Column, distributor: Column, s: Int,
      partials: Seq[Column], merges: Seq[Column]): DataFrame =
    df.groupBy(key.as("k"), salt(distributor, s).as("_salt"))
      .agg(partials.head, partials.tail: _*)
      .groupBy(col("k"))
      .agg(merges.head, merges.tail: _*)

  /** Salted equi-join of a skewed fact against a dimension: the fact side
    * gets a deterministic salt, the dimension is replicated `s` times so
    * every (key, salt) bucket finds its row. Use when one join key carries
    * a large share of the fact rows and broadcast isn't possible. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
      distributor: Column, s: Int): DataFrame = {
    val saltedFact = fact.withColumn("_salt", salt(distributor, s))
    val repl = dim.withColumn("_salt",
      explode(array((0 until s).map(lit): _*)))
    saltedFact.join(repl, Seq(key, "_salt")).drop("_salt")
  }
}
