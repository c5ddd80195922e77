package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hot-key fanout (Beam `CombinePerKey.with_hot_key_fanout`
  * [BEAM apache_beam/transforms/core.py]): two-phase salted aggregation.
  *
  * A skewed key concentrates its whole group on one reducer; salting
  * spreads it over `fanout` partial groups first, then merges the
  * partials per key — the partial shuffle carries (key, salt) and the
  * merge shuffle carries only |keys| * fanout pre-aggregated rows.
  * Correct for any aggregate whose merge is itself expressible as an
  * aggregate over partials (sum/count/min/max here; count merges by
  * summing partial counts).
  *
  * Note Spark's hash aggregation already does map-side partials, which
  * covers most skew; explicit fanout still wins when the per-key state
  * is large (big decimal sums, sketches) or when AQE skew handling is
  * unavailable (first-stage aggregations, not joins).
  */
object Skew {

  /** One aggregate of the two-phase plan: `partial` runs per
    * (key, salt); `merge(alias)` combines the partial column per key. */
  final case class SplitAgg(alias: String, partial: Column, merge: String => Column)

  def sumOf(c: Column, alias: String): SplitAgg =
    SplitAgg(alias, sum(c), a => sum(col(a)))
  def countOf(alias: String): SplitAgg =
    SplitAgg(alias, count(lit(1)), a => sum(col(a)))
  def maxOf(c: Column, alias: String): SplitAgg =
    SplitAgg(alias, max(c), a => max(col(a)))

  /** Salted (skew) equi-join: `big` ⋈ `small` on `keys` where a hot
    * key in `big` would concentrate a shuffle join's work on a single
    * reducer. Every big row gets a uniform salt in [0, fanout); the
    * small side is replicated once per salt value (an explode over a
    * literal range — |small| × fanout rows, still small); the join key
    * becomes keys :+ salt, so each hot key's rows spread over `fanout`
    * reducers. The salt is stripped from the output, and because EVERY
    * small row exists under EVERY salt, each big row sees exactly the
    * matches a plain join would give it — inner and left joins are
    * salt-invariant (right/full are NOT: a replicated unmatched small
    * row would surface fanout times — rejected).
    *
    * When to reach for it at 100 TB: AQE's skew-join split already
    * handles most sort-merge skew at runtime; the explicit form covers
    * what AQE can't — a skewed key feeding a join whose small side is
    * over the broadcast threshold but far under the big side, or a
    * deterministic pre-partitioned layout where runtime re-planning is
    * unavailable (e.g. writing bucketed output). Cost: the small side
    * shuffles fanout× larger; pick fanout ≈ the hot key's row count
    * over a healthy partition size, not the cluster width. */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
                 fanout: Int, joinType: String = "inner"): DataFrame = {
    require(fanout > 0, "fanout must be positive")
    require(Seq("inner", "left", "left_outer").contains(joinType),
      s"saltedJoin supports inner/left joins only (got $joinType): " +
        "replicating the small side would duplicate right-side no-match rows")
    require(!big.columns.contains("__salt") && !small.columns.contains("__salt"),
      "saltedJoin reserves the __salt column name")
    val bigS = big.withColumn("__salt",
      pmod(hash(monotonically_increasing_id()), lit(fanout)))
    val smallS = small.withColumn("__salt",
      explode(array((0 until fanout).map(lit): _*)))
    bigS.join(smallS, keys :+ "__salt", joinType).drop("__salt")
  }

  /** Two-phase aggregation of `df` by `keys` with hot keys fanned out
    * over `fanout` salts. Result schema: keys ++ agg aliases. */
  def saltedAgg(df: DataFrame, keys: Seq[String], fanout: Int,
                aggs: Seq[SplitAgg]): DataFrame = {
    require(fanout > 0 && aggs.nonEmpty)
    require(!df.columns.contains("__salt"),
      "saltedAgg reserves the __salt column name")
    require(aggs.map(_.alias).distinct.size == aggs.size &&
      aggs.map(_.alias).forall(a => !keys.contains(a)),
      "agg aliases must be distinct and disjoint from the grouping keys")
    // the salt only has to spread rows evenly; it is stripped before the
    // merge, so the result is salt-independent
    val salted = df.withColumn("__salt",
      pmod(hash(monotonically_increasing_id()), lit(fanout)))
    val phase1 = salted
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(aggs.head.partial.as(aggs.head.alias),
        aggs.tail.map(a => a.partial.as(a.alias)): _*)
    phase1
      .groupBy(keys.map(col): _*)
      .agg(aggs.head.merge(aggs.head.alias).as(aggs.head.alias),
        aggs.tail.map(a => a.merge(a.alias).as(a.alias)): _*)
  }
}
