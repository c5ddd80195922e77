package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The retrieval stages every ANN path is built from, each written once:
  * the by-id exact scorer ([[VectorOps.cosineQNative]] over vectors
  * fetched by id), the bounded per-query heaps (plain and distinct) and
  * the Hamming two-stage route (sign-word shortlist, by-id rerank). The
  * graph searches are one operator, [[graft.plans.GraphWalk]], which
  * [[graft.queries.Round11Queries]] calls with each search's scorer and
  * layer schedule.
  *
  * Every rank is integer-keyed with a vec_id tiebreak, so each cut is
  * bit-deterministic and the DuckDB oracles replay it exactly. Inputs
  * are `q_id`-keyed candidate rows; only |queries|·k rows ever cross a
  * shuffle. */
object Retrieval {

  /** Exact scoring of candidate rows (q_id, vec_id, …): their full
    * vectors are fetched by id from `base` (vec_id, v) — the candidate
    * side broadcast onto the base scan — and scored in basis-point
    * cosine against the broadcast query vectors `qVecs` (q_id, qv).
    * Returns the candidate columns plus the score as `name`. */
  def scoreById(base: DataFrame, qVecs: DataFrame, name: String = "sim")
               (cand: DataFrame): DataFrame =
    base.join(broadcast(cand), Seq("vec_id"))
      .join(broadcast(qVecs.select(col("q_id"), col("qv"))), Seq("q_id"))
      .select(cand.columns.map(col) :+
        VectorOps.cosineQNative(col("qv"), col("v")).as(name): _*)

  /** Bounded-heap top-k per q_id by (rank key asc, vec_id asc): only
    * |queries|×k rows cross the shuffle, no window sort of the candidate
    * fanout. `key` must already be "smaller is better" (negate sims).
    * Returns (q_id, rn, vec_id, hk). */
  def heapTopK(cand: DataFrame, key: Column, k: Int): DataFrame =
    cand.select(col("q_id"), col("vec_id"), key.as("hk"))
      .groupBy(col("q_id"))
      .agg(call_function("collect_topk",
        struct(col("hk"), col("vec_id")), lit(k), lit(true)).as("t"))
      .select(col("q_id"), posexplode(col("t")).as(Seq("p", "s")))
      .select(col("q_id"), (col("p") + 1).as("rn"),
        col("s.vec_id").as("vec_id"), col("s.hk").as("hk"))

  /** [[heapTopK]] over (q_id, vec_id, `score`) rows that may repeat — a
    * beam frontier unioned with its rescored expansion — keeping each
    * (score, vec_id) once. Ranks by `score` desc (similarities) or asc
    * (distances), vec_id asc. Returns (q_id, rn, vec_id, `score`). */
  def topDistinct(cand: DataFrame, score: String, k: Int, desc: Boolean = true): DataFrame = {
    def key(c: Column): Column = if (desc) -c else c
    cand.groupBy(col("q_id"))
      .agg(call_function("collect_topk_distinct",
        struct(key(col(score)).as("hk"), col("vec_id")), lit(k), lit(true)).as("t"))
      .select(col("q_id"), posexplode(col("t")).as(Seq("p", "e")))
      .select(col("q_id"), (col("p") + 1).as("rn"),
        col("e.vec_id").as("vec_id"), key(col("e.hk")).as(score))
  }

  /** Stage 1 of the Hamming route: bit_count(xor) over the two packed
    * sign words ([[VectorOps.signWord]]) of index rows (vec_id, lo, hi)
    * against broadcast query words (q_id, qlo, qhi), the `shortlist`
    * nearest kept per query. 8 index bytes per vector, integer-exact.
    * `excludeSelf` drops the row whose vec_id equals the q_id (queries
    * drawn from the corpus). Returns (q_id, vec_id, ham). */
  def hammingShortlist(index: DataFrame, qSigs: DataFrame, shortlist: Int,
                       excludeSelf: Boolean = true): DataFrame = {
    val cand = index.select(col("vec_id"), col("lo"), col("hi"))
      .join(broadcast(qSigs.select(col("q_id"), col("qlo"), col("qhi"))),
        if (excludeSelf) col("vec_id") =!= col("q_id") else lit(true))
      .select(col("q_id"), col("vec_id"),
        (bit_count(col("lo").bitwiseXOR(col("qlo"))) +
         bit_count(col("hi").bitwiseXOR(col("qhi")))).cast("long").as("ham"))
    heapTopK(cand, col("ham"), shortlist)
      .select(col("q_id"), col("vec_id"), col("hk").as("ham"))
  }

  /** The Hamming two-stage route: [[hammingShortlist]], then the
    * shortlist reranked by [[scoreById]] against `qVecs` (q_id, qv);
    * top-`k` by (sim_q desc, vec_id). The rerank window sorts only
    * |queries|×shortlist rows. Returns (q_id, rn, vec_id, ham, sim_q). */
  def hammingRoute(index: DataFrame, qSigs: DataFrame, base: DataFrame,
                   qVecs: DataFrame, shortlist: Int, k: Int,
                   excludeSelf: Boolean = true): DataFrame = {
    val short = hammingShortlist(index, qSigs, shortlist, excludeSelf)
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim_q").desc, col("vec_id"))
    scoreById(base, qVecs, "sim_q")(short)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn"), col("vec_id"), col("ham"), col("sim_q"))
  }
}
