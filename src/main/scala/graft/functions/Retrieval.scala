package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.TwoStageRoute

/** The retrieval stages every ANN path is built from, each written once:
  * the by-id exact scorer ([[VectorOps.cosineQNative]] over vectors
  * fetched by id), the bounded per-query heaps (plain and distinct) and
  * the two-stage route (a shortlist by a cheap key, a by-id rerank). The
  * route and the graph searches are operators: the Hamming (q163, q167,
  * q183, `Streaming.annProbe`) and prefix-cosine (q162) routes are one
  * [[graft.plans.TwoStageRoute]], and the graph searches one
  * [[graft.plans.GraphWalk]], which [[graft.queries.Round11Queries]]
  * calls with each search's scorer and layer schedule.
  *
  * [[heapTopK]] is the engine's per-query vector ranking: the
  * brute-force, bucket, IVF and PQ searches, rank fusion and q175's MMR
  * argmax all cut their candidates through it, never a Window, and the
  * route's two cuts keep its order inside the operator.
  * [[topDistinct]] is the one heap over candidates that
  * repeat: the graph searches' final cuts and every per-node neighbor
  * list of the kNN-graph family (seed, descent rounds, appends,
  * compaction, the mutual-edge cut). Every rank is integer-keyed with
  * an id tiebreak, so each cut is bit-deterministic and the DuckDB
  * oracles replay it exactly. Only |groups|·k rows ever cross a
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
      .select(cand.columns.map(col) :+ byIdScore.as(name): _*)

  /** The by-id exact score, basis-point cosine of qv against v. */
  private def byIdScore: Column = VectorOps.cosineQNative(col("qv"), col("v"))

  /** Bounded-heap top-k per q_id by (rank key asc, vec_id asc): each
    * task keeps k rows per q_id and only |queries|×k rows cross the
    * shuffle, where a Window+row_number sorts the whole candidate fanout
    * in |queries| partitions. `key` must already be "smaller is better"
    * (negate sims). With candidates unique per (q_id, vec_id), `rn`
    * equals row_number() over (key, vec_id). The `carry` columns ride in
    * the heap entry behind the key and never decide an order. Returns
    * (q_id, rn, vec_id, hk, carry…). */
  def heapTopK(cand: DataFrame, key: Column, k: Int, carry: Seq[String] = Nil): DataFrame = {
    val carried = carry.map(col)
    cand.select(Seq(col("q_id"), col("vec_id"), key.as("hk")) ++ carried: _*)
      .groupBy(col("q_id"))
      .agg(call_function("collect_topk",
        struct(Seq(col("hk"), col("vec_id")) ++ carried: _*), lit(k), lit(true)).as("t"))
      .select(col("q_id"), posexplode(col("t")).as(Seq("p", "s")))
      .select(Seq(col("q_id"), (col("p") + 1).as("rn"), col("s.vec_id").as("vec_id"),
        col("s.hk").as("hk")) ++ carry.map(c => col(s"s.$c").as(c)): _*)
  }

  /** [[heapTopK]] over (`group`, `id`, `score`) rows that may repeat — a
    * beam frontier unioned with its rescored expansion, or an edge list
    * unioned with its reverse and its composition — keeping each
    * (score, id) once. Ranks by `score` desc (similarities) or asc
    * (distances), `id` asc: per query q_id/vec_id, per graph node
    * src/nb. Returns (`group`, rn, `id`, `score`). */
  def topDistinct(cand: DataFrame, score: String, k: Int, desc: Boolean = true,
                  group: String = "q_id", id: String = "vec_id"): DataFrame = {
    def key(c: Column): Column = if (desc) -c else c
    cand.groupBy(col(group))
      .agg(call_function("collect_topk_distinct",
        struct(key(col(score)).as("hk"), col(id)), lit(k), lit(true)).as("t"))
      .select(col(group), posexplode(col("t")).as(Seq("p", "e")))
      .select(col(group), (col("p") + 1).as("rn"),
        col(s"e.$id").as(id), key(col("e.hk")).as(score))
  }

  /** The two-stage route of [[graft.plans.TwoStageRoute]]: per query
    * (q_id, the key's columns) of `qKeys`, the `shortlist` index rows
    * (vec_id, …) of smallest `key`, reranked by the [[scoreById]] cosine
    * of their `base` vectors (vec_id, v) against `qVecs` (q_id, qv);
    * top-`k` by (sim_q desc, vec_id), as [[heapTopK]] over the scored
    * shortlist would cut it. Two Spark jobs, no broadcast exchange.
    * `excludeSelf` drops the index row whose vec_id equals the q_id
    * (queries drawn from the corpus). Returns (q_id, rn, vec_id, key,
    * sim_q). */
  def twoStageRoute(index: DataFrame, qKeys: DataFrame, key: Column, base: DataFrame,
                    qVecs: DataFrame, shortlist: Int, k: Int,
                    excludeSelf: Boolean = true): DataFrame =
    TwoStageRoute(qKeys, index, key, qVecs, base, byIdScore, shortlist, k, excludeSelf)
      .withColumnRenamed("score", "sim_q")

  /** The Hamming two-stage route: [[twoStageRoute]] with stage 1 ranking
    * index rows (vec_id, lo, hi) by bit_count(xor) over their two packed
    * sign words ([[VectorOps.signWord]]) against the query words (q_id,
    * qlo, qhi): 8 index bytes per vector, integer-exact. Returns (q_id,
    * rn, vec_id, ham, sim_q). */
  def hammingRoute(index: DataFrame, qSigs: DataFrame, base: DataFrame,
                   qVecs: DataFrame, shortlist: Int, k: Int,
                   excludeSelf: Boolean = true): DataFrame =
    twoStageRoute(index, qSigs,
      (bit_count(col("lo").bitwiseXOR(col("qlo"))) +
       bit_count(col("hi").bitwiseXOR(col("qhi")))).cast("long"),
      base, qVecs, shortlist, k, excludeSelf)
      .withColumnRenamed("key", "ham")
}
