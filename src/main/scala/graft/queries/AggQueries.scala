package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Aggs
import graft.util.Det._

/** Combine-family periphery (SURVEY.md §2.4–2.5, §7 step 5):
  * custom Aggregators (Beam CombineFn), approximate aggregates, a
  * deterministic sample, set ops, rollup, and in-memory Create/VALUES.
  *
  * q47/q48/q145 (HLL distinct, approx quantiles, t-digest) have no
  * exact SQL twin for the sketch VALUE — so each emits the EXACT
  * value (oracle-computable) plus a deterministic tolerance verdict
  * as an int: the engine checks the sketch against the exact answer
  * in integer arithmetic and outputs 1; the oracle computes the same
  * exact answer and a literal 1. The hash gate then applies in full.
  */
object AggQueries extends QueryPack {

  /** q45: custom arg-max Aggregator registered as a UDAF — event with the
    * max value per type. */
  def q45(s: SparkSession, d: String): DataFrame = {
    val argmax = udaf(new Aggs.ArgMaxByValue)
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        argmax(col("value"), col("event_id")).as("top_event_id"),
        max(col("value")).as("top_value"))
      .orderBy(col("event_type"))
  }

  /** q46: hand-built moments CombineFn — exact decimal accumulation,
    * rounded mean/variance. */
  def q46(s: SparkSession, d: String): DataFrame = {
    val moments = udaf(new Aggs.MomentsAgg)
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(moments(col("value")).as("m"))
      .select(col("event_type"), col("m.n").as("n"),
        col("m.mean").as("mean_value"), col("m.variance").as("var_value"))
      .orderBy(col("event_type"))
  }

  /** q47: HLL++ approximate distinct, made hash-checkable. The sketch
    * value itself can never hash-match a different engine, so the query
    * emits the EXACT distinct count plus the 5 % tolerance verdict that
    * the in-repo spec pins: |approx − exact|·100 ≤ 5·exact, all-long
    * arithmetic. The oracle computes the exact count and a literal 1.
    * rsd = 0.02 (≈2.8k registers, constant memory) gives the 5 % gate
    * a 2.5σ margin — and because the HLL sketch is hash-of-value based
    * it is DETERMINISTIC per dataset, so "passes on the fixtures" is a
    * stable property, not a coin flip (the default 0.05 misses 5 % on
    * the sf0.1 fixture's 1500 distinct users). Both aggregates run over
    * the DEDUPLICATED key set: HLL is duplicate-insensitive, so
    * approx(distinct x) ≡ approx(x), and pre-deduping turns the plan
    * into two stacked HashAggregates (map-side partial distinct, then
    * one count+HLL pass over ~distinct rows) instead of the Expand
    * double-scan that mixing countDistinct with another aggregate
    * plans — the round-11 6× bench regression. */
  def q47(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("user_id")).distinct()
      .agg(
        approx_count_distinct(col("user_id"), 0.02).as("approx"),
        count(lit(1)).as("exact_users"))
      .select(col("exact_users"),
        (abs(col("approx") - col("exact_users")) * lit(100L) <=
          col("exact_users") * lit(5L)).cast("int").as("approx_within_5pc"))

  /** q48: approximate quantiles of event value, made hash-checkable.
    * Emits EXACT interpolated p25/p50/p75 (Spark `percentile` ≡ DuckDB
    * `quantile_cont`, the q61 precedent) plus a rank-error verdict on
    * the percentile_approx estimates: for each p, the estimate's rank
    * INTERVAL [count(< est), count(≤ est)] must come within 1 % + 1 row
    * of p·n — integer basis points throughout. The interval (not just
    * the ≤ count) makes the verdict insensitive to duplicate runs at a
    * quantile boundary: an estimate landing on a heavy duplicate value
    * spans many ranks, and p·n falling anywhere in (or within tolerance
    * of) that span means the estimator did its job (round-11 ADVICE).
    * Two scans by construction (the estimate must exist before its rank
    * can be counted); both are map-combined aggregates, so the shape
    * holds at any scale. */
  def q48(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("value"))
    // Scalar (not array) stats columns: max(double)/max(long) over the
    // broadcast constants keeps the rank pass in HashAggregate — first()
    // over an array buffer would demote it to a whole-table SortAggregate.
    val stats = ev.agg(
        percentile_approx(col("value"), array(lit(0.25), lit(0.5), lit(0.75)),
          lit(10000)).as("qa"),
        expr("percentile(value, array(0.25D, 0.5D, 0.75D))").as("qe"),
        count(lit(1)).as("cnt"))
      .select(
        col("qa").getItem(0).as("a25"), col("qa").getItem(1).as("a50"),
        col("qa").getItem(2).as("a75"),
        col("qe").getItem(0).as("e25"), col("qe").getItem(1).as("e50"),
        col("qe").getItem(2).as("e75"), col("cnt"))
    ev.crossJoin(broadcast(stats))
      .groupBy()
      .agg(
        sum(when(col("value") <= col("a25"), 1L).otherwise(0L)).as("c25"),
        sum(when(col("value") <= col("a50"), 1L).otherwise(0L)).as("c50"),
        sum(when(col("value") <= col("a75"), 1L).otherwise(0L)).as("c75"),
        sum(when(col("value") < col("a25"), 1L).otherwise(0L)).as("s25"),
        sum(when(col("value") < col("a50"), 1L).otherwise(0L)).as("s50"),
        sum(when(col("value") < col("a75"), 1L).otherwise(0L)).as("s75"),
        max(col("e25")).as("p25"), max(col("e50")).as("p50"),
        max(col("e75")).as("p75"), max(col("cnt")).as("n"))
      // quant4 emit (see helper doc): raw interpolated doubles straddle
      // 1 ULP between engines at larger sf.
      .select(quant4(col("p25")).as("p25"),
        quant4(col("p50")).as("p50"),
        quant4(col("p75")).as("p75"),
        (rankIntervalOk(col("s25"), col("c25"), 2500L) &&
          rankIntervalOk(col("s50"), col("c50"), 5000L) &&
          rankIntervalOk(col("s75"), col("c75"), 7500L))
          .cast("int").as("approx_rank_ok"))
  }

  /** 4-decimal emit quantization for interpolated quantiles (q48/q61/
    * q145): `floor(x·10⁴ + 0.5)/10⁴` in pure IEEE double ops, which
    * both engines evaluate bit-identically given the same x. The raw
    * lower+(upper-lower)·frac interpolation straddled 1 ULP between
    * engines at sf1 (q145 p99: 230.53 vs 230.53000000000003); after
    * quantization a mismatch needs x within ~1 ULP of a 0.5e-4 grid
    * point — data granularity (2-decimal values) keeps interpolations
    * far from that. NOT `round(x, k)`: Spark rounds the binary
    * expansion, DuckDB the shortest decimal repr, and they disagree
    * when the repr ends in …5 (the house round-half gotcha). */
  private def quant4(c: Column): Column =
    floor(c * lit(10000.0) + lit(0.5)).cast("double") / lit(10000.0)

  /** Duplicate-insensitive rank verdict shared by q48/q145: the target
    * rank p·n (in bp·rows) must land within `100·n + 10⁴` (1 % + 1 row)
    * of the CLOSED interval [cLt·10⁴, cLe·10⁴] spanned by the estimate's
    * duplicate run — all-long arithmetic, requires `n` in scope. */
  private def rankIntervalOk(cLt: Column, cLe: Column, pBp: Long): Column = {
    val target = lit(pBp) * col("n")
    val tol = lit(100L) * col("n") + lit(10000L)
    (target >= cLt * lit(10000L) - tol) && (target <= cLe * lit(10000L) + tol)
  }

  /** q145: per-key approximate quantiles through graft's own mergeable
    * t-digest (expressions/TDigestAgg), made hash-checkable the same
    * way as q48: emit EXACT per-key p50/p95/p99 plus a rank-error
    * verdict on the t-digest estimates at SketchSpec's pinned ≤ 1 %
    * bound (+1 row of small-n slack). The 5-row estimate table
    * broadcasts back onto events for the rank count — the second scan
    * is a map-combined aggregate, never a re-sort. */
  def q145(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_type"), col("value"))
    val est = ev.groupBy(col("event_type"))
      .agg(
        call_function("tdigest_quantiles", col("value"),
          typedLit(Array(0.5, 0.95, 0.99))).as("qa"),
        expr("percentile(value, array(0.5D, 0.95D, 0.99D))").as("qe"),
        count(lit(1)).as("cnt"))
      .select(col("event_type"),
        col("qa").getItem(0).as("a50"), col("qa").getItem(1).as("a95"),
        col("qa").getItem(2).as("a99"),
        col("qe").getItem(0).as("e50"), col("qe").getItem(1).as("e95"),
        col("qe").getItem(2).as("e99"), col("cnt"))
    // Scalar stats columns for the same HashAggregate reason as q48;
    // rank verdict is the duplicate-insensitive interval form (q48 doc).
    ev.join(broadcast(est), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(
        sum(when(col("value") <= col("a50"), 1L).otherwise(0L)).as("c50"),
        sum(when(col("value") <= col("a95"), 1L).otherwise(0L)).as("c95"),
        sum(when(col("value") <= col("a99"), 1L).otherwise(0L)).as("c99"),
        sum(when(col("value") < col("a50"), 1L).otherwise(0L)).as("s50"),
        sum(when(col("value") < col("a95"), 1L).otherwise(0L)).as("s95"),
        sum(when(col("value") < col("a99"), 1L).otherwise(0L)).as("s99"),
        max(col("e50")).as("p50"), max(col("e95")).as("p95"),
        max(col("e99")).as("p99"), max(col("cnt")).as("n"))
      // quant4 emit (see helper doc): this is the query whose raw p99
      // straddled 1 ULP at sf1.
      .select(col("event_type"),
        quant4(col("p50")).as("p50"),
        quant4(col("p95")).as("p95"),
        quant4(col("p99")).as("p99"),
        (rankIntervalOk(col("s50"), col("c50"), 5000L) &&
          rankIntervalOk(col("s95"), col("c95"), 9500L) &&
          rankIntervalOk(col("s99"), col("c99"), 9900L))
          .cast("int").as("tdigest_rank_ok"))
      .orderBy(col("event_type"))
  }

  /** q61: per-key quantiles (Beam ApproximateQuantiles.PerKey, exact
    * form): EXACT interpolated percentiles per event_type via Spark's
    * `percentile`, which applies the same lower+(upper-lower)*frac
    * interpolation as DuckDB's `quantile_cont` over identical doubles —
    * so even quantiles hash-compare exactly. percentile_approx stays
    * the scale path (q48); this is the oracle-checkable counterpart. */
  def q61(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        quant4(expr("percentile(value, 0.25)")).as("p25"),
        quant4(expr("percentile(value, 0.5)")).as("p50"),
        quant4(expr("percentile(value, 0.75)")).as("p75"))
      .orderBy(col("event_type"))

  /** q64: Beam Sample.FixedSizePerKey — 20 deterministic pseudo-random
    * docs per language, the per-key twin of q49: md5 of the key gives a
    * uniform deterministic order both engines reproduce, and the
    * rank <= k filter plans as WindowGroupLimit (map-side partial
    * top-k per key before the exchange, never a full per-key sort). */
  def q64(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(s, d)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 20)
      .select(col("lang"), col("rk"), col("doc_id"))
      .orderBy(col("lang"), col("rk"))
  }

  /** q49: deterministic pseudo-random sample — Beam Sample.FixedSizeGlobally
    * made oracle-checkable by ordering on md5 of the key. orderBy+limit
    * plans as TakeOrderedAndProject (per-partition partial top-k, then a
    * 100-row merge) — a global row_number window would instead drag the
    * whole table through one partition. */
  def q49(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .orderBy(md5(col("o_orderkey").cast("string")), col("o_orderkey"))
      .limit(100)
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))

  /** q50: INTERSECT — nations having both customers and suppliers. */
  def q50(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
      .intersect(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
      .orderBy(col("nationkey"))

  /** q51: EXCEPT — nations with customers but no suppliers. */
  def q51(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
      .except(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
      .orderBy(col("nationkey"))

  /** q52: ROLLUP over (lang, source) — subtotal grouping sets. */
  def q52(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .rollup(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang").asc_nulls_first, col("source").asc_nulls_first)

  /** q53: Beam Create — in-memory collection joined against a table. */
  def q53(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val weights = Seq((0, 10), (1, 20), (2, 30), (3, 40), (4, 50))
      .toDF("rk", "weight")
    Tables.region(s, d)
      .join(broadcast(weights), col("r_regionkey") === col("rk"))
      .select(col("r_regionkey"), col("r_name"), col("weight"))
      .orderBy(col("r_regionkey"))
  }

  /** q60: hot-key fanout as an operator
    * ([[graft.functions.Skew.saltedAgg]]) — events aggregated by
    * event_type, which at any sf is 5 keys over the whole table: every
    * key is hot, the worst case for a naive single-phase shuffle. The
    * salted plan's final shuffle carries 5 * fanout partial rows. Sums
    * stay in DECIMAL(18,2) through both phases, so the two-phase result
    * is bit-equal to the one-phase oracle. */
  def q60(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Skew
    Skew.saltedAgg(
        Tables.events(s, d).select(col("event_type"), dec2(col("value")).as("v")),
        Seq("event_type"), 16,
        Seq(Skew.countOf("n"), Skew.sumOf(col("v"), "sum_value"),
          Skew.maxOf(col("v"), "max_value")))
      .select(col("event_type"), col("n"),
        col("sum_value").cast("double").as("sum_value"),
        col("max_value").cast("double").as("max_value"))
      .orderBy(col("event_type"))
  }

  // q141: incremental aggregate maintenance (partial-state merge) --------

  /** The warehouse incremental pattern: nightly PARTIAL states per
    * (day, type) — mergeable (sum, count, min, max) tuples — roll up
    * to the monthly aggregate by MERGING states, never rescanning the
    * raw events. The query materializes both paths and reports them
    * side by side per event_type: the merged-partials monthly result
    * next to the direct full-scan result, with a drift flag that must
    * read 0 everywhere (the algebraic-state law checked in-engine —
    * count adds, sum adds, min/max fold).
    *
    * Scale shape: each day's partial is |types| rows; a month's merge
    * touches 30·|types| rows regardless of corpus size — at 100 TB the
    * raw scan happens once per day, and every wider rollup (week,
    * month, year) is state-merge arithmetic. avg is derived
    * (sum DIV count), never stored — the classic non-mergeable trap. */
  def q141(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_type"),
      dayofmonth(col("ts")).as("day"),
      floor(col("value") * 100).cast("long").as("cents"))
    val daily = ev.groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"),
        min(col("cents")).as("mn"), max(col("cents")).as("mx"))
    val merged = daily.groupBy(col("event_type"))
      .agg(sum(col("n")).as("n_m"), sum(col("sc")).as("sum_m"),
        min(col("mn")).as("min_m"), max(col("mx")).as("max_m"))
    val direct = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_d"), sum(col("cents")).as("sum_d"),
        min(col("cents")).as("min_d"), max(col("cents")).as("max_d"))
    merged.join(direct, Seq("event_type"))
      .select(col("event_type"), col("n_m"), col("sum_m"), col("min_m"), col("max_m"),
        expr("sum_m DIV n_m").as("avg_cents"),
        (col("n_m") =!= col("n_d") || col("sum_m") =!= col("sum_d") ||
          col("min_m") =!= col("min_d") || col("max_m") =!= col("max_d"))
          .cast("int").as("drift"))
      .orderBy(col("event_type"))
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q141_partial_merge"  -> q141 _,
    "q60_hotkey_fanout"   -> q60 _,
    "q61_perkey_quantiles" -> q61 _,
    "q64_sample_perkey"   -> q64 _,
    "q45_custom_argmax"   -> q45 _,
    "q46_custom_moments"  -> q46 _,
    "q47_approx_distinct" -> q47 _,
    "q48_approx_quantiles"-> q48 _,
    "q145_tdigest_quantiles" -> q145 _,
    "q49_sample_det"      -> q49 _,
    "q50_intersect"       -> q50 _,
    "q51_except"          -> q51 _,
    "q52_rollup"          -> q52 _,
    "q53_create_values"   -> q53 _
  )

  override val oracle: Map[String, String] = Map(
    "q141_partial_merge" -> """
      WITH ev AS (SELECT event_type, day(ts) AS day,
                         CAST(floor(value * 100) AS BIGINT) AS cents
                  FROM events),
      daily AS (SELECT event_type, day, COUNT(*) AS n, SUM(cents) AS sc,
                       MIN(cents) AS mn, MAX(cents) AS mx
                FROM ev GROUP BY event_type, day),
      merged AS (SELECT event_type,
                        CAST(SUM(n) AS BIGINT) AS n_m, CAST(SUM(sc) AS BIGINT) AS sum_m,
                        CAST(MIN(mn) AS BIGINT) AS min_m, CAST(MAX(mx) AS BIGINT) AS max_m
                 FROM daily GROUP BY event_type),
      direct AS (SELECT event_type,
                        CAST(COUNT(*) AS BIGINT) AS n_d, CAST(SUM(cents) AS BIGINT) AS sum_d,
                        CAST(MIN(cents) AS BIGINT) AS min_d, CAST(MAX(cents) AS BIGINT) AS max_d
                 FROM ev GROUP BY event_type)
      SELECT m.event_type, m.n_m, m.sum_m, m.min_m, m.max_m,
             m.sum_m // m.n_m AS avg_cents,
             CAST(NOT (m.n_m = d.n_d AND m.sum_m = d.sum_d AND
                       m.min_m = d.min_d AND m.max_m = d.max_d) AS INT) AS drift
      FROM merged m JOIN direct d USING (event_type)
      ORDER BY m.event_type""",
    "q60_hotkey_fanout" -> """
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
             CAST(MAX(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS max_value
      FROM events GROUP BY event_type ORDER BY event_type""",
    "q64_sample_perkey" -> """
      SELECT lang, rk, doc_id
      FROM (SELECT lang, doc_id,
                   row_number() OVER (PARTITION BY lang
                     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
            FROM documents)
      WHERE rk <= 20 ORDER BY lang, rk""",
    "q61_perkey_quantiles" -> """
      SELECT event_type,
             floor(quantile_cont(value, 0.25) * 10000 + 0.5) / 10000 AS p25,
             floor(quantile_cont(value, 0.5)  * 10000 + 0.5) / 10000 AS p50,
             floor(quantile_cont(value, 0.75) * 10000 + 0.5) / 10000 AS p75
      FROM events GROUP BY event_type ORDER BY event_type""",
    "q45_custom_argmax" -> """
      SELECT event_type, event_id AS top_event_id, value AS top_value
      FROM (SELECT event_type, event_id, value,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY value DESC, event_id DESC) AS rn
            FROM events)
      WHERE rn = 1 ORDER BY event_type""",
    "q46_custom_moments" -> """
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mean_value,
             (CAST(SUM(v * v) AS DOUBLE)
                    - CAST(SUM(v) AS DOUBLE) * CAST(SUM(v) AS DOUBLE) / COUNT(*)) / COUNT(*)
               AS var_value
      FROM (SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v FROM events)
      GROUP BY event_type ORDER BY event_type""",
    "q47_approx_distinct" -> """
      SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
             1 AS approx_within_5pc
      FROM events""",
    "q48_approx_quantiles" -> """
      SELECT floor(quantile_cont(value, 0.25) * 10000 + 0.5) / 10000 AS p25,
             floor(quantile_cont(value, 0.5)  * 10000 + 0.5) / 10000 AS p50,
             floor(quantile_cont(value, 0.75) * 10000 + 0.5) / 10000 AS p75,
             1 AS approx_rank_ok
      FROM events""",
    "q145_tdigest_quantiles" -> """
      SELECT event_type,
             floor(quantile_cont(value, 0.5)  * 10000 + 0.5) / 10000 AS p50,
             floor(quantile_cont(value, 0.95) * 10000 + 0.5) / 10000 AS p95,
             floor(quantile_cont(value, 0.99) * 10000 + 0.5) / 10000 AS p99,
             1 AS tdigest_rank_ok
      FROM events GROUP BY event_type ORDER BY event_type""",
    "q49_sample_det" -> """
      SELECT o_orderkey, o_totalprice
      FROM (SELECT o_orderkey, o_totalprice,
                   row_number() OVER (ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey) AS rn
            FROM orders)
      WHERE rn <= 100 ORDER BY o_orderkey""",
    "q50_intersect" -> """
      SELECT c_nationkey AS nationkey FROM customer
      INTERSECT
      SELECT s_nationkey FROM supplier
      ORDER BY nationkey""",
    "q51_except" -> """
      SELECT c_nationkey AS nationkey FROM customer
      EXCEPT
      SELECT s_nationkey FROM supplier
      ORDER BY nationkey""",
    "q52_rollup" -> """
      SELECT lang, source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      FROM documents GROUP BY ROLLUP(lang, source)
      ORDER BY lang NULLS FIRST, source NULLS FIRST""",
    "q53_create_values" -> """
      SELECT r_regionkey, r_name, weight
      FROM region JOIN (VALUES (0, 10), (1, 20), (2, 30), (3, 40), (4, 50)) t(rk, weight)
        ON r_regionkey = rk
      ORDER BY r_regionkey"""
  )
}
