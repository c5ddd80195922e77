package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.util.Det._

/** Core relational surface — the Beam Tier-A vocabulary (SURVEY.md §2.2–§2.6)
  * re-expressed as declarative Spark plans.
  *
  * Beam primitive → query here:
  *   Map/Filter (ParDo 1→1)            → q02_map_filter
  *   FlatMap (ParDo 1→N)               → q03_flatmap_wordcount
  *   Distinct                          → q04_distinct
  *   Flatten (union all)               → q05_union_all
  *   GroupByKey (K → Iterable[V])      → q06_gbk_arrayagg
  *   CombinePerKey (sum/avg/min/max)   → q07_agg_stats, q01_pricing
  *   Top.Of / Top.PerKey               → q08_topk_global, q09_topk_perkey
  *   Latest.PerKey                     → q10_latest_perkey
  *   CoGBK → join patterns             → q11..q14
  *   CoGroupByKey (full outer of aggs) → q15_cogroup
  *   ParDo + side input (broadcast)    → q16_broadcast_dims
  *   lambda scalar work                → q17_json_extract, q18_regex
  *   SqlTransform                      → q19_sql_transform
  *   Partition / tagged outputs        → q20_partition_tag
  *
  * Scale notes: every aggregate is a hash aggregate with map-side partial
  * combine (Beam's combiner lifting, free in Spark); dims are broadcast so
  * the fact table never shuffles for enrichment; top-k per key plans as
  * WindowGroupLimit (no full sort of the fact table).
  */
object RelationalQueries extends QueryPack {

  /** TPC-H Q1-shaped pricing summary — the flagship slice. */
  def q01(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(revenueExpr(col("l_extendedprice"), col("l_discount"))).cast("double").as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  def q02(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_discount") >= 0.09 && col("l_shipdate") >= lit("1998-01-01").cast("timestamp"))
      .select(
        col("l_orderkey"), col("l_linenumber"),
        revenueExpr(col("l_extendedprice"), col("l_discount")).cast("double").as("revenue"))
      // (l_orderkey, l_linenumber) is NOT unique in this synthetic data
      // (118k duplicate pairs at sf0.1) — revenue makes the sort total,
      // which only showed up at sf1 when DuckDB's sort went
      // parallel-unstable on the ties
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("revenue"))

  def q03(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("word"))

  def q04(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderstatus"), col("o_orderpriority"))
      .distinct()
      .orderBy(col("o_orderstatus"), col("o_orderpriority"))

  def q05(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("key"), col("c_name").as("name"))
    val sup = Tables.supplier(s, d)
      .select(col("s_suppkey").as("key"), col("s_name").as("name"))
    c.unionByName(sup).orderBy(col("key"), col("name"))
  }

  def q06(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(
        concat_ws(",", sort_array(collect_list(col("o_orderkey").cast("string")))).as("order_keys"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("o_custkey"))

  def q07(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        dsum(col("value")).as("sum_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        davg(col("value")).as("avg_value"))
      .orderBy(col("event_type"))

  def q08(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  /** Top-3 per key through `collect_topk` (Spark's bounded-heap
    * collector, GraftAggBridge) instead of Window+row_number: the
    * window form must fully SORT every partition before its
    * WindowGroupLimit can cut, while the heap aggregate is O(n·log k)
    * scan-side with ≤ k rows per key crossing the shuffle — at any
    * scale the whole query costs one pass plus a keys×k explode.
    * Ordering (price DESC, okey ASC) is encoded as ascending
    * (−price, okey) with reverse=true (k smallest); double negation is
    * exact, so the re-projected price is bit-identical. */
  def q09(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      .groupBy(col("o_orderpriority"))
      .agg(call_function("collect_topk",
        struct((-col("o_totalprice")).as("np"), col("o_orderkey").as("ok")),
        lit(3), lit(true)).as("t"))
      .select(col("o_orderpriority"), posexplode(col("t")).as(Seq("p", "s")))
      .select(col("o_orderpriority"), col("s.ok").as("o_orderkey"),
        (-col("s.np")).as("o_totalprice"), (col("p") + 1).as("rn"))
      .orderBy(col("o_orderpriority"), col("rn"))
  }

  /** Latest event per user. Ordering uses epoch microseconds (not the raw
    * timestamp) because the fixture is ns-precision: Spark truncates to µs
    * on read while DuckDB keeps ns, so both sides must order at µs and
    * tie-break on event_id. */
  def q10(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(unix_micros(col("ts")).desc, col("event_id").desc)
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
      .orderBy(col("user_id"))
  }

  /** Three-table star rolled up CUSTOMER-side, with the fact table
    * partially aggregated to its join key FIRST (Catalyst does not push
    * aggregates through joins on its own): lineitem collapses ~4:1 to
    * per-order partials before any join, orders reduces those to
    * per-customer partials, and only the customer-sized result meets
    * the dimension. Exact DECIMAL partials re-sum losslessly, so the
    * rollup is semantics-preserving. At 100 TB this is the difference
    * between joining 6 rows/order of raw fact and 1. */
  def q11(s: SparkSession, d: String): DataFrame = {
    val liAgg = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(revenueExpr(col("l_extendedprice"), col("l_discount"))).as("rev"),
        count(lit(1)).as("ni"))
    val perCust = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(liAgg, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("rev")).as("rev"), sum(col("ni")).as("n_items"))
    // top-10 BEFORE the dimension join: the sort key (revenue, custkey)
    // is fully computed on the fact side and o_custkey→customer is a
    // foreign key (every order's customer exists), so cutting first is
    // semantics-preserving and replaces a customer-table shuffle join
    // with a 10-row broadcast lookup — TakeOrderedAndProject on the
    // per-customer partials is the only post-agg work at any scale.
    val top = perCust
      .orderBy(col("rev").desc, col("o_custkey"))
      .limit(10)
    Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
      .join(broadcast(top), col("c_custkey") === col("o_custkey"))
      .select(col("c_custkey"), col("c_name"),
        col("rev").cast("double").as("revenue"), col("n_items"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(10)
  }

  /** Left join with a selective right side → null-producing rows.
    * The aggregate is pushed BELOW the join: the filtered lineitem side
    * collapses to per-order partials first (map-side combined), so the
    * left join matches 1.5 M orders against a small aggregated table —
    * which also broadcasts — instead of re-grouping the 1.5 M-row join
    * output. Unmatched orders surface as NULL partials → coalesce to 0,
    * which is exactly the join-then-aggregate semantics. */
  def q12(s: SparkSession, d: String): DataFrame = {
    val liAgg = Tables.lineitem(s, d).filter(col("l_quantity") >= 48)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("ni"), dsum(col("l_quantity")).as("sq"))
    Tables.orders(s, d).select(col("o_orderkey"))
      .join(liAgg, col("o_orderkey") === col("l_orderkey"), "left")
      .select(col("o_orderkey"),
        coalesce(col("ni"), lit(0L)).as("n_big_items"),
        coalesce(col("sq"), lit(0.0)).as("sum_big_qty"))
      .orderBy(col("o_orderkey"))
  }

  def q13(s: SparkSession, d: String): DataFrame = {
    val bigOrders = Tables.orders(s, d).filter(col("o_totalprice") > 400000)
    Tables.customer(s, d)
      .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  def q14(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy(col("c_custkey"))

  /** CoGroupByKey: full outer join of per-side ordered aggregates.
    * (The typed Dataset.cogroup form is exercised in the test suite; this
    * formulation keeps whole-stage codegen and map-side combine at scale.) */
  def q15(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).groupBy(col("c_nationkey").as("nationkey"))
      .agg(concat_ws(",", sort_array(collect_list(col("c_name")))).as("customers"))
    val sup = Tables.supplier(s, d).groupBy(col("s_nationkey").as("nationkey"))
      .agg(concat_ws(",", sort_array(collect_list(col("s_name")))).as("suppliers"))
    c.join(sup, Seq("nationkey"), "full")
      .select(col("nationkey"),
        coalesce(col("customers"), lit("")).as("customers"),
        coalesce(col("suppliers"), lit("")).as("suppliers"))
      .orderBy(col("nationkey"))
  }

  /** Side-input enrichment: fact table joined to three explicitly
    * broadcast dims — zero fact-side shuffle before the aggregate. */
  def q16(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(sum(revenueExpr(col("l_extendedprice"), col("l_discount"))).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"))

  def q17(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), max(col("k")).as("max_k"), count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  def q18(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .filter(col("p_type").rlike("^(ECONOMY|SMALL)"))
      .withColumn("color", regexp_extract(col("p_name"), "^(\\w+)", 1))
      .groupBy(col("color"), col("p_type"))
      .agg(count(lit(1)).as("n"), dsum(col("p_retailprice")).as("sum_price"))
      .orderBy(col("color"), col("p_type"))

  /** SqlTransform parity: the plan is authored as SQL text. */
  def q19(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d).createOrReplaceTempView("customer")
    Tables.orders(s, d).createOrReplaceTempView("orders")
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    s.sql("""
      SELECT o_orderkey,
             CAST(o_orderdate AS DATE) AS o_date,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                      (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      FROM customer JOIN orders ON c_custkey = o_custkey
                    JOIN lineitem ON o_orderkey = l_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1995-03-15'
        AND l_shipdate  > TIMESTAMP '1995-03-15'
      GROUP BY o_orderkey, o_orderdate
      ORDER BY revenue DESC, o_orderkey
      LIMIT 10
    """)
  }

  /** Partition/tagged-outputs as a single plan: route rows to named
    * buckets with one pass, then count per route. */
  def q20(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("tag",
        when(col("value") < 10, "low")
          .when(col("value") < 100, "mid")
          .otherwise("high"))
      .groupBy(col("event_type"), col("tag"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy(col("event_type"), col("tag"))

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing"            -> q01 _,
    "q02_map_filter"         -> q02 _,
    "q03_flatmap_wordcount"  -> q03 _,
    "q04_distinct"           -> q04 _,
    "q05_union_all"          -> q05 _,
    "q06_gbk_arrayagg"       -> q06 _,
    "q07_agg_stats"          -> q07 _,
    "q08_topk_global"        -> q08 _,
    "q09_topk_perkey"        -> q09 _,
    "q10_latest_perkey"      -> q10 _,
    "q11_join3_revenue"      -> q11 _,
    "q12_join_left"          -> q12 _,
    "q13_join_semi"          -> q13 _,
    "q14_join_anti"          -> q14 _,
    "q15_cogroup"            -> q15 _,
    "q16_broadcast_dims"     -> q16 _,
    "q17_json_extract"       -> q17 _,
    "q18_regex"              -> q18 _,
    "q19_sql_transform"      -> q19 _,
    "q20_partition_tag"      -> q20 _
  )

  private val rev =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"

  override val oracle: Map[String, String] = Map(
    "q01_pricing" -> s"""
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
             CAST(SUM($rev) AS DOUBLE) AS sum_disc_price,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
             COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",
    "q02_map_filter" -> s"""
      SELECT l_orderkey, l_linenumber, CAST($rev AS DOUBLE) AS revenue
      FROM lineitem
      WHERE l_discount >= 0.09 AND l_shipdate >= TIMESTAMP '1998-01-01'
      ORDER BY l_orderkey, l_linenumber, revenue""",
    "q03_flatmap_wordcount" -> """
      SELECT word, COUNT(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      GROUP BY word ORDER BY word""",
    "q04_distinct" -> """
      SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
      ORDER BY o_orderstatus, o_orderpriority""",
    "q05_union_all" -> """
      SELECT * FROM (
        SELECT c_custkey AS key, c_name AS name FROM customer WHERE c_mktsegment = 'BUILDING'
        UNION ALL
        SELECT s_suppkey AS key, s_name AS name FROM supplier
      ) ORDER BY key, name""",
    "q06_gbk_arrayagg" -> """
      SELECT o_custkey,
             array_to_string(list_sort(list(CAST(o_orderkey AS VARCHAR))), ',') AS order_keys,
             COUNT(*) AS n_orders
      FROM orders GROUP BY o_custkey ORDER BY o_custkey""",
    "q07_agg_stats" -> """
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
             MIN(value) AS min_value, MAX(value) AS max_value,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value
      FROM events GROUP BY event_type ORDER BY event_type""",
    "q08_topk_global" -> """
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
    "q09_topk_perkey" -> """
      SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders)
      WHERE rn <= 3 ORDER BY o_orderpriority, rn""",
    "q10_latest_perkey" -> """
      SELECT user_id, event_id, event_type, value FROM (
        SELECT user_id, event_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) DESC,
                                           event_id DESC) AS rn
        FROM events)
      WHERE rn = 1 ORDER BY user_id""",
    "q11_join3_revenue" -> s"""
      SELECT c_custkey, c_name, CAST(SUM($rev) AS DOUBLE) AS revenue, COUNT(*) AS n_items
      FROM customer JOIN orders ON c_custkey = o_custkey
                    JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY c_custkey, c_name
      ORDER BY revenue DESC, c_custkey LIMIT 10""",
    "q12_join_left" -> """
      SELECT o_orderkey, COUNT(l_orderkey) AS n_big_items,
             CAST(SUM(CAST(COALESCE(l_quantity, 0) AS DECIMAL(18,2))) AS DOUBLE) AS sum_big_qty
      FROM orders LEFT JOIN (SELECT * FROM lineitem WHERE l_quantity >= 48) li
        ON o_orderkey = li.l_orderkey
      GROUP BY o_orderkey ORDER BY o_orderkey""",
    "q13_join_semi" -> """
      SELECT c_custkey, c_name FROM customer
      WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
      ORDER BY c_custkey""",
    "q14_join_anti" -> """
      SELECT c_custkey, c_name, c_acctbal FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY c_custkey""",
    "q15_cogroup" -> """
      SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
             COALESCE(c.customers, '') AS customers,
             COALESCE(s.suppliers, '') AS suppliers
      FROM (SELECT c_nationkey AS nationkey,
                   array_to_string(list_sort(list(c_name)), ',') AS customers
            FROM customer GROUP BY c_nationkey) c
      FULL OUTER JOIN
           (SELECT s_nationkey AS nationkey,
                   array_to_string(list_sort(list(s_name)), ',') AS suppliers
            FROM supplier GROUP BY s_nationkey) s
      USING (nationkey)
      ORDER BY nationkey""",
    "q16_broadcast_dims" -> s"""
      SELECT r_name, CAST(SUM($rev) AS DOUBLE) AS revenue, COUNT(*) AS n_items
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                    JOIN nation ON s_nationkey = n_nationkey
                    JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name ORDER BY r_name""",
    "q17_json_extract" -> """
      SELECT event_type,
             CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
             COUNT(*) AS n
      FROM events GROUP BY event_type ORDER BY event_type""",
    "q18_regex" -> """
      SELECT regexp_extract(p_name, '^(\w+)', 1) AS color, p_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM part
      WHERE regexp_matches(p_type, '^(ECONOMY|SMALL)')
      GROUP BY color, p_type ORDER BY color, p_type""",
    "q19_sql_transform" -> s"""
      SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date,
             CAST(SUM($rev) AS DOUBLE) AS revenue
      FROM customer JOIN orders ON c_custkey = o_custkey
                    JOIN lineitem ON o_orderkey = l_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1995-03-15'
        AND l_shipdate  > TIMESTAMP '1995-03-15'
      GROUP BY o_orderkey, o_orderdate
      ORDER BY revenue DESC, o_orderkey LIMIT 10""",
    "q20_partition_tag" -> """
      SELECT event_type,
             CASE WHEN value < 10 THEN 'low'
                  WHEN value < 100 THEN 'mid'
                  ELSE 'high' END AS tag,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY event_type, tag ORDER BY event_type, tag"""
  )
}
