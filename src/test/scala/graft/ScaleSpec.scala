package graft

import org.apache.spark.sql.functions._

/** Scale-technique demonstrations (the 100 TB design points, exercised
  * at fixture scale): bucketed co-located joins, skew salting, and
  * broadcast-vs-shuffle plan control. */
class ScaleSpec extends SparkSpec {

  test("bucketed tables join without a shuffle exchange") {
    // warehouse dir is a temp dir set statically in SparkSpec
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_scale")
    spark.sql("USE graft_scale")
    try {
      Tables.orders(spark, sf("sf0.001"))
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("orders_b")
      Tables.lineitem(spark, sf("sf0.001"))
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("lineitem_b")
      // co-located: both sides pre-partitioned on the join key
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val joined = spark.table("orders_b").join(spark.table("lineitem_b"),
          col("o_orderkey") === col("l_orderkey"))
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange hashpartitioning"),
          s"bucketed join must not shuffle:\n$plan")
        // and it is still correct
        val expected = Tables.orders(spark, sf("sf0.001"))
          .join(Tables.lineitem(spark, sf("sf0.001")),
            col("o_orderkey") === col("l_orderkey")).count()
        assert(joined.count() == expected)
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("USE default")
    }
  }

  test("salted aggregation equals direct aggregation on a skewed key") {
    import spark.implicits._
    // one hot key (90%), many cold keys — the classic skew shape
    val skewed = (1 to 9000).map(i => ("hot", i.toDouble)) ++
      (1 to 1000).map(i => (s"cold${i % 50}", i.toDouble))
    val df = skewed.toDF("k", "v")
    val direct = df.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n"))
    // the reusable operator: salt, partial-agg, strip the salt, final-agg
    val salted = graft.functions.Skew.saltedAgg(df, Seq("k"), 16,
      Seq(graft.functions.Skew.sumOf(col("v"), "s"), graft.functions.Skew.countOf("n")))
    val d = direct.collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val sl = salted.collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(sl.view.mapValues(v => (math.round(v._1), v._2)).toMap ==
      d.view.mapValues(v => (math.round(v._1), v._2)).toMap)
  }

  test("AQE skew join splits the hot partition at runtime (skew=true in the final plan)") {
    // manual salting (above) is the write-side fix; this pins Spark's
    // RUNTIME fix — AQE's OptimizeSkewedJoin must detect the hot
    // partition mid-query and split it, with results unchanged. The
    // thresholds are lowered so fixture-scale data trips the detector;
    // at 100 TB the defaults (256 MB) trip on real skew the same way.
    import spark.implicits._
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force SMJ
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    withConf(confs: _*) {
      // 100k-row left side, ~99% on key 0; 1k-key right side
      val left = spark.range(100000)
        .select(when(col("id") % 100 === 0, col("id")).otherwise(lit(0L)).as("k"),
          col("id").as("v"))
      val right = spark.range(1000).select(col("id").as("k"), (col("id") * 2).as("w"))
      // execute and inspect the SAME query execution (count() would
      // plan its own tree and leave this one un-executed)
      val joined = left.join(right, "k").groupBy().count()
      val n = joined.collect().head.getLong(0)
      val plan = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(plan.contains("skew=true"),
        s"AQE must mark the skewed SMJ partition split:\n$plan")
      // correctness under the split: matches = hot key 0 rows (99 001:
      // every id not divisible by 100, plus id=0) + ids 100..900 step 100
      assert(n == 99001L + 9L, s"skew-split join changed the row count: $n")
    }
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join (might_contain in plan, rows unchanged)") {
    // The third shuffle-reduction lever next to broadcast and bucketing:
    // when the dim side is filtered but too big to broadcast, Spark's
    // InjectRuntimeFilter builds a bloom filter from the dim keys and
    // applies might_contain on the fact scan — at 100 TB the fact rows
    // that would never match die before the exchange instead of after
    // it. Thresholds are lowered so fixture-scale data trips the rule
    // (the 10 GB application-side default is a real-cluster number);
    // the rows must be identical with the rule on and off.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force a shuffle join
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "64MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    def revenueByPriority(): (String, Map[String, Double]) = {
      val ord = Tables.orders(spark, sf("sf0.001"))
        .filter(col("o_totalprice") > 200000.0)           // selective dim filter
        .select(col("o_orderkey"), col("o_orderpriority"))
      val li = Tables.lineitem(spark, sf("sf0.001"))
        .select(col("l_orderkey"), col("l_extendedprice"))
      val df = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("rev"))
      val rows = df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      (df.queryExecution.executedPlan.toString, rows)
    }
    withConf(confs: _*) {
      val (plan, withBloom) = revenueByPriority()
      assert(plan.contains("might_contain"),
        s"expected a runtime bloom filter on the fact scan side:\n$plan")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val (_, plain) = revenueByPriority()
      assert(withBloom == plain, "bloom-filtered join changed the result")
      assert(withBloom.nonEmpty)
    }
  }

  test("salted join equals a plain join under a forced shuffle join, including left no-match rows") {
    import spark.implicits._
    // hot key 1L carries 90% of the big side; key 99L has NO match in
    // the small side (exercises left-join null payloads through the salt)
    val big = ((1 to 9000).map(_ => 1L) ++ (1 to 900).map(i => (i % 30 + 2).toLong) ++
      Seq(99L, 99L)).zipWithIndex.map { case (k, i) => (k, i.toLong) }
      .toDF("k", "row_id")
    val small = (1L to 40L).map(k => (k, s"dim$k")).toDF("k", "name")
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") { // force SMJ
      for (jt <- Seq("inner", "left")) {
        val plain = big.join(small, Seq("k"), jt)
          .groupBy("k").agg(count(lit(1)).as("n"), sum("row_id").as("rs"),
            count(col("name")).as("matched"))
        val salted = graft.functions.Skew.saltedJoin(big, small, Seq("k"), 8, jt)
          .groupBy("k").agg(count(lit(1)).as("n"), sum("row_id").as("rs"),
            count(col("name")).as("matched"))
        val p = plain.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
        val sl = salted.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
        assert(sl == p, s"$jt salted join diverged")
      }
      // the unmatched key must survive a left join exactly twice, unmatched
      val leftRows = graft.functions.Skew.saltedJoin(big, small, Seq("k"), 8, "left")
        .filter(col("k") === 99L).collect()
      assert(leftRows.length == 2 && leftRows.forall(_.isNullAt(2)))
      // replication on the small side makes right/full joins incorrect — rejected
      intercept[IllegalArgumentException] {
        graft.functions.Skew.saltedJoin(big, small, Seq("k"), 8, "right")
      }
    }
  }

  test("GroupIntoBatches streams a 10^6-event hot key in O(1) task memory") {
    import spark.implicits._
    // one pathological key with a million events plus a few cold keys —
    // the flatMapGroups formulation buffered the full hot list per task
    val hot = spark.range(1000000L).map(i => (7L, i.toLong))
    val cold = spark.range(25L).map(i => (100L + (i % 3), i.toLong))
    val out = graft.functions.Batching.groupIntoBatchSizes(hot.union(cold), 10)
      .toDF("k", "idx", "n")
    val hotAgg = out.filter($"k" === 7L)
      .agg(count(lit(1)), sum($"n"), max($"idx"), min($"n")).head()
    assert(hotAgg.getLong(0) == 100000L)  // 10^6 / 10 batches
    assert(hotAgg.getLong(1) == 1000000L) // every event in exactly one batch
    assert(hotAgg.getLong(2) == 99999L)   // contiguous batch indices
    assert(hotAgg.getLong(3) == 10L)      // all full
    // cold keys: sizes partition each key's count into 10s + remainder
    val cold101 = out.filter($"k" === 101L).orderBy($"idx")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(cold101 == Seq((0L, 8L))) // 8 events for key 101 (i%3==1)
  }

  test("broadcast hint flips a shuffle join to broadcast") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val c = Tables.customer(spark, sf("sf0.001"))
      val o = Tables.orders(spark, sf("sf0.001"))
      val noHint = o.join(c, col("o_custkey") === col("c_custkey"))
      assert(noHint.queryExecution.executedPlan.toString.contains("SortMergeJoin"))
      val hinted = o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      assert(hinted.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
      assert(noHint.count() == hinted.count())
    }
  }

  test("zorder_key + repartitionByRange clusters both keys per output partition") {
    // the actual OPTIMIZE ZORDER write path: range-repartition on the
    // curve key (sampled boundaries, parallel) + sort within partitions;
    // every output "file" must then cover a narrow span of BOTH keys,
    // which is what makes min/max pruning effective on either predicate
    // balanced 128x128 grid (the property needs comparable key
    // cardinalities; lineitem at fixture scale has a 10-value suppkey
    // domain where no 16-way cut can halve both spans)
    val grid = spark.range(0, 1 << 14)
      .selectExpr("id % 128 AS x", "id div 128 AS y")
      .selectExpr("x", "y", "zorder_key(x, y) AS z")
    val spans = grid.repartitionByRange(16, col("z"))
      .sortWithinPartitions(col("z"))
      .select(spark_partition_id().as("file"), col("x"), col("y"))
      .groupBy(col("file"))
      .agg((max("x") - min("x")).as("xspan"), (max("y") - min("y")).as("yspan"),
        count(lit(1)).as("n"))
      .collect()
    // a random or single-key layout gives 16 files the FULL 127-value
    // span in at least one dimension; the curve bounds BOTH
    val avgX = spans.map(_.getLong(1)).sum.toDouble / spans.length
    val avgY = spans.map(_.getLong(2)).sum.toDouble / spans.length
    assert(avgX < 64, s"x avg span $avgX not clustered")
    assert(avgY < 64, s"y avg span $avgY not clustered")
    assert(spans.map(_.getLong(3)).sum == (1 << 14))
  }

  test("AQE coalesces shuffle partitions on small data") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val parts = Tables.orders(spark, sf("sf0.001"))
      .groupBy("o_orderstatus").count()
    parts.collect() // force execution so AQE finalizes
    val finalPlan = parts.queryExecution.executedPlan.toString
    assert(finalPlan.contains("AQEShuffleRead") || finalPlan.contains("coalesced"),
      s"expected AQE coalesced read in:\n$finalPlan")
  }

  test("q87 SemDeDup within-cell candidate pairs stay near the balanced N²/cells bound") {
    // the cell-count CONTRACT (see Round4Queries.q87): pairwise work is
    // O(Σ cell_i²), tractable only while cells grow with the corpus so
    // N/cells stays bounded. A perfectly balanced quantizer does
    // N²/(2·cells) comparisons; pin that the fixture quantizer stays
    // within 4× of it — a collapsed quantizer (most vectors in one
    // cell) would blow through this and silently reintroduce O(N²).
    val out = queries.Round4Queries.q87(spark, sf("sf0.001"))
      .groupBy(col("cell")).count().collect().map(_.getLong(1))
    val n = out.sum
    val cells = out.length.toLong
    val pairs = out.map(s => s * (s - 1) / 2).sum
    assert(pairs <= 2L * n * n / cells,
      s"per-cell pair count $pairs exceeds 4x the balanced bound (n=$n, cells=$cells)")
  }

  test("denseIds equals the single-reducer global row_number, without its plan") {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, sf("sf0.001"))
      .select(col("event_id"), col("user_id"))
    val got = functions.Ids.denseIds(ev, col("event_id"), "rid", buckets = 8)
    // the reference everyone writes first: one global window
    val want = ev.withColumn("rid",
      row_number().over(Window.orderBy(col("event_id"))).cast("long") - 1L)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "denseIds must reproduce the global row_number assignment exactly")
    // ids are dense 0..n-1
    val n = ev.count()
    val stats = got.agg(min("rid"), max("rid"), countDistinct("rid")).collect()(0)
    assert(stats.getLong(0) == 0L && stats.getLong(1) == n - 1 &&
      stats.getLong(2) == n)
    // and the operator's window shuffles on the bucket — never through
    // the Exchange SinglePartition the reference form needs (the final
    // presentation ORDER BY is the query's, not the operator's, so
    // check the id-assignment plan itself)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(__bucket"),
      s"denseIds must partition its window on the bucket:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"denseIds must not plan a single-partition exchange:\n$plan")
  }

  test("dynamic partition pruning: a dim filter prunes the partitioned fact scan") {
    // The 100 TB layout: the fact table is a partitioned directory tree;
    // a selective dim-side filter must reach the fact SCAN as a runtime
    // partition filter (DPP), so only the matching partitions are read —
    // the mechanism that turns a full-corpus scan into a one-partition
    // read on a real cluster.
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    Tables.events(spark, sf("sf0.001"))
      .write.partitionBy("event_type").mode("overwrite").parquet(s"$dir/fact")
    // dim carries the selective predicate on a NON-join column — the
    // shape DPP exists for (filter can't push to the fact directly)
    Tables.events(spark, sf("sf0.001"))
      .select(col("event_type")).distinct()
      .withColumn("weight",
        when(col("event_type") === "purchase", lit(5L)).otherwise(lit(1L)))
      .write.mode("overwrite").parquet(s"$dir/dim")
    val fact = spark.read.parquet(s"$dir/fact")
    val dim = spark.read.parquet(s"$dir/dim").filter(col("weight") === 5)
    val joined = fact.join(dim, Seq("event_type"))
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"fact scan must carry a dynamic partition filter:\n$plan")
    // and it is still correct: only purchase rows aggregate
    val got = joined.collect()
    val expected = Tables.events(spark, sf("sf0.001"))
      .filter(col("event_type") === "purchase").count()
    assert(got.length == 1 && got.head.getLong(1) == expected)
  }
}
