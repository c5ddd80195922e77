package graft

import org.apache.spark.sql.functions._
import graft.queries.{GovernanceQueries, SimilarityQueries}

/** Property tests for the governance + similarity packs (q104–q111).
  * The oracle hash-compare is the primary gate; these specs assert the
  * properties the hash can't see — prefix-filter losslessness, cap
  * bounds, and derivation invariants. */
class GovernanceSpec extends SparkSpec {

  test("q108 prefix filtering is lossless: equals brute-force all-pairs J >= 0.8") {
    import graft.functions.TextOps
    val sets = Tables.documents(spark, sf("sf0.001"))
      .select(col("doc_id"),
        array_distinct(call_function("shingles3", TextOps.words(col("text")))).as("shs"))
    val brute = sets.as("x").join(sets.as("y"), col("x.doc_id") < col("y.doc_id"))
      .withColumn("inter", size(array_intersect(col("x.shs"), col("y.shs"))))
      .withColumn("un", size(col("x.shs")) + size(col("y.shs")) - col("inter"))
      .filter(col("inter") * 5 >= col("un") * 4)
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        expr("(10000 * inter) DIV un").as("jac_bp"))
    val fast = SimilarityQueries.q108(spark, sf("sf0.001"))
    assert(fast.exceptAll(brute).isEmpty && brute.exceptAll(fast).isEmpty,
      "prefix-filtered join must return exactly the brute-force pair set")
    assert(fast.count() > 0, "fixture should contain at least one J>=0.8 pair")
  }

  test("q110 capped adjacency never exceeds TriCap neighbors per node") {
    // rebuild the capped edge list the query uses and check the bound
    val lo = Tables.lineitem(spark, sf("sf0.001"))
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk")).distinct()
    val e0 = lo.as("x").join(lo.as("y"),
        col("x.ok") === col("y.ok") && col("x.sk") < col("y.sk"))
      .select(col("x.sk").as("a"), col("y.sk").as("b")).distinct()
    val capped = e0.withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("a")).orderBy(col("b"))))
      .filter(col("rn") <= SimilarityQueries.TriCap)
    val maxDeg = capped.groupBy(col("a")).count().agg(max("count")).head.getLong(0)
    assert(maxDeg <= SimilarityQueries.TriCap)
    assert(SimilarityQueries.q110(spark, sf("sf0.001")).count() > 0)
  }

  test("q107 diff statuses obey the snapshot derivation rules") {
    val out = GovernanceQueries.q107(spark, sf("sf0.001")).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (id, st) = (r.getLong(0), r.getString(1))
      st match {
        case "added"   => assert(id >= 10000000L && (id - 10000000L) % 13 == 0)
        case "removed" => assert(id % 10 == 0)
        case "changed" => assert(id % 7 == 0 && id % 10 != 0)
        case other     => fail(s"unexpected status $other")
      }
    }
    // every class must be represented
    assert(out.map(_.getString(1)).toSet == Set("added", "removed", "changed"))
  }

  test("q106 2-sigma outliers exist and stay a small fraction per group") {
    GovernanceQueries.q106(spark, sf("sf0.001")).collect().foreach { r =>
      val (n, nOut) = (r.getLong(1), r.getLong(2))
      assert(nOut > 0, s"${r.getString(0)}: expected some outliers")
      assert(nOut * 5 < n, s"${r.getString(0)}: 2-sigma flags must stay below 20%")
    }
  }

  test("q109 emits only within-nation neighbor pairs at edit distance <= 2") {
    val cust = Tables.customer(spark, sf("sf0.001"))
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    val byKey = cust.collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    val out = SimilarityQueries.q109(spark, sf("sf0.001")).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (a, b, d) = (r.getLong(0), r.getLong(1), r.getInt(2))
      val ((an, anat), (bn, bnat)) = (byKey(a), byKey(b))
      assert(anat == bnat, s"pair ($a,$b) crosses nations")
      assert(d <= 2)
      // recompute the edit distance independently
      val dp = Array.tabulate(an.length + 1, bn.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to an.length; j <- 1 to bn.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (an(i - 1) == bn(j - 1)) 0 else 1))
      assert(dp(an.length)(bn.length) == d, s"levenshtein mismatch for ($a,$b)")
    }
  }

  test("q114 prefix candidates are lossless: equals brute-force chunk containment") {
    import graft.functions.TextOps
    val docs = Tables.documents(spark, sf("sf0.001"))
      .select(col("doc_id"), TextOps.words(col("text")).as("ws"))
      .withColumn("n_words", size(col("ws")))
    val dsh = docs.select(col("doc_id").as("container"),
      array_distinct(call_function("shingles3", col("ws"))).as("ds"))
    val starts = sequence(lit(1), greatest(col("n_words") - 10, lit(1)), lit(30))
    val csh = docs
      .select(col("doc_id").as("cdoc"), col("ws"), col("n_words"),
        posexplode(starts).as(Seq("chunk_idx", "start")))
      .withColumn("len", least(lit(40), col("n_words") - col("start") + 1))
      .select(col("cdoc"), col("chunk_idx").cast("long").as("chunk_idx"),
        array_distinct(call_function("shingles3", expr("slice(ws, start, len)"))).as("cs"))
      .withColumn("sz", size(col("cs"))).filter(col("sz") > 0)
    val brute = csh.crossJoin(dsh).filter(col("container") =!= col("cdoc"))
      .withColumn("inter", size(array_intersect(col("cs"), col("ds"))))
      .filter(col("inter") * 5 >= col("sz") * 4)
      .select(col("cdoc"), col("chunk_idx"), col("container"),
        expr("(10000 * inter) DIV sz").as("cont_bp"))
    val fast = SimilarityQueries.q114(spark, sf("sf0.001"))
    assert(fast.exceptAll(brute).isEmpty && brute.exceptAll(fast).isEmpty,
      "prefix-filtered containment must equal the brute-force pair set")
    assert(fast.count() > 0, "fixture should contain quoted chunks")
  }

  test("q112 drops every re-ingested true dup and keeps every reversed doc") {
    val out = SimilarityQueries.q112(spark, sf("sf0.001")).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (id, n, kept) = (r.getLong(0), r.getLong(1), r.getInt(2))
      val wasDup = (id - 20000000L) % 6 == 0
      assert(kept == (if (wasDup) 0 else 1),
        s"doc $id: wasDup=$wasDup but kept=$kept (n_matches=$n)")
      if (wasDup) assert(n >= 1)
    }
  }

  test("the round-4 wave tolerates empty inputs (the production corner case)") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_empty").toString
    def writeEmpty(name: String, schema: StructType): Unit =
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    writeEmpty("documents", StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))
    writeEmpty("events", StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))))
    writeEmpty("lineitem", StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType))))
    writeEmpty("orders", StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType))))
    writeEmpty("customer", StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))))
    // report queries keep their report shape; everything else is empty
    assert(GovernanceQueries.q104(spark, dir).count() == 4)
    val checks = GovernanceQueries.q105(spark, dir).collect()
    assert(checks.length == 5 && checks.forall(_.getInt(2) == 1))
    assert(GovernanceQueries.q106(spark, dir).count() == 0)
    assert(GovernanceQueries.q107(spark, dir).count() == 0)
    assert(SimilarityQueries.q108(spark, dir).count() == 0)
    assert(SimilarityQueries.q109(spark, dir).count() == 0)
    assert(SimilarityQueries.q110(spark, dir).count() == 0)
    assert(SimilarityQueries.q111(spark, dir).count() == 0)
    assert(SimilarityQueries.q112(spark, dir).count() == 0)
    assert(graft.queries.AnalyticsQueries.q113(spark, dir).count() == 0)
    assert(graft.queries.Round4Queries.q115(spark, dir).count() == 0)
    assert(graft.queries.MultimodalQueries.q116(spark, dir).count() == 0)
  }

  test("fixture corpus is pure ASCII — the q55/q116 byte-vs-char oracle precondition") {
    // the DuckDB oracle slices text by CHARACTER (no BLOB substring in
    // this build) while the engine slices the binary payload by BYTE;
    // they coincide iff every char is single-byte. Pin it rather than
    // assume it: a future multi-byte fixture must switch the oracle.
    Seq("sf0.001", "sf0.01").foreach { s =>
      val nonAscii = Tables.documents(spark, sf(s))
        .filter(octet_length(col("text")) =!= length(col("text"))).count()
      assert(nonAscii == 0, s"$s: $nonAscii non-ASCII documents break the byte/char oracle twin")
    }
  }

  test("q106 moment products stay inside the DECIMAL(38,0) magnitude bound") {
    // (x·n − s)² fits DECIMAL(38,0) while max|cents|·n ≲ 10^18; past it
    // non-ANSI Spark nulls silently. Assert the fixture sits orders of
    // magnitude inside the documented contract.
    val worst = Tables.events(spark, sf("sf0.01"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        max(abs(floor(col("value") * 100))).cast("long").as("mx"))
      .select(max(col("n") * col("mx")).as("w")).head.getLong(0)
    assert(worst < 1e15.toLong, s"max|cents|·group_rows = $worst approaches the 10^18 overflow bound")
  }

  test("q105 all fixture assertions pass with zero violations") {
    val rows = GovernanceQueries.q105(spark, sf("sf0.001")).collect()
    assert(rows.length == 5)
    rows.foreach(r => assert(r.getInt(2) == 1 && r.getLong(1) == 0L,
      s"${r.getString(0)} unexpectedly failed"))
  }
}
