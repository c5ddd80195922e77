package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** Native Catalyst expressions: bit-equality with the HOF formulation,
  * and the engine installer on a fresh session. */
class ExpressionSpec extends SparkSpec {

  test("cosine_sim is bit-identical to the HOF cosine on real embeddings") {
    val e = Tables.embeddings(spark, sf("sf0.001"))
      .select(col("vec_id"), VectorOps.toD(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val pairs = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
    val diff = pairs.select(
        VectorOps.cosine(col("qv"), col("v")).as("hof"),
        call_function("cosine_sim", col("qv"), col("v")).as("native"))
      .filter(col("hof") =!= col("native")) // exact, not approximate
      .count()
    assert(diff == 0)
  }

  test("cosine_sim resolves in SQL text after runtime registration") {
    val r = spark.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c").head().getDouble(0)
    assert(math.abs(r - 1.0) < 1e-15)
    val orth = spark.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(0.0d, 2.0d)) AS c").head().getDouble(0)
    assert(orth == 0.0)
  }

  test("function registry is per-session; ensure() covers a fresh newSession") {
    val fresh = spark.newSession()
    // a new session has its own registry — the function must NOT leak in
    intercept[Exception] {
      fresh.sql("SELECT cosine_sim(array(1.0d), array(1.0d))").collect()
    }
    GraftFunctions.ensure(fresh)
    GraftFunctions.ensure(fresh)
    val r = fresh.sql("SELECT cosine_sim(array(3.0d, 4.0d), array(3.0d, 4.0d)) AS c")
      .head().getDouble(0)
    assert(math.abs(r - 1.0) < 1e-15)
    // the planner strategies are installed once, however often ensure runs
    val installed = fresh.experimental.extraStrategies
    Seq(plans.AsOfJoinStrategy, plans.RangeJoinStrategy, plans.GraphWalkStrategy,
        plans.TwoStageRouteStrategy)
      .foreach(st => assert(installed.count(_ == st) == 1, s"$st in $installed"))
    // the driver contract installs the engine on a session it has never
    // seen: each query runs first on its own fresh session
    def firstOnFresh(q: String): DataFrame = {
      val s = spark.newSession()
      assert(s.experimental.extraStrategies.isEmpty)
      SparkEntry.queries(q)(s, sf("sf0.001"))
    }
    Seq("q85_asof_operator" -> classOf[plans.AsOfJoinExec],
        "q117_interval_join_exec" -> classOf[plans.RangeJoinExec],
        "q171_graph_ann" -> classOf[plans.GraphWalkExec]).foreach { case (q, exec) =>
      val plan = firstOnFresh(q).queryExecution.sparkPlan
      assert(plan.exists(p => exec.isInstance(p)), s"$q must plan ${exec.getSimpleName}:\n$plan")
    }
    val q32 = firstOnFresh("q32_minhash_sig").queryExecution.analyzed
    assert(q32.exists(_.expressions.exists(_.exists(_.isInstanceOf[expressions.MinHashSigs]))),
      s"q32 must resolve minhash_sigs:\n$q32")
  }

  test("word_fingerprint equals the HOF fingerprint on real documents") {
    import graft.functions.TextOps
    val diff = Tables.documents(spark, sf("sf0.001"))
      .select(
        TextOps.fingerprint(TextOps.words(col("text"))).as("hof"),
        call_function("word_fingerprint", TextOps.words(col("text"))).as("native"))
      .filter(col("hof") =!= col("native")).count()
    assert(diff == 0)
  }

  test("minhash_sigs equals the per-seed HOF minhash on real documents") {
    import graft.functions.TextOps
    val shs = TextOps.shingles3(TextOps.words(col("text")))
    val df = Tables.documents(spark, sf("sf0.001"))
      .select(Seq(call_function("minhash_sigs", shs).as("sg")) ++
        (0 until 4).map(k => TextOps.minhash(shs, k).as(s"h$k")): _*)
    val diff = df.filter(
      (0 until 4).map(k => element_at(col("sg"), k + 1) =!= col(s"h$k")).reduce(_ || _)
    ).count()
    assert(diff == 0)
  }

  test("cms_sketch (TypedImperativeAggregate) equals the Aggregator CMS") {
    import graft.functions.{Aggs, TextOps}
    val tok = Tables.documents(spark, sf("sf0.001"))
      .select(explode(TextOps.words(col("text"))).as("word"))
    val native = tok.agg(call_function("cms_sketch", col("word")))
      .head().getSeq[Long](0)
    val cmsUdaf = udaf(new Aggs.CountMinAgg)
    val viaAggregator = tok.agg(cmsUdaf(col("word")))
      .head().getSeq[Long](0)
    assert(native == viaAggregator)
    assert(native.sum == tok.count() * Aggs.CmsDepth) // every token counted in every row
  }

  test("simhash16 native equals the HOF simhash on real documents") {
    import graft.functions.TextOps
    val ws = TextOps.words(col("text"))
    val diff = Tables.documents(spark, sf("sf0.001"))
      .select(TextOps.simhash16(ws).as("hof"),
        call_function("simhash16", ws).as("native"))
      .filter(col("hof") =!= col("native")).count()
    assert(diff == 0)
    // null-word parity: HOF maps a null hash to -1 per bit; native must too
    val r = spark.sql(
      """SELECT simhash16(array('a', CAST(NULL AS STRING))) AS n""").head().getInt(0)
    import spark.implicits._
    val h = Seq(1).toDF("x")
      .select(TextOps.simhash16(array(lit("a"), lit(null).cast("string"))))
      .head().getInt(0)
    assert(r == h)
  }

  test("shingles3 native equals the HOF shingles3 on real documents") {
    import graft.functions.TextOps
    val ws = TextOps.words(col("text"))
    val diff = Tables.documents(spark, sf("sf0.001"))
      .select(TextOps.shingles3(ws).as("hof"),
        call_function("shingles3", ws).as("native"))
      .filter(col("hof") =!= col("native")).count()
    assert(diff == 0)
    // and the short-doc guard carries over
    import spark.implicits._
    val sizes = Seq("", "a b", "a b c").toDF("text")
      .select(size(call_function("shingles3", TextOps.words(col("text")))))
      .collect().map(_.getInt(0)).toSeq
    assert(sizes == Seq(0, 0, 1))
  }

  test("digest60/digests60 equal the conv(substring(md5)) chain on real documents") {
    import graft.functions.TextOps
    val shs = array_distinct(call_function("shingles3", TextOps.words(col("text"))))
    // array form: element order and values must match the HOF tree exactly
    val diffArr = Tables.documents(spark, sf("sf0.001"))
      .select(transform(shs,
          sp => conv(substring(md5(sp), 1, 15), 16, 10).cast("long")).as("hof"),
        call_function("digests60", shs).as("native"))
      .filter(col("hof") =!= col("native")).count()
    assert(diffArr == 0)
    // scalar form on raw text (covers multi-byte/empty inputs)
    val diffSc = Tables.documents(spark, sf("sf0.001"))
      .select(conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long").as("hof"),
        call_function("digest60", col("text")).as("native"))
      .filter(col("hof") =!= col("native")).count()
    assert(diffSc == 0)
    // null pass-through: null element -> null element, null array -> null
    import spark.implicits._
    val r = Seq(1).toDF("x")
      .select(call_function("digests60",
          array(lit("a"), lit(null).cast("string"))).as("a"),
        call_function("digests60", lit(null).cast("array<string>")).as("n"),
        call_function("digest60", lit(null).cast("string")).as("s"))
      .head()
    assert(!r.getSeq[Any](0).head.asInstanceOf[AnyRef].eq(null)
      && r.getSeq[Any](0)(1) == null && r.isNullAt(1) && r.isNullAt(2))
  }

  test("setkey_md5 equals the md5(concat_ws(sort)) chain on real digest arrays") {
    import graft.functions.TextOps
    val hs = call_function("digests60",
      array_distinct(call_function("shingles3", TextOps.words(col("text")))))
    val diff = Tables.documents(spark, sf("sf0.001"))
      .select(md5(concat_ws(",", transform(array_sort(hs),
          _.cast("string")))).as("hof"),
        call_function("setkey_md5", hs).as("native"))
      .filter(col("hof") =!= col("native")).count()
    assert(diff == 0)
    // null-element skip matches concat_ws; empty array = md5 of ""
    import spark.implicits._
    val r = Seq(1).toDF("x")
      .select(call_function("setkey_md5",
          array(lit(5L), lit(null).cast("long"), lit(-3L))).as("a"),
        md5(concat_ws(",", transform(array_sort(
          array(lit(5L), lit(null).cast("long"), lit(-3L))),
          _.cast("string")))).as("hof"),
        call_function("setkey_md5", array().cast("array<long>")).as("e"),
        md5(lit("")).as("em"),
        // whole-array NULL parity (round-16 ADVICE): concat_ws never
        // returns null, so the chain gives md5("") — the native
        // expression must land null-text docs in the SAME group
        call_function("setkey_md5", lit(null).cast("array<long>")).as("n"),
        md5(concat_ws(",", transform(array_sort(
          lit(null).cast("array<long>")), _.cast("string")))).as("nh"))
      .head()
    assert(r.getString(0) == r.getString(1) && r.getString(2) == r.getString(3))
    assert(r.getString(4) == r.getString(5) && r.getString(4) == r.getString(3),
      s"null array must key as md5(''): got ${r.getString(4)} vs ${r.getString(5)}")
  }

  test("nearest_cells equals the HOF nearestCells ranking on real embeddings") {
    val e = Tables.embeddings(spark, sf("sf0.001"))
      .select(col("vec_id"), VectorOps.toD(col("embedding")).as("v"))
    val cents = e.filter(col("vec_id") < 16)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toIndexedSeq)).toIndexedSeq
      .sortBy(_._1)
    val centsLit = array(cents.map(c => VectorOps.litArr(c._2)): _*)
    val hofRanked = transform(
      VectorOps.nearestCells(col("v"), VectorOps.dot(col("v"), col("v")), cents),
      x => x.getField("cid"))
    // the native form returns indices; cents are cid-sorted so index==position
    val nativeRanked = transform(
      call_function("nearest_cells", col("v"), centsLit),
      i => element_at(array(cents.map(c => lit(c._1)): _*), i.cast("int") + 1))
    val diff = e.select(hofRanked.as("a"), nativeRanked.as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff == 0)
  }

  test("nearest_cells top-m bound returns a prefix of the full ranking") {
    val e = Tables.embeddings(spark, sf("sf0.001"))
      .select(col("vec_id"), VectorOps.toD(col("embedding")).as("v"))
    val cents = e.filter(col("vec_id") < 16)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toIndexedSeq)).toIndexedSeq
      .sortBy(_._1)
    val centsLit = array(cents.map(c => VectorOps.litArr(c._2)): _*)
    for (m <- Seq(1, 2, 5, 16, 100)) {
      val diff = e.select(
          slice(call_function("nearest_cells", col("v"), centsLit),
            1, math.min(m, cents.size)).as("full_prefix"),
          call_function("nearest_cells", col("v"), centsLit, lit(m)).as("bounded"))
        .filter(col("full_prefix") =!= col("bounded")).count()
      assert(diff == 0, s"m=$m bounded ranking is not a prefix of the full ranking")
    }
  }

  test("shingles3 is empty (not a crash) for docs under 3 words") {
    import graft.functions.TextOps
    import spark.implicits._
    // regression: sequence(1, 0) steps DOWN in Spark, so the unguarded
    // form called slice(ws, 0, 3) and threw on any doc with <3 words
    val df = Seq("", "a", "a b", "a b c", "a b c d").toDF("text")
      .select(col("text"), TextOps.shingles3(TextOps.words(col("text"))).as("shs"))
    val sizes = df.select(size(col("shs"))).collect().map(_.getInt(0)).toSeq
    assert(sizes == Seq(0, 0, 0, 1, 2))
    // and the full MinHash path over short docs stays non-crashing:
    // empty shingle set -> all-null signature components, both forms
    val sg = df.select(call_function("minhash_sigs", col("shs")).as("sg"),
        graft.functions.TextOps.minhash(col("shs"), 0).as("h0"))
      .collect()
    sg.take(3).foreach { r =>
      assert(r.getSeq[String](0).forall(_ == null) && r.isNullAt(1))
    }
  }

  test("cosine_sim rejects non-double-array inputs with a clear error") {
    val err = intercept[Exception] {
      spark.sql("SELECT cosine_sim('a', 'b')").collect()
    }
    assert(err.getMessage.contains("cosine_sim"))
  }

  test("zorder_key interleaves bits; codegen equals a SQL bit-math twin") {
    // hand-checked values: (x=1,y=0)->1, (x=0,y=1)->2, (x=3,y=3)->15,
    // (x=0xFFFF,y=0)->0x55555555, bit 16 now survives (31-bit domain),
    // masking drops bits above 31, and the key stays non-negative
    assert(expressions.ZorderKey.interleave31(1L, 0L) == 1L)
    assert(expressions.ZorderKey.interleave31(0L, 1L) == 2L)
    assert(expressions.ZorderKey.interleave31(3L, 3L) == 15L)
    assert(expressions.ZorderKey.interleave31(0xFFFFL, 0L) == 0x55555555L)
    assert(expressions.ZorderKey.interleave31(0x10000L, 0L) == 0x100000000L)
    assert(expressions.ZorderKey.interleave31(0x80000000L, 0L) == 0L)
    assert(expressions.ZorderKey.interleave31(0x7FFFFFFFL, 0x7FFFFFFFL) == 0x3FFFFFFFFFFFFFFFL)
    // against the unrolled bit-math form over real keys (same SQL shape
    // as the DuckDB oracle), inside codegen
    val twin = (0 until 31).map(i =>
      s"((((l_partkey & 2147483647) >> $i) & 1) << ${2 * i}) + " +
        s"((((l_suppkey & 2147483647) >> $i) & 1) << ${2 * i + 1})")
      .mkString("(", " + ", ")")
    val diff = Tables.lineitem(spark, sf("sf0.001"))
      .selectExpr(s"zorder_key(l_partkey, l_suppkey) AS native", s"$twin AS twin")
      .filter(col("native") =!= col("twin")).count()
    assert(diff == 0)
  }

  test("zorder_key clusters both dimensions: adjacent curve ranges have bounded key spans") {
    // every 4096-wide aligned z-range covers at most a 64-value span in
    // x and y (property of the Morton curve: 12 curve bits = 6+6 key
    // bits), which is exactly why min/max file pruning works per file
    val rows = spark.range(0, 1 << 14).selectExpr(
        "id % 128 AS x", "id div 128 AS y")
      .selectExpr("x", "y", "zorder_key(x, y) AS z")
      .selectExpr("z div 4096 AS zblock", "x", "y")
      .groupBy("zblock")
      .agg(expr("max(x) - min(x)").as("xspan"), expr("max(y) - min(y)").as("yspan"))
      .agg(expr("max(xspan)").as("mx"), expr("max(yspan)").as("my"))
      .head()
    assert(rows.getLong(0) <= 63 && rows.getLong(1) <= 63)
  }

  test("collect_topk orientation: reverse=false k largest desc, reverse=true k smallest asc") {
    val r = spark.sql(
      "SELECT collect_topk(x, 3, false) AS lg, collect_topk(x, 3, true) AS sm " +
      "FROM VALUES (5),(1),(9),(3),(7) AS v(x)").head()
    assert(r.getSeq[Int](0) == Seq(9, 7, 5))
    assert(r.getSeq[Int](1) == Seq(1, 3, 5))
    // struct ordering is lexicographic — the (−price, key) encoding q09
    // relies on: smallest (−price, key) = largest price, ties by key asc
    val s = spark.sql(
      "SELECT collect_topk(named_struct('np', -p, 'k', k), 2, true) AS t FROM VALUES " +
      "(9.0D, 4L), (9.0D, 2L), (5.0D, 1L) AS v(p, k)").head()
    val top = s.getSeq[org.apache.spark.sql.Row](0)
    assert(top.map(r0 => (-r0.getDouble(0), r0.getLong(1))) == Seq((9.0, 2L), (9.0, 4L)))
    // equals the Window+row_number form on real data
    val orders = Tables.orders(spark, sf("sf0.001"))
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val expected = orders.withColumn("rn", row_number().over(win))
      .filter(col("rn") <= 3).select("o_orderpriority", "o_orderkey").collect()
      .map(r0 => (r0.getString(0), r0.getLong(1))).toSet
    val got = orders.groupBy(col("o_orderpriority"))
      .agg(call_function("collect_topk",
        struct((-col("o_totalprice")).as("np"), col("o_orderkey").as("ok")),
        lit(3), lit(true)).as("t"))
      .select(col("o_orderpriority"), explode(col("t")).as("s"))
      .select(col("o_orderpriority"), col("s.ok")).collect()
      .map(r0 => (r0.getString(0), r0.getLong(1))).toSet
    assert(got == expected)
  }

  test("collect_topk_distinct equals distinct-then-collect_topk, both orientations") {
    // duplicated scalar input: dups must occupy ONE slot, not k
    val r = spark.sql(
      "SELECT collect_topk_distinct(x, 3, false) AS lg, " +
      "collect_topk_distinct(x, 3, true) AS sm " +
      "FROM VALUES (9),(9),(9),(5),(1),(3),(3),(7) AS v(x)").head()
    assert(r.getSeq[Int](0) == Seq(9, 7, 5))
    assert(r.getSeq[Int](1) == Seq(1, 3, 5))
    // struct input with duplicates: equals .distinct() + collect_topk on
    // real data — the exact substitution the kNN family's topK made
    val li = Tables.lineitem(spark, sf("sf0.001"))
      .select(col("l_orderkey").as("src"), col("l_partkey").as("nb"),
        col("l_quantity").cast("long").as("sim"))
    val dup = li.union(li).union(li.limit(500))
    def lists(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r0 => r0.getLong(0) -> r0.getSeq[org.apache.spark.sql.Row](1)
        .map(x => (x.getLong(0), x.getLong(1)))).toMap
    val want = lists(dup.distinct().groupBy(col("src"))
      .agg(call_function("collect_topk",
        struct((-col("sim")).as("nsim"), col("nb")), lit(5), lit(true)).as("t")))
    val got = lists(dup.groupBy(col("src"))
      .agg(call_function("collect_topk_distinct",
        struct((-col("sim")).as("nsim"), col("nb")), lit(5), lit(true)).as("t")))
    assert(got == want, "dedup-folding heap must equal distinct + heap")
  }

  test("cdc_starts equals the HOF boundary scan on real payloads") {
    val hof = when(octet_length(col("payload")) === 0, array().cast("array<int>"))
      .otherwise(concat(
        array(lit(1)),
        when(octet_length(col("payload")) >= 5,
          filter(
            transform(sequence(lit(5), octet_length(col("payload"))),
              i => when(
                conv(substring(md5(col("payload").substr(i - 4, lit(4))), 1, 15),
                  16, 10).cast("long") % 32 === 0, i)),
            x => x.isNotNull))
          .otherwise(array().cast("array<int>"))))
    val diff = Tables.documents(spark, sf("sf0.001"))
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .select(hof.as("hof"),
        call_function("cdc_starts", col("payload"), lit(4), lit(32)).as("native"))
      .filter(col("hof") =!= col("native"))
      .count()
    assert(diff == 0)
    // short-payload edge: below window+1 bytes there is exactly one chunk
    val one = spark.sql("SELECT cdc_starts(CAST('abc' AS BINARY), 4, 32) AS s")
      .head().getSeq[Int](0)
    assert(one == Seq(1))
    // empty-payload edge: zero chunks, matching the oracle's
    // generate_series(1, 0) (zero rows), not one empty chunk
    val none = spark.sql("SELECT cdc_starts(CAST('' AS BINARY), 4, 32) AS s")
      .head().getSeq[Int](0)
    assert(none.isEmpty)
  }

  test("int8_quant_stats equals the HOF quantization pipeline bit-for-bit") {
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val hof = emb
      .withColumn("scale", array_max(transform(col("embedding"), x => abs(x))).cast("double"))
      .filter(col("scale") > 0)
      .withColumn("q", transform(col("embedding"),
        x => floor(x.cast("double") * lit(127.0) / col("scale") + lit(0.5)).cast("long")))
      .select(col("vec_id"), col("scale"),
        aggregate(col("q"), lit(0L), (a, x) => a + x).as("qsum"),
        aggregate(col("q"), lit(0L), (a, x) => a + x * x).as("qdot"),
        aggregate(zip_with(col("q"), sequence(lit(1), size(col("q"))),
          (qi, i) => qi * i), lit(0L), (a, x) => a + x).as("wsum"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val native = emb
      .select(col("vec_id"), call_function("int8_quant_stats", col("embedding")).as("st"))
      .filter(col("st").isNotNull)
      .collect().map { r =>
        val a = r.getSeq[Double](1)
        r.getLong(0) -> (a(0), a(1).toLong, a(2).toLong, a(3).toLong)
      }.toMap
    assert(native == hof && native.nonEmpty)
  }

  test("int8_quant_stats: codegen equals interpreted eval; zero vector yields NULL") {
    // force the interpreted path by evaluating through a filter that
    // Catalyst constant-folds (literal input) vs the codegen'd column path
    val lit1 = spark.sql(
      "SELECT int8_quant_stats(array(CAST(0.5 AS FLOAT), CAST(-1.0 AS FLOAT))) AS st")
      .head().getSeq[Double](0)
    assert(lit1 == Seq(1.0, (64 - 127).toDouble, (64 * 64 + 127 * 127).toDouble,
      (64 - 2 * 127).toDouble, 1.0))
    val z = spark.sql(
      "SELECT int8_quant_stats(array(CAST(0.0 AS FLOAT))) AS st").head()
    assert(z.isNullAt(0))
    val e = spark.sql(
      "SELECT int8_quant_stats(CAST(array() AS ARRAY<FLOAT>)) AS st").head()
    assert(e.isNullAt(0))
  }

  test("pq_adc_dist equals the per-subspace l2sq HOF tree bit-for-bit") {
    // the q119/q124 rewrite: the fused ADC loop must reproduce the
    // slice+zip_with+aggregate column formulation exactly (same fold
    // order per dot, same subspace term order) on real embeddings
    import graft.functions.VectorOps
    val m = 8; val ds = 8
    val e = Tables.embeddings(spark, sf("sf0.001"))
      .select(col("vec_id"), VectorOps.toD(col("embedding")).as("v"))
    val cb = e.filter(col("vec_id") < 16).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toIndexedSeq))
      .sortBy(_._1).map(_._2).toIndexedSeq
    def subCents(j: Int) = array(cb.map(c =>
      VectorOps.litArr(c.slice(j * ds, (j + 1) * ds))): _*)
    val codes = array((0 until m).map(j => (col("vec_id") % 16).cast("int")): _*)
    val hof = (0 until m).map { j =>
      VectorOps.l2sq(slice(col("v"), j * ds + 1, ds),
        element_at(subCents(j), element_at(col("codes"), j + 1) + 1))
    }.reduce(_ + _)
    val cbLit = array(cb.map(c => VectorOps.litArr(c)): _*)
    val both = e.withColumn("codes", codes)
      .select(col("vec_id"), hof.as("a"),
        call_function("pq_adc_dist", col("v"), col("codes"), cbLit, lit(ds)).as("b"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(
      java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
      java.lang.Double.doubleToLongBits(r.getDouble(2)), s"row $r"))
  }

  test("maxsim_score equals the 64-term greatest/floor column tree bit-for-bit") {
    // the q164 rewrite: the fused MaxSim loop (document sub-norms
    // computed once, no slice copies) must reproduce the
    // slice+cosine_sim+FLOOR+greatest column formulation exactly on
    // real embedding pairs — every query (vec_id<8) against the corpus
    import graft.functions.VectorOps
    val e = Tables.embeddings(spark, sf("sf0.001"))
      .select(col("vec_id"), VectorOps.toD(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val both = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        graft.queries.Round10Queries.maxSimColumns(col("qv"), col("v")).as("a"),
        call_function("maxsim_score", col("qv"), col("v"), lit(8), lit(8)).as("b"))
      .collect()
    assert(both.length > 1000)
    both.foreach(r => assert(r.getLong(2) == r.getLong(3), s"row $r"))
  }

  test("maxsim_score: codegen equals interpreted eval on the same vectors") {
    // constant-folded literal inputs run nullSafeEval at optimization
    // time; a DataFrame column runs the doGenCode loop — both must
    // produce the identical long (the int8_quant_stats parity pattern)
    val a = (0 until 64).map(i => ((i * 37 % 101) - 50) / 50.0)
    val b = (0 until 64).map(i => ((i * 53 % 97) - 48) / 48.0)
    def arr(v: Seq[Double]) = array(v.map(lit): _*)
    val folded = spark.range(1)
      .select(call_function("maxsim_score", arr(a), arr(b), lit(8), lit(8)).as("s"))
      .head().getLong(0)
    import spark.implicits._
    val viaCol = Seq((a, b)).toDF("a", "b")
      .select(call_function("maxsim_score", col("a"), col("b"), lit(8), lit(8)).as("s"))
      .head().getLong(0)
    assert(folded == viaCol)
    // and both equal the plain-Scala reference
    def refMaxSim(x: Seq[Double], y: Seq[Double]): Long =
      (0 until 8).map { i =>
        (0 until 8).map { j =>
          val dot = (0 until 8).map(t => x(i * 8 + t) * y(j * 8 + t)).foldLeft(0.0)(_ + _)
          val nx = math.sqrt((0 until 8).map(t => x(i * 8 + t) * x(i * 8 + t)).foldLeft(0.0)(_ + _))
          val ny = math.sqrt((0 until 8).map(t => y(j * 8 + t) * y(j * 8 + t)).foldLeft(0.0)(_ + _))
          math.floor(dot / (nx * ny) * 10000.0).toLong
        }.max
      }.sum
    assert(folded == refMaxSim(a, b))
  }

  test("maxsim_score rejects short arrays on both eval paths and non-int literals") {
    // ArrayData.getDouble is an unchecked offset read — without the
    // guard a 32-element array would silently score adjacent memory
    import spark.implicits._
    val short = (0 until 32).map(_.toDouble)
    val full = (0 until 64).map(_ / 64.0 + 0.01)
    // codegen path (column input)
    val exCg = intercept[Exception] {
      Seq((short, full)).toDF("a", "b")
        .select(call_function("maxsim_score", col("a"), col("b"), lit(8), lit(8)))
        .head()
    }
    assert(exCg.getMessage.contains("maxsim_score") ||
      Option(exCg.getCause).exists(_.getMessage.contains("maxsim_score")))
    // interpreted path (constant-folded literal input)
    def arr(v: Seq[Double]) = array(v.map(lit): _*)
    val exIn = intercept[Exception] {
      spark.range(1)
        .select(call_function("maxsim_score", arr(full), arr(short), lit(8), lit(8)))
        .head()
    }
    assert(exIn.getMessage.contains("maxsim_score") ||
      Option(exIn.getCause).exists(_.getMessage.contains("maxsim_score")))
    // a LONG literal for m must hit the descriptive error, not a raw
    // ClassCastException from value.asInstanceOf[Int]
    val exLit = intercept[IllegalArgumentException] {
      Seq((full, full)).toDF("a", "b")
        .select(call_function("maxsim_score", col("a"), col("b"), lit(8L), lit(8)))
        .head()
    }
    assert(exLit.getMessage.contains("maxsim_score expects"))
  }

  test("cdc_word_chunks equals the HOF chunking pipeline bit-for-bit") {
    // the q133 rewrite: the fused native loop must reproduce the
    // interpreted boundary-transform + chunk-assembly + per-chunk-md5
    // tree exactly, on real fixture text (incl. multi-byte words)
    val docs = Tables.documents(spark, sf("sf0.001"))
    val starts = concat(
      array(lit(1)),
      when(size(col("ws")) >= 2,
        filter(
          transform(sequence(lit(2), size(col("ws"))),
            i => when(
              conv(substring(md5(concat_ws(" ",
                element_at(col("ws"), i - 1), element_at(col("ws"), i))),
                1, 15), 16, 10).cast("long") % 8 === 0, i)),
          x => x.isNotNull))
        .otherwise(array().cast("array<int>")))
    val viaHof = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("starts", starts)
      .select(col("doc_id"), col("ws"),
        explode(transform(sequence(lit(1), size(col("starts"))), j =>
          struct(j.cast("long").as("chunk_idx"),
            slice(col("ws"), element_at(col("starts"), j),
              coalesce(try_element_at(col("starts"), j + 1),
                size(col("ws")) + 1) - element_at(col("starts"), j))
              .as("chunk")))).as("c"))
      .select(col("doc_id"), col("c.chunk_idx"),
        size(col("c.chunk")).cast("long").as("n_words"),
        md5(concat_ws(" ", col("c.chunk"))).as("digest"))
      .orderBy(col("doc_id"), col("chunk_idx"))
      .collect().map(_.toString).toSeq
    val viaNative = docs
      .select(col("doc_id"),
        explode(call_function("cdc_word_chunks",
          split(col("text"), " "), lit(8))).as("c"))
      .select(col("doc_id"), col("c.chunk_idx"), col("c.n_words"), col("c.digest"))
      .orderBy(col("doc_id"), col("chunk_idx"))
      .collect().map(_.toString).toSeq
    assert(viaNative == viaHof && viaNative.nonEmpty)
  }

  test("int8_quant_stats: a NULL element yields NULL, never quantizes as 0.0") {
    // r8 advice: parquet reads embeddings as containsNull=true, so a
    // sparse vintage must surface as NULL (filtered like zero vectors)
    // instead of silently diverging from the oracle's NULL propagation —
    // in both the constant-folded (interpreted) and codegen column paths
    val lit = spark.sql(
      "SELECT int8_quant_stats(array(CAST(0.5 AS FLOAT), CAST(NULL AS FLOAT))) AS st")
      .head()
    assert(lit.isNullAt(0))
    import spark.implicits._
    val viaCol = Seq(Seq[java.lang.Float](1.0f, null, 2.0f), Seq[java.lang.Float](1.0f, 2.0f))
      .toDF("embedding")
      .select(call_function("int8_quant_stats", col("embedding").cast("array<float>")).as("st"))
      .collect()
    assert(viaCol(0).isNullAt(0))
    assert(!viaCol(1).isNullAt(0))
  }
}
