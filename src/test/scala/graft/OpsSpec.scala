package graft

import org.apache.spark.sql.functions._
import graft.functions.{TextOps, VectorOps}

/** Non-oracle correctness: algebraic laws, approximate-aggregate error
  * bounds, and typed cogroup (SURVEY.md §5.2 items 2–3). */
class OpsSpec extends SparkSpec {

  test("q87 semAssign: broadcast argmin path equals the literal zero-shuffle path") {
    // the two physical strategies behind SemDeDup cell assignment must
    // agree exactly (nearest by L2, ties to lowest cid) — the literal
    // path is the fixture-scale default, the broadcast argmin is what
    // runs when the centroid matrix outgrows literals at 100 TB
    val e = Tables.embeddings(spark, sf("sf0.001"))
      .select(col("vec_id"), VectorOps.toD(col("embedding")).as("v"))
    val litPath = queries.Round4Queries.semAssign(e, 16)
      .select(col("vec_id"), col("cell"))
    val bcPath = queries.Round4Queries.semAssign(e, 16, forceBroadcast = true)
      .select(col("vec_id"), col("cell"))
    assert(litPath.exceptAll(bcPath).isEmpty && bcPath.exceptAll(litPath).isEmpty,
      "broadcast and literal cell assignments diverge")
  }

  test("q87 semCells grows linearly with the corpus beyond the fixture floor") {
    import queries.Round4Queries.{semCells, SemTargetCellSize}
    assert(semCells(500L) === 16L)      // fixture scale: floor applies, hash-stable
    assert(semCells(5000L) === 39L)     // sf1-ish: scaling active
    assert(semCells(128L * 1000) === 1000L)
    // expected cell population is bounded by the target once scaling kicks in
    for (n <- Seq(10000L, 1000000L, 100000000L))
      assert(n.toDouble / semCells(n) <= SemTargetCellSize + 1)
  }

  test("dedup is idempotent") {
    import spark.implicits._
    val df = Seq("a", "b", "a", "c", "b").toDF("x")
    val once = df.distinct()
    assert(once.count() == 3 && once.distinct().count() == 3)
  }

  test("union-all cardinality adds") {
    import spark.implicits._
    val a = Seq(1, 2, 3).toDF("x"); val b = Seq(3, 4).toDF("x")
    assert(a.unionByName(b).count() == a.count() + b.count())
  }

  test("sliding window totality: every event in exactly size/slide windows") {
    val n = Tables.events(spark, sf("sf0.001")).count()
    val windowed = Tables.events(spark, sf("sf0.001"))
      .select(window(col("ts"), "2 days", "1 day"))
      .count()
    assert(windowed == 2 * n)
  }

  test("session count never exceeds event count and >= user count") {
    val ev = Tables.events(spark, sf("sf0.001"))
    val sessions = ev.groupBy(session_window(col("ts"), "12 hours"), col("user_id")).count()
    val nSess = sessions.count()
    assert(nSess <= ev.count())
    assert(nSess >= ev.select("user_id").distinct().count())
  }

  test("cosine(x, x) == 1 for every embedding") {
    val e = Tables.embeddings(spark, sf("sf0.001"))
      .select(VectorOps.toD(col("embedding")).as("v"))
    val bad = e.select(VectorOps.cosine(col("v"), col("v")).as("c"))
      .filter(abs(col("c") - 1.0) > 1e-9).count()
    assert(bad == 0)
  }

  test("approx_count_distinct within 5% of exact") {
    val r = Tables.events(spark, sf("sf0.001"))
      .agg(approx_count_distinct(col("user_id")).as("a"),
        countDistinct(col("user_id")).as("e"))
      .head()
    val (a, e) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    assert(math.abs(a - e) / e < 0.05, s"approx=$a exact=$e")
  }

  test("percentile_approx brackets the exact median") {
    val vals = Tables.events(spark, sf("sf0.001"))
      .select("value").as[Double](org.apache.spark.sql.Encoders.scalaDouble)
      .collect().sorted
    val exact = vals(vals.length / 2)
    val approx = Tables.events(spark, sf("sf0.001"))
      .agg(percentile_approx(col("value"), lit(0.5), lit(10000)).as("p"))
      .head().getDouble(0)
    assert(math.abs(approx - exact) <= (vals.max - vals.min) * 0.05,
      s"approx=$approx exact=$exact")
  }

  test("typed Dataset.cogroup matches the relational cogroup (q15 semantics)") {
    import spark.implicits._
    val c = Tables.customer(spark, sf("sf0.001"))
      .select(col("c_nationkey").cast("long"), col("c_name")).as[(Long, String)]
    val s = Tables.supplier(spark, sf("sf0.001"))
      .select(col("s_nationkey").cast("long"), col("s_name")).as[(Long, String)]
    val typed = c.groupByKey(_._1).cogroup(s.groupByKey(_._1)) { (k, cs, ss) =>
      Iterator((k, cs.map(_._2).toSeq.sorted.mkString(","),
        ss.map(_._2).toSeq.sorted.mkString(",")))
    }.toDF("nationkey", "customers", "suppliers")
    val relational = graft.queries.RelationalQueries.q15(spark, sf("sf0.001"))
    assert(typed.orderBy("nationkey").collect().toSeq ==
      relational.collect().toSeq)
  }

  test("Dataset.observe surfaces pipeline metrics (Beam PipelineResult.metrics)") {
    import org.apache.spark.sql.Observation
    val obs = Observation("ev_metrics")
    val df = Tables.events(spark, sf("sf0.001"))
      .observe(obs, count(lit(1)).as("n"), sum(col("value").cast("double")).as("total"))
    val n = df.count()
    val metrics = obs.get
    assert(metrics("n") == n)
    assert(metrics("total").asInstanceOf[Double] > 0)
  }

  test("seeded sample is reproducible within a session (API parity)") {
    val a = Tables.orders(spark, sf("sf0.001")).sample(0.1, seed = 42).count()
    val b = Tables.orders(spark, sf("sf0.001")).sample(0.1, seed = 42).count()
    assert(a == b && a > 0)
  }

  test("minhash signature only shrinks when docs lose shingles (containment)") {
    import spark.implicits._
    val df = Seq("a b c d e f", "a b c d").toDF("text")
      .select(TextOps.shingles3(TextOps.words(col("text"))).as("shs"))
      .select(TextOps.minhash(col("shs"), 0).as("m"))
      .collect().map(_.getLong(0))
    // the shorter doc's shingles are a subset: its min can only be >= the superset's
    assert(df(1) >= df(0))
  }

  test("ANN recall@5 vs brute force; multi-probe recovers boundary losses") {
    import org.apache.spark.sql.expressions.Window
    // bits must track corpus size (bits ~ log2(n / bucketSize)): 500
    // vectors at 4 bits -> ~30/bucket. The default 8 bits over this
    // corpus gives singleton buckets and ~zero recall — which is the
    // parameterization lesson itself, measured here.
    val k = 5
    val bits = 4
    val e = Tables.embeddings(spark, sf("sf0.01"))
      .select(col("vec_id"), VectorOps.toD(col("embedding")).as("v"))
      .withColumn("bucket", VectorOps.lshBucket(col("v"), bits))
      .persist()
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("bucket").as("qb"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))
    def topk(cond: org.apache.spark.sql.Column): Map[Long, Set[Long]] =
      e.join(broadcast(q), cond && col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          VectorOps.cosineQNative(col("qv"), col("v")).as("sim"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
        .collect().map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val brute = topk(lit(true))
    val single = topk(col("bucket") === col("qb"))
    val qProbes = q.withColumn("qb", explode(VectorOps.multiProbe(col("qb"), bits)))
      .select(col("q_id"), col("qv"), col("qb"))
    val multi =
      e.join(broadcast(qProbes), col("bucket") === col("qb") && col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          VectorOps.cosineQNative(col("qv"), col("v")).as("sim")).distinct()
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
        .collect().map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recall(ann: Map[Long, Set[Long]]): Double = {
      val hits = brute.map { case (qid, bf) => (ann.getOrElse(qid, Set.empty) & bf).size }.sum
      hits.toDouble / brute.values.map(_.size).sum
    }
    val (rs, rm) = (recall(single), recall(multi))
    info(f"recall@$k bits=$bits single-probe=$rs%.3f multi-probe(${bits + 1} buckets)=$rm%.3f")
    assert(rm > rs, "HD-1 probing must recover some boundary neighbors")
    assert(rs >= 0.05, f"single-probe recall collapsed: $rs%.3f")
    assert(rm >= 0.3, f"multi-probe recall collapsed: $rm%.3f")
    e.unpersist()
  }

  test("IVF search accepts a real KMeans-trained quantizer (the production path)") {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    import org.apache.spark.sql.expressions.Window
    // q57's first-16-vectors quantizer is the oracle-reproducible
    // stand-in; here the same ivfSearch runs on centroids trained by
    // spark.ml KMeans — the actual train-then-embed-as-literals flow
    val e = Tables.embeddings(spark, sf("sf0.01"))
      .select(col("vec_id"), VectorOps.toD(col("embedding")).as("v"))
      .persist()
    val km = new KMeans().setK(16).setSeed(7L).setMaxIter(5)
      .fit(e.select(array_to_vector(col("v")).as("features")))
    val cents = km.clusterCenters.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toArray.toIndexedSeq: Seq[Double]) }.toIndexedSeq
    // recall vs brute-force cosine top-5 over the same 10 queries,
    // along the nprobe cost/recall curve (nprobe/16 of the corpus is
    // scanned per query — the knob a production deployment turns)
    val q = e.filter(col("vec_id") < 10).select(col("vec_id").as("q_id"), col("v").as("qv"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))
    val brute = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        VectorOps.cosineQNative(col("qv"), col("v")).as("sim"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = Seq(1, 2, 4).map { np =>
      val res = graft.queries.LlmQueries.ivfSearch(e, cents, nprobe = np, k = 5, nQueries = 10)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
      assert(res.nonEmpty && res.forall { case (qq, v) => qq != v })
      assert(res.groupBy(_._1).forall(_._2.size <= 5))
      val ann = res.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      np -> brute.map { case (qid, bf) => (ann.getOrElse(qid, Set.empty) & bf).size }.sum
        .toDouble / brute.values.map(_.size).sum
    }
    info(recalls.map { case (np, r) => f"nprobe=$np recall@5=$r%.3f" }.mkString("KMeans-IVF: ", ", ", " (16 cells)"))
    val byNp = recalls.toMap
    assert(byNp(4) >= byNp(1), "more probes must not lose recall")
    assert(byNp(2) >= 0.1, f"trained-quantizer recall collapsed: ${byNp(2)}%.3f")
    e.unpersist()
  }

  test("fingerprint is order-sensitive") {
    import spark.implicits._
    val fps = Seq("a b c", "c b a").toDF("text")
      .select(TextOps.fingerprint(TextOps.words(col("text"))).as("fp"))
      .collect().map(_.getLong(0))
    assert(fps(0) != fps(1))
  }

  test("dead-letter parse splits malformed JSON without losing rows (Beam with_exception_handling)") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("k", LongType)))
    // real fixture payloads plus injected garbage
    val good = Tables.events(spark, sf("sf0.001")).select(col("event_id"), col("props")).limit(50)
    val bad = Seq((9001L, "{not json"), (9002L, ""), (9003L, "[1,2")).toDF("event_id", "props")
    val input = good.union(bad)
    val (parsed, dead) = graft.functions.Errors.parseJsonWithDeadLetter(input, "props", schema)
    assert(parsed.count() == 50)
    assert(parsed.filter(col("k").isNull).count() == 0)
    val deadIds = dead.collect().map(_.getLong(0)).sorted.toSeq
    assert(deadIds == Seq(9001L, 9002L, 9003L)) // raw payload preserved for replay
    assert(dead.columns.toSeq == Seq("event_id", "props"))
    // reserved-name guard: a schema already declaring __corrupt would
    // silently misroute rows — must fail loudly instead
    val clash = StructType(Seq(StructField("k", LongType), StructField("__corrupt", StringType)))
    val err = intercept[IllegalArgumentException] {
      graft.functions.Errors.parseJsonWithDeadLetter(input, "props", clash)
    }
    assert(err.getMessage.contains("__corrupt"))
  }

  test("HLL sketches merge across groups to the global estimate (mergeable approx-distinct)") {
    // the 100 TB shape of ApproximateUnique: per-partition/per-group
    // sketches (here: per language) are tiny mergeable buffers; the
    // union of the group sketches must estimate the GLOBAL cardinality,
    // not the sum of per-group ones — that is what makes the sketch
    // re-aggregable across arbitrary repartitionings
    val words = graft.Tables.documents(spark, sf("sf0.01"))
      .select(col("lang"), explode(split(col("text"), " ")).as("word"))
    val perLang = words.groupBy(col("lang"))
      .agg(hll_sketch_agg(col("word")).as("sk"))
    val merged = perLang
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .head().getLong(0)
    val exact = words.select("word").distinct().count()
    assert(math.abs(merged - exact).toDouble / exact < 0.05,
      s"merged HLL estimate $merged vs exact $exact")
  }

  test("custom operators tolerate empty inputs (the production corner case)") {
    import spark.implicits._
    val emptyKv = spark.emptyDataset[(Long, Long)]
    assert(graft.functions.Batching.groupIntoBatchSizes(emptyKv, 10).count() == 0)
    val emptyEdges = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(graft.functions.Graph.connectedComponents(emptyEdges).count() == 0)
    val emptyDocs = Seq.empty[(String, Long, Long)].toDF("source", "doc_id", "n_tokens")
    assert(graft.functions.Packing.packBySource(emptyDocs, 256L).count() == 0)
    val emptyKeyed = Seq.empty[(String, Double)].toDF("k", "v")
    assert(graft.functions.Skew.saltedAgg(emptyKeyed, Seq("k"), 8,
      Seq(graft.functions.Skew.sumOf(col("v"), "s"))).count() == 0)
    val someDim = Seq(("a", 1L)).toDF("k", "d")
    assert(graft.functions.Skew.saltedJoin(emptyKeyed, someDim, Seq("k"), 8).count() == 0)
    assert(graft.functions.Skew.saltedJoin(someDim, emptyKeyed.select(col("k")), Seq("k"), 8,
      "left").count() == 1)
    val emptyLeft = Seq.empty[(Long, Long, Long)].toDF("k", "id", "t")
    val someRight = Seq((1L, 5L, 900L)).toDF("k", "t", "p")
    assert(graft.plans.AsOfJoin.joinAsOf(emptyLeft, someRight, "k", "t", Seq("p")).count() == 0)
    // non-empty left, empty right: every row survives with a null payload
    val someLeft = Seq((1L, 10L, 6L)).toDF("k", "id", "t")
    val emptyRight = Seq.empty[(Long, Long, Long)].toDF("k", "t", "p")
    val r = graft.plans.AsOfJoin.joinAsOf(someLeft, emptyRight, "k", "t", Seq("p")).collect()
    assert(r.length == 1 && r.head.isNullAt(3))
  }

  test("withDeadLetter routes on any null-on-failure expression") {
    import spark.implicits._
    val df = Seq("12", "7", "x", "").toDF("raw")
    val (ok, dead) = graft.functions.Errors.withDeadLetter(
      df, expr("try_cast(raw AS BIGINT)"), "n")
    assert(ok.select("n").collect().map(_.getLong(0)).sorted.toSeq == Seq(7L, 12L))
    assert(dead.collect().map(_.getString(0)).sorted.toSeq == Seq("", "x"))
  }

  test("PQ: codebook members encode to their own code in every subspace") {
    val enc = SparkEntry.queries("q118_pq_encode")(spark, sf("sf0.001"))
      .filter(col("vec_id") < 16).collect()
    assert(enc.length == 16)
    enc.foreach { r =>
      val id = r.getLong(0)
      val expect = Seq.fill(8)(id).mkString(",")
      assert(r.getString(1) == expect,
        s"codebook vector $id encoded to ${r.getString(1)}, not itself")
    }
  }

  test("PQ ADC recalls exact-L2 top-k; per-subspace KMeans training lifts it") {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    import org.apache.spark.sql.expressions.Window
    val d = sf("sf0.01")
    // Jégou et al.'s recall@R: fraction of queries whose TRUE nearest
    // neighbor appears in the first R ADC results. (Plain top-k overlap
    // is noise-dominated here: the fixture embeddings are isotropic
    // Gaussian, so exact neighbor distances concentrate and 32x-lossy
    // codes cannot rank within the bulk — the paper's metric asks the
    // right question: does ADC SHORTLIST the true neighbor?)
    val nq = 20; val shortlist = 50
    val e = Tables.embeddings(spark, d)
      .select(col("vec_id"), VectorOps.toD(col("embedding")).as("v"))
      .persist()
    val q = e.filter(col("vec_id") < nq)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("dist"), col("vec_id"))
    val trueNn: Map[Long, Long] = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), VectorOps.l2sq(col("qv"), col("v")).as("dist"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def recallAtR(cb: IndexedSeq[IndexedSeq[Double]]): Double = {
      val adc = graft.queries.LlmQueries.pqAdc(e, cb, nQueries = nq, k = shortlist)
        .collect().map(r => r.getLong(0) -> r.getLong(2))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      trueNn.count { case (qid, nn) => adc.getOrElse(qid, Set.empty).contains(nn) }
        .toDouble / trueNn.size
    }
    def recall = recallAtR _
    // q118/q119's oracle-reproducible first-16-vectors stand-in ...
    val untrained = e.filter(col("vec_id") < 16).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toIndexedSeq))
      .sortBy(_._1).map(_._2).toIndexedSeq
    // ... vs the production path: per-subspace KMeans codebooks,
    // reassembled into 16 full vectors whose subspace-j slice is
    // centroid (j, k) — the train-then-embed-as-literals flow
    val subCents: IndexedSeq[IndexedSeq[IndexedSeq[Double]]] =
      (0 until 8).map { j =>
        val km = new KMeans().setK(16).setSeed(7L + j).setMaxIter(5)
          .fit(e.select(array_to_vector(slice(col("v"), j * 8 + 1, 8)).as("features")))
        km.clusterCenters.map(_.toArray.toIndexedSeq: IndexedSeq[Double]).toIndexedSeq
      }
    val trained = (0 until 16).map(c => (0 until 8).flatMap(j => subCents(j)(c)))
    val (ru, rt) = (recall(untrained), recall(trained))
    info(f"PQ ADC true-NN recall@$shortlist untrained=$ru%.3f trained=$rt%.3f "
      + f"(16 codes x 8 subspaces, shortlist = ${shortlist * 100 / 5000}%% of corpus)")
    assert(ru >= 0.4, f"untrained ADC shortlist recall collapsed: $ru%.3f")
    assert(rt >= 0.6, f"trained ADC shortlist recall collapsed: $rt%.3f")
    assert(rt >= ru, "codebook training must not lose shortlist recall")
    e.unpersist()
  }

  test("q124 IVFADC: candidates only from probed cells; recall is bounded by and tracks the probe ceiling") {
    import org.apache.spark.sql.expressions.Window
    val d = sf("sf0.01")
    val nq = 20; val shortlist = 50; val nprobe = 2
    val e = Tables.embeddings(spark, d)
      .select(col("vec_id"), VectorOps.toD(col("embedding")).as("v"))
      .persist()
    val cents = e.filter(col("vec_id") < 8).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toIndexedSeq))
      .sortBy(_._1).toIndexedSeq
    val cb = e.filter(col("vec_id") < 16).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toIndexedSeq))
      .sortBy(_._1).map(_._2).toIndexedSeq
    // reference cell ranking via the HOF twin (index-free: ties by cid)
    val ranked = e
      .withColumn("vv", VectorOps.dot(col("v"), col("v")))
      .withColumn("cells", VectorOps.nearestCells(col("v"), col("vv"), cents))
      .select(col("vec_id"), expr("transform(cells, c -> c.cid)").as("cids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toIndexedSeq).toMap
    val cellOf = ranked.view.mapValues(_.head).toMap
    val probed = (0L until nq).map(q => q -> ranked(q).take(nprobe).toSet).toMap
    val res = graft.queries.LlmQueries.ivfPqSearch(e, cents, cb, nprobe, shortlist, nq)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    res.foreach { case (q, cand) =>
      assert(probed(q).contains(cellOf(cand)),
        s"candidate $cand of query $q sits in cell ${cellOf(cand)}, probed ${probed(q)}")
    }
    val shortlists = res.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val wNn = Window.partitionBy(col("q_id")).orderBy(col("dist"), col("vec_id"))
    val q = e.filter(col("vec_id") < nq).select(col("vec_id").as("q_id"), col("v").as("qv"))
    val trueNn = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), VectorOps.l2sq(col("qv"), col("v")).as("dist"))
      .withColumn("rn", row_number().over(wNn)).filter(col("rn") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the probe ceiling: queries whose true NN sits in a probed cell at
    // all — IVF recall can never exceed it, and ADC should shortlist
    // most of what the probe reaches
    val reachable = trueNn.count { case (qid, nn) => probed(qid).contains(cellOf(nn)) }
    val hit = trueNn.count { case (qid, nn) => shortlists.getOrElse(qid, Set.empty).contains(nn) }
    info(f"IVFADC true-NN recall@$shortlist: $hit/$nq, probe ceiling $reachable/$nq")
    assert(hit <= reachable, "recalled a neighbor outside the probed cells")
    assert(reachable > 0, "probe ceiling degenerate: no query can reach its NN")
    assert(hit * 2 >= reachable, s"ADC shortlists under half the probe ceiling ($hit/$reachable)")
    e.unpersist()
  }

  test("pqEncode accepts an arbitrary (trained) codebook") {
    val e = Tables.embeddings(spark, sf("sf0.001"))
      .select(col("vec_id"), VectorOps.toD(col("embedding")).as("v"))
    // 2-entry codebook: near-zero fixture vectors must all pick entry 0
    val cb = IndexedSeq(IndexedSeq.fill(64)(0.0), IndexedSeq.fill(64)(5.0))
    val codes = graft.queries.LlmQueries.pqEncode(e, cb).select(col("codes")).collect()
    assert(codes.nonEmpty)
    assert(codes.forall(_.getSeq[Int](0) == Seq.fill(8)(0)),
      "a vector quantized away from the nearest codebook entry")
  }
}
