package graft

import org.apache.spark.sql.functions._
import graft.queries.Round10Queries

/** Round-10 operator specs: ORC round-trip fidelity, sign-bit
  * signature correctness, retrieval-quality floors for the new ANN
  * shapes (measured against exact brute-force on the fixtures), and
  * MaxSim scoring properties. */
class Round10Spec extends SparkSpec {

  private def dir = sf("sf0.001")

  /** Collected (vec_id, 64-dim double vector) corpus for local exact
    * reference math — driver-side is fine in a SPEC (it plays the
    * oracle's role); the engine path under test never collects. */
  private lazy val vecs: Map[Long, Array[Double]] = {
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
  }

  private def dot(a: Array[Double], b: Array[Double], off: Int = 0, n: Int = 64): Double = {
    var s = 0.0; var i = 0
    while (i < n) { s += a(off + i) * b(off + i); i += 1 }
    s
  }
  private def cosBp(a: Array[Double], b: Array[Double]): Long =
    math.floor(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))) * 10000).toLong

  /** Exact full-dim top-k ids per query, same (simBp desc, vec_id asc)
    * order as the engine queries. */
  private def exactTopK(qIds: Seq[Long], k: Int): Map[Long, Seq[Long]] =
    qIds.map { q =>
      val qv = vecs(q)
      q -> vecs.toSeq.filter(_._1 != q)
        .map { case (id, v) => (cosBp(qv, v), id) }
        .sortBy { case (s, id) => (-s, id) }.take(k).map(_._2)
    }.toMap

  // --- ORC ---------------------------------------------------------------

  test("ORC round-trips nulls, arrays, binary and timestamps losslessly") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_orc_rt").toString
    val df = Seq(
      (1L, Option("a\"quote\\slash"), Seq(1.5f, -2.0f), Option(Array[Byte](0, 1, -128)), Option(java.sql.Timestamp.valueOf("2024-02-29 23:59:59.123456"))),
      (2L, None, Seq.empty[Float], None, None),
      (3L, Option("unicode é中文"), Seq(0.0f), Option(Array.empty[Byte]), Option(java.sql.Timestamp.valueOf("1960-06-01 12:00:00.123456")))
    ).toDF("id", "s", "arr", "bin", "ts")
    df.write.mode("overwrite").orc(s"$tmp/t")
    val back = spark.read.orc(s"$tmp/t").orderBy("id")
    val a = df.orderBy("id").collect()
    val b = back.collect()
    assert(a.length == b.length)
    a.zip(b).foreach { case (x, y) =>
      assert(x.getLong(0) == y.getLong(0))
      assert(Option(x.get(1)) == Option(y.get(1)))
      assert(x.getSeq[Float](2) == y.getSeq[Float](2))
      assert(Option(x.get(3)).map(_.asInstanceOf[Array[Byte]].toSeq) ==
        Option(y.get(3)).map(_.asInstanceOf[Array[Byte]].toSeq))
      assert(Option(x.get(4)) == Option(y.get(4)))
    }
  }

  test("KNOWN ORC LIMITATION: timestamps inside (-1s, 0) of the epoch read back +1s") {
    // Found while building q161: Spark's ORC path mis-rounds the
    // seconds/nanos split for timestamps in the ONE-SECOND window just
    // before the epoch (truncating division yields seconds=0 where
    // floor division would yield -1; the nanos stay, so the value
    // shifts +1s). Deeper pre-epoch values (…58.25, 1960-06-01) and
    // everything post-epoch round-trip exactly — verified here. This
    // pins the CURRENT behavior so an ORC/Spark upgrade that fixes it
    // flips this test and the doc gets updated; the engine's own
    // fixtures are all post-epoch, so q161's fidelity checksums are
    // unaffected. Parquet and Avro round-trip this window correctly
    // (IoSpec); use those formats for data that can carry 1969-12-31
    // 23:59:59.xxx timestamps.
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_orc_win").toString
    val bad = java.sql.Timestamp.valueOf("1969-12-31 23:59:59.5")
    val okDeep = java.sql.Timestamp.valueOf("1969-12-31 23:59:58.25")
    Seq((1L, bad), (2L, okDeep)).toDF("id", "ts").write.mode("overwrite").orc(s"$tmp/t")
    val back = spark.read.orc(s"$tmp/t").orderBy("id").collect()
    assert(back(1).getTimestamp(1) == okDeep, "deeper pre-epoch values must round-trip")
    assert(back(0).getTimestamp(1) == java.sql.Timestamp.valueOf("1970-01-01 00:00:00.5"),
      s"the (-1s,0) window read ${back(0).getTimestamp(1)} — if this now round-trips, " +
        "the ORC bug is fixed: update this pin and the q161 scaladoc")
  }

  test("q161 ORC read prunes to the projected columns") {
    // build (or reuse) the scratch layout, then check the ORC scan's
    // ReadSchema excludes the skip-read column (event_id)
    val df = Round10Queries.q161(spark, dir)
    val scan = df.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("FileScan orc")).mkString
    assert(scan.nonEmpty, "expected an ORC FileScan in the plan")
    assert(!scan.contains("event_id"), s"event_id must be pruned from the ORC scan: $scan")
  }

  // --- q163 sign-bit signatures -------------------------------------------

  test("sign-word packing matches a per-bit reference on every fixture vector") {
    val got = Tables.embeddings(spark, dir)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .select(col("vec_id"),
        aggregate(slice(col("v"), 1, 32), lit(0L),
          (acc, x) => acc * 2 + when(x > 0.0, lit(1L)).otherwise(lit(0L))).as("lo"),
        aggregate(slice(col("v"), 33, 32), lit(0L),
          (acc, x) => acc * 2 + when(x > 0.0, lit(1L)).otherwise(lit(0L))).as("hi"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    got.foreach { case (id, lo, hi) =>
      val v = vecs(id)
      def word(off: Int): Long =
        (0 until 32).foldLeft(0L)((acc, i) => acc * 2 + (if (v(off + i) > 0.0) 1L else 0L))
      assert(lo == word(0), s"lo mismatch for vec $id")
      assert(hi == word(32), s"hi mismatch for vec $id")
    }
  }

  // --- retrieval quality: measured recall floors ---------------------------

  /** recall@5 of the two-stage retrievers against exact brute force.
    * Floors are measured on the sf0.001 fixture and set with margin —
    * they pin "the shortlist mechanism works", not a tuned index. The
    * fixture embeddings are iid random, the hostile case for both
    * signatures (no cluster structure to exploit): measured recall@5
    * is 0.600 for the 64-bit Hamming shortlist and 0.425 for the
    * 16-of-64-dim prefix (prefix cosine on iid dims is a genuinely
    * weak scorer; real MRL-trained embeddings concentrate information
    * in the prefix by construction). The queries exist to pin the
    * two-stage MECHANISM and its exact rerank. */
  test("q163 Hamming shortlist + exact rerank reaches recall@5 >= 0.5") {
    val res = SparkEntry.queries("q163_hamming_ann")(spark, dir)
      .select("q_id", "vec_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val exact = exactTopK(res.keys.toSeq, 5)
    val recall = res.map { case (q, got) => exact(q).count(got) / 5.0 }.sum / res.size
    info(f"q163 recall@5 = $recall%.3f")
    assert(recall >= 0.5, f"hamming recall@5 $recall%.3f below floor")
  }

  test("q162 prefix shortlist + exact rerank reaches recall@5 >= 0.25 (iid fixture)") {
    val res = SparkEntry.queries("q162_mrl_ann")(spark, dir)
      .select("q_id", "vec_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val exact = exactTopK(res.keys.toSeq, 5)
    val recall = res.map { case (q, got) => exact(q).count(got) / 5.0 }.sum / res.size
    info(f"q162 recall@5 = $recall%.3f")
    assert(recall >= 0.25, f"mrl recall@5 $recall%.3f below floor")
  }

  test("q162/q163 rerank scores are the exact full-dim cosine") {
    // every returned sim_q must equal the local exact basis-point cosine
    Seq("q162_mrl_ann", "q163_hamming_ann").foreach { name =>
      SparkEntry.queries(name)(spark, dir)
        .select("q_id", "vec_id", "sim_q").collect().foreach { r =>
          val expect = cosBp(vecs(r.getLong(0)), vecs(r.getLong(1)))
          assert(r.getLong(2) == expect, s"$name sim_q drift for ${r.getLong(0)}->${r.getLong(1)}")
        }
    }
  }

  // --- q165 hard negatives -------------------------------------------------

  test("q165 returns only cross-label pairs and exactly the brute-force hard negatives") {
    val labels = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val out = SparkEntry.queries("q165_hard_negatives")(spark, dir)
      .select("q_id", "rn", "vec_id", "sim_q").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(labels(r.getLong(0)) != labels(r.getLong(2)),
        s"positive (same-label) pair leaked into hard negatives: ${r.getLong(0)}->${r.getLong(2)}")
      assert(r.getLong(3) == cosBp(vecs(r.getLong(0)), vecs(r.getLong(2))))
    }
    // exact-set check vs local brute force over cross-label candidates
    val byQ = out.groupBy(_.getLong(0))
    byQ.foreach { case (q, rows) =>
      val expect = vecs.toSeq
        .filter { case (id, _) => id != q && labels(id) != labels(q) }
        .map { case (id, v) => (cosBp(vecs(q), v), id) }
        .sortBy { case (s, id) => (-s, id) }.take(5).map(_._2)
      assert(rows.sortBy(_.getAs[Number]("rn").longValue()).map(_.getLong(2)).toSeq == expect,
        s"q165 top-5 for query $q diverges from brute force")
    }
  }

  // --- q167 filtered ANN -----------------------------------------------------

  test("q167 returns only label-3 vectors and exactly the local two-stage reference top-5") {
    val labels = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val out = SparkEntry.queries("q167_filtered_ann")(spark, dir)
      .select("q_id", "rn", "vec_id", "sim_q").collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(labels(r.getLong(2)) == 3,
      s"non-label-3 vector ${r.getLong(2)} leaked through the filter"))
    out.foreach(r => assert(r.getLong(3) == cosBp(vecs(r.getLong(0)), vecs(r.getLong(2)))))
    // exact-set check vs a LOCAL two-stage reference (the q165 pattern):
    // Hamming-shortlist 32 among label-3 vectors by (ham, vec_id), then
    // exact-cosine top-5 by (sim desc, vec_id) — the engine's own
    // algorithm recomputed driver-side, so shortlist truncation effects
    // are reproduced rather than assumed away (the exact brute-force
    // top-5 is NOT guaranteed to survive a 32-candidate shortlist).
    def signWord(v: Array[Double], off: Int): Long = {
      var acc = 0L; var i = 0
      while (i < 32) { acc = acc * 2 + (if (v(off + i) > 0.0) 1L else 0L); i += 1 }
      acc
    }
    def ham(a: Array[Double], b: Array[Double]): Long =
      java.lang.Long.bitCount(signWord(a, 0) ^ signWord(b, 0)).toLong +
        java.lang.Long.bitCount(signWord(a, 32) ^ signWord(b, 32)).toLong
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.keySet == vecs.keySet.filter(_ < 8),
      "every query id < 8 must produce rows")
    byQ.foreach { case (q, rows) =>
      val qv = vecs(q)
      val shortlist = vecs.toSeq
        .filter { case (id, _) => id != q && labels(id) == 3 }
        .map { case (id, v) => (ham(qv, v), id) }
        .sortBy(identity).take(32).map(_._2)
      val expect = shortlist.map(id => (cosBp(qv, vecs(id)), id))
        .sortBy { case (s, id) => (-s, id) }.take(5).map(_._2)
      assert(rows.sortBy(_.getAs[Number]("rn").longValue()).map(_.getLong(2)).toSeq == expect,
        s"q167 top-5 for query $q diverges from the two-stage reference")
    }
  }

  // --- q166 RRF fusion -------------------------------------------------------

  test("q166 fused scores equal RRF recomputed from the two retrievers' lists") {
    // integer division = floor here (all positive), matching both engines
    def ranksL(name: String): Map[(Long, Long), Long] =
      SparkEntry.queries(name)(spark, dir)
        .select("q_id", "vec_id", "rn").collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (1000000L / (60L + r.getAs[Number]("rn").longValue()))).toMap
    val a = ranksL("q162_mrl_ann"); val b = ranksL("q163_hamming_ann")
    val out = SparkEntry.queries("q166_rrf_fusion")(spark, dir)
      .select("q_id", "vec_id", "rrf").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      assert(r.getLong(2) == a.getOrElse(k, 0L) + b.getOrElse(k, 0L),
        s"rrf drift for $k")
    }
  }

  // --- Retrieval.heapTopK ----------------------------------------------------

  test("heapTopK with tied scores and carried columns equals the Window ranking row for row") {
    // 3 queries × 600 candidates over 4 partitions, in permuted vec_id
    // order; 7 distinct scores, so every cut falls inside a tie that only
    // vec_id breaks
    val cand = spark.range(0, 1800, 1, 4).select(
      (col("id") % 3).as("q_id"), (col("id") * 7919 % 1800).as("vec_id"),
      (col("id") * 31 % 7).as("score"), (col("id") % 5).cast("int").as("label"),
      concat(lit("t"), col("id").cast("string")).as("tag"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))
    val want = cand.withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      .select("q_id", "rn", "vec_id", "label", "tag", "score")
      .orderBy("q_id", "rn").collect().toSeq
    val got = graft.functions.Retrieval.heapTopK(cand, -col("score"), 10, Seq("label", "tag"))
      .select(col("q_id"), col("rn"), col("vec_id"), col("label"), col("tag"),
        (-col("hk")).as("score"))
      .orderBy("q_id", "rn").collect().toSeq
    assert(want.size == 30)
    assert(got == want)
  }

  // --- q164 MaxSim properties ----------------------------------------------

  test("maxsim self-score is 8 sub-vectors at ~1.0 cosine; pair scores match a local reference") {
    def ref(a: Array[Double], b: Array[Double]): Long =
      (0 until 8).map { i =>
        (0 until 8).map { j =>
          val n = (0 until 8).map(t => a(i * 8 + t) * b(j * 8 + t)).foldLeft(0.0)(_ + _)
          val na = (0 until 8).map(t => a(i * 8 + t) * a(i * 8 + t)).foldLeft(0.0)(_ + _)
          val nb = (0 until 8).map(t => b(j * 8 + t) * b(j * 8 + t)).foldLeft(0.0)(_ + _)
          math.floor(n / (math.sqrt(na) * math.sqrt(nb)) * 10000).toLong
        }.max
      }.sum
    val out = SparkEntry.queries("q164_maxsim")(spark, dir)
      .select("q_id", "vec_id", "score").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val expect = ref(vecs(r.getLong(0)), vecs(r.getLong(1)))
      assert(r.getLong(2) == expect,
        s"maxsim drift ${r.getLong(0)}->${r.getLong(1)}: got ${r.getLong(2)}, want $expect")
      assert(r.getLong(2) <= 80000L)
    }
    // self-score: max_j includes j=i with cosine 1.0 (up to a sqrt ulp)
    val someV = vecs.valuesIterator.next()
    assert(ref(someV, someV) >= 8 * 9999L)
  }
}
