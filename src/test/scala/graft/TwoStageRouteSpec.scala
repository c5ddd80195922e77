package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.{Retrieval, VectorOps}
import graft.streaming.Streaming

/** The two-stage route operator ([[graft.plans.TwoStageRoute]]): its
  * rows equal, row for row, the DataFrame route it replaced (a
  * broadcast-joined stage-1 key cut by `heapTopK`, the shortlist scored
  * by `scoreById`, cut again by `heapTopK` with the key carried), and a
  * repeat request runs two Spark jobs. */
class TwoStageRouteSpec extends SparkSpec {
  import spark.implicits._

  /** The DataFrame route, as the engine planned it before the operator. */
  private def dataFrameRoute(index: DataFrame, qKeys: DataFrame, key: Column, base: DataFrame,
                             qVecs: DataFrame, shortlist: Int, k: Int,
                             excludeSelf: Boolean): DataFrame = {
    val cand = index.join(broadcast(qKeys),
        if (excludeSelf) col("vec_id") =!= col("q_id") else lit(true))
      .select(col("q_id"), col("vec_id"), key.as("key"))
    val short = Retrieval.heapTopK(cand, col("key"), shortlist)
      .select(col("q_id"), col("vec_id"), col("hk").as("key"))
    Retrieval.heapTopK(Retrieval.scoreById(base, qVecs)(short), -col("sim"), k, Seq("key"))
      .select(col("q_id"), col("rn"), col("vec_id"), col("key"), (-col("hk")).as("sim_q"))
  }

  private val hamming: Column =
    (bit_count(col("lo").bitwiseXOR(col("qlo"))) +
     bit_count(col("hi").bitwiseXOR(col("qhi")))).cast("long")

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(r => (r.getLong(0), r.getAs[Number]("rn").longValue))

  private def assertSame(index: DataFrame, qKeys: DataFrame, key: Column, base: DataFrame,
                         qVecs: DataFrame, shortlist: Int, k: Int, excludeSelf: Boolean,
                         what: String): Seq[Row] = {
    val want = rows(dataFrameRoute(index, qKeys, key, base, qVecs, shortlist, k, excludeSelf))
    val got = rows(Retrieval.twoStageRoute(index, qKeys, key, base, qVecs, shortlist, k, excludeSelf))
    assert(got == want, s"$what: the operator diverged from the DataFrame route\n" +
      s"operator:  ${got.mkString(" ")}\nDataFrame: ${want.mkString(" ")}")
    got
  }

  private def signed(df: DataFrame): DataFrame =
    df.select(col("q_id"), col("qv"), VectorOps.signWord(col("qv"), 0).as("qlo"),
      VectorOps.signWord(col("qv"), 32).as("qhi"))

  private def fixture = sf("sf0.001")
  private lazy val base = Tables.embeddings(spark, fixture)
    .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))

  test("two-stage route equals the DataFrame route on the fixture, with and without excludeSelf") {
    val idx = spark.read.parquet(graft.queries.Round10Queries.annIndex(spark, fixture))
    val q = base.filter(col("vec_id") < 8).select(col("vec_id").as("q_id"), col("v").as("qv"))
    val qs = signed(q)
    for (excludeSelf <- Seq(true, false)) {
      val got = assertSame(idx.select(col("vec_id"), col("lo"), col("hi")), qs, hamming,
        base, q, 32, 5, excludeSelf, s"Hamming, excludeSelf=$excludeSelf")
      assert(got.size == 40, s"8 queries × top-5, got ${got.size}")
      // q162's key: the negated prefix cosine
      assertSame(idx.select(col("vec_id"), col("prefix")),
        idx.filter(col("vec_id") < 8).select(col("vec_id").as("q_id"), col("prefix").as("qp")),
        -VectorOps.cosineQNative(col("qp"), col("prefix")), base, q, 32, 5, excludeSelf,
        s"prefix cosine, excludeSelf=$excludeSelf")
    }
  }

  test("two-stage route equals the DataFrame route on ties, shared ids, nulls and empty sides") {
    // five distinct directions over 40 ids: many equal sign words (ties
    // in ham) and equal vectors under different ids (ties in sim)
    val dirs = (0 until 5).map(d => (0 until 64).map(i => math.sin(i * (d + 1) + d)))
    val vs: Seq[(Long, Option[Seq[Double]])] =
      (0L until 40L).map(id => id -> Some(dirs((id % 5).toInt).map(_ * (1 + id % 3)))) ++
        Seq(40L -> None)                       // a null vector row in base
    val baseDf = vs.toDF("vec_id", "v").repartition(3)
    val sig = signed(baseDf.withColumnRenamed("vec_id", "q_id").withColumnRenamed("v", "qv"))
      .select(col("q_id").as("vec_id"), col("qlo").as("lo"), col("qhi").as("hi"))
    val idx = sig.union(Seq[(Option[Long], Option[Long], Option[Long])](
        (Some(41L), None, None),               // a null sign word row
        (None, None, None),                    // a null id, ranked first by its null key
        (Some(50L), Some(0L), Some(0L)))       // an index id absent from base
      .toDF("vec_id", "lo", "hi")).repartition(4)
    val q = Seq[(Long, Option[Seq[Double]])](
        (0L, Some(dirs(0))), (1L, Some(dirs(1).map(-_))), (7L, Some(dirs(2))),
        (90L, Some(dirs(0))),                  // shares its shortlist with q_id 0
        (91L, None))                           // a null query vector
      .toDF("q_id", "qv")
    val qs = signed(q)
    for (excludeSelf <- Seq(true, false); (sl, k) <- Seq((3, 3), (8, 3), (64, 10))) {
      val what = s"shortlist=$sl k=$k excludeSelf=$excludeSelf"
      val got = assertSame(idx, qs, hamming, baseDf, q, sl, k, excludeSelf, what)
      assert(got.map(_.getLong(0)).distinct.size == 5, s"$what: every query answers")
    }
    // one id shortlisted by several queries: 0 and 90 have one query vector
    val shared = rows(Retrieval.hammingRoute(idx, qs, baseDf, q, 8, 3, excludeSelf = false))
    assert(shared.filter(_.getLong(0) == 0L).map(_.getLong(2)) ==
      shared.filter(_.getLong(0) == 90L).map(_.getLong(2)))
    // an empty query set and an empty index
    val none = assertSame(idx, qs.limit(0), hamming, baseDf, q, 8, 3, excludeSelf = true, "no queries")
    val empty = assertSame(idx.limit(0), qs, hamming, baseDf, q, 8, 3, excludeSelf = true, "empty index")
    assert(none.isEmpty && empty.isEmpty)
  }

  test("two-stage route requires a unique q_id") {
    val q = Seq((1L, Seq.fill(64)(1.0)), (1L, Seq.fill(64)(-1.0))).toDF("q_id", "qv")
    val idx = Seq((5L, 1L, 1L)).toDF("vec_id", "lo", "hi")
    val e = intercept[Exception](Retrieval.hammingRoute(idx, signed(q), base, q, 8, 3).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("q_id must be unique"))), e)
  }

  test("a repeat Hamming request runs two Spark jobs; q163 broadcasts nothing") {
    val idx = spark.read.parquet(graft.queries.Round10Queries.annIndex(spark, fixture))
      .select(col("vec_id"), col("lo"), col("hi")).persist()
    val served = base.localCheckpoint(true)
    val q = base.filter(col("vec_id") < 8).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq.toDF("q_id", "qv")
    def probe(): Array[Row] = Streaming.annProbe(idx, served, q, 32, 10, excludeSelf = false).collect()
    val first = probe()
    val jobs = jobsOf(assert(probe().toSeq == first.toSeq))
    assert(jobs <= 3, s"a repeat request over a persisted index must run at most 3 jobs, ran $jobs")
    assert(jobs == 2, s"a repeat request runs the index scan and the rerank, ran $jobs jobs")
    idx.unpersist()
    // q163's executed plan, through AQE's query stages
    val df = SparkEntry.queries("q163_hamming_ann")(spark, fixture)
    df.collect()
    val aqe = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val plan = df.queryExecution.executedPlan
    assert(aqe.collect(plan) { case r: graft.plans.TwoStageRouteExec => r }.size == 1, plan)
    assert(aqe.collect(plan) {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b }.isEmpty,
      s"q163 must not broadcast:\n$plan")
    assert(aqe.collect(plan) {
      case x: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if x.outputPartitioning.toString.contains("vec_id") => x }.isEmpty,
      s"q163 must not exchange on vec_id:\n$plan")
  }
}
