package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{BooleanType, IntegerType}
import graft.expressions.{BloomFilterAgg, BloomMightContain, CdcStarts, CdcWordChunks, CosineSimilarity, CountMinSketchAgg, Digest60, Digests60, MinHashSigs, NearestCells, SetKeyMd5, Shingles2, Shingles3, Simhash16, WordFingerprint, ZorderKey}
import graft.plans.{AsOfJoinStrategy, GraphWalkStrategy, RangeJoinStrategy, TwoStageRouteStrategy}

/** The engine's installer: `ensure(spark)` registers graft's native
  * Catalyst expressions and its four planner strategies on a session.
  *
  * It is called where a session enters the engine — `SparkEntry.entry`
  * and every `SparkEntry.queries` function, the test suite's shared
  * session, the benchmark harness — never by a query or an operator.
  * A streaming micro-batch runs on a clone of the session its query
  * started on, and the clone copies both the function registry and
  * `experimental.extraStrategies`.
  */
object GraftFunctions {

  private val all = Seq(
    (new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[Expression]) => CosineSimilarity(children(0), children(1)): Expression),
    (new FunctionIdentifier("word_fingerprint"),
      new ExpressionInfo(classOf[WordFingerprint].getName, "word_fingerprint"),
      (children: Seq[Expression]) => WordFingerprint(children.head): Expression),
    (new FunctionIdentifier("minhash_sigs"),
      new ExpressionInfo(classOf[MinHashSigs].getName, "minhash_sigs"),
      (children: Seq[Expression]) => MinHashSigs(children.head): Expression),
    (new FunctionIdentifier("simhash16"),
      new ExpressionInfo(classOf[Simhash16].getName, "simhash16"),
      (children: Seq[Expression]) => Simhash16(children.head): Expression),
    (new FunctionIdentifier("shingles2"),
      new ExpressionInfo(classOf[Shingles2].getName, "shingles2"),
      (children: Seq[Expression]) => Shingles2(children.head): Expression),
    (new FunctionIdentifier("shingles3"),
      new ExpressionInfo(classOf[Shingles3].getName, "shingles3"),
      (children: Seq[Expression]) => Shingles3(children.head): Expression),
    (new FunctionIdentifier("digest60"),
      new ExpressionInfo(classOf[Digest60].getName, "digest60"),
      (children: Seq[Expression]) => Digest60(children.head): Expression),
    (new FunctionIdentifier("digests60"),
      new ExpressionInfo(classOf[Digests60].getName, "digests60"),
      (children: Seq[Expression]) => Digests60(children.head): Expression),
    (new FunctionIdentifier("setkey_md5"),
      new ExpressionInfo(classOf[SetKeyMd5].getName, "setkey_md5"),
      (children: Seq[Expression]) => SetKeyMd5(children.head): Expression),
    (new FunctionIdentifier("nearest_cells"),
      new ExpressionInfo(classOf[NearestCells].getName, "nearest_cells"),
      (children: Seq[Expression]) => (children match {
        case Seq(v, cents) => new NearestCells(v, cents)
        case Seq(v, cents, m) => NearestCells(v, cents, m)
        case _ => throw new IllegalArgumentException(
          "nearest_cells expects 2 or 3 arguments")
      }): Expression),
    (new FunctionIdentifier("cms_sketch"),
      new ExpressionInfo(classOf[CountMinSketchAgg].getName, "cms_sketch"),
      (children: Seq[Expression]) =>
        CountMinSketchAgg(children.head).toAggregateExpression(): Expression),
    (new FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(classOf[BloomFilterAgg].getName, "bloom_agg"),
      (children: Seq[Expression]) =>
        BloomFilterAgg(children.head).toAggregateExpression(): Expression),
    (new FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(classOf[BloomMightContain].getName, "bloom_might_contain"),
      (children: Seq[Expression]) => BloomMightContain(children(0), children(1)): Expression),
    (new FunctionIdentifier("zorder_key"),
      new ExpressionInfo(classOf[ZorderKey].getName, "zorder_key"),
      (children: Seq[Expression]) => ZorderKey(children(0), children(1)): Expression),
    (new FunctionIdentifier("int8_quant_stats"),
      new ExpressionInfo(classOf[graft.expressions.Int8QuantStats].getName, "int8_quant_stats"),
      (children: Seq[Expression]) => graft.expressions.Int8QuantStats(children.head): Expression),
    (new FunctionIdentifier("pq_adc_dist"),
      new ExpressionInfo(classOf[graft.expressions.PqAdcDist].getName, "pq_adc_dist"),
      (children: Seq[Expression]) => (children match {
        case Seq(qv, codes, cbl, Literal(d: Int, IntegerType)) if cbl.foldable =>
          graft.expressions.PqAdcDist(qv, codes, literalMatrix(cbl), d)
        case _ => throw new IllegalArgumentException(
          "pq_adc_dist expects (array<double>, array<int>, " +
          "array<array<double>> literal codebook, int literal ds)")
      }): Expression),
    (new FunctionIdentifier("cdc_word_chunks"),
      new ExpressionInfo(classOf[CdcWordChunks].getName, "cdc_word_chunks"),
      (children: Seq[Expression]) => (children match {
        case Seq(ws, Literal(m: Int, IntegerType)) =>
          CdcWordChunks(ws, m)
        case _ => throw new IllegalArgumentException(
          "cdc_word_chunks expects (array<string>, int literal mod)")
      }): Expression),
    (new FunctionIdentifier("cdc_starts"),
      new ExpressionInfo(classOf[CdcStarts].getName, "cdc_starts"),
      (children: Seq[Expression]) => (children match {
        case Seq(bin, Literal(w: Int, IntegerType), Literal(m: Int, IntegerType)) =>
          CdcStarts(bin, w, m)
        case _ => throw new IllegalArgumentException(
          "cdc_starts expects (binary, int literal window, int literal mod)")
      }): Expression),
    // Mergeable t-digest quantile sketch (TypedImperativeAggregate):
    // tdigest_quantiles(x, array(p…)[, delta]) → array<double>.
    // Probabilities (and the optional compression) must be literals —
    // they parameterize the aggregation buffer itself.
    (new FunctionIdentifier("tdigest_quantiles"),
      new ExpressionInfo(classOf[graft.expressions.TDigestAgg].getName, "tdigest_quantiles"),
      (children: Seq[Expression]) => (children match {
        case Seq(c, ps) if ps.foldable =>
          graft.expressions.TDigestAgg(c, literalDoubles(ps)).toAggregateExpression()
        case Seq(c, ps, Literal(d: Int, IntegerType)) if ps.foldable =>
          graft.expressions.TDigestAgg(c, literalDoubles(ps), d)
            .toAggregateExpression()
        case _ => throw new IllegalArgumentException(
          "tdigest_quantiles expects (numeric, array<double> literal[, int literal delta])")
      }): Expression),
    // Spark's own bounded-heap top-k collector (private in catalyst,
    // forwarded by GraftAggBridge): the algebraic form of per-group
    // ORDER BY + LIMIT k. Unlike the Window+row_number formulation it
    // needs NO sort on either side of the shuffle — each partial keeps
    // a size-k heap, the shuffle carries ≤ k rows per (partition, key).
    // collect_topk(x, k, reverse): reverse=false → k largest,
    // descending; reverse=true → k smallest, ascending. Works on any
    // orderable type incl. struct (lexicographic).
    (new FunctionIdentifier("maxsim_score"),
      new ExpressionInfo(classOf[graft.expressions.MaxSimScore].getName,
        "maxsim_score"),
      (children: Seq[Expression]) => (children match {
        case Seq(qv, v, Literal(m: Int, IntegerType), Literal(ds: Int, IntegerType)) =>
          graft.expressions.MaxSimScore(qv, v, m, ds)
        case _ => throw new IllegalArgumentException(
          "maxsim_score expects (array<double>, array<double>, int literal m, int literal ds)")
      }): Expression),
    (new FunctionIdentifier("collect_topk"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.GraftAggBridge.type].getName,
        "collect_topk"),
      (children: Seq[Expression]) => (children match {
        case Seq(c, Literal(k: Int, IntegerType), Literal(rev: Boolean, BooleanType)) =>
          org.apache.spark.sql.catalyst.expressions.aggregate.GraftAggBridge
            .collectTopK(c, k, rev)
            .toAggregateExpression()
        case _ => throw new IllegalArgumentException(
          "collect_topk expects (expr, int literal k, boolean literal reverse)")
      }): Expression),
    // collect_topk over DISTINCT values — the dedup folded into the
    // bounded buffer so a duplicated fanout is never exchanged (see
    // CollectTopKDistinct's scaladoc for the sf100 ENOSPC story)
    (new FunctionIdentifier("collect_topk_distinct"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopKDistinct].getName,
        "collect_topk_distinct"),
      (children: Seq[Expression]) => (children match {
        case Seq(c, Literal(k: Int, IntegerType), Literal(rev: Boolean, BooleanType)) =>
          org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopKDistinct(c, k, rev)
            .toAggregateExpression()
        case _ => throw new IllegalArgumentException(
          "collect_topk_distinct expects (expr, int literal k, boolean literal reverse)")
      }): Expression)
  )

  /** Foldable array<array<double>> literal → the codebook matrix. */
  private def literalMatrix(e: Expression): IndexedSeq[IndexedSeq[Double]] = {
    val arr = e.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val inner = e.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType.asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    require(inner == org.apache.spark.sql.types.DoubleType,
      s"pq_adc_dist codebook elements must be double, got $inner")
    (0 until arr.numElements()).map { c =>
      val row = arr.getArray(c)
      (0 until row.numElements()).map(row.getDouble).toIndexedSeq
    }.toIndexedSeq
  }

  // Element-wise so `array(0.5, 0.95)` (whose unsuffixed literals fold to
  // DECIMAL elements) works, not just array<double>; anything non-foldable
  // or non-numeric falls through to the usage IllegalArgumentException.
  private def literalDoubles(e: Expression): Seq[Double] = {
    val arr = e.eval(null) match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData => a
      case _ => throw new IllegalArgumentException(
        "tdigest_quantiles expects a foldable array of numeric probabilities")
    }
    val et = e.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    (0 until arr.numElements()).map { i =>
      arr.get(i, et) match {
        case d: org.apache.spark.sql.types.Decimal => d.toDouble
        case n: Number => n.doubleValue()
        case other => throw new IllegalArgumentException(
          s"tdigest_quantiles: probability element must be numeric, got $other")
      }
    }
  }

  /** Install the engine on `spark`; each function and strategy is
    * registered at most once per session. */
  def ensure(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    all.foreach { f =>
      if (!reg.functionExists(f._1)) reg.registerFunction(f._1, f._2, f._3)
    }
    val x = spark.experimental
    x.synchronized {
      x.extraStrategies ++= Seq(AsOfJoinStrategy, RangeJoinStrategy, GraphWalkStrategy, TwoStageRouteStrategy)
        .filterNot(x.extraStrategies.contains)
    }
  }
}
