package graft

import org.apache.spark.sql.functions._

/** Tolerance contract for the t-digest quantile sketch
  * (expressions/TDigestAgg): estimates must land within 1 % RANK error
  * of the exact distribution — the meaningful bound for a rank-space
  * sketch (value-space error is unbounded for heavy tails) — and the
  * bound must hold regardless of partitioning, i.e. of partial-merge
  * order. */
class SketchSpec extends SparkSpec {

  private def rankErrors(parts: Int): Seq[Double] = {
    val vals = Tables.events(spark, sf("sf0.01")).select(col("value"))
    val est = vals.repartition(parts)
      .agg(call_function("tdigest_quantiles", col("value"),
        typedLit(Array(0.1, 0.5, 0.95, 0.99))).as("q"))
      .head().getSeq[Double](0)
    val n = vals.count().toDouble
    est.zip(Seq(0.1, 0.5, 0.95, 0.99)).map { case (e, p) =>
      val rank = vals.filter(col("value") <= e).count() / n
      math.abs(rank - p)
    }
  }

  test("tdigest_quantiles holds 1% rank error on real data") {
    val errs = rankErrors(8)
    assert(errs.forall(_ <= 0.01), s"rank errors: $errs")
  }

  test("tdigest_quantiles bound is merge-order independent") {
    // 1 partition (no partial merges) and 13 (odd fan-in) must both hold
    assert(rankErrors(1).forall(_ <= 0.01))
    assert(rankErrors(13).forall(_ <= 0.01))
  }

  test("tdigest_quantiles edges: empty group is NaN, singleton is exact") {
    val e = spark.sql(
      "SELECT tdigest_quantiles(x, array(0.5D)) AS q FROM (SELECT 1.0D AS x WHERE false)")
      .head().getSeq[Double](0)
    assert(e.head.isNaN)
    val one = spark.sql(
      "SELECT tdigest_quantiles(x, array(0.01D, 0.99D)) AS q FROM VALUES (42.0D) AS v(x)")
      .head().getSeq[Double](0)
    assert(one == Seq(42.0, 42.0))
  }

  test("tdigest_quantiles holds the 1% rank bound at sf1 (real partial-merge fan-in)") {
    // The TypedImperativeAggregate's serialize/merge path only shows
    // its real behavior with executor-sized partial fan-in: at sf1
    // (1 M events over 32 partitions) every partition flushes a
    // serialized digest through the shuffle and the final buffer merges
    // 32 partials. Gated on the generated scale fixture
    // (tools/scalegen.py, gitignored) so the suite stays green on a
    // fresh checkout; the driver's gate covers sf0.01 unconditionally.
    val sf1 = new java.io.File("target/testdata/sf1/events.parquet")
    assume(sf1.exists(), "sf1 fixture not generated; run tools/scalegen.py")
    val vals = spark.read.parquet(sf1.getPath).select(col("value")).repartition(32)
    val probs = Seq(0.1, 0.5, 0.95, 0.99)
    val est = vals.agg(call_function("tdigest_quantiles", col("value"),
        typedLit(probs.toArray)).as("q"))
      .head().getSeq[Double](0)
    val n = vals.count().toDouble
    val errs = est.zip(probs).map { case (e, p) =>
      math.abs(vals.filter(col("value") <= e).count() / n - p)
    }
    assert(errs.forall(_ <= 0.01), s"sf1 rank errors: $errs")
  }

  test("tdigest_quantiles accepts DECIMAL columns and DECIMAL probability literals") {
    // Both were runtime ClassCastExceptions before round 8: Spark's
    // Decimal does not extend java.lang.Number, and unsuffixed SQL
    // literals like array(0.5, 0.95) fold to DECIMAL elements.
    val r = spark.sql(
      """SELECT tdigest_quantiles(CAST(x AS DECIMAL(10,2)), array(0.5, 0.95)) AS q
        |FROM VALUES (1.0D),(2.0D),(3.0D),(4.0D) AS v(x)""".stripMargin)
      .head().getSeq[Double](0)
    assert(r.length == 2 && r.head >= 1.0 && r.head <= 4.0 && r(1) >= r.head)
  }

  test("tdigest_quantiles rejects a non-numeric probabilities array with a usage error") {
    val err = intercept[Exception] {
      spark.sql("SELECT tdigest_quantiles(x, array('a')) FROM VALUES (1.0D) AS v(x)").collect()
    }
    assert(err.getMessage.contains("tdigest_quantiles"))
  }
}
