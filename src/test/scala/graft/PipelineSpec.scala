package graft

import org.apache.spark.sql.functions._
import graft.expressions.BloomOps
import graft.functions.{Graph, Packing}

/** Round-3 operators: connected components, bloom prefilter, packing. */
class PipelineSpec extends SparkSpec {

  import spark.implicits._

  test("connectedComponents labels a chain, a triangle, and an isolated pair") {
    // components: {1,2,3,4} (chain), {10,11,12} (triangle), {20,21}
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (12L, 10L), (21L, 20L))
      .toDF("src", "dst")
    val got = Graph.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents converges on a long chain (diameter >> 1 round)") {
    val n = 64
    val edges = (1 until n).map(i => (i.toLong, i + 1L)).toDF("src", "dst")
    val got = Graph.connectedComponents(edges).as[(Long, Long)].collect()
    assert(got.length === n)
    assert(got.forall(_._2 === 1L), "every chain node must adopt label 1")
  }

  test("bloom filter: zero false negatives, bounded false positives, codegen ≡ eval") {
    val keys = (0L until 2000L).map(_ * 7919L)
    val buf = new Array[Byte](BloomOps.NumBits / 8)
    keys.foreach(BloomOps.add(buf, _))
    assert(keys.forall(BloomOps.mightContain(buf, _)), "false negative")
    val probes = (1L to 20000L).map(_ * 7919L + 3L) // disjoint from keys
    val fp = probes.count(BloomOps.mightContain(buf, _))
    assert(fp < probes.size * 0.05, s"FP rate ${fp.toDouble / probes.size}")

    // the codegen'd bloom_might_contain must agree with the JVM helper
    val df = (keys ++ probes).toDF("k")
      .crossJoin(keys.toDF("bk").agg(call_function("bloom_agg", col("bk")).as("bf")))
      .withColumn("hit", call_function("bloom_might_contain", col("bf"), col("k")))
    val hits = df.select(col("k"), col("hit")).as[(Long, Boolean)].collect().toMap
    assert(keys.forall(hits(_)), "codegen path lost an inserted key")
    assert(probes.count(hits(_)) === fp, "codegen and eval paths disagree on FPs")
  }

  test("greedy packing matches a sequential reference and respects the budget") {
    val budget = 100L
    val docs = Seq(
      ("a", 1L, 40L), ("a", 2L, 50L), ("a", 3L, 20L), ("a", 4L, 150L), ("a", 5L, 10L),
      ("b", 6L, 100L), ("b", 7L, 1L), ("b", 8L, 99L), ("b", 9L, 1L))
      .toDF("source", "doc_id", "n_tokens")
    val got = Packing.packBySource(docs, budget)
      .collect().map(p => (p.source, p.doc_id) -> p.bin_id).toMap

    // sequential greedy reference
    var acc = 0L
    val expected = docs.as[(String, Long, Long)].collect()
      .sortBy(r => (r._1, r._2))
      .foldLeft(Map.empty[(String, Long), Long]) { case (m, (src, id, n)) =>
        val prev = m.filter(_._1._1 == src)
        val bin = if (prev.isEmpty) { acc = n; 0L }
        else if (acc + n > budget) { acc = n; prev.values.max + 1 }
        else { acc += n; prev.values.max }
        m + ((src, id) -> bin)
      }
    assert(got === expected)
    // oversized doc 4 sits alone
    assert(got(("a", 4L)) !== got(("a", 3L)))
    assert(got(("a", 4L)) !== got(("a", 5L)))
  }

  test("range-partitioned shard export: shards internally sorted, ranges disjoint") {
    // the training-shard writer shape: repartitionByRange gives globally
    // ordered, disjoint shards WITHOUT a single-reducer global sort;
    // readers can then merge or sample shards independently
    val out = java.nio.file.Files.createTempDirectory("graft_shards").toString
    Tables.documents(spark, sf("sf0.001")).select(col("doc_id"), col("source"))
      .repartitionByRange(8, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .write.mode("overwrite").parquet(out)
    val files = new java.io.File(out).listFiles
      .filter(f => f.getName.endsWith(".parquet") && f.length > 0)
    val ranges = files.flatMap { f =>
      val ids = spark.read.parquet(f.getPath).select(col("doc_id")).as[Long].collect()
      if (ids.isEmpty) None
      else {
        assert(ids.sameElements(ids.sorted), s"${f.getName} not internally sorted")
        Some((ids.min, ids.max))
      }
    }.sortBy(_._1)
    assert(ranges.length > 1, "expected multiple shards")
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi < lo, "shard ranges overlap")
      case _ =>
    }
    val total = spark.read.parquet(out).count()
    assert(total === Tables.documents(spark, sf("sf0.001")).count())
  }

  test("packing bins never exceed the budget except for single oversized docs") {
    val out = SparkEntry.queries("q71_seq_pack")(spark, sf("sf0.001"))
    val bins = out.groupBy(col("source"), col("bin_id"))
      .agg(sum(col("n_tokens")).as("tot"), count(lit(1)).as("n"))
      .as[(String, Long, Long, Long)].collect()
    bins.foreach { case (src, bin, tot, n) =>
      assert(tot <= graft.queries.PipelineQueries.PackBudget || n === 1L,
        s"bin ($src, $bin) holds $tot tokens across $n docs")
    }
  }
}
