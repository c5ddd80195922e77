package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftFunctions, SparkEntry, Tables}
import graft.queries._
import graft.streaming.Streaming

/** One benchmark run of one workload against the graft engine.
  *
  * Usage: Harness <workload> <dataDir> <outDir> <seconds> <trace 0|1> <cores>
  *
  * Set-up (session, function registration, artifact builds, one warm-up
  * execution of every operation) runs several times, each in a fresh
  * `java.io.tmpdir`, and is timed each time. Then one client thread runs
  * whole passes of the workload's operation list in a closed loop until
  * `seconds` have passed, clearing Spark's caches between operations.
  * With trace 1 the passes alternate between untraced and traced (Spark
  * listener and spans on; the latency ratio is the tracing overhead), and
  * the isolated per-layer probes follow the loop. Everything the caller needs
  * — samples, set-up times, check artifacts, per-layer numbers — lands in
  * `outDir`; the caller computes and prints the metrics.
  */
object Harness {
  final case class Op(name: String, layer: String, run: () => Unit)
  final case class Sample(op: Int, name: String, ms: Double, ok: Boolean)
  /** Operation index of work outside the timed loop: probes are checked,
    * warm-up answers are dropped. */
  val Probe = -1
  val Warm = -2

  var spark: SparkSession = _
  val tracer = new Tracer(false)
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  def toD(c: Column): Column = transform(c, _.cast("double"))
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def timedMs(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
  }
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
  } + "\""
  def jnum(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.math.BigDecimal.valueOf(x).toPlainString
  def jmap(m: Iterable[(String, Double)]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${jstr(k)}:${jnum(v)}" }.mkString("{", ",", "}")
  def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes("UTF-8"))

  def parquetFiles(p: String): Int = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0
    else { val w = Files.walk(root); try w.iterator().asScala.count(_.toString.endsWith(".parquet")) finally w.close() }
  }
  def copyDir(src: String, dst: String): Unit = {
    val s = Paths.get(src); val d = Paths.get(dst)
    val w = Files.walk(s)
    try w.iterator().asScala.foreach(p => Files.copy(p, d.resolve(s.relativize(p).toString)))
    finally w.close()
  }

  /** Wall seconds of each named set-up step, last repetition wins. */
  val setupParts = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def setupPart[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally setupParts(name) = (System.nanoTime() - t0) / 1e9
  }

  /** A workload: set-up, the operation list of one pass, and its checks. */
  trait Workload {
    def setupReps: Int = 2
    def setup(): Unit
    def ops: IndexedSeq[Op]
    def exhausted: Boolean = false
    /** Writes check artifacts and returns a JSON object of check facts. */
    def check(out: String): String
    def info(samples: Seq[Sample]): Map[String, Double] = Map.empty
  }

  private val packs: Seq[QueryPack] = Seq(RelationalQueries, WindowQueries,
    ExtQueries, AnalyticsQueries, CorpusQueries, LlmQueries, TextQueries,
    SimilarityQueries, PipelineQueries, MultimodalQueries, AggQueries,
    Round4Queries, Round8Queries, Round9Queries, Round10Queries,
    Round11Queries, Round14Queries, Round15Queries, Round16Queries)
  def packOf(q: String): String = packs.find(_.queries.contains(q))
    .map(_.getClass.getSimpleName.stripSuffix("$"))
    .getOrElse(sys.error(s"query $q is in no query pack"))

  /** etl_scan and curation: one pass runs a fixed query list, each query
    * to the noop sink; outputs are checked against the DuckDB twins. */
  final class QueryList(d: String, names: Seq[String]) extends Workload {
    // a warm repetition costs one pass. The JIT is still warming after
    // three (repetitions took 12, 6 and 5 s, then passes 5.1, 4.5, 4.7 s),
    // and how far along that curve the loop starts moved pass_s between
    // runs; five repetitions start it nearer the flat part
    override def setupReps: Int = 5
    names.foreach(n => require(SparkEntry.oracleSql.contains(n), s"$n has no DuckDB twin"))
    val ops: IndexedSeq[Op] = names.toIndexedSeq.map { n =>
      val fn = SparkEntry.queries(n)
      Op(n, s"queries.${packOf(n)}", () => noop(fn(spark, d)))
    }
    def setup(): Unit = ops.foreach { o =>
      try o.run() finally spark.catalog.clearCache() }
    def check(out: String): String = {
      names.foreach { n =>
        try SparkEntry.queries(n)(spark, d).coalesce(1).write.mode("overwrite")
          .parquet(s"$out/check/$n")
        catch { case t: Throwable => System.err.println(s"[perfbench] check run of $n failed: $t") }
        finally spark.catalog.clearCache()
      }
      names.map(n => s"${jstr(n)}:${jstr(SparkEntry.oracleSql(n))}")
        .mkString("{\"oracle\":{", ",", "}}")
    }
  }

  /** Median wall ms of `body` over `reps` runs. */
  def probeMs(name: String, reps: Int = 3)(body: => Unit): Double =
    median((1 to reps).map(_ => timedMs(span(name)(body))))

  /** The query packs' and join plans' time on this workload's own star
    * schema: from the traced loop where it ran these queries, else timed
    * here. */
  def queryProbes(d: String, loop: Map[String, Double]): Map[String, Double] = {
    val ms = etlQueries.map { n =>
      n -> loop.getOrElse(n, probeMs(s"queries.${packOf(n)}") {
        try noop(SparkEntry.queries(n)(spark, d)) finally spark.catalog.clearCache() })
    }.toMap
    etlQueries.groupBy(packOf).map { case (p, ns) => s"queries.$p.ms" -> ns.map(ms).sum } ++
      Map("plans.asof_ms" -> ms("q85_asof_operator"),
        "plans.range_ms" -> ms("q117_interval_join_exec"))
  }

  /** Serving on this workload's own vectors: each request kind timed on
    * the standing artifacts (built here unless the workload serves), its
    * answers kept for the brute-force check. */
  def serveProbes(d: String, v: VectorServe): Map[String, Double] = {
    val (g, lists) = Round11Queries.readKnnGraphIndex(spark, v.graphPath)
    val q = v.qdf(0)
    val (_, scored) = Round11Queries.graphSearch(g, lists, v.base, q)
    v.hnswPath = Round11Queries.hnswIndex(spark, d)
    val n = v.requests.size
    Map(
      "streaming.serve.hamming.ms" -> probeMs("streaming.serve.hamming")(v.hamming(1 % n, Probe)),
      "streaming.serve.graph.ms" -> probeMs("streaming.serve.graph", 2)(v.graph(2 % n, Probe)),
      "streaming.serve.hnsw.ms" -> probeMs("streaming.serve.hnsw", 1)(v.hnsw(3 % n, Probe)),
      "streaming.serve.scored_per_query" -> scored.count().toDouble / q.count(),
      "streaming.serve.index_files" -> (parquetFiles(v.annPath) +
        parquetFiles(v.graphPath) + parquetFiles(v.hnswPath)).toDouble)
  }

  /** One cold micro-batch of this workload's own seeded drop through the
    * ingest loop, then the maintenance primitives in isolation. Returns
    * the layer numbers and the end-state check facts. */
  def ingestProbes(d: String): (Map[String, Double], String) = {
    val i = new IngestCdc(d, warmUp = false)
    i.setup()
    val ms = timedMs(span("streaming.ingest.loop")(i.runDrop()))
    val facts = i.check("")
    (Map("streaming.ingest.loop.ms" -> ms) ++
      i.info(Seq(Sample(Probe, "drop", ms, ok = true))) ++ i.primitives(), facts)
  }

  /** Input scan: every fixture table through its `Tables` loader. */
  def tableProbes(d: String): Map[String, Double] = {
    val loaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "customer" -> Tables.customer, "supplier" -> Tables.supplier,
      "part" -> Tables.part, "orders" -> Tables.orders,
      "lineitem" -> Tables.lineitem, "events" -> Tables.events,
      "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)
    val rows = loaders.map { case (_, f) => f(spark, d).count() }.sum
    val ms = loaders.map { case (n, f) => probeMs("tables.scan")(noop(f(spark, d))) }.sum
    Map("tables.scan_ms" -> ms, "tables.scan_rows_per_s" -> rows / (ms / 1000))
  }

  /** Each native kernel through `call_function` over this workload's own
    * documents and vectors, replicated to a fixed row count and cached. */
  def kernelProbes(d: String): Map[String, Double] = {
    GraftFunctions.ensure(spark)
    val target = 20000L
    def grown(df: DataFrame): DataFrame = {
      val n = math.max(df.count(), 1L)
      df.crossJoin(spark.range((target + n - 1) / n).toDF("rep")).drop("rep")
        .repartition(spark.sparkContext.defaultParallelism).cache()
    }
    val docs = grown(Tables.documents(spark, d).select(col("text"),
      split(col("text"), " ").as("ws")))
    val shs = grown(docs.select(array_distinct(call_function("shingles3", col("ws"))).as("shs")))
    val vecs = Tables.embeddings(spark, d).select(toD(col("embedding")).as("v"))
    val cb = LlmQueries.pqCodebook(
      Tables.embeddings(spark, d).select(col("vec_id"), toD(col("embedding")).as("v")))
    val vs = grown(vecs.select(col("v"), LlmQueries.pqCodesFor(col("v"), cb).as("codes"),
      monotonically_increasing_id().as("id")))
    Seq(docs, shs, vs).foreach(_.count())
    val q = typedLit(vecs.head().getSeq[Double](0))
    val (nDocs, nVecs) = (docs.count().toDouble, vs.count().toDouble)
    def rate(name: String, df: => DataFrame): (String, Double) = {
      val rows = if (Set("cosine_sim", "pq_adc_dist", "collect_topk")(name)) nVecs else nDocs
      val ms = probeMs(s"expressions.$name")(noop(df))
      s"expressions.$name.rows_per_s" -> rows / (ms / 1000)
    }
    val out = Map(
      rate("shingles3", docs.select(call_function("shingles3", col("ws")))),
      rate("minhash_sigs", shs.select(call_function("minhash_sigs", col("shs")))),
      rate("word_fingerprint", docs.select(call_function("word_fingerprint", col("ws")))),
      rate("cdc_starts", docs.select(call_function("cdc_starts",
        col("text").cast("binary"), lit(4), lit(32)))),
      rate("digests60", shs.select(call_function("digests60", col("shs")))),
      rate("cosine_sim", vs.select(call_function("cosine_sim", col("v"), q))),
      rate("pq_adc_dist", vs.select(call_function("pq_adc_dist", q, col("codes"),
        graft.functions.VectorOps.litArr2(cb), lit(LlmQueries.PqDs)))),
      rate("collect_topk", vs.groupBy(col("id") % 64).agg(call_function("collect_topk",
        struct(call_function("cosine_sim", col("v"), q).as("s"), col("id")),
        lit(10), lit(false)))))
    Seq(docs, shs, vs).foreach(_.unpersist())
    out
  }

  /** vector_serve: rotating Hamming two-stage and graph beam search
    * requests of seeded query vectors against standing artifacts. */
  final class VectorServe(d: String) extends Workload {
    // HNSW is served only in the traced probes: its index build and its
    // per-level hop jobs would take most of a run's time budget
    val requests: IndexedSeq[Seq[(Long, Seq[Double])]] =
      spark.read.parquet(s"$d/queries.parquet").collect().toSeq
        .groupBy(_.getLong(0)).toSeq.sortBy(_._1)
        .map(_._2.map(r => (r.getLong(1), r.getSeq[Double](2))).sortBy(_._1))
        .toIndexedSeq
    var annPath, graphPath, hnswPath: String = _
    var base: DataFrame = _
    val answers = ArrayBuffer.empty[String]
    private var next = 0
    def qdf(r: Int): DataFrame =
      spark.createDataFrame(requests(r)).toDF("q_id", "qv")

    def setup(): Unit = {
      GraftFunctions.ensure(spark)
      annPath = setupPart("annidx")(Round10Queries.annIndex(spark, d))
      graphPath = setupPart("knngraph")(Round11Queries.knnGraphIndex(spark, d))
      base = setupPart("base")(Tables.embeddings(spark, d)
        .select(col("vec_id"), toD(col("embedding")).as("v")).localCheckpoint(true))
      // warm-up: two requests of each kind, answers discarded — the
      // driver-side planning code these requests spend most time in is
      // still being compiled after one
      setupPart("warmup")((0 until 2).foreach(r => Seq(hamming _, graph _).foreach(f => f(r, Warm))))
    }

    private var execs = 0
    def record(kind: String, r: Int, op: Int, rows: Array[Row]): Unit = if (op != Warm) {
      execs += 1
      rows.foreach(x => answers += s"""{"op":$op,"exec":$execs,"request":$r,"kind":"$kind",""" +
        s""""q_id":${x.getLong(0)},"rn":${x.getAs[Number](1).longValue},""" +
        s""""vec_id":${x.getLong(2)},"sim":${x.getAs[Number](3).longValue}}""")
    }

    def hamming(r: Int, op: Int): Unit = {
      val idx = span("streaming.serve.index_read")(
        spark.read.parquet(annPath).select(col("vec_id"), col("lo"), col("hi")))
      record("hamming", r, op,
        Streaming.annProbe(idx, base, qdf(r), 32, 10, excludeSelf = false).collect())
    }
    def graph(r: Int, op: Int): Unit = {
      val (g, lists) = span("streaming.serve.index_read")(
        Round11Queries.readKnnGraphIndex(spark, graphPath))
      val (frontier, _) = Round11Queries.graphSearch(g, lists, base, qdf(r))
      record("graph", r, op, frontier.groupBy(col("q_id"))
        .agg(call_function("collect_topk",
          struct((-col("sim")).as("ns"), col("vec_id")), lit(10), lit(true)).as("t"))
        .select(col("q_id"), posexplode(col("t")).as(Seq("p", "e")))
        .select(col("q_id"), (col("p") + 1).as("rn"), col("e.vec_id"), (-col("e.ns")))
        .collect())
    }
    def hnsw(r: Int, op: Int): Unit = {
      val (layers, g0) = span("streaming.serve.index_read")(
        (spark.read.parquet(s"$hnswPath/layers"),
         spark.read.parquet(s"$graphPath/graph").select(col("src"), col("nb"))))
      record("hnsw", r, op, Round11Queries.hnswSearch(layers, g0, base, qdf(r))
        .select(col("q_id"), col("rn"), col("vec_id"), col("sim_q")).collect())
    }

    var opIndex = 0
    def ops: IndexedSeq[Op] = {
      val r = next % requests.size
      next += 1
      // the two request kinds alternate 1:1, each on the same query vectors
      IndexedSeq(
        Op("hamming", "streaming.serve.hamming", () => hamming(r, opIndex)),
        Op("graph", "streaming.serve.graph", () => graph(r, opIndex)))
    }
    def check(out: String): String = {
      write(s"$out/answers.jsonl", answers.mkString("\n"))
      "{}"
    }
  }

  /** ingest_cdc: seeded drops of adds and deletes through the composed
    * streaming ingest loop, one drop per micro-batch. */
  final class IngestCdc(d: String, warmUp: Boolean = true) extends Workload {
    val drops: IndexedSeq[Seq[Streaming.IngestDoc]] =
      spark.read.parquet(s"$d/ingest_drops.parquet").collect().toSeq
        .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
        .map(_._2.map(r => Streaming.IngestDoc(r.getLong(1), r.getString(2),
          r.getInt(3), r.getSeq[Double](4), r.getString(5))))
        .toIndexedSeq
    final class State(val st: Streaming.IngestState,
                      val query: org.apache.spark.sql.streaming.StreamingQuery,
                      val mem: org.apache.spark.sql.execution.streaming.runtime
                        .MemoryStream[Streaming.IngestDoc],
                      val verdicts: ArrayBuffer[DataFrame])
    var cur: State = _
    var template: String = _
    var initial: Streaming.IngestState = _
    private var next = 0
    private var consumed = ArrayBuffer.empty[Streaming.IngestDoc]

    def setup(): Unit = {
      GraftFunctions.ensure(spark)
      if (cur != null) cur.query.stop()
      val base = spark.read.parquet(s"$d/ingest_base.parquet")
      val baseVecs = base.select(col("doc_id").as("vec_id"), col("vec").as("v"))
        .localCheckpoint(true)
      val cents = LlmQueries.ivfCentroids(baseVecs)
      val cb = LlmQueries.pqCodebook(baseVecs)
      val idx = Streaming.indexFromSigs(Streaming.buildNearDupIndex(
        base.select(col("doc_id"), col("text")), 64).sigs.localCheckpoint(true), 64)
      val tmp = System.getProperty("java.io.tmpdir")
      template = s"$tmp/annidx_template"
      Round10Queries.annIndexRows(base.select(col("doc_id").as("vec_id"),
          col("label"), col("vec").as("v")), cents, cb)
        .repartition(4).write.parquet(template)
      val annPath = s"$tmp/annidx"
      copyDir(template, annPath)
      val g0 = Round11Queries.knnGraphBuild(baseVecs, 15, 30, rounds = 1)
        .select(col("src"), col("nb"), col("sim")).localCheckpoint(true)
      initial = new Streaming.IngestState(idx, template, g0, baseVecs, cents, cb)
      val st = new Streaming.IngestState(idx, annPath, g0, baseVecs, cents, cb)
      val ss = spark
      import ss.implicits._
      implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[Streaming.IngestDoc]
      val verdicts = ArrayBuffer.empty[DataFrame]
      val q = Streaming.ingestLoop(mem.toDF(), st, bandCap = 64, kInt = 15,
        undCap = 30, compactEvery = 2, compactTarget = 64L << 20,
        onBatch = (_, v) => verdicts += v)
      cur = new State(st, q, mem, verdicts)
      seen = Map.empty; trackWrites(); bytesWritten = 0L
      next = 0
      consumed = ArrayBuffer.empty
      // warm-up: the first drop, on this repetition's own state
      if (warmUp) runDrop()
    }

    /** Bytes of artifact files that appeared since the previous call. */
    private var seen = Map.empty[String, Long]
    var bytesWritten = 0L
    def trackWrites(): Unit = {
      val now = Seq(cur.st.annIdxPath, cur.st.annIdxPath + ".tombstones").flatMap { p =>
        val root = Paths.get(p)
        if (!Files.exists(root)) Nil
        else { val w = Files.walk(root); try w.iterator().asScala.filter(Files.isRegularFile(_))
          .map(f => f.toString -> Files.size(f)).toList finally w.close() }
      }.toMap
      bytesWritten += now.collect { case (f, n) if !seen.contains(f) => n }.sum
      seen = now
    }

    def runDrop(): Unit = {
      val rows = drops(next)
      next += 1
      consumed ++= rows
      cur.mem.addData(rows: _*)
      cur.query.processAllAvailable()
      // the loop checkpoints its post-batch state lazily: settle it so
      // each micro-batch pays for every deferred append
      noop(cur.st.graph)
      noop(cur.st.corpus)
      trackWrites()
    }
    override def exhausted: Boolean = next >= drops.size
    def ops: IndexedSeq[Op] =
      IndexedSeq(Op(s"drop", "streaming.ingest.loop", () => runDrop()))

    private var checkFacts = Map.empty[String, Double]
    def check(out: String): String = {
      cur.query.stop()
      val st = cur.st
      val v = cur.verdicts.map(_.select(col("doc_id"), col("kept")).collect()
        .map(r => r.getLong(0) -> r.getInt(1))).flatten.toMap
      val kept = v.filter(_._2 == 1).keySet
      val rejected = v.filter(_._2 == 0).keySet
      val deleted = consumed.filter(_.op == "del").map(_.doc_id).toSet
      def ids(df: DataFrame, c: String): Set[Long] =
        df.select(col(c)).distinct().collect().map(_.getLong(0)).toSet
      val band = ids(st.index.sigs, "doc_id")
      val ann = ids(Round10Queries.readAnnIndex(spark, st.annIdxPath), "vec_id")
      val graphIds = ids(st.graph, "src") ++ ids(st.graph, "nb")
      val corpusIds = ids(st.corpus, "vec_id")
      val all = band ++ ann ++ graphIds ++ corpusIds
      val adds = consumed.filter(_.op != "del")
      val inBytes = adds.map(a => a.text.getBytes("UTF-8").length + 8L * a.vec.size).sum
      checkFacts = Map(
        "probed" -> v.size.toDouble, "kept" -> kept.size.toDouble,
        "kept_missing_band" -> (kept -- band).size.toDouble,
        "kept_missing_annidx" -> (kept -- ann).size.toDouble,
        "kept_missing_graph" -> (kept -- ids(st.graph, "src")).size.toDouble,
        "rejected_present" -> (rejected & all).size.toDouble,
        "deleted_present" -> (deleted & all).size.toDouble,
        "unprobed_adds" -> adds.count(a => !v.contains(a.doc_id)).toDouble,
        "docs_consumed" -> consumed.size.toDouble,
        "input_bytes" -> inBytes.toDouble,
        "annidx_bytes_written" -> bytesWritten.toDouble)
      jmap(checkFacts)
    }
    override def info(samples: Seq[Sample]): Map[String, Double] = {
      val ms = samples.map(_.ms).sum
      // every drop holds the same number of rows (adds plus deletes)
      Map("streaming.ingest.docs_per_s" -> drops.last.size * samples.size * 1000 /
          math.max(ms, 1.0),
        "streaming.ingest.keep_share" -> checkFacts("kept") / math.max(checkFacts("probed"), 1),
        "streaming.ingest.write_amp" -> checkFacts("annidx_bytes_written") /
          math.max(checkFacts("input_bytes"), 1))
    }
    def primitives(): Map[String, Double] = {
      // the maintenance primitives in isolation, on the last drop against
      // the initial state and a fresh copy of the initial annidx
      val drop = drops.last
      val adds = drop.filter(_.op != "del")
      val dels = drop.filter(_.op == "del")
      val ss = spark
      import ss.implicits._
      val addDf = adds.toDF().localCheckpoint(true)
      val docs = addDf.select(col("doc_id"), col("text")).localCheckpoint(true)
      val vecs = addDf.select(col("doc_id").as("vec_id"), col("label"), col("vec").as("v"))
        .localCheckpoint(true)
      val delIds = dels.map(_.doc_id).toDF("vec_id").localCheckpoint(true)
      val copy = s"${System.getProperty("java.io.tmpdir")}/annidx_probe"
      copyDir(template, copy)
      val s = initial
      def t(name: String)(body: => Unit): (String, Double) =
        s"streaming.ingest.${name}_ms" -> timedMs(span(s"streaming.ingest.$name")(body))
      Map(
        t("gate")(noop(Streaming.nearDupProbe(s.index, docs))),
        t("band_append")(noop(Streaming.appendToIndex(s.index, docs, 64).sigs)),
        t("annidx_append")(Round10Queries.appendToAnnIndex(vecs, copy, s.cents, s.cb)),
        t("graph_append")(noop(Round11Queries.appendToKnnGraph(s.graph, s.corpus,
          vecs.select(col("vec_id"), col("v")), 15, 30))),
        t("delete") {
          noop(Streaming.removeFromIndex(s.index, delIds.toDF("doc_id"), 64).sigs)
          Round10Queries.deleteFromAnnIndex(delIds, copy)
          noop(Round11Queries.deleteFromKnnGraph(s.graph, s.corpus, delIds, 15, 30))
        },
        t("compact") {
          Round10Queries.purgeAnnIndex(spark, copy)
          Round10Queries.compactAnnIndex(spark, copy, 64L << 20)
        })
    }
  }

  def cpuSteal(): Long = try {
    val l = scala.io.Source.fromFile("/proc/stat").getLines().next().split("\\s+")
    l(8).toLong
  } catch { case _: Throwable => 0L }
  def load1(): Double = try {
    scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+")(0).toDouble
  } catch { case _: Throwable => 0.0 }
  def vmHwmMb(): Double = try {
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  } catch { case _: Throwable => 0.0 }

  // an odd number of queries puts the median operation inside one query's
  // samples instead of on the gap between two queries' latencies
  val etlQueries: Seq[String] = Seq(
    "q01_pricing", "q09_topk_perkey", "q11_join3_revenue", "q21_window_tumbling",
    "q85_asof_operator", "q117_interval_join_exec", "q97_funnel")
  val curationQueries: Seq[String] = Seq(
    "q30_dedup_exact", "q31_dedup_hash", "q32_minhash_sig", "q33_lsh_neardup",
    "q68_neardup_clusters", "q78_dedup_decision", "q112_incremental_neardup",
    "q122_paragraph_dedup", "q137_chunk_neardup", "q40_langid", "q41_quality_score",
    "q63_tfidf", "q181_pii_redact", "q179_bpe_train", "q180_bpe_apply",
    "q182_tokenize_corpus", "q43_fingerprint", "q140_containment_join")

  def main(args: Array[String]): Unit = {
    val Array(workload, d, out, secondsS, traceS, coresS) = args
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cores = coresS.toInt
    val steal0 = cpuSteal()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftFunctions.ensure(spark)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val tmpRoot = System.getProperty("java.io.tmpdir")

    val wl: Workload = workload match {
      case "etl_scan" => new QueryList(d, etlQueries)
      case "curation" => new QueryList(d, curationQueries)
      case "vector_serve" => new VectorServe(d)
      case "ingest_cdc" => new IngestCdc(d)
      case other => sys.error(s"unknown workload $other")
    }
    // set-up, several times, each against a fresh scratch directory so no
    // marker-gated artifact of an earlier repetition is reused
    val setupMs = (1 to wl.setupReps).map { r =>
      val dir = Files.createDirectories(Paths.get(s"$tmpRoot/setup$r")).toString
      System.setProperty("java.io.tmpdir", dir)
      spark.catalog.clearCache()
      timedMs(wl.setup())
    }
    System.gc()

    // With tracing on, passes alternate untraced and traced (listener
    // registered, spans on), so both sides see the same warm-up drift and
    // the ratio of their latencies is the tracing overhead.
    val listener = new OpListener
    val samples, untraced = ArrayBuffer.empty[Sample]
    val passes = ArrayBuffer.empty[Double]
    var nOps, nPass = 0
    val t0 = System.nanoTime()
    while (((System.nanoTime() - t0) / 1e9 < seconds || (traced && nPass < 2)) &&
           !wl.exhausted) {
      val on = traced && nPass % 2 == 1
      nPass += 1
      if (on) { spark.sparkContext.addSparkListener(listener); tracer.enabled = true }
      val p0 = System.nanoTime()
      wl.ops.foreach { o =>
        val i = nOps; nOps += 1
        wl match { case v: VectorServe => v.opIndex = i; case _ => () }
        tracer.op = i
        if (on) listener.beginOp(i)
        val t = System.nanoTime()
        val ok = try { span(o.layer)(o.run()); true } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] ${o.name} failed: $e"); false }
        val ms = (System.nanoTime() - t) / 1e6
        if (on) listener.endOp()
        (if (traced && !on) untraced else samples) += Sample(i, o.name, ms, ok)
        spark.catalog.clearCache()
      }
      if (on || !traced) passes += (System.nanoTime() - p0) / 1e9
      if (on) {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        tracer.enabled = false
      }
    }
    val measureS = (System.nanoTime() - t0) / 1e9

    var layers = Map.empty[String, Double]
    // every traced run measures every layer on its own inputs
    var probeFacts = "{}"
    if (traced) {
      layers ++= listener.metrics(cores)
      tracer.enabled = true
      tracer.op = Probe
      def medBy(xs: Seq[Sample]) = xs.groupBy(_.name).map { case (n, v) => n -> median(v.map(_.ms)) }
      val byName = medBy(samples.toSeq)
      val (serve, ownServe) = wl match {
        case v: VectorServe => (v, true)
        case _ => val v = new VectorServe(d); v.setup(); (v, false)
      }
      layers ++= kernelProbes(d) ++ tableProbes(d) ++ queryProbes(d, byName) ++
        serveProbes(d, serve)
      if (!ownServe) serve.check(out)
      wl match {
        case i: IngestCdc => layers ++= i.primitives()
        case _ => val (m, f) = ingestProbes(d); layers ++= m; probeFacts = f
      }
      // per-pack and per-request-kind time of the workload's own traced loop
      wl.ops.groupBy(_.layer).foreach { case (layer, os) =>
        layers += s"$layer.ms" -> os.map(_.name).distinct.map(byName.getOrElse(_, 0.0)).sum
      }
      val spans = tracer.summary.find(_._1 == "streaming.serve.index_read")
      layers += "streaming.serve.index_read_ms" -> spans.map(x => x._3 / x._2).getOrElse(0.0)
      val ma = medBy(untraced.toSeq)
      val ratios = byName.keys.filter(ma.contains).map(n => byName(n) / ma(n)).toSeq
      layers += "trace.overhead_pct" -> (if (ratios.isEmpty) 0.0 else (median(ratios) - 1) * 100)
      write(s"$out/trace.json", tracer.json)
    }
    val checkJson = wl.check(out)
    val info = wl.info(samples.toSeq)
    layers ++= info
    layers += "host.steal_ticks" -> (cpuSteal() - steal0).toDouble
    layers += "host.load1" -> load1()

    val sampleJson = samples.map(s =>
      s"""{"op":${s.op},"name":${jstr(s.name)},"ms":${jnum(s.ms)},"ok":${s.ok}}""")
    val untracedJson = untraced.map(s =>
      s"""{"op":${s.op},"name":${jstr(s.name)},"ms":${jnum(s.ms)},"ok":${s.ok}}""")
    write(s"$out/result.json",
      s"""{"workload":${jstr(workload)},"cores":$cores,"session_s":${jnum(sessionS)},""" +
      s""""setup_reps_s":[${setupMs.map(m => jnum(m / 1000)).mkString(",")}],""" +
      s""""measure_s":${jnum(measureS)},"passes_s":[${passes.map(jnum).mkString(",")}],""" +
      s""""samples":[${sampleJson.mkString(",")}],""" +
      s""""untraced_samples":[${untracedJson.mkString(",")}],""" +
      s""""rss_peak_mb":${jnum(vmHwmMb())},"layers":${jmap(layers)},""" +
      s""""info":${jmap(info)},"setup_parts_s":${jmap(setupParts)},"check":$checkJson,""" +
      s""""probe_check":$probeFacts}""")
    spark.stop()
  }
}
