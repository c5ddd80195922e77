package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.sources.EvolvedRead

/** Round-8 promotions: two operators that existed only as specs —
  * dynamic partition pruning over a day-partitioned fact layout (the
  * 100 TB scan-pruning story) and the schema-evolution-safe read —
  * lifted into the oracle-checked surface so the hard correctness
  * signal covers them.
  *
  * Both queries derive their inputs from the fixture tables
  * deterministically and materialize them under /tmp (keyed by the sf
  * dir so concurrent sweeps at different scales don't collide), so the
  * DuckDB oracle can compute the same answer straight from the
  * `events` view — the derived files are engine-side mechanics, the
  * CONTENT is identical by construction.
  */
object Round8Queries extends QueryPack {

  private def scratch(tag: String, d: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_${tag}_${math.abs(d.hashCode)}"

  /** Build a derived layout at most once per (tag, fixture dir): probe
    * a completion marker and skip the rebuild when it's present. The
    * content is a deterministic function of the fixture, so reuse is
    * sound; the marker is written only after a successful build, and a
    * marker-less leftover (a half-written previous attempt) is wiped
    * and rebuilt. This is the production shape — a day-partitioned /
    * bucketed / sharded layout IS the table, written once by ingest;
    * BENCH must time the read path, not a per-call rewrite the oracle
    * never performs (r8 verdict #1). IoSpec covers the
    * reuse-vs-rebuild-vs-halfwritten branches.
    *
    * `version` (round-15 ADVICE) is a build-recipe fingerprint written
    * INTO the marker: call sites fold the algorithm parameters (and a
    * bump-on-change token) into it, so a later change to the build
    * code rebuilds standing state automatically instead of silently
    * serving scratch laid down by an older algorithm. A marker whose
    * content doesn't match the requested version is stale state, wiped
    * and rebuilt exactly like a half-written dir. The default ""
    * matches a bare legacy marker (created empty). */
  private[graft] def ensureScratch(s: SparkSession, tag: String, d: String,
                                   version: String = "")
      (build: String => Unit): String = {
    val base = scratch(tag, d)
    val root = new org.apache.hadoop.fs.Path(base)
    val marker = new org.apache.hadoop.fs.Path(root, "_GRAFT_DONE")
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!graft.streaming.Artifacts.readText(fs, marker).contains(version)) {
      fs.delete(root, true)
      build(base)
      graft.streaming.Artifacts.writeText(fs, marker, version)
    }
    base
  }

  // q146: dynamic partition pruning on a day-partitioned events copy ------

  /** Daily rollup restricted to "hot" days (any purchase over 250),
    * where the fact side is a DAY-PARTITIONED parquet layout and the
    * hot-day dimension arrives as a runtime subquery — the exact shape
    * where dynamic partition pruning earns its keep: at 100 TB the
    * fact table is thousands of day partitions and the dim filter is
    * only known at run time, so DPP turns a full-table scan into
    * |hot days| partition reads. PlanGuardSpec asserts the fact scan
    * carries a `dynamicpruning` partition filter; at sf0.001 the
    * pruning is real (1 of 30 days survives).
    *
    * The partitioned copy is written ONCE per fixture (marker-gated
    * [[ensureScratch]]); in production this layout IS the table,
    * written by ingest — the query times the pruned read. */
  def q146(s: SparkSession, d: String): DataFrame = {
    val base = ensureScratch(s, "dpp", d) { b =>
      Tables.events(s, d)
        .withColumn("day", to_date(col("ts")))
        // cluster rows by day before the partitioned write: without
        // this every input partition opens a writer per day and the
        // layout explodes into inputPartitions × |days| tiny files —
        // the small-files antipattern that dominates scan time at any
        // scale; clustered, each day is one file
        .repartition(col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(s"$b/events_by_day")
    }
    val fact = s.read.parquet(s"$base/events_by_day")
    // dim side: raw pushdown scan, no widen exchange — the selective
    // filter + 1-column projection is exactly what the scan does best,
    // and the DPP subquery re-executes this subtree for the pruning
    // filter, so any fat here is paid twice
    val hot = Tables.eventsRaw(s, d)
      .filter(col("event_type") === "purchase" && col("value") > 250)
      .select(to_date(col("ts")).as("day")).distinct()
    fact.join(hot, Seq("day"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("day"))
  }

  // q147: schema-evolution-safe read across two vintages ------------------

  /** Two deterministic vintages of events — v0 (old): even event_ids,
    * `value` stored narrow (FLOAT), no provenance column; v1 (new):
    * odd event_ids, the measure RENAMED to `amount` (kept DOUBLE) plus
    * an ADDED `source` column — reconciled by [[EvolvedRead.read]]
    * (rename map, widest-lossless widening float→double, null-fill)
    * and aggregated. Exercises all three evolution axes through the
    * oracle: the cents sum is exact only if the float→double widening
    * matches DuckDB's REAL→DOUBLE bit-for-bit, n_sourced counts only
    * v1 rows only if the added column null-fills (not zero-fills), and
    * row counts split correctly only if the rename map (not
    * name-matching) aligned the measure. */
  def q147(s: SparkSession, d: String): DataFrame = {
    val base = ensureScratch(s, "evolved", d) { b =>
      val ev = Tables.events(s, d)
      ev.filter(col("event_id") % 2 === 0)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value").cast("float").as("value"))
        .write.mode("overwrite").parquet(s"$b/v0")
      ev.filter(col("event_id") % 2 === 1)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value").as("amount"), lit("ingest_v2").as("source"))
        .write.mode("overwrite").parquet(s"$b/v1")
    }
    EvolvedRead.read(s, Seq(s"$base/v0", s"$base/v1"),
        renames = Seq(Map.empty, Map("amount" -> "value")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(FLOOR(value * 100) AS BIGINT)")).as("cents"),
        count(col("source")).as("n_sourced"))
      .orderBy(col("event_type"))
  }

  // q148: bucketed-table co-located join (zero-shuffle join path) ---------

  /** Orders ⋈ lineitem with BOTH sides stored as bucketed tables on the
    * join key (8 buckets, `bucketBy` + external path) — Spark's
    * co-located join: the scans report the bucket hash distribution, so
    * the join AND the per-order rollup that follows need NO exchange at
    * all; the only shuffle in the whole query is the presentation
    * ORDER BY. This is the 100 TB repeated-join story the suite lacked:
    * a fact table bucketed at ingest pays its shuffle once at write
    * time, and every subsequent join/aggregate on the bucket key runs
    * shuffle-free (PlanGuard pins the no-hash-exchange plan).
    *
    * The bucketed copies are written ONCE per fixture ([[ensureScratch]]
    * marker-gated — the operator under test is the shuffle-free READ of
    * a layout ingest paid for; the DuckDB oracle joins the originals).
    * Table names carry the fixture hash so concurrent scale factors in
    * one catalog never collide; a fresh JVM reusing an existing layout
    * re-registers the external bucketed tables by DDL (bucket metadata
    * lives in the catalog, bucket ids in the file names). */
  def q148(s: SparkSession, d: String): DataFrame = {
    val suffix = math.abs(d.hashCode)
    val (ordersT, lineitemT) = (s"g148_orders_$suffix", s"g148_lineitem_$suffix")
    val base = ensureScratch(s, "bucketed", d) { b =>
      s.sql(s"DROP TABLE IF EXISTS $ordersT")
      s.sql(s"DROP TABLE IF EXISTS $lineitemT")
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$b/orders").saveAsTable(ordersT)
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_quantity"))
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$b/lineitem").saveAsTable(lineitemT)
    }
    if (!s.catalog.tableExists(ordersT))
      s.sql(s"""CREATE TABLE $ordersT (o_orderkey BIGINT, o_custkey BIGINT,
        o_totalprice DOUBLE) USING parquet
        CLUSTERED BY (o_orderkey) SORTED BY (o_orderkey) INTO 8 BUCKETS
        LOCATION '$base/orders'""")
    if (!s.catalog.tableExists(lineitemT))
      s.sql(s"""CREATE TABLE $lineitemT (l_orderkey BIGINT, l_quantity DOUBLE)
        USING parquet
        CLUSTERED BY (l_orderkey) SORTED BY (l_orderkey) INTO 8 BUCKETS
        LOCATION '$base/lineitem'""")
    s.table(ordersT)
      .filter(col("o_totalprice") > 400000)
      .join(s.table(lineitemT), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey")) // bucket key: inherits the distribution, no exchange
      .agg(count(lit(1)).as("n_items"),
        sum(expr("CAST(FLOOR(l_quantity * 100) AS BIGINT)")).as("qty_cents"))
      .orderBy(col("o_orderkey"))
  }

  // q149: TFRecord sink+source under the oracle ---------------------------

  /** Documents written through [[graft.sources.TFRecordIO]] (8 shard
    * files, CRC-framed) and read back, then aggregated by md5 bucket
    * with exact byte totals — the oracle computes the same answer from
    * the ORIGINAL table, so any framing bug that drops, duplicates, or
    * corrupts even one record moves a bucket's (n, bytes) pair and
    * breaks the hash. IoSpec pins the byte framing against golden
    * bytes; this query pins end-to-end data fidelity at fixture scale. */
  def q149(s: SparkSession, d: String): DataFrame = {
    val base = ensureScratch(s, "tfrecord", d) { b =>
      graft.sources.TFRecordIO.write(
        Tables.documents(s, d).select(encode(col("text"), "UTF-8").as("record"))
          .repartition(8), s"$b/data")
    }
    graft.sources.TFRecordIO.read(s, s"$base/data")
      .select(substring(md5(col("record")), 1, 1).as("bucket"),
        length(col("record")).as("len"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("len")).as("bytes"))
      .orderBy(col("bucket"))
  }

  // q150: overlapping document chunking (RAG / context-window prep) ------

  /** Fixed-window overlapping chunker — the RAG-ingest / training
    * context-window op: each document splits into 500-char windows on a
    * 400-char stride (100-char overlap), each chunk tagged with its
    * offset and content digest for provenance. Pure generator + scalar
    * pipeline (sequence → explode → substring/md5): whole-stage
    * codegen, zero shuffles before the presentation sort, and the
    * fan-out is (len/stride)-proportional — at 100 TB this is a
    * map-only pass whose output feeds the embedding stage. The short
    * final chunk is kept (substring clamps), matching the oracle's
    * substr semantics exactly. */
  def q150(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      // an empty document must yield zero chunks (the oracle's
      // range(1, 1, 400) is empty), but sequence(1, 0, 400) THROWS
      // "illegal sequence boundaries" — filter first
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("text")), lit(400))).as("start"),
        col("text"))
      .select(col("doc_id"), col("start").cast("long").as("start_pos"),
        length(expr("substring(text, start, 500)")).cast("long").as("chunk_chars"),
        md5(expr("substring(text, start, 500)")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("start_pos"))

  // q151: int8 scalar quantization of embeddings --------------------------

  /** Max-abs int8 quantization of the embedding column — the standard
    * 4× storage/bandwidth cut an ANN serving tier applies before
    * shipping vectors (PQ's cheaper sibling; q118/q119 cover PQ). Per
    * vector: scale = max|x|, q_i = floor(x_i·127/scale + 0.5) — the
    * half-up rounding is spelled as floor(+0.5) so both engines compute
    * the identical IEEE expression (round() half-even vs half-away
    * disagreements are the classic silent divergence). The oracle
    * recomputes integer checksums (Σq, Σq², position-weighted Σi·q,
    * saturation count) so any element-level quantization drift breaks
    * the hash. Element-wise HOFs, no shuffle before the presentation
    * sort; at 100 TB this is a map-only storage-prep pass. */
  def q151(s: SparkSession, d: String): DataFrame = {
    // ONE fused codegen loop (expressions/Int8QuantStats) instead of
    // the transform + three aggregate folds + zip_with HOF pipeline,
    // which evaluates every lambda interpreted per element — the wrong
    // shape for a map-only pass over billions of vectors. NULL = zero
    // vector (the oracle's WHERE scale > 0). ExpressionSpec pins
    // bit-equality of the two forms and codegen ≡ interpreted eval.
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        call_function("int8_quant_stats", col("embedding")).as("st"))
      .filter(col("st").isNotNull)
      .select(col("vec_id"), col("st")(0).as("scale"),
        col("st")(1).cast("long").as("qsum"),
        col("st")(2).cast("long").as("qdot"),
        col("st")(3).cast("long").as("wsum"),
        col("st")(4).cast("long").as("n_sat"))
      .orderBy(col("vec_id"))
  }

  // q152: temperature-scaled language mixture allocation ------------------

  /** The multilingual-pretraining mixture op: allocate a 10 000-doc
    * sampling budget across languages proportional to n^α (α = 0.5 —
    * temperature sampling flattens the head so low-resource languages
    * aren't drowned; α=1 is natural frequency, α=0 uniform), with
    * LARGEST-REMAINDER rounding so the integer allocations sum exactly
    * to the budget. Float work is confined to one per-row
    * sqrt — weights are floored to integer micro-units immediately, so
    * every sum, division, and remainder after that is exact 64-bit
    * arithmetic (the house integer-basis-points discipline): no
    * engine-order float summation can flip an allocation. |langs| is
    * bounded, so the single-partition window rank is metadata-sized. */
  def q152(s: SparkSession, d: String): DataFrame = {
    val B = 10000L
    val counts = Tables.documents(s, d)
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .withColumn("w", floor(sqrt(col("n").cast("double")) * 1e6).cast("long"))
    val tot = counts.agg(sum(col("w")).as("totw")) // 1-row broadcast
    val based = counts.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"($B * w) DIV totw"))
      .withColumn("rem", expr(s"($B * w) % totw"))
    val deficit = based.agg((lit(B) - sum(col("base"))).as("deficit"))
    val w = Window.orderBy(col("rem").desc, col("lang"))
    based.withColumn("rk", row_number().over(w))
      .crossJoin(broadcast(deficit))
      .select(col("lang"), col("n").as("n_docs"),
        (col("base") + when(col("rk") <= col("deficit"), 1L).otherwise(0L)).as("alloc"))
      .orderBy(col("lang"))
  }

  // q153: per-dimension robust stats over the embedding matrix ------------

  /** Per-dimension median + IQR across all embedding vectors — the
    * broadcast artifact a robust feature-normalization pass consumes
    * ((x − med) / iqr is the outlier-immune alternative to z-scoring
    * that dimension-drifted embedding dumps need). The array transposes
    * via posexplode into (dim, value) pairs — fan-out ×64, map-side
    * partial-combined into 64 groups — and the exact `percentile`
    * aggregate interpolates IDENTICALLY to DuckDB's `quantile_cont`
    * (the one float function pair verified bit-equal across engines,
    * BASELINE.md round-2 note), so the medians ship as raw doubles with
    * no quantization. Output is |dims| rows — metadata-sized at any
    * corpus scale. */
  def q153(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(posexplode(col("embedding")).as(Seq("p", "x")))
      .select((col("p") + 1).cast("long").as("pos"), col("x").cast("double").as("xd"))
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n"),
        expr("percentile(xd, array(0.25D, 0.5D, 0.75D))").as("q"))
      .select(col("pos"), col("n"), col("q")(1).as("med"),
        (col("q")(2) - col("q")(0)).as("iqr"))
      .orderBy(col("pos"))

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q146_dpp_daily"     -> q146 _,
    "q147_evolved_read"  -> q147 _,
    "q148_bucketed_join" -> q148 _,
    "q149_tfrecord_io"   -> q149 _,
    "q150_doc_chunks"    -> q150 _,
    "q151_int8_quant"    -> q151 _,
    "q152_temperature_mix" -> q152 _,
    "q153_dim_stats"     -> q153 _
  )

  override val oracle: Map[String, String] = Map(
    "q146_dpp_daily" -> """
      WITH hot AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events
                   WHERE event_type = 'purchase' AND value > 250)
      SELECT e.day, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
      FROM (SELECT CAST(ts AS DATE) AS day, user_id FROM events) e
      JOIN hot USING (day)
      GROUP BY e.day ORDER BY e.day""",
    "q147_evolved_read" -> """
      WITH u AS (
        SELECT event_type, CAST(CAST(value AS REAL) AS DOUBLE) AS value,
               CAST(NULL AS VARCHAR) AS source
        FROM events WHERE event_id % 2 = 0
        UNION ALL
        SELECT event_type, value, 'ingest_v2' AS source
        FROM events WHERE event_id % 2 = 1)
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS cents,
             CAST(COUNT(source) AS BIGINT) AS n_sourced
      FROM u GROUP BY event_type ORDER BY event_type""",
    "q148_bucketed_join" -> """
      SELECT o_orderkey, CAST(COUNT(*) AS BIGINT) AS n_items,
             CAST(SUM(CAST(FLOOR(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_totalprice > 400000
      GROUP BY o_orderkey ORDER BY o_orderkey""",
    "q149_tfrecord_io" -> """
      SELECT substr(md5(text), 1, 1) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(octet_length(encode(text))) AS BIGINT) AS bytes
      FROM documents GROUP BY 1 ORDER BY 1""",
    "q150_doc_chunks" -> """
      SELECT doc_id, CAST(start AS BIGINT) AS start_pos,
             CAST(length(substr(text, CAST(start AS INTEGER), 500)) AS BIGINT) AS chunk_chars,
             md5(substr(text, CAST(start AS INTEGER), 500)) AS chunk_md5
      FROM (SELECT doc_id, text,
                   unnest(range(1, length(text) + 1, 400)) AS start
            FROM documents)
      ORDER BY doc_id, start_pos""",
    "q151_int8_quant" -> """
      WITH s AS (
        SELECT vec_id,
               CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS scale,
               embedding
        FROM embeddings),
      qv AS (
        SELECT vec_id, scale,
               list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / scale + 0.5) AS BIGINT)) AS q
        FROM s WHERE scale > 0),
      ex AS (
        SELECT vec_id, scale, unnest(q) AS qi, generate_subscripts(q, 1) AS pos FROM qv)
      SELECT vec_id, scale,
             CAST(SUM(qi) AS BIGINT) AS qsum,
             CAST(SUM(qi * qi) AS BIGINT) AS qdot,
             CAST(SUM(pos * qi) AS BIGINT) AS wsum,
             CAST(SUM(CASE WHEN abs(qi) = 127 THEN 1 ELSE 0 END) AS BIGINT) AS n_sat
      FROM ex GROUP BY vec_id, scale ORDER BY vec_id""",
    "q152_temperature_mix" -> """
      WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang),
      w AS (SELECT lang, n,
                   CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS w
            FROM c),
      t AS (SELECT CAST(SUM(w) AS BIGINT) AS totw FROM w),
      a AS (SELECT lang, n, w, (10000 * w) // totw AS base, (10000 * w) % totw AS rem
            FROM w, t),
      d AS (SELECT 10000 - CAST(SUM(base) AS BIGINT) AS deficit FROM a),
      r AS (SELECT lang, n, base, rem,
                   ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS rk FROM a)
      SELECT lang, n AS n_docs,
             CAST(base + CASE WHEN rk <= (SELECT deficit FROM d) THEN 1 ELSE 0 END AS BIGINT) AS alloc
      FROM r ORDER BY lang""",
    "q153_dim_stats" -> """
      WITH ex AS (
        SELECT generate_subscripts(embedding, 1) AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS xd
        FROM embeddings)
      SELECT CAST(pos AS BIGINT) AS pos, CAST(COUNT(*) AS BIGINT) AS n,
             quantile_cont(xd, 0.5) AS med,
             quantile_cont(xd, 0.75) - quantile_cont(xd, 0.25) AS iqr
      FROM ex GROUP BY pos ORDER BY pos"""
  )
}
