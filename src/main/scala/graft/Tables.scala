package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver-generated fixture tables (TESTDATA.md).
  *
  * All tables are single parquet files per scale factor; schemas are
  * documented in FIXTURES.md. At 100 TB these would be partitioned
  * directories — `spark.read.parquet` handles both shapes identically,
  * and filter/projection pushdown reaches the scan either way.
  *
  * ## Scan-parallelism restoration
  *
  * A parquet file is only splittable at row-group boundaries, and the
  * fixture files are written with row groups of up to ~1M rows — at the
  * bench scale factors most tables are ONE row group, so a bare scan
  * yields one non-empty partition and everything downstream of it
  * (tokenize, explode, per-row hashing, partial aggregation) runs on a
  * single core while the other 31 idle. `load` therefore hash-
  * repartitions the scan to `defaultParallelism` BY THE TABLE'S PRIMARY
  * KEY when the footer says the scan can't reach useful width on its
  * own: for the narrow-heavy tables (documents/embeddings/events)
  * whenever `rowGroups < defaultParallelism`, for the relational fact
  * tables only when the scan is near-serial (`rowGroups <= 2` and the
  * file is big enough that a serial decode actually costs something) —
  * their first transform is usually a groupBy/join that re-partitions
  * anyway, so widening them on a merely-narrow scan is pure tax
  * (measured: +1.3 s on the sf1 brand rollup). At 100 TB every table
  * is a many-file directory — the footer probe fails, reports
  * "already wide", and the rule no-ops, so no query pays a shuffle it
  * wouldn't need on a real cluster; locally the one small-file
  * exchange (the whole file, tens of MB) buys back 32× on every
  * downstream narrow stage. Hash (not round-robin) partitioning keeps
  * the exchange deterministic and sort-free, and Catalyst still pushes
  * filters and column pruning through the exchange into the scan.
  */
object Tables {
  /** Primary hash-distribution key per table; joins/groupBys on the
    * same key reuse the exchange outright. */
  private val tableKeys = Map(
    "customer" -> "c_custkey", "supplier" -> "s_suppkey",
    "part" -> "p_partkey", "orders" -> "o_orderkey",
    "lineitem" -> "l_orderkey", "events" -> "user_id",
    "documents" -> "doc_id", "embeddings" -> "vec_id")

  /** Tables whose queries do heavy NARROW work right after the scan
    * (tokenize, per-row hashing, JSON parse, vector math): widening
    * pays for its one exchange many times over. The relational fact
    * tables mostly hit a wide transform (groupBy/join/distinct) first,
    * which re-partitions anyway — for them an extra exchange is pure
    * tax unless the scan is truly serial. */
  private val narrowHeavy = Set("documents", "embeddings", "events")

  private def fileBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(p).getLength
  }

  /** Row-group count = the scan's effective parallelism ceiling for a
    * single parquet file. Footers are tiny; results are cached per
    * path. A directory (the 100 TB many-file shape) fails the single-
    * file footer read and reports MaxValue — i.e. "already wide". */
  private val rgCache = scala.collection.concurrent.TrieMap.empty[String, Int]
  private def rowGroups(spark: SparkSession, path: String): Int =
    rgCache.getOrElseUpdate(path,
      try {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(path),
          spark.sparkContext.hadoopConfiguration)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getFooter.getBlocks.size finally r.close()
      } catch { case _: Exception => Int.MaxValue })

  private[graft] def widen(spark: SparkSession, df: DataFrame,
      name: String, key: String, path: String): DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    val rg = rowGroups(spark, path)
    // size floors: the exchange costs a fixed ~0.2 s locally, so it
    // must buy back more serial decode/compute than that. Measured at
    // sf0.1 (narrow tables 0.3-1 MB) widening REGRESSED the suite
    // 53->78 s — every query paid the exchange, none recovered it —
    // while at sf1 (documents 5.8 MB, events 12 MB) it wins 2-5x on
    // the tokenize/vector-math queries. 2 MB (narrow-heavy) / 32 MB
    // (fact, near-serial scans only) puts the cutover between those
    // two measured points.
    val worthIt =
      if (narrowHeavy(name)) rg < par && fileBytes(spark, path) >= 2L * 1024 * 1024
      else rg <= 2 && fileBytes(spark, path) >= 32L * 1024 * 1024
    if (worthIt) df.repartition(par, col(key)) else df
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = spark.read.parquet(path)
    tableKeys.get(name) match {
      case Some(key) => widen(spark, df, name, key, path)
      case None => df
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.ts unit detection. Fixture vintages differ: early rounds
    * shipped parquet TIMESTAMP(NANOS) (which Spark 4 refuses to read as
    * a timestamp), later ones TIMESTAMP(MICROS) (native). A hard-coded
    * assumption either way silently stretches or collapses the event
    * timeline 1000×, so the reader asks the footer which unit the file
    * actually stores and converts only when it must. A directory (the
    * 100 TB many-file shape) fails the single-file footer read and is
    * assumed native — Spark errors loudly there if a nanos file sneaks
    * in, which beats silently wrong timestamps. */
  private val tsUnitCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private[graft] def eventsTsUnit(spark: SparkSession, path: String): String =
    tsUnitCache.getOrElseUpdate(path,
      try {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(path),
          spark.sparkContext.hadoopConfiguration)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          import org.apache.parquet.schema.LogicalTypeAnnotation
          val schema = r.getFooter.getFileMetaData.getSchema
          val field = schema.getType(schema.getFieldIndex("ts"))
          field.asPrimitiveType().getLogicalTypeAnnotation match {
            case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              t.getUnit.toString // NANOS | MICROS | MILLIS
            case _ => "NONE" // bare INT64: treat as nanos (round-1 vintage)
          }
        } finally r.close()
      } catch { case _: Exception => "NATIVE" })

  /** Raw-INT64 schema for the nanos vintage, where Spark can't read the
    * annotated column at all; floor to microseconds — the same
    * truncation DuckDB's `CAST(ts AS TIMESTAMP)` applies, so both
    * engines see identical µs values. */
  private val eventsSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  def events(s: SparkSession, d: String): DataFrame = {
    val path = s"$d/events.parquet"
    widen(s, eventsRaw(s, d), "events", "user_id", path)
  }

  /** events WITHOUT the widen exchange — for dimension-side subtrees
    * whose first op is a selective filter plus a narrow projection:
    * there the parquet pushdown does all the work and a widen shuffle
    * of the full table is pure tax (and inside a DPP subquery it would
    * be paid twice — once for the pruning filter, once for the join
    * side). */
  def eventsRaw(s: SparkSession, d: String): DataFrame = {
    val path = s"$d/events.parquet"
    eventsTsUnit(s, path) match {
      case "NANOS" | "NONE" =>
        s.read.schema(eventsSchema).parquet(path)
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        // MICROS/MILLIS/dir: Spark-native read. The fixtures annotate
        // isAdjustedToUTC=false so Spark yields TIMESTAMP_NTZ; cast to
        // TimestampType for a uniform downstream schema — the session
        // timezone is pinned to UTC everywhere, so the µs values are
        // bit-identical to DuckDB's naive reading.
        s.read.parquet(path).withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** The corpus vectors (vec_id, cols…, v): embeddings with the float
    * vector cast to double once, `cols` carried between id and vector. */
  def vectors(s: SparkSession, d: String, cols: String*): DataFrame =
    embeddings(s, d).select(
      (col("vec_id") +: cols.map(col)) :+ graft.functions.VectorOps.toD(col("embedding")).as("v"): _*)
}
