package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.util.Confs.graft(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Targeted runs while iterating (same contract as Bench); the driver
    // never sets this, so its gate always dumps the full query set.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // remove any STALE output from a previous run: an analysis-time
        // failure happens before the overwrite touches the directory, and
        // leftover parquet would grade a broken query as a PASS. Cleanup
        // itself must never abort the loop (Spark's async committer abort
        // can race the walk), so best-effort per file.
        try {
          val dir = Paths.get(s"$outDir/$name")
          if (Files.exists(dir)) {
            val walk = Files.walk(dir)
            try {
              import scala.jdk.CollectionConverters._
              walk.iterator().asScala.toSeq.reverse
                .foreach(p => try Files.deleteIfExists(p) catch { case _: Throwable => () })
            } finally walk.close()
          }
        } catch { case c: Throwable =>
          System.err.println(s"[verify] $name stale-cleanup incomplete: ${c.getMessage}")
        }
      }
      finally spark.catalog.clearCache() // per-query persist() must not leak
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
