package graft

import org.apache.spark.sql.SparkSession

/** Golden physical-plan snapshots: canonical operator skeletons for
  * EVERY registered query, checked into
  * `src/test/resources/plan_golden.txt` and diffed by PlanSnapshotSpec
  * on each `sbt test`. This converts every "is the plan still the
  * efficient one?" judgment — broadcast kept? partial agg still below
  * the join? no surprise extra exchange? — into a cheap regression
  * test: any edit that changes any query's operator tree must also
  * regenerate the golden file, making plan drift reviewable in the
  * diff instead of discovered in a benchmark.
  *
  * The skeleton is deliberately coarse: operator names + tree depth
  * only, with the exchange partitioning kind and scan source kept
  * (those are the scale-relevant facts), and every expression id,
  * partition count, path, and codegen annotation stripped (those churn
  * without meaning). Plans are snapshotted at sf0.001 on the session
  * the test suite builds too ([[graft.util.Confs.graft]] of [[Cores]]),
  * so the spec's comparison is bit-stable.
  *
  * Regenerate: `sbt 'runMain graft.PlanSnapshot'` (writes the golden
  * file in place; commit the diff alongside the query change).
  */
object PlanSnapshot {

  val GoldenPath = "src/test/resources/plan_golden.txt"
  val Cores = 4
  val SfDir = "/root/testdata/sf0.001"

  /** One canonical line per plan operator: two-space indent per tree
    * level, operator name, exchange/scan detail. */
  def skeleton(planString: String): Seq[String] =
    planString.linesIterator.flatMap { raw =>
      // tree prefix: groups of 3 chars drawn from "+- ", ":- ", ":  ", "   "
      val treeLen = raw.indexWhere(c => !" +-:".contains(c))
      if (treeLen < 0) None
      else {
        val depth = treeLen / 3
        // strip a whole-stage-codegen marker like "*(3) " if present
        val rest0 = raw.substring(treeLen)
        val rest = if (rest0.startsWith("*")) rest0.dropWhile(!_.isLetter) else rest0
        val name = rest.takeWhile(c => c.isLetterOrDigit || c == '_')
        val canon = name match {
          case "" => ""
          case "AdaptiveSparkPlan" | "ResultQueryStage" => "" // wrapper noise
          case "Exchange" =>
            if (rest.contains("hashpartitioning")) "Exchange(hash)"
            else if (rest.contains("rangepartitioning")) "Exchange(range)"
            else if (rest.contains("SinglePartition")) "Exchange(single)"
            else if (rest.contains("RoundRobin")) "Exchange(roundrobin)"
            else "Exchange(other)"
          case "Scan" | "FileScan" =>
            if (rest.contains("parquet")) "Scan(parquet)"
            else if (rest.contains("ExistingRDD")) "Scan(rdd)"
            else "Scan(other)"
          case "BroadcastHashJoin" | "SortMergeJoin" | "ShuffledHashJoin" |
               "BroadcastNestedLoopJoin" =>
            // keep the join TYPE (Inner/LeftOuter/LeftSemi/LeftAnti/...):
            // silently flipping semi->inner is exactly the drift to catch
            val jt = "(Inner|FullOuter|LeftOuter|RightOuter|LeftSemi|LeftAnti|Cross|ExistenceJoin)".r
              .findFirstIn(rest).getOrElse("?")
            s"$name($jt)"
          case n => n
        }
        if (canon.isEmpty) None else Some(("  " * depth) + canon)
      }
    }.toSeq

  def render(spark: SparkSession, names: Seq[String]): String = {
    val sb = new StringBuilder
    sb.append(s"# Golden plan skeletons (sf0.001, local[$Cores], shuffle.partitions=$Cores).\n")
    sb.append("# Regenerate with: sbt 'runMain graft.PlanSnapshot'\n")
    names.foreach { n =>
      sb.append(s"== $n\n")
      // a prior query may leave its input persisted (several corpus
      // queries cache intermediates); snapshot each plan cache-clean so
      // the skeleton doesn't depend on generation order
      spark.catalog.clearCache()
      val plan = SparkEntry.queries(n)(spark, SfDir)
        .queryExecution.executedPlan.toString
      skeleton(plan).foreach(l => sb.append(l).append('\n'))
    }
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.util.Confs.graft(Cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out = render(spark, SparkEntry.queries.keys.toSeq.sorted)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("src/test/resources"))
    java.nio.file.Files.write(java.nio.file.Paths.get(GoldenPath),
      out.getBytes("UTF-8"))
    println(s"wrote ${out.linesIterator.size} lines to $GoldenPath")
    spark.stop()
  }
}
