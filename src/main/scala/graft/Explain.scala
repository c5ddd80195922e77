package graft

/** Plan inspector: prints the formatted physical plan for the named
  * queries (or all). Usage: runMain graft.Explain [sfDir] [q...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.util.Confs.graft(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"===== $n =====")
      try println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"EXPLAIN FAILED: ${e.getMessage}") }
    }
    spark.stop()
  }
}
