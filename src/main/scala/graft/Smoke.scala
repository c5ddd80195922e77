package graft

/** Local stand-in for the driver's t1 smoke: entry(spark) on sf0.001
  * must return rows > 0. Prints one status line. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.util.Confs.graft(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val n = SparkEntry.entry(spark).count()
    println(s"SMOKE entry rows=$n queries=${SparkEntry.queries.size} oracle=${SparkEntry.oracleSql.size} ${if (n > 0) "OK" else "FAIL"}")
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
