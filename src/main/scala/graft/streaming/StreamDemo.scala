package graft.streaming

import org.apache.spark.sql.functions._
import graft.Tables

/** Runnable streaming drive: replays the events fixture through a
  * file-based readStream (one parquet "micro-batch"), runs the same
  * builders the batch queries use, and prints counts + a sample.
  * Usage: runMain graft.streaming.StreamDemo [sfDir]. */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.util.Confs.graft(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // Stage the fixture as a streaming source directory.
    val stage = java.nio.file.Files.createTempDirectory("graft_stream").toString
    Tables.events(spark, sfDir).write.parquet(s"$stage/in")
    val schema = spark.read.parquet(s"$stage/in").schema
    val stream = spark.readStream.schema(schema).parquet(s"$stage/in")

    val q = Streaming.tumblingCounts(stream, watermark = Some("1 day"))
      .writeStream.format("memory").queryName("demo_tumbling")
      .outputMode("append").option("checkpointLocation", s"$stage/ckpt")
      .start()
    q.processAllAvailable()
    q.stop()

    val got = spark.table("demo_tumbling")
    val n = got.count()
    val batch = Streaming.tumblingCounts(Tables.events(spark, sfDir)).count()
    println(s"STREAMDEMO stream_windows=$n batch_windows=$batch")
    got.orderBy("w_start_us", "event_type").show(5)
    spark.stop()
  }
}
