package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for the test suite. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String): String = s"/root/testdata/$name"

  /** Run `body` with session confs temporarily set, restoring the
    * ORIGINAL values (not assumed defaults) afterwards — the round-8
    * lesson: a hardcoded "restore" leaves the shared session wrong if
    * the default ever differs, and later suites' plans drift. */
  def withConf[T](pairs: (String, String)*)(body: => T): T =
    graft.util.Confs.scoped(spark, pairs: _*)(body)

  /** The number of Spark jobs `body` runs. A listener counts the jobs
    * of a fresh job group set on this thread only, since other suites
    * may share the context. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(jobs.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      try body finally sc.clearJobGroup()
      // listener events arrive in order: once a later sentinel job is
      // seen, every measured job has been counted
      val sentinel = s"$group-sentinel"
      sc.setJobGroup(sentinel, "sentinel")
      try sc.parallelize(1 to 1, 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!jobs.contains(sentinel) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(jobs.contains(sentinel), "the listener never saw the sentinel job")
      jobs.toArray.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = graft.util.Confs.graft(PlanSnapshot.Cores)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftFunctions.ensure(s)
    s
  }
}
