package graft

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
