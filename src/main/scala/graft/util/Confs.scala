package graft.util

import org.apache.spark.sql.SparkSession

/** The engine's session confs: the one session builder, and confs
  * scoped to one body of work. */
object Confs {

  /** The session every entry point and the test suite build on:
    * `local[cores]`, `cores` shuffle partitions, UTC session time, no UI. */
  def graft(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** Runs `body` with `pairs` set on the session, then gives each conf
    * back its previous value, or unsets it if it had none. */
  def scoped[T](s: SparkSession, pairs: (String, String)*)(body: => T): T = {
    val saved = pairs.map { case (k, _) => k -> s.conf.getOption(k) }
    pairs.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
