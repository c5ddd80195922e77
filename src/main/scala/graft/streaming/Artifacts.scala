package graft.streaming

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

/** The lifecycle of the on-disk serving artifacts — the annidx3 layout
  * ([[graft.queries.Round10Queries.annIndex]]) and the knngraph artifact
  * ([[graft.queries.Round11Queries.knnGraphIndex]]) — written once for
  * both:
  *  - DELETE is an O(|delete|) append of the retired ids to a tombstone
  *    sidecar; every read anti-joins the (broadcast, |deletes|-sized)
  *    sidecar, so a delete is visible at once and physical later.
  *  - APPEND of an id that still has a pending tombstone makes the
  *    deletes physical first — otherwise the sidecar would hide the new
  *    row and the next purge would drop it.
  *  - PHYSICAL rewrites (compaction, purge) go through one staged
  *    land-then-retire [[swap]] whose `_plan` file is the commit point,
  *    and every mutating call first runs [[repair]], which aborts an
  *    uncommitted swap and rolls a committed one forward — so a crash
  *    at any point leaves exactly-once rows. Readers never repair; a
  *    read planned inside a swap window re-plans ([[retryVanished]]).
  * Each artifact names where its sidecar and its staging live
  * ([[annidx]], [[knngraph]]); the protocol is the same. */
object Artifacts {

  /** Where one artifact keeps its tombstone sidecar and its swap
    * staging directory (invisible to readers of the live files). */
  final case class Layout(sidecar: String, staging: String)

  def annidx(idxPath: String): Layout =
    Layout(idxPath + ".tombstones", idxPath + "_compact_tmp")

  def knngraph(idxPath: String): Layout =
    Layout(s"$idxPath/tombstones", s"$idxPath/_compact_tmp")

  private def fsOf(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  // small files: markers, plans, manifests ---------------------------------

  /** The UTF-8 content of a small file, or None when it does not exist
    * (or vanished while being read). The stream closes on every path. */
  def readText(fs: FileSystem, p: Path): Option[String] =
    try {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  def writeText(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  // tombstone sidecar --------------------------------------------------------

  /** Logical delete: a parquet append of the retired ids. Idempotent — a
    * redundant tombstone row is absorbed by the reads and the rewrite. */
  def appendTombstones(s: SparkSession, at: Layout, ids: DataFrame): Unit = {
    repair(s, at)
    ids.select(col("vec_id").cast("long")).write.mode("append").parquet(at.sidecar)
  }

  /** The pending deletes as a broadcast distinct `vec_id` frame, or None
    * when the sidecar is missing, empty or vanished. An EMPTY directory
    * is what a recursive delete that stops partway leaves behind, and
    * schema inference over zero files throws; a directory that vanishes
    * between the exists and the listing (a concurrent swap retiring the
    * sidecar) reads as "no deletes" too. One existence check when there
    * is no sidecar — this runs on every serve request. */
  def tombstones(s: SparkSession, at: Layout): Option[DataFrame] = {
    val p = new Path(at.sidecar)
    val fs = fsOf(s, p)
    def hasFiles =
      try fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet"))
      catch { case _: java.io.FileNotFoundException => false }
    if (fs.exists(p) && hasFiles)
      Some(broadcast(s.read.parquet(at.sidecar).select(col("vec_id")).distinct()))
    else None
  }

  /** Enter an append of `ids`: repair, then — when the ids intersect the
    * sidecar (delete → re-add before the next rewrite) — run
    * `makePhysical` so the appended rows land with no tombstone
    * outranking them. The disjoint (common) path is a semi join of the
    * drop against the broadcast sidecar. */
  def beforeAppend(s: SparkSession, at: Layout, ids: DataFrame)
                  (makePhysical: => Unit): Unit = {
    repair(s, at)
    tombstones(s, at).foreach { dels =>
      val readded = ids.select(col("vec_id").cast("long").as("vec_id"))
        .join(dels, Seq("vec_id"), "left_semi")
      if (!readded.isEmpty) makePhysical
    }
  }

  // the staged swap --------------------------------------------------------

  /** Swap rewritten files in. The caller has written each rewrite as
    * parquet under `<staging>/<name>`; `lands` maps each name to the live
    * directory its files land in (as `<name>-<part file>`), `retire`
    * lists the paths the rewrite supersedes (files, or a sidecar
    * directory), deleted in order once everything has landed — so the
    * live state is never missing a row, only transiently a superset.
    *
    * The `_plan` file is the commit point: it is written aside and
    * renamed in, so it exists whole or not at all. A crash before it
    * leaves the live files untouched ([[repair]] discards the staging);
    * a crash after it is completed forward by [[repair]]. `failpoint`
    * is called at every boundary (`staged`, `planned`, `renamed-<name>`,
    * `deleted-<i>`) so the crash-race spec can kill there; production
    * callers leave it a no-op. */
  def swap(s: SparkSession, at: Layout, lands: Seq[(String, String)],
           retire: Seq[String], failpoint: String => Unit = _ => ()): Unit = {
    val dir = new Path(at.staging)
    val fs = fsOf(s, dir)
    def uri(p: String) = new Path(p).toUri.toString
    val plan = (lands.map { case (name, live) => s"land\t$name\t${uri(live)}" } ++
      retire.map(p => s"retire\t${uri(p)}")).mkString("\n")
    failpoint("staged")
    val aside = new Path(dir, "_plan.tmp")
    writeText(fs, aside, plan)
    if (!fs.rename(aside, new Path(dir, "_plan")))
      throw new java.io.IOException(s"could not commit the swap plan in $dir")
    failpoint("planned")
    rollForward(fs, dir, plan, failpoint)
  }

  /** Converge a crashed [[swap]]: no staging means nothing to do; staging
    * without a `_plan` never reached the commit point, so the live files
    * are intact and the staging is discarded; a `_plan` means the swap
    * completes — staged files still in staging land, planned paths still
    * present are deleted, the staging goes last. Idempotent at any crash
    * point, including none. Every mutating call runs it first. */
  def repair(s: SparkSession, at: Layout): Unit = {
    val dir = new Path(at.staging)
    val fs = fsOf(s, dir)
    if (fs.exists(dir)) readText(fs, new Path(dir, "_plan")) match {
      case Some(plan) => rollForward(fs, dir, plan, _ => ())
      case None => fs.delete(dir, true)
    }
  }

  private def rollForward(fs: FileSystem, dir: Path, plan: String,
                          failpoint: String => Unit): Unit = {
    val entries = plan.split("\n").toSeq.map(_.split("\t").toSeq)
    entries.collect { case Seq("land", name, live) => (name, live) }.foreach { case (name, live) =>
      fs.listStatus(new Path(dir, name)).map(_.getPath)
        .filter(_.getName.endsWith(".parquet"))
        .foreach { p =>
          val to = new Path(new Path(new URI(live)), s"$name-${p.getName}")
          if (!fs.rename(p, to))
            throw new java.io.IOException(s"could not land $p as $to")
        }
      failpoint(s"renamed-$name")
    }
    entries.collect { case Seq("retire", p) => p }.zipWithIndex.foreach { case (p, i) =>
      fs.delete(new Path(new URI(p)), true)
      failpoint(s"deleted-$i")
    }
    fs.delete(dir, true)
  }

  /** The reader-side half of the swap: a read planned just before a swap
    * can pin a part file or a sidecar that the swap then retires. The
    * artifact is always complete, so a vanished path is a re-plan, not
    * an error — the retry re-lists, and by the land-then-retire order
    * now sees a whole pre- or post-swap set. Surfaces as FileNotFound
    * (task read) or as UNABLE_TO_INFER_SCHEMA / PATH_NOT_FOUND /
    * FAILED_READ_FILE (planning over the vanished path). */
  def retryVanished[T](attempts: Int)(read: => T): T =
    try read
    catch { case t: Throwable if attempts > 1 && isVanished(t) =>
      retryVanished(attempts - 1)(read) }

  private def isVanished(t: Throwable): Boolean =
    t != null && (t.isInstanceOf[java.io.FileNotFoundException] ||
      (t match {
        case st: org.apache.spark.SparkThrowable =>
          Option(st.getCondition).exists(c =>
            c.startsWith("UNABLE_TO_INFER_SCHEMA") ||
            c.startsWith("PATH_NOT_FOUND") ||
            c.startsWith("FAILED_READ_FILE"))
        case _ => false
      }) ||
      ((t.getCause ne t) && isVanished(t.getCause)))
}
