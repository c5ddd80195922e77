package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.{DataType, StructType}

/** The lifecycle of the on-disk serving artifacts — the annidx3 layout
  * ([[graft.queries.Round10Queries.annIndex]]) and the knngraph artifact
  * ([[graft.queries.Round11Queries.knnGraphIndex]]) — written once for
  * both, as a snapshot log in the manner of Delta Lake and Iceberg:
  *  - THE MANIFEST decides what is live. Each artifact keeps numbered
  *    manifests at `<root>/_manifest/<n>` (underscore-prefixed, so
  *    Spark's directory listing skips it); the newest one lists the
  *    live part files of every table with their sizes, each table's
  *    parquet schema, the tombstone files, the operation that committed
  *    it and, per batch-key scope, the newest batch it applied. Names
  *    are relative to their table or sidecar directory, so a copied
  *    artifact stays valid. A directory that was never committed reads
  *    as its listing.
  *  - READERS take the newest manifest and hand its file list and
  *    schema to the parquet reader: no directory listing, no schema
  *    inference. The version number is the artifact's change key.
  *  - EVERY MUTATION is one [[commit]]: stage the new files, land them
  *    in their live directories, write manifest `<n+1>` aside and rename
  *    it in (the commit point), then delete what it retired. The first
  *    mutation of a never-committed directory commits its listing as
  *    version 0 before any file moves. A commit under a [[Key]] the
  *    newest manifest already holds changes nothing, so a replayed
  *    ingest batch lands once.
  *  - REPAIR is one rule, run first by every commit: a file in a live or
  *    sidecar directory that the newest manifest does not list is
  *    garbage. A crash before the rename leaves landed files unlisted; a
  *    crash after it leaves retired files unlisted; either way the sweep
  *    converges to exactly the committed rows. Readers never repair: a
  *    read planned on manifest `n` can pin a file that commit `n+1`
  *    retires, and re-plans ([[retryVanished]]).
  *  - DELETE appends the retired ids to the tombstone sidecar; every
  *    read anti-joins them (broadcast, [[Manifest.live]]; in-memory
  *    graph deletes drop edges by the same [[withoutIds]]), and a purge
  *    or compaction makes them physical. APPEND of an id with a pending
  *    tombstone makes the deletes physical first — otherwise the
  *    tombstone would hide the new row. */
object Artifacts {

  val Tombstones = "tombstones"

  /** Where one artifact keeps its tables (name → live directory), its
    * tombstone sidecar, its manifests and its commit staging. */
  final case class Layout(root: String, tables: Seq[(String, String)],
                          sidecar: String, staging: String) {
    def dirs: Seq[(String, String)] = tables :+ (Tombstones -> sidecar)
    def dir(table: String): String = dirs.toMap.apply(table)
    def manifests: Path = new Path(root, "_manifest")
  }

  def annidx(idxPath: String): Layout =
    Layout(idxPath, Seq("index" -> idxPath), idxPath + ".tombstones", idxPath + "_compact_tmp")

  def knngraph(idxPath: String): Layout =
    Layout(idxPath, Seq("graph" -> s"$idxPath/graph", "buckets" -> s"$idxPath/buckets"),
      s"$idxPath/tombstones", s"$idxPath/_compact_tmp")

  /** An exactly-once commit key: one `scope` (an ingest query's id and
    * operation) commits increasing `batch` numbers (its micro-batch
    * ids), so a batch at or below the scope's newest is a replay. */
  final case class Key(scope: String, batch: Long)

  /** One committed version of an artifact (version -1: the listing of a
    * directory never committed). `files` maps each table, tombstones
    * included, to its (name, bytes) parts; `marks` each key scope to the
    * newest batch applied. */
  final case class Manifest(at: Layout, version: Long, op: String, marks: Map[String, Long],
                            schemas: Map[String, StructType],
                            files: Map[String, Seq[(String, Long)]]) {
    def parts(table: String): Seq[(String, Long)] = files.getOrElse(table, Nil)
    def holds(key: Option[Key]): Boolean = key.exists(k => marks.get(k.scope).exists(k.batch <= _))
    def pendingDeletes: Boolean = parts(Tombstones).nonEmpty

    /** The table's committed parts, read with the committed schema. */
    def read(s: SparkSession, table: String): DataFrame = readParts(s, table, parts(table).map(_._1))

    /** The named subset of the table's committed parts. */
    def readParts(s: SparkSession, table: String, names: Seq[String]): DataFrame =
      s.read.schema(schemas(table)).parquet(names.map(n => s"${at.dir(table)}/$n"): _*)

    /** The pending deletes as a broadcast distinct `vec_id` frame. */
    def tombstones(s: SparkSession): Option[DataFrame] =
      Option.when(pendingDeletes)(broadcast(read(s, Tombstones).select(col("vec_id")).distinct()))

    /** The delete-aware read: the table's committed rows without those
      * whose `ids` columns hold a pending tombstone. */
    def live(s: SparkSession, table: String, ids: String*): DataFrame = {
      val t = read(s, table)
      tombstones(s).fold(t)(withoutIds(t, _, ids: _*))
    }

    def text: String = (Seq(s"op\t$op") ++ marks.toSeq.sorted.map { case (k, b) => s"mark\t$k\t$b" } ++
      schemas.toSeq.sortBy(_._1).map { case (t, st) => s"schema\t$t\t${st.json}" } ++
      at.dirs.flatMap { case (t, _) => parts(t).map { case (n, len) => s"file\t$t\t$n\t$len" } }
    ).mkString("\n")
  }

  /** `df` without the rows whose `cols` hold a `vec_id` of `del`: one
    * anti-join per column, the column order kept. */
  def withoutIds(df: DataFrame, del: DataFrame, cols: String*): DataFrame =
    cols.foldLeft(df)((d, c) => d.join(del.select(col("vec_id").as(c)), Seq(c), "left_anti"))
      .select(df.columns.map(col): _*)

  private def parse(at: Layout, version: Long, text: String): Manifest = {
    val rows = text.split("\n").toSeq.map(_.split("\t").toSeq)
    Manifest(at, version, rows.collectFirst { case Seq("op", op) => op }.getOrElse(""),
      rows.collect { case Seq("mark", k, b) => k -> b.toLong }.toMap,
      rows.collect { case Seq("schema", t, js) =>
        t -> DataType.fromJson(js).asInstanceOf[StructType] }.toMap,
      rows.collect { case Seq("file", t, n, len) => (t, (n, len.toLong)) }.groupMap(_._1)(_._2))
  }

  private def fsOf(s: SparkSession, at: Layout): FileSystem =
    new Path(at.root).getFileSystem(s.sparkContext.hadoopConfiguration)

  private def versions(fs: FileSystem, at: Layout): Seq[Long] =
    try fs.listStatus(at.manifests).toSeq.flatMap(_.getPath.getName.toLongOption).sorted
    catch { case _: java.io.FileNotFoundException => Nil }

  /** The files a directory listing reader sees: not `_`/`.`-prefixed. */
  private def visible(fs: FileSystem, dir: String): Seq[FileStatus] =
    try fs.listStatus(new Path(dir)).toSeq
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
    catch { case _: java.io.FileNotFoundException => Nil }

  /** The newest committed manifest; a directory never committed reads as
    * its listing (schemas inferred, version -1). */
  def snapshot(s: SparkSession, at: Layout): Manifest = {
    val fs = fsOf(s, at)
    versions(fs, at).lastOption match {
      case Some(v) => readText(fs, new Path(at.manifests, v.toString)) match {
        case Some(text) => parse(at, v, text)
        case None => snapshot(s, at) // retired between the listing and the read
      }
      case None =>
        val listed = Manifest(at, -1, "listing", Map.empty, Map.empty, at.dirs.map { case (t, d) =>
          t -> visible(fs, d).map(f => f.getPath.getName -> f.getLen) }.toMap)
        listed.copy(schemas = listed.files.collect { case (t, ps) if ps.nonEmpty =>
          t -> s.read.parquet(ps.map(p => s"${at.dir(t)}/${p._1}"): _*).schema })
    }
  }

  // small files: markers and manifests -------------------------------------

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

  // the commit ---------------------------------------------------------------

  /** What one commit does: write each frame as new parts of its table,
    * and retire the listed (table, part name) files. */
  final case class Change(writes: Seq[(String, DataFrame)], retire: Seq[(String, String)] = Nil)

  /** Commit one mutation. Repairs first; a `key` the newest manifest
    * holds, or a `change` of None, commits nothing (returns None).
    * Otherwise a directory never committed first commits its listing
    * as version 0, the change's frames are staged under `<staging>/<i>`,
    * landed into their live directories, manifest `<n+1>` is written
    * aside and renamed in, and the retired files are deleted. `failpoint`
    * is called at every boundary (`adopted`, `staged`, `landed`,
    * `committed`, `deleted-<i>`) so the crash-race spec can kill there;
    * production callers leave it a no-op. Returns the committed change. */
  def commit(s: SparkSession, at: Layout, op: String, key: Option[Key] = None,
             failpoint: String => Unit = _ => ())
            (change: Manifest => Option[Change]): Option[Change] = {
    val fs = fsOf(s, at)
    val cur = repair(s, at)
    if (cur.holds(key)) return None
    change(cur).map { ch =>
      val base = if (cur.version >= 0 || cur.files.values.forall(_.isEmpty)) cur else {
        val v0 = cur.copy(version = 0, op = "adopt")
        publish(fs, v0)
        failpoint("adopted")
        v0
      }
      val staged = ch.writes.zipWithIndex.map { case ((t, df), i) =>
        df.write.parquet(s"${at.staging}/$i")
        t -> s"${at.staging}/$i"
      }
      failpoint("staged")
      val landed = staged.flatMap { case (t, dir) =>
        fs.mkdirs(new Path(at.dir(t)))
        visible(fs, dir).map { f =>
          move(fs, f.getPath, new Path(at.dir(t), f.getPath.getName))
          t -> (f.getPath.getName, f.getLen)
        }
      }
      failpoint("landed")
      // a table keeps the schema it was first committed with
      val next = base.copy(version = base.version + 1, op = op,
        marks = base.marks ++ key.map(k => k.scope -> k.batch),
        schemas = ch.writes.map { case (t, df) => t -> df.schema }.toMap ++ base.schemas,
        files = at.dirs.map { case (t, _) => t -> (base.parts(t).filterNot(p =>
          ch.retire.contains(t -> p._1)) ++ landed.collect { case (`t`, p) => p }) }.toMap)
      publish(fs, next)
      failpoint("committed")
      sweep(fs, next, failpoint)
      ch
    }
  }

  /** Write `m` aside in the staging directory, then rename it in as
    * `_manifest/<version>`: it exists whole or not at all. */
  private def publish(fs: FileSystem, m: Manifest): Unit = {
    val aside = new Path(m.at.staging, "manifest")
    writeText(fs, aside, m.text)
    fs.mkdirs(m.at.manifests)
    move(fs, aside, new Path(m.at.manifests, m.version.toString))
  }

  private def move(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) throw new java.io.IOException(s"could not move $from to $to")

  /** The repair rule: delete every file of a live or sidecar directory
    * that `m` does not list (a sidecar emptied this way goes with its
    * files), the manifests before `m`'s predecessor, and the staging. */
  private def sweep(fs: FileSystem, m: Manifest, failpoint: String => Unit): Unit = {
    if (m.version >= 0) {
      val garbage = m.at.dirs.flatMap { case (t, d) => visible(fs, d)
        .filterNot(f => m.parts(t).exists(_._1 == f.getPath.getName)).map(t -> _.getPath) }
      garbage.zipWithIndex.foreach { case ((_, p), i) =>
        fs.delete(p, false)
        failpoint(s"deleted-$i")
      }
      if (!m.pendingDeletes && garbage.exists(_._1 == Tombstones)) fs.delete(new Path(m.at.sidecar), true)
      versions(fs, m.at).filter(_ < m.version - 1)
        .foreach(v => fs.delete(new Path(m.at.manifests, v.toString), false))
    }
    fs.delete(new Path(m.at.staging), true)
  }

  /** Converge a crashed commit by the repair rule; returns the newest
    * manifest. Idempotent at any crash point, including none. */
  def repair(s: SparkSession, at: Layout): Manifest = {
    val m = snapshot(s, at)
    sweep(fsOf(s, at), m, _ => ())
    m
  }

  /** Logical delete under `key`: the retired ids as new tombstone parts.
    * Idempotent — a redundant tombstone row is absorbed by the reads. */
  def delete(s: SparkSession, at: Layout, ids: DataFrame, key: Option[Key] = None,
             failpoint: String => Unit = _ => ()): Unit =
    commit(s, at, "delete", key, failpoint)(_ =>
      Some(Change(Seq(Tombstones -> ids.select(col("vec_id").cast("long"))))))

  /** Append the `rows` of a drop carrying `ids` under `key`. When the
    * ids intersect the pending tombstones of an unheld key (delete →
    * re-add before the next rewrite), `makePhysical` runs first so the
    * appended rows land with no tombstone outranking them; the disjoint
    * (common) path is a semi join against the broadcast tombstones. The
    * commit then repairs and checks the key. */
  def append(s: SparkSession, at: Layout, ids: DataFrame, key: Option[Key] = None,
             failpoint: String => Unit = _ => ())(makePhysical: => Unit)
            (rows: Manifest => Seq[(String, DataFrame)]): Unit = {
    val m = snapshot(s, at)
    val ids64 = ids.select(col("vec_id").cast("long").as("vec_id"))
    if (!m.holds(key) && m.tombstones(s).exists(!ids64.join(_, Seq("vec_id"), "left_semi").isEmpty))
      makePhysical
    commit(s, at, "append", key, failpoint)(m => Some(Change(rows(m))))
  }

  /** The reader-side half of the commit: a read planned on one manifest
    * can pin a part file that the next commit retires. The artifact is
    * always complete, so a vanished file is a re-plan, not an error —
    * the retry reads the newest manifest again. Surfaces as FileNotFound
    * (task read) or as PATH_NOT_FOUND / FAILED_READ_FILE (planning or
    * reading a retired file). */
  def retryVanished[T](attempts: Int)(read: => T): T =
    try read
    catch { case t: Throwable if attempts > 1 && isVanished(t) =>
      retryVanished(attempts - 1)(read) }

  private def isVanished(t: Throwable): Boolean = t != null && ((t match {
    case _: java.io.FileNotFoundException => true
    case st: org.apache.spark.SparkThrowable => Option(st.getCondition)
      .exists(c => c.startsWith("PATH_NOT_FOUND") || c.startsWith("FAILED_READ_FILE"))
    case _ => false
  }) || ((t.getCause ne t) && isVanished(t.getCause)))
}
