package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{Retrieval, VectorOps}
import graft.streaming.Artifacts

/** Round-10 additions.
  *
  * q161 completes the interchange-format story (parquet, Avro,
  * TFRecord, CSV, JSON-lines, text-lines → now ORC, Spark's other
  * first-class columnar format) under the same end-to-end fidelity
  * checksums as q156–q159.
  *
  * q162–q167 extend the similarity-search family with the modern
  * retrieval shapes the existing LSH/IVF/PQ queries don't cover —
  * q162/q163/q167 run stage 1 over the write-once [[annIndex]]
  * layout (narrow sign-word/prefix columns, the ingest-time artifact)
  * and fetch full vectors from the base table only for the shortlist;
  * q165 mines contrastive hard negatives; q166 fuses retriever lists
  * with RRF; q167 pushes a metadata predicate into the index scan
  * (filtered search). The first three in detail:
  *  - q162 matryoshka (MRL) two-stage retrieval: shortlist on a
  *    low-dim PREFIX of the embedding (Kusupati et al. 2022 — MRL
  *    embeddings are trained so prefixes are usable sub-embeddings),
  *    exact full-dim rerank of the shortlist. The 100 TB economics:
  *    the stage-1 scan reads 16 of 64 dims (4× less IO/FLOPs than
  *    brute force), and only |queries|×32 rows ever pay full-dim math.
  *  - q163 binary (1-bit) quantization + Hamming shortlist: the sign
  *    bit of each dimension packs the 64-dim vector into two 32-bit
  *    words, candidate ranking is two XOR+popcounts per pair — 32×
  *    smaller than float32 and integer-exact across engines — with an
  *    exact cosine rerank of the top-32.
  *  - q164 late-interaction MaxSim (Khattab & Zaharia 2020, ColBERT):
  *    treat the embedding as 8 contiguous 8-dim token sub-vectors and
  *    score Σ_i max_j cos(q_i, d_j) — the multi-vector scoring shape —
  *    over a broadcast query set, bounded-heap top-k.
  *
  * All ranking math is integer basis points (floor(·×10⁴)) with
  * vec_id tiebreaks at every rank boundary, so both the shortlist CUT
  * and the final order are bit-deterministic and the DuckDB oracle
  * reproduces them exactly.
  */
object Round10Queries extends QueryPack {

  import VectorOps.{cosineSql, cosineQNative}
  import Retrieval.heapTopK

  // q161: ORC sink+source fidelity under the oracle -----------------------

  /** ORC is Spark's second native columnar format; the fidelity pins
    * are q157/q158's: row count (framing/stripes), Σ micros-of-day
    * (timestamp logical type to the microsecond), Σ user_id, an
    * md5-prefix checksum over `props` (string fidelity; `props` is a
    * JSON document so every codepoint matters), and the house
    * decimal-cents value sum. Written once per fixture (marker-gated
    * [[Round8Queries.ensureScratch]]) with 8 shards; read back with
    * COLUMN PROJECTION (event_id is skip-read, exercising ORC's
    * column pruning). The oracle computes identical checksums from
    * the ORIGINAL parquet.
    *
    * Known ORC limitation (pinned in Round10Spec): timestamps inside
    * the one-second window just before the epoch read back +1 s
    * (seconds/nanos split uses truncating instead of floor division
    * at seconds = −1). Round 11: the house sink ([[graft.sources.OrcIO]])
    * REJECTS such rows at write time with a named ORC_PRE_EPOCH error
    * instead of landing silently-corrupting values (Round11Spec);
    * corpora that can carry 1969-12-31 23:59:59.xxx should interchange
    * via parquet/Avro, which round-trip exactly. */
  def q161(s: SparkSession, d: String): DataFrame = {
    import graft.util.Det._
    val base = Round8Queries.ensureScratch(s, "orc", d) { b =>
      graft.sources.OrcIO.write(
        Tables.events(s, d)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"), col("props"))
          .repartition(8),
        s"$b/data")
    }
    s.read.orc(s"$base/data")
      .select(col("ts"), col("user_id"), col("event_type"), col("value"),
        col("props"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(unix_micros(col("ts")) % lit(86400000000L)).as("ts_day_us_sum"),
        sum(col("user_id")).as("uid_sum"),
        sum(conv(substring(md5(col("props")), 1, 8), 16, 10).cast("long"))
          .as("props_ck"),
        dsum(col("value")).as("sum_value"))
      .orderBy(col("event_type"))
  }

  // Shared retrieval fragments --------------------------------------------

  /** The derived ANN index layout, written ONCE per fixture (the
    * ingest-time artifact the q162/q163 scaladocs promise): one narrow
    * parquet with `vec_id`, the two packed sign words (q163's 8-byte
    * Hamming index), and the 16-dim prefix (q162's matryoshka
    * sub-embedding). Stage-1 scans read ONLY their index columns —
    * parquet pruning makes the Hamming pass a 24-byte-per-row scan and
    * the prefix pass a 16-double scan instead of the 256-byte
    * embedding payload; PlanGuardSpec pins that `embedding` never
    * appears in a stage-1 ReadSchema. The rerank fetches full vectors
    * from the BASE table by id, exactly the serve-time split. The build
    * commits version 0 of the artifact's manifest
    * ([[graft.streaming.Artifacts]]); every later mutation commits the
    * next one, and every reader goes through [[readAnnIndex]]. */
  private[graft] def annIndex(s: SparkSession, d: String): String = {
    // tag v3: the layout gained the IVFPQ columns — coarse `cell` +
    // residual PQ `codes` (q124) and raw PQ `rcodes` (q119) — so ADC
    // serving reads the ingest-time artifact instead of re-encoding
    // per query. All encode columns are one zero-shuffle map pass over
    // the same scan (no self-joins); parquet column pruning keeps every
    // consumer's stage-1 scan as narrow as before (v2: label for q167's
    // filtered search; v1: sign words + prefix).
    // recipe version in the marker (round-15 ADVICE): any change to the
    // PQ geometry or the layout columns rebuilds the standing index
    // instead of serving stale scratch
    // (`manifest`: the build commits version 0 of the artifact)
    val ver = s"r16:pq=${LlmQueries.PqM}x${LlmQueries.PqDs}:cols=v3:manifest"
    val base = Round8Queries.ensureScratch(s, "annidx3", d, ver) { b =>
      val e = Tables.vectors(s, d, "label")
      val vecs = e.select(col("vec_id"), col("v"))
      Artifacts.commit(s, Artifacts.annidx(s"$b/index"), "build")(_ => Some(Artifacts.Change(
        Seq("index" -> annIndexRows(e, LlmQueries.ivfCentroids(vecs), LlmQueries.pqCodebook(vecs))
          .repartition(8)))))
    }
    s"$base/index"
  }

  /** The index-row encode pass shared by the initial [[annIndex]] build
    * and [[appendToAnnIndex]]: input (vec_id, label, v) → the full
    * annidx3 row. One zero-shuffle map; the IVFPQ model (cents, cb) is
    * a bounded literal artifact, so an append encodes EXACTLY like the
    * initial build and the incremental index is bit-identical to a
    * from-scratch rebuild over the union (pinned in StreamingSpec). */
  private[graft] def annIndexRows(e: DataFrame,
      cents: IndexedSeq[(Long, IndexedSeq[Double])],
      cb: IndexedSeq[IndexedSeq[Double]]): DataFrame =
    LlmQueries.ivfPqEncode(e, cents, cb)
      .select(col("vec_id"), col("label"),
        VectorOps.signWord(col("v"), 0).as("lo"), VectorOps.signWord(col("v"), 32).as("hi"),
        slice(col("v"), 1, MrlDims).as("prefix"),
        col("cell"), col("codes"),
        LlmQueries.pqCodesFor(col("v"), cb).as("rcodes"))

  /** Incremental index maintenance: encode a new vector drop with the
    * index's FROZEN model artifacts and commit it to the layout as new
    * part files — O(|drop|) work, no rebuild, no touch of existing
    * files. The serving contract after an append: probes see old ∪ new
    * exactly as if the index had been built from the union (same model
    * ⇒ same rows). Caller owns id-uniqueness across drops, as with any
    * ingest loop; a replayed drop under a held `key` (the ingest
    * loop's micro-batch id) lands once. A re-add under a
    * still-tombstoned id purges first ([[graft.streaming.Artifacts.append]]). */
  private[graft] def appendToAnnIndex(newRows: DataFrame, idxPath: String,
      cents: IndexedSeq[(Long, IndexedSeq[Double])],
      cb: IndexedSeq[IndexedSeq[Double]], key: Option[Artifacts.Key] = None,
      failpoint: String => Unit = _ => ()): Unit = {
    val s = newRows.sparkSession
    Artifacts.append(s, Artifacts.annidx(idxPath), newRows, key, failpoint)(
      purgeAnnIndex(s, idxPath))(_ => Seq("index" -> annIndexRows(newRows, cents, cb)))
  }

  /** Compaction for the ingest-loop index: [[appendToAnnIndex]] accretes
    * one small part file per drop forever, and every probe's stage-1
    * scan pays a read task per file — this pass folds the small files
    * into ~`targetBytes` outputs and retires the originals, exactly the
    * OPTIMIZE primitive the q136 planner models. The q136 rule runs on
    * the REAL file manifest here: small files (< target) are laid out
    * in name order and cut into bins by cumulative size — bin =
    * (cumsum − bytes) DIV target — so files never split and every bin
    * except the last closes at ≥ target. Each bin is rewritten as one
    * parquet file and committed; files already ≥ target are never
    * touched (rewrite cost is proportional to the SMALL tail, not the
    * index). Index rows are set-semantics (probes scan everything), so
    * regrouping rows across files cannot change any query result — the
    * spec pins byte-identical probe output and the planned read-task
    * collapse. Returns the number of bins written (0 = nothing to do).
    *
    * Scale shape: the plan runs on the committed manifest (thousands of
    * rows at 100 TB, driver-sized like every compaction planner); each
    * bin rewrite is a bounded distributed job over ~target bytes. The
    * bins land through one crash-safe [[graft.streaming.Artifacts.commit]];
    * `failpoint` is the crash-race spec's kill switch. */
  private[graft] def compactAnnIndex(s: SparkSession, idxPath: String,
      targetBytes: Long, failpoint: String => Unit = _ => ()): Int =
    Artifacts.commit(s, Artifacts.annidx(idxPath), "compact", failpoint = failpoint) { m =>
      val small = m.parts("index").sortBy(_._1).filter(_._2 < targetBytes)
      // q136 binning over the manifest: prefix-sum DIV target
      var cum = 0L
      val bins = small.map { f => val b = cum / targetBytes; cum += f._2; b -> f._1 }
        .groupBy(_._1).toSeq.sortBy(_._1)
      Option.when(small.length > 1)(Artifacts.Change(
        bins.map { case (_, fs) => "index" -> m.readParts(s, "index", fs.map(_._2)).coalesce(1) },
        small.map(f => "index" -> f._1)))
    }.fold(0)(_.writes.length)

  /** Logical delete: O(|delete|) commit of the retired ids to the
    * `<idx>.tombstones` sidecar ([[graft.streaming.Artifacts]]) under
    * `key` (the ingest loop's micro-batch id); nothing in the index is
    * touched until [[purgeAnnIndex]]. */
  private[graft] def deleteFromAnnIndex(delIds: DataFrame, idxPath: String,
      key: Option[Artifacts.Key] = None, failpoint: String => Unit = _ => ()): Unit =
    Artifacts.delete(delIds.sparkSession, Artifacts.annidx(idxPath), delIds, key, failpoint)

  /** The serve-time read of a delete-aware index: the committed index
    * rows minus the tombstone set. Every probe built on this reader sees
    * EXACTLY the rows a from-scratch rebuild without the deleted vectors
    * would hold (same model ⇒ same surviving rows — pinned in
    * StreamingSpec). */
  private[graft] def readAnnIndex(s: SparkSession, idxPath: String): DataFrame =
    Artifacts.snapshot(s, Artifacts.annidx(idxPath)).live(s, "index", "vec_id")

  /** Physical delete: rewrite ONLY the part files that still hold a
    * tombstoned row (found by a vec_id-pruned scan + broadcast semi
    * join — the manifest-sized planning of [[compactAnnIndex]]), then
    * commit the survivors-only rewrite, retiring those files and every
    * tombstone, in one crash-safe [[graft.streaming.Artifacts.commit]].
    * Rewrite cost is proportional to the AFFECTED files, never the
    * index; untouched files keep their bytes. Returns the number of
    * files rewritten (0 = no tombstones, nothing to do — idempotent). */
  private[graft] def purgeAnnIndex(s: SparkSession, idxPath: String,
      failpoint: String => Unit = _ => ()): Int =
    Artifacts.commit(s, Artifacts.annidx(idxPath), "purge", failpoint = failpoint) { m =>
      m.tombstones(s).map { dels =>
        // vec_id-only scan: parquet pruning keeps this an 8-byte-per-row
        // pass; input_file_name is a URI string, hence the URI parse
        val affected = m.read(s, "index")
          .select(col("vec_id"), input_file_name().as("f"))
          .join(dels, Seq("vec_id"))
          .select(col("f")).distinct()
          .collect().map(r => new org.apache.hadoop.fs.Path(new java.net.URI(r.getString(0))).getName)
          .sorted.toSeq // manifest-sized, driver-planned
        Artifacts.Change(
          if (affected.isEmpty) Nil
          else Seq("index" -> m.readParts(s, "index", affected)
            .join(dels, Seq("vec_id"), "left_anti").coalesce(1)),
          affected.map("index" -> _) ++ m.parts(Artifacts.Tombstones).map(Artifacts.Tombstones -> _._1))
      }
    }.fold(0)(_.retire.count(_._1 == "index"))

  /** DuckDB dot over elements xo+1..xo+n of x vs yo+1..yo+n of y —
    * the same sequential left fold as Spark's `aggregate` HOF. */
  private def odot(x: String, xo: Int, y: String, yo: Int, n: Int): String =
    s"list_sum([CAST($x[$xo+i] AS DOUBLE) * CAST($y[$yo+i] AS DOUBLE) for i in generate_series(1, $n)])"

  /** DuckDB basis-point cosine over the first n dims. */
  private def pcosSql(a: String, b: String, n: Int): String =
    s"CAST(floor(${odot(a, 0, b, 0, n)} / (sqrt(${odot(a, 0, a, 0, n)}) * sqrt(${odot(b, 0, b, 0, n)})) * 10000) AS BIGINT)"

  // q162: matryoshka (prefix-dim) two-stage retrieval ----------------------

  private val MrlDims = 16   // stage-1 prefix width (of 64)
  private val MrlShort = 32  // shortlist size per query
  private val MrlK = 5       // final top-k
  private val MrlQ = 8       // queries = vec_id < MrlQ

  /** The [[graft.functions.Retrieval.twoStageRoute]] with stage 1
    * ranking by cosine over the 16-dim PREFIX COLUMN of the write-once
    * [[annIndex]] layout — parquet pruning means the scan reads 16
    * doubles per row, never the 256-byte embedding payload
    * (PlanGuard-pinned) — keeping a 32-candidate shortlist per query;
    * stage 2 scans the BASE table, keeps ONLY the shortlisted ids and
    * reranks them by exact full-dim cosine. The corpus never
    * shuffles; the driver and the merge receive per-task heaps of
    * |queries|×32 and |queries|×5 rows. */
  def q162(s: SparkSession, d: String): DataFrame = {
    val idx = readAnnIndex(s, annIndex(s, d)).select(col("vec_id"), col("prefix"))
    val qp = idx.filter(col("vec_id") < MrlQ)
      .select(col("vec_id").as("q_id"), col("prefix").as("qp"))
    val e = Tables.vectors(s, d)
    val q = e.filter(col("vec_id") < MrlQ)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    Retrieval.twoStageRoute(idx, qp, -cosineQNative(col("qp"), col("prefix")), e, q, MrlShort, MrlK)
      .select(col("q_id"), col("rn"), col("vec_id"), col("sim_q"))
      .orderBy(col("q_id"), col("rn"))
  }

  // q163: 1-bit (sign) quantization + Hamming shortlist --------------------

  private val HamShort = 32
  private val HamK = 5
  private val HamQ = 8

  /** DuckDB twin of [[graft.functions.VectorOps.signWord]]:
    * Σ [v[off+i]>0]·2^(32−i). */
  private[queries] def signWordSql(v: String, off: Int): String =
    s"CAST(list_sum([CASE WHEN CAST($v[$off+i] AS DOUBLE) > 0 THEN (CAST(1 AS BIGINT) << (32-i)) ELSE 0 END for i in generate_series(1, 32)]) AS BIGINT)"

  /** The [[graft.functions.Retrieval.hammingRoute]] over the packed
    * sign words of the write-once [[annIndex]] layout — the stage-1 scan
    * reads 8 index bytes + the id per vector instead of the 256-byte
    * embedding payload (PlanGuard-pinned), integer-exact. Exact cosine
    * reranks the 32-candidate shortlist, whose ids the BASE table scan
    * keeps (that scan still reads every embedding); ham rides along. The route is two Spark jobs (the index scan with
    * per-task shortlist heaps merged on the driver, then the base scan
    * with per-task top-5 heaps merged in one partition) plus one job
    * per query side read here: no broadcast, no exchange on vec_id. */
  def q163(s: SparkSession, d: String): DataFrame = {
    val sg = readAnnIndex(s, annIndex(s, d)).select(col("vec_id"), col("lo"), col("hi"))
    hammingServe(s, d, sg, sg, HamQ, HamShort, HamK)
  }

  /** q163's route for queries vec_id < `nq`: their sign words come from
    * the `qIdx` index read, their full vectors from the base table. */
  private def hammingServe(s: SparkSession, d: String, cands: DataFrame,
      qIdx: DataFrame, nq: Int, shortlist: Int, k: Int): DataFrame = {
    val qs = qIdx.filter(col("vec_id") < nq)
      .select(col("vec_id").as("q_id"), col("lo").as("qlo"), col("hi").as("qhi"))
    val e = Tables.vectors(s, d)
    val q = e.filter(col("vec_id") < nq)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    Retrieval.hammingRoute(cands, qs, e, q, shortlist, k)
      .orderBy(col("q_id"), col("rn"))
  }

  // q167: filtered (category-restricted) ANN --------------------------------

  private val FaLabel = 3
  private val FaShort = 32
  private val FaK = 5
  private val FaQ = 8

  /** Filtered vector search — the vector-DB "metadata filter" shape:
    * top-k among ONLY the vectors satisfying a predicate (here
    * label = 3; in production a language/source/licence gate). The
    * predicate is applied to the INDEX SCAN, so parquet row-group
    * statistics and pushdown prune non-matching candidates before any
    * distance math (PlanGuard pins `EqualTo(label,3)` in the scan's
    * PushedFilters) — the pre-filtered shape, which unlike post-filter
    * rerank never returns fewer than k survivors when the category has
    * them. q163's route runs over the filtered index: stage 1
    * Hamming-ranks the label-3 candidates; exact cosine reranks the
    * shortlist fetched by id from the base table. */
  def q167(s: SparkSession, d: String): DataFrame = {
    val idx = readAnnIndex(s, annIndex(s, d))
    val cands = idx.filter(col("label") === FaLabel).select(col("vec_id"), col("lo"), col("hi"))
    hammingServe(s, d, cands, idx, FaQ, FaShort, FaK)
  }

  // q164: late-interaction MaxSim (multi-vector scoring) -------------------

  private val MsM = 8   // sub-vectors per embedding
  private val MsDs = 8  // dims per sub-vector
  private val MsK = 5
  private val MsQ = 4

  /** Σ_i max_j cos_bp(q_i, d_j) over the 8×8 sub-vector grid, through
    * the fused native expression (expressions/MaxSimScore — one codegen
    * loop per candidate row, document sub-norms computed once and
    * shared across all query sub-vectors, zero slice copies; the
    * column-tree form evaluated 64 separate cosine calls over 128
    * allocated slices per row — 23.7→4.6 s at sf10, bit-equality
    * pinned in ExpressionSpec). Scoring stays a zero-shuffle map over
    * the broadcast-joined scan; only |queries|×k rows reach the heap. */
  private def maxSim(qv: Column, v: Column): Column =
    call_function("maxsim_score", qv, v, lit(MsM), lit(MsDs))

  /** The column-tree reference form of [[maxSim]] (ExpressionSpec pins
    * bit-equality; kept as the executable spec of the scoring math). */
  private[graft] def maxSimColumns(qv: Column, v: Column): Column =
    (0 until MsM).map { i =>
      greatest((0 until MsM).map { j =>
        cosineQNative(slice(qv, i * MsDs + 1, MsDs), slice(v, j * MsDs + 1, MsDs))
      }: _*)
    }.reduce(_ + _)

  def q164(s: SparkSession, d: String): DataFrame = {
    val e = Tables.vectors(s, d)
    val q = e.filter(col("vec_id") < MsQ)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val cand = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), maxSim(col("qv"), col("v")).as("score"))
    heapTopK(cand, -col("score"), MsK)
      .select(col("q_id"), col("rn"), col("vec_id"), (-col("hk")).as("score"))
      .orderBy(col("q_id"), col("rn"))
  }

  // q165: hard-negative mining ---------------------------------------------

  private val HnK = 5
  private val HnQ = 8

  /** Contrastive-training hard negatives: for each query vector, the
    * top-k most-similar vectors with a DIFFERENT label — the rows a
    * contrastive loss learns the most from (they sit closest to the
    * boundary). The label inequality rides the broadcast-join
    * predicate so positives never reach the scorer; ranking is the
    * bounded heap. At 100 TB this is the same one-pass scan shape as
    * q35's baseline — in production the scan side would be an ANN
    * shortlist (q57/q163) instead of the full corpus; the mining
    * semantics are identical. */
  def q165(s: SparkSession, d: String): DataFrame = {
    val e = Tables.vectors(s, d, "label")
    val q = e.filter(col("vec_id") < HnQ)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"), col("v").as("qv"))
    val cand = e.join(broadcast(q),
        col("vec_id") =!= col("q_id") && col("label") =!= col("q_label"))
      .select(col("q_id"), col("vec_id"), cosineQNative(col("qv"), col("v")).as("sim"))
    heapTopK(cand, -col("sim"), HnK)
      .select(col("q_id"), col("rn"), col("vec_id"), (-col("hk")).as("sim_q"))
      .orderBy(col("q_id"), col("rn"))
  }

  // q166: reciprocal-rank fusion of two retrievers ---------------------------

  private val RrfC = 60      // the standard RRF dampening constant
  private val RrfK = 3

  /** Hybrid-retrieval rank fusion (Cormack et al. 2009): fuse the MRL
    * (q162) and Hamming (q163) result lists per query with
    * RRF(d) = Σ_lists 1/(C + rank_d) — here in exact integer
    * micro-units, floor(10⁶/(60+rank)), absent-from-list = 0, so the
    * fused order is bit-deterministic. Fusion consumes only the two
    * retrievers' top-k lists (|queries|×k rows each), never the
    * corpus — the production shape where the lists come from separate
    * vector/keyword systems and the fuser is a metadata-sized join. */
  def q166(s: SparkSession, d: String): DataFrame = {
    val a = q162(s, d).select(col("q_id"), col("vec_id"),
      floor(lit(1000000) / (lit(RrfC) + col("rn"))).cast("long").as("ra"))
    val b = q163(s, d).select(col("q_id"), col("vec_id"),
      floor(lit(1000000) / (lit(RrfC) + col("rn"))).cast("long").as("rb"))
    val fused = a.join(b, Seq("q_id", "vec_id"), "full_outer")
      .select(col("q_id"), col("vec_id"),
        (coalesce(col("ra"), lit(0L)) + coalesce(col("rb"), lit(0L))).as("rrf"))
    heapTopK(fused, -col("rrf"), RrfK)   // fused lists: ≤ 8×10 rows
      .select(col("q_id"), col("rn"), col("vec_id"), (-col("hk")).as("rrf"))
      .orderBy(col("q_id"), col("rn"))
  }

  // Oracle twins -----------------------------------------------------------

  private lazy val mrlSql: String = s"""
      WITH p AS (
        SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
               ${pcosSql("q.embedding", "e.embedding", MrlDims)} AS psim,
               q.embedding AS qe, e.embedding AS ee
        FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        WHERE q.vec_id < $MrlQ),
      s AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY psim DESC, vec_id) AS rn1 FROM p),
      r AS (SELECT q_id, vec_id, ${cosineSql("qe", "ee")} AS sim_q
            FROM s WHERE rn1 <= $MrlShort),
      f AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim_q DESC, vec_id) AS rn FROM r)
      SELECT q_id, CAST(rn AS BIGINT) AS rn, vec_id, sim_q
      FROM f WHERE rn <= $MrlK ORDER BY q_id, rn"""

  private lazy val hammingSql: String = s"""
      WITH sg AS (
        SELECT vec_id, embedding,
               ${signWordSql("embedding", 0)} AS lo,
               ${signWordSql("embedding", 32)} AS hi
        FROM embeddings),
      p AS (
        SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
               CAST(bit_count(xor(q.lo, e.lo)) + bit_count(xor(q.hi, e.hi)) AS BIGINT) AS ham,
               q.embedding AS qe, e.embedding AS ee
        FROM sg q JOIN sg e ON e.vec_id <> q.vec_id
        WHERE q.vec_id < $HamQ),
      s AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY ham, vec_id) AS rn1 FROM p),
      r AS (SELECT q_id, vec_id, ham, ${cosineSql("qe", "ee")} AS sim_q
            FROM s WHERE rn1 <= $HamShort),
      f AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim_q DESC, vec_id) AS rn FROM r)
      SELECT q_id, CAST(rn AS BIGINT) AS rn, vec_id, ham, sim_q
      FROM f WHERE rn <= $HamK ORDER BY q_id, rn"""

  private def maxSimSql(q: String, dcol: String): String =
    (0 until MsM).map { i =>
      "greatest(" + (0 until MsM).map { j =>
        s"CAST(floor(${odot(q, i * MsDs, dcol, j * MsDs, MsDs)} / (sqrt(${odot(q, i * MsDs, q, i * MsDs, MsDs)}) * sqrt(${odot(dcol, j * MsDs, dcol, j * MsDs, MsDs)})) * 10000) AS BIGINT)"
      }.mkString(", ") + ")"
    }.mkString("(", " + ", ")")

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q161_orc_io"        -> q161 _,
    "q162_mrl_ann"       -> q162 _,
    "q163_hamming_ann"   -> q163 _,
    "q164_maxsim"        -> q164 _,
    "q165_hard_negatives" -> q165 _,
    "q166_rrf_fusion"    -> q166 _,
    "q167_filtered_ann"  -> q167 _
  )

  override val oracle: Map[String, String] = Map(
    "q161_orc_io" -> """
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(epoch_us(CAST(ts AS TIMESTAMP)) % 86400000000) AS BIGINT) AS ts_day_us_sum,
             CAST(SUM(user_id) AS BIGINT) AS uid_sum,
             CAST(SUM(CAST(('0x' || substr(md5(props), 1, 8)) AS BIGINT)) AS BIGINT) AS props_ck,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY event_type ORDER BY event_type""",
    "q162_mrl_ann" -> mrlSql,
    "q163_hamming_ann" -> hammingSql,
    "q165_hard_negatives" -> s"""
      WITH p AS (
        SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
               ${cosineSql("q.embedding", "e.embedding")} AS sim_q
        FROM embeddings q JOIN embeddings e
          ON e.vec_id <> q.vec_id AND e.label <> q.label
        WHERE q.vec_id < $HnQ),
      f AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim_q DESC, vec_id) AS rn FROM p)
      SELECT q_id, CAST(rn AS BIGINT) AS rn, vec_id, sim_q
      FROM f WHERE rn <= $HnK ORDER BY q_id, rn""",
    "q167_filtered_ann" -> s"""
      WITH sg AS (
        SELECT vec_id, label, embedding,
               ${signWordSql("embedding", 0)} AS lo,
               ${signWordSql("embedding", 32)} AS hi
        FROM embeddings),
      p AS (
        SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
               CAST(bit_count(xor(q.lo, e.lo)) + bit_count(xor(q.hi, e.hi)) AS BIGINT) AS ham,
               q.embedding AS qe, e.embedding AS ee
        FROM sg q JOIN sg e ON e.vec_id <> q.vec_id AND e.label = $FaLabel
        WHERE q.vec_id < $FaQ),
      s AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY ham, vec_id) AS rn1 FROM p),
      r AS (SELECT q_id, vec_id, ham, ${cosineSql("qe", "ee")} AS sim_q
            FROM s WHERE rn1 <= $FaShort),
      f AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim_q DESC, vec_id) AS rn FROM r)
      SELECT q_id, CAST(rn AS BIGINT) AS rn, vec_id, ham, sim_q
      FROM f WHERE rn <= $FaK ORDER BY q_id, rn""",
    "q166_rrf_fusion" -> s"""
      WITH a AS ($mrlSql),
      b AS ($hammingSql),
      u AS (SELECT coalesce(a.q_id, b.q_id) AS q_id,
                   coalesce(a.vec_id, b.vec_id) AS vec_id,
                   coalesce(CAST(floor(1000000 / ($RrfC + a.rn)) AS BIGINT), 0) +
                   coalesce(CAST(floor(1000000 / ($RrfC + b.rn)) AS BIGINT), 0) AS rrf
            FROM a FULL JOIN b ON a.q_id = b.q_id AND a.vec_id = b.vec_id),
      f AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, vec_id) AS rn FROM u)
      SELECT q_id, CAST(rn AS BIGINT) AS rn, vec_id, rrf
      FROM f WHERE rn <= $RrfK ORDER BY q_id, rn""",
    "q164_maxsim" -> s"""
      WITH p AS (
        SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
               ${maxSimSql("q.embedding", "e.embedding")} AS score
        FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        WHERE q.vec_id < $MsQ),
      f AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn FROM p)
      SELECT q_id, CAST(rn AS BIGINT) AS rn, vec_id, score
      FROM f WHERE rn <= $MsK ORDER BY q_id, rn"""
  )
}
