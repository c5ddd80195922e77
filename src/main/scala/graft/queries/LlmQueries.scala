package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.{Retrieval, TextOps, VectorOps}

/** Tier-L LLM-pipeline operators (SURVEY.md §2.11): deduplication,
  * near-dup detection, similarity search / ANN, kNN — over `documents`
  * and `embeddings`.
  *
  * 100 TB design notes:
  *  - exact dedup groups on md5(text) (16-byte shuffle key), never the
  *    full text (q31); q30 keeps the naive full-text variant for parity.
  *  - near-dup is MinHash + LSH banding: candidates come from an
  *    equi-join on band hashes (shuffle on a short key), and only
  *    candidate pairs pay the exact-Jaccard verification — no O(n^2)
  *    cross join anywhere.
  *  - ANN is random-hyperplane LSH: bucket = 8 sign bits, candidates
  *    share a bucket. Brute-force cosine (q35) is kept as the accuracy
  *    baseline and only ever broadcast-joins a small query set against
  *    the corpus — the corpus side never shuffles.
  *  - all similarity math is codegen'd higher-order functions
  *    (functions/VectorOps, TextOps); no UDFs.
  */
object LlmQueries extends QueryPack {

  import TextOps._
  import VectorOps._

  // Shared fragments ------------------------------------------------------

  private def docWords(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"), col("lang"), words(col("text")).as("ws"))

  /** doc_id + 4 minhash components (60-bit BIGINTs: one md5 per
    * shingle, 4 XOR-derived permutations) over 3-gram shingles, via the
    * native one-pass MinHashSigs expression (TextOps.minhash is the HOF
    * reference form, equality-tested in ExpressionSpec). */
  private def sigs(s: SparkSession, d: String): DataFrame = {
    docWords(s, d).select(
      col("doc_id"),
      call_function("minhash_sigs", call_function("shingles3", col("ws"))).as("sg"))
      .select(col("doc_id") +: (0 until 4).map(k => element_at(col("sg"), k + 1).as(s"sig$k")): _*)
  }

  /** Band join → candidate pairs → exact-Jaccard support counts; the
    * CTE chain behind both the q33 pair listing and q68's clustering
    * (expects `$oracleSigs` bound first). */
  private def neardupCtes = s"""
      bands AS (SELECT doc_id,
                unnest([md5(CAST(sig0 AS VARCHAR) || CAST(sig1 AS VARCHAR)),
                        md5(CAST(sig2 AS VARCHAR) || CAST(sig3 AS VARCHAR))]) AS band FROM sigs),
      bands_ok AS (SELECT band FROM bands GROUP BY band HAVING COUNT(*) <= $BandCap),
      cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
               FROM bands x JOIN bands_ok k ON x.band = k.band
                            JOIN bands y ON x.band = y.band AND x.doc_id < y.doc_id),
      sh AS (SELECT DISTINCT doc_id, unnest(sh) AS s FROM shs),
      sz AS (SELECT doc_id, COUNT(*) AS c FROM sh GROUP BY doc_id),
      com AS (SELECT a, b, COUNT(*) AS common
              FROM cand JOIN sh sa ON sa.doc_id = a
                        JOIN sh sb ON sb.doc_id = b AND sa.s = sb.s
              GROUP BY a, b)"""

  private val oracleSigs = {
    // same 60-bit base hash + XOR seeds as the native MinHashSigs —
    // generated from the one constant table so they cannot drift
    def sig(k: Int) =
      s"list_min([xor(CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT), " +
        s"${graft.expressions.MinHashSigs.SeedConsts(k)}) for x in sh]) AS sig$k"
    s"""
    docs AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    shs AS (SELECT doc_id,
              [array_to_string(words[i:i+2], ' ') for i in generate_series(1, greatest(len(words)-2, 0))] AS sh
            FROM docs),
    sigs AS (SELECT doc_id,
              ${sig(0)},
              ${sig(1)},
              ${sig(2)},
              ${sig(3)}
             FROM shs)"""
  }

  /** Top-`k` per q_id of joined (q_id, qv, vec_id, v) candidate rows by
    * basis-point cosine, through [[Retrieval.heapTopK]]. Returns
    * (q_id, rn, vec_id, sim_q). */
  private def topSim(cand: DataFrame, k: Int): DataFrame =
    Retrieval.heapTopK(cand, -cosineQNative(col("qv"), col("v")), k)
      .select(col("q_id"), col("rn"), col("vec_id"), (-col("hk")).as("sim_q"))

  // q30: exact dedup, canonical = min doc_id per identical text ----------

  def q30(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_copies"))
      .orderBy(col("doc_id"))

  // q31: hash-keyed dedup — the scale path (16-byte shuffle key) ---------

  def q31(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_copies"))
      .orderBy(col("doc_id"))

  // q32: per-doc MinHash signature ---------------------------------------

  def q32(s: SparkSession, d: String): DataFrame =
    sigs(s, d).orderBy(col("doc_id"))

  // q33: LSH near-dup pairs: band join -> exact Jaccard >= 0.5 -----------

  /** Band-size cap for q33: a band bucket holding more than this many
    * docs (a degenerate band — thousands of near-identical documents)
    * is skipped entirely, trading recall on exact-duplicate clusters
    * for an O(cap^2) bound on any bucket's candidate blow-up. Exact
    * duplicates are q31's job anyway — run hash-dedup BEFORE near-dup
    * and the cap almost never fires. Fixture bands are far below the
    * cap, so the oracle (which applies the same cap) is unaffected. */
  val BandCap = 64

  def q33(s: SparkSession, d: String): DataFrame =
    neardupPairs(s, d).orderBy(col("a"), col("b"))

  /** The LSH near-dup pair pipeline shared by q33 (pairs) and q68
    * (clusters): band join → candidates → exact Jaccard ≥ 0.5. */
  def neardupPairs(s: SparkSession, d: String): DataFrame = {
    // Signature table: distinct shingle set + 2 band keys, built by the
    // one near-dup index (Streaming.buildNearDupIndex, BandCap applied)
    // and persisted ONCE — the md5-heavy stage would otherwise re-run
    // for every downstream use (both band sides + both Jaccard sides).
    // At 100 TB this is the "materialize the signature table" step of
    // any LSH pipeline (a few hundred bytes/doc, not the corpus).
    val idx = graft.streaming.Streaming.buildNearDupIndex(
      Tables.documents(s, d).select(col("doc_id"), col("text")), BandCap)
    val base = idx.sigs.persist()
    val cand = idx.bands.join(idx.okBands, Seq("band")).as("x")
      .join(idx.bands.as("y"), col("x.band") === col("y.band") && col("x.a") < col("y.a"))
      .select(col("x.a").as("a"), col("y.a").as("b")).distinct()
    // Exact Jaccard on the (few) candidates via array_intersect — no
    // shingle explode, no join-per-shingle, no re-aggregation.
    val out = cand
      .join(base.select(col("doc_id").as("a"), col("shs").as("sa")), Seq("a"))
      .join(base.select(col("doc_id").as("b"), col("shs").as("sb")), Seq("b"))
      .withColumn("common", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("union_sz", size(col("sa")) + size(col("sb")) - col("common"))
      // jac >= 0.5 <=> 2*common >= union; emit basis points via integer
      // division — pure int arithmetic, immune to cross-engine rounding
      .filter(col("common") * 2 >= col("union_sz"))
      .select(col("a"), col("b"),
        expr("CAST((common * 10000L) DIV union_sz AS BIGINT)").as("jac_bp"))
    // Materialize the pair set NOW (it is tiny — near-dup pairs, a few
    // hundred bytes each) so the signature table can be dropped instead
    // of leaking block storage for the rest of the session; the eager
    // checkpoint also truncates lineage for q68/q78's iterative
    // connected-components consumer, which would otherwise re-analyze
    // the whole LSH plan every round.
    val pairs = out.localCheckpoint(true)
    base.unpersist()
    pairs
  }

  // q68: near-dup pairs -> dedup clusters (connected components) ---------

  /** Near-dup CLUSTERING: the pair set is only half the dedup story —
    * a group of k mutually-similar docs yields up to k(k-1)/2 pairs,
    * and the keep-one-per-group decision needs the transitive closure.
    * Components come from [[graft.functions.Graph.connectedComponents]]
    * (distributed min-label propagation); cluster_id = min doc_id of
    * the component, which is exactly the representative q30/q31 would
    * keep. Only docs that appear in some near-dup pair are emitted —
    * singletons are trivially their own cluster. */
  def q68(s: SparkSession, d: String): DataFrame = {
    val edges = neardupPairs(s, d).select(col("a"), col("b"))
    graft.functions.Graph.connectedComponents(edges)
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  // q78: end-to-end near-dup dedup decision ------------------------------

  /** The decision table a dedup stage actually materializes: EVERY doc
    * with its near-dup cluster id (own id if un-clustered) and the
    * keep/drop bit — cluster representative = min doc_id, exactly the
    * policy of q30/q31. The corpus side is a broadcast left join
    * against the (tiny relative to corpus) clustered-doc set, so the
    * full table is annotated in one narrow pass — the shape that lets
    * the next pipeline stage `filter(kept = 1)` with zero extra
    * shuffles at 100 TB. */
  def q78(s: SparkSession, d: String): DataFrame = {
    val clusters = graft.functions.Graph.connectedComponents(
      neardupPairs(s, d).select(col("a"), col("b")))
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
    Tables.documents(s, d).select(col("doc_id"), col("source"))
      .join(broadcast(clusters), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("kept", (col("cluster_id") === col("doc_id")).cast("int"))
      .select(col("doc_id"), col("source"), col("cluster_id"), col("kept"))
      .orderBy(col("doc_id"))
  }

  // q34: 16-bit SimHash per doc ------------------------------------------

  def q34(s: SparkSession, d: String): DataFrame = {
    docWords(s, d)
      .select(col("doc_id"), call_function("simhash16", col("ws")).as("simhash"))
      .orderBy(col("doc_id"))
  }

  // q35: brute-force cosine top-5 for a small query set ------------------

  def q35(s: SparkSession, d: String): DataFrame = {
    val e = Tables.vectors(s, d)
    val q = e.filter(col("vec_id") < 10).select(col("vec_id").as("q_id"), col("v").as("qv"))
    topSim(e.join(broadcast(q), col("vec_id") =!= col("q_id")), 5)
      .orderBy(col("q_id"), col("rn"))
  }

  // q36: LSH bucket histogram --------------------------------------------

  def q36(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(lshBucket(toD(col("embedding"))).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"))

  // q37: ANN — top-3 by cosine among same-bucket candidates --------------

  def q37(s: SparkSession, d: String): DataFrame = {
    val e = Tables.vectors(s, d).withColumn("bucket", lshBucket(col("v")))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("bucket").as("qb"))
    topSim(e.join(broadcast(q), col("bucket") === col("qb") && col("vec_id") =!= col("q_id")), 3)
      .orderBy(col("q_id"), col("rn"))
  }

  // q65: ANN with Hamming-distance-1 multi-probe -------------------------

  /** q37's bucket search with the [[VectorOps.multiProbe]] probe set:
    * each query also probes its bits single-bit-flip neighbor buckets,
    * recovering neighbors a hard bucket boundary loses (recall measured
    * in OpsSpec: 0.12 → 0.46 at bits=4). A candidate lives in exactly
    * one bucket and the probe values are distinct, so no dedup is
    * needed; candidate cost is (bits+1)/2^bits of the corpus per query. */
  def q65(s: SparkSession, d: String): DataFrame = {
    val e = Tables.vectors(s, d).withColumn("bucket", lshBucket(col("v")))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        explode(multiProbe(col("bucket"))).as("qb"))
    topSim(e.join(broadcast(q), col("bucket") === col("qb") && col("vec_id") =!= col("q_id")), 3)
      .orderBy(col("q_id"), col("rn"))
  }

  // q38: kNN label vote (k=10) -------------------------------------------

  def q38(s: SparkSession, d: String): DataFrame = {
    val e = Tables.vectors(s, d, "label")
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("label").as("true_label"), col("v").as("qv"))
    val neigh = Retrieval.heapTopK(e.join(broadcast(q), col("vec_id") =!= col("q_id")),
      -cosineQNative(col("qv"), col("v")), 10, Seq("true_label", "label"))
    // the vote ranks labels by count, not vectors: a Window is the cut
    val wVote = Window.partitionBy(col("q_id")).orderBy(col("votes").desc, col("label"))
    neigh.groupBy(col("q_id"), col("true_label"), col("label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(wVote))
      .filter(col("vr") === 1)
      .select(col("q_id").as("vec_id"), col("true_label"), col("label").as("pred_label"))
      .orderBy(col("vec_id"))
  }

  // q39: embedding-cosine near-dup pairs within LSH buckets ------------

  /** Near-duplicate embeddings: same-bucket candidate pairs with cosine
    * >= 0.9. The bucket equi-join keeps this O(sum bucket^2), never the
    * O(n^2) all-pairs cross join. (Random fixtures typically yield an
    * empty result — the oracle agrees on emptiness; the operator's value
    * is the plan shape.) */
  def q39(s: SparkSession, d: String): DataFrame = {
    val e = Tables.vectors(s, d)
      .withColumn("bucket", lshBucket(col("v")))
    e.as("x").join(e.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
        cosineQNative(col("x.v"), col("y.v")).as("sim_q"))
      .filter(col("sim_q") >= 9000)
      .orderBy(col("a"), col("b"))
  }

  // q57: IVF-style ANN — coarse quantizer cells + nprobe=2 search ------

  /** IVF (inverted-file) ANN variant: a `cells`-cell coarse quantizer
    * assigns each vector to its nearest centroid by L2; queries probe
    * their `nprobe` nearest cells and rank candidates by cosine.
    * Centroids here are the first `cells` vectors (a deterministic
    * stand-in for k-means training — the oracle must reproduce them
    * exactly); the search path (assign → invert → probe → rank) is the
    * real IVF shape: candidate count is O(n * nprobe / cells), never
    * O(n) per query.
    *
    * The centroid set is collected once on the driver (a few KB — the
    * trained-model artifact of any IVF index) and embedded as literals,
    * so cell assignment is a ZERO-SHUFFLE map over the scan: no
    * cells-fold row amplification, no exchange of the corpus before the
    * probe join (PlanGuardSpec asserts this). At 100 TB the only
    * corpus-wide cost is one pass of |cells| codegen'd fold expressions
    * per row. */
  def ivfAnn(s: SparkSession, d: String, cells: Int = 16, nprobe: Int = 2,
             k: Int = 3, nQueries: Int = 5): DataFrame = {
    val e = Tables.vectors(s, d)
    // first-`cells` vectors as the quantizer: a deterministic k-means
    // stand-in the oracle can reproduce; ivfSearch takes ANY centroid
    // set (OpsSpec drives it with real KMeans-trained centroids)
    val cents: Seq[(Long, Seq[Double])] = e.filter(col("vec_id") < cells)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toIndexedSeq)).toIndexedSeq
      .sortBy(_._1)
    ivfSearch(e, cents, nprobe, k, nQueries)
  }

  /** The IVF search path over an arbitrary (trained) centroid set —
    * see [[ivfAnn]] for the plan-shape discussion. */
  def ivfSearch(e: DataFrame, centsIn: Seq[(Long, Seq[Double])], nprobe: Int,
                k: Int, nQueries: Int): DataFrame = {
    // nearest_cells breaks exact-L2 ties by ARRAY INDEX; the HOF/oracle
    // twin breaks them by cid. Sorting by cid here makes index order ≡ cid
    // order, so the invariant is enforced rather than assumed of callers.
    val cents = centsIn.sortBy(_._1)
    // cell ranking runs in the native NearestCells expression (primitive
    // JVM loops over the literal centroid matrix; the HOF nearestCells
    // form is the equality-tested reference). It returns centroid
    // INDICES nearest-first; cidLit maps an index back to its cell id.
    val centsLit = VectorOps.litArr2(cents.map(_._2))
    val cidLit = typedLit(cents.map(_._1).toSeq)
    def cellId(rank: Int): Column =
      element_at(cidLit, element_at(col("cells"), rank).cast("int") + 1)
    val asg = e.withColumn("cells", call_function("nearest_cells", col("v"), centsLit))
      .select(col("vec_id"), col("v"), cellId(1).as("cell"))
    val qc = e.filter(col("vec_id") < nQueries)
      .withColumn("cells", call_function("nearest_cells", col("v"), centsLit))
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        explode(array((1 to nprobe).map(cellId): _*)).as("qcell"))
    topSim(asg.join(broadcast(qc), col("cell") === col("qcell") && col("vec_id") =!= col("q_id")), k)
      .orderBy(col("q_id"), col("rn"))
  }

  def q57(s: SparkSession, d: String): DataFrame = ivfAnn(s, d)

  // q66: int8 embedding quantization -------------------------------------

  /** Per-vector min/max int8 quantization — the storage-compression
    * step of a 100 TB embedding pipeline (4x smaller than float32; the
    * scale/offset pair rides along for dequantization). Pure per-row
    * array expressions, zero shuffles; quantized code
    * floor((x-mn)/(mx-mn)*255) and the max reconstruction error in
    * basis points of the vector's range are both integers, so the
    * oracle compare is exact. Constant vectors (mx == mn) quantize to
    * all-zero codes by convention. The code vector is emitted as a CSV
    * string (`q8_csv`): the driver's comparator sorts result rows by
    * every output column, and an array-typed column is unhashable
    * there (round-2 gate failure) — and at 100 TB the int8 payload
    * would be a packed binary column anyway, not a list<int>. */
  def q66(s: SparkSession, d: String): DataFrame = {
    val e = Tables.vectors(s, d)
    val rng = col("mx") - col("mn")
    val codes = when(rng === 0.0, transform(col("v"), _ => lit(0)))
      .otherwise(transform(col("v"),
        x => floor((x - col("mn")) / rng * 255).cast("int")))
    // reconstruction: mn + code/255*rng; error in bp of the range
    val errBp = when(rng === 0.0, lit(0L)).otherwise(
      array_max(zip_with(col("v"), col("q8"),
        (x, q) => floor(abs(x - (col("mn") + q.cast("double") / 255.0 * rng)) / rng * 10000).cast("long"))))
    e.withColumn("mn", array_min(col("v")))
      .withColumn("mx", array_max(col("v")))
      .withColumn("q8", codes)
      .withColumn("max_err_bp", errBp)
      .select(col("vec_id"), array_join(col("q8"), ",").as("q8_csv"), col("max_err_bp"))
      .orderBy(col("vec_id"))
  }

  // q118/q119: product quantization (PQ) encode + ADC search -------------

  /** Product quantization (Jégou, Douze & Schmid 2011, "Product
    * Quantization for Nearest Neighbor Search", IEEE TPAMI): split the
    * 64-dim embedding into PqM=8 contiguous 8-dim subspaces; a
    * PqK=16-entry codebook per subspace turns each sub-vector into a
    * 4-bit code, compressing 256 bytes of float32 to 8 one-byte codes
    * while ADC (asymmetric distance computation) still ranks candidates
    * by summed per-subspace L2 between the RAW query sub-vector and the
    * candidate's RECONSTRUCTED centroid. Codebooks here are the
    * sub-vectors of the first PqK corpus vectors — the same
    * deterministic k-means stand-in as q57's coarse quantizer, so the
    * oracle reproduces them exactly; [[pqEncode]] takes ANY codebook
    * (OpsSpec drives it with trained centroids).
    *
    * Scale shape: the codebook is a bounded driver artifact (PqK×64
    * doubles — the trained-model file of any PQ index) embedded as
    * literals, so ENCODE is a ZERO-SHUFFLE map over the scan: 8
    * nearest_cells calls per row against a 16×8 literal matrix,
    * primitive JVM loops. ADC broadcast-joins the small query set
    * against the encoded corpus — the corpus never shuffles before the
    * bounded-heap top-k, and at 100 TB the ADC scan reads 8
    * code bytes per vector instead of the 256-byte float payload. */
  private[graft] val PqM = 8; private[graft] val PqDs = 8; private val PqK = 16

  /** First-PqK vectors as the deterministic codebook (sorted by vec_id
    * so codebook index ≡ vec_id, which the oracle relies on). */
  private[graft] def pqCodebook(e: DataFrame): IndexedSeq[IndexedSeq[Double]] =
    e.filter(col("vec_id") < PqK).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toIndexedSeq))
      .sortBy(_._1).map(_._2).toIndexedSeq

  /** The 16-entry sub-codebook of subspace j as a foldable literal. */
  private def pqSubCents(cb: IndexedSeq[IndexedSeq[Double]], j: Int): Column =
    VectorOps.litArr2(cb.map(c => c.slice(j * PqDs, (j + 1) * PqDs)))

  /** The PQ code array of vector column `v`: codes(j) = argmin over the
    * sub-codebook of subspace-j L2, ties to the lower code — exactly
    * nearest_cells' contract per subspace. A pure per-row map, shared
    * by the query-time encode and the annIndex ingest build. */
  private[graft] def pqCodesFor(v: Column, cb: IndexedSeq[IndexedSeq[Double]]): Column =
    array((0 until PqM).map { j =>
      element_at(call_function("nearest_cells",
        slice(v, j * PqDs + 1, PqDs), pqSubCents(cb, j), lit(1)), 1).cast("int")
    }: _*)

  /** Adds `codes` (array<int>, length PqM) — see [[pqCodesFor]]. */
  private[graft] def pqEncode(e: DataFrame, cb: IndexedSeq[IndexedSeq[Double]]): DataFrame =
    e.withColumn("codes", pqCodesFor(col("v"), cb))

  def q118(s: SparkSession, d: String): DataFrame = {
    val e = Tables.vectors(s, d)
    pqEncode(e, pqCodebook(e))
      .select(col("vec_id"), array_join(col("codes"), ",").as("pq_csv"))
      .orderBy(col("vec_id"))
  }

  /** ADC top-3 for queries vec_id < 5: rank by the QUANTIZED distance
    * (floor(adist·10⁴) as BIGINT, ties on vec_id) so the ordering
    * compares integers, bit-identical across engines by construction.
    * Round 11: the encoded corpus comes from the write-once annIndex
    * layout's `rcodes` column — the ADC scan reads (vec_id, rcodes),
    * 8 small ints per row, never the 256-byte embedding payload and
    * never re-encodes (PlanGuard-pinned). Only the 5-query side still
    * touches the base vectors. */
  def q119(s: SparkSession, d: String): DataFrame = {
    val e = Tables.vectors(s, d)
    val enc = Round10Queries.readAnnIndex(s, Round10Queries.annIndex(s, d))
      .select(col("vec_id"), col("rcodes").as("codes"))
    pqAdcSearch(enc, e, pqCodebook(e), nQueries = 5, k = 3)
  }

  /** Query-time-encode form of the ADC search (OpsSpec drives it with
    * trained codebooks). */
  private[graft] def pqAdc(e: DataFrame, cb: IndexedSeq[IndexedSeq[Double]],
      nQueries: Int, k: Int): DataFrame =
    pqAdcSearch(pqEncode(e, cb).select(col("vec_id"), col("codes")), e, cb, nQueries, k)

  /** The ADC search path over an arbitrary (trained) codebook and a
    * pre-ENCODED corpus `enc` (vec_id, codes) — takes queries
    * vec_id < nQueries from base table `e`, scans the encoded corpus,
    * ranks by Σ_j L2²(q_sub_j, codebook_j[code_j]) (a left-assoc
    * j-ascending sum, mirrored by the oracle's
    * list_sum(list(dist ORDER BY j))). */
  private[graft] def pqAdcSearch(enc: DataFrame, e: DataFrame,
      cb: IndexedSeq[IndexedSeq[Double]],
      nQueries: Int, k: Int): DataFrame = {
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    // distance via the fused native loop (expressions/PqAdcDist):
    // the per-subspace l2sq column tree evaluated an interpreted
    // zip_with+aggregate pair per dot — 3·PqM folds per candidate row
    // of the fanout; ExpressionSpec pins bit-equality of the two forms
    val cbLit = VectorOps.litArr2(cb)
    val adist = call_function("pq_adc_dist",
      col("qv"), col("codes"), cbLit, lit(PqDs))
    Retrieval.heapTopK(enc.join(broadcast(q), col("vec_id") =!= col("q_id")),
        floor(adist * 10000).cast("long"), k)
      .select(col("q_id"), col("rn"), col("vec_id"), col("hk").as("adist_q"))
      .orderBy(col("q_id"), col("rn"))
  }

  // q124: IVF-PQ (IVFADC) — coarse cells + residual PQ + ADC probe -------

  /** Coarse-quantizer size of the combined index; 8 cells over the
    * fixture keeps candidate lists non-trivial at every sf. */
  private val IvfPqCells = 8

  /** q124: the full FAISS `IVFADC` architecture (Jégou et al. 2011 §IV):
    * a coarse quantizer routes each vector to one of [[IvfPqCells]]
    * cells, the RESIDUAL (vector − cell centroid) is product-quantized
    * with q118's subspace codebooks, and a query probes its `nprobe`
    * nearest cells computing asymmetric distances between its OWN
    * residual (w.r.t. the probed cell's centroid) and candidates'
    * reconstructed residuals. Residual encoding is what makes PQ codes
    * sharp enough to rank inside a cell — the spec measures the recall
    * gain over raw-vector PQ (q119) at equal code budget.
    *
    * Scale shape: both model artifacts are bounded driver literals (8
    * centroids + 16×8 sub-codebooks — the trained index file); corpus
    * assignment + residual + encode are ONE zero-shuffle codegen pass,
    * the probe broadcast-joins the query set, and at 100 TB the ADC
    * scan touches 8 code bytes per candidate within probed cells only
    * (candidates ≈ n·nprobe/cells, never n). */
  def q124(s: SparkSession, d: String): DataFrame = {
    val e = Tables.vectors(s, d)
    // Round 11: the (cell, residual-codes) pair comes from the
    // write-once annIndex layout — the ADC probe scans (vec_id, cell,
    // codes) only, never the embedding payload, and never re-encodes
    // the corpus at query time (PlanGuard-pinned). Queries still
    // route + residualize against the same literal model.
    val enc = Round10Queries.readAnnIndex(s, Round10Queries.annIndex(s, d))
      .select(col("vec_id"), col("cell"), col("codes"))
    ivfPqProbe(enc, e, ivfCentroids(e), pqCodebook(e), nprobe = 2, k = 3, nQueries = 5)
  }

  /** First-[[IvfPqCells]] vectors as the deterministic coarse
    * quantizer (the q57/pqCodebook convention), sorted by id so
    * nearest_cells' index-order tiebreak coincides with id order. */
  private[graft] def ivfCentroids(e: DataFrame): IndexedSeq[(Long, IndexedSeq[Double])] =
    e.filter(col("vec_id") < IvfPqCells).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toIndexedSeq))
      .sortBy(_._1).toIndexedSeq

  private def ivfCentsLit(cents: Seq[(Long, Seq[Double])]): (Column, Column) =
    (VectorOps.litArr2(cents.map(_._2)), typedLit(cents.map(_._1).toSeq))

  /** IVFPQ ingest-time encode: appends coarse cell id (`cell`) and PQ
    * codes of the residual (vector − cell centroid, `codes`) to the
    * input columns — one zero-shuffle map pass, the columns the
    * annIndex build materializes. */
  private[graft] def ivfPqEncode(e: DataFrame,
      centsIn: Seq[(Long, Seq[Double])],
      cb: IndexedSeq[IndexedSeq[Double]]): DataFrame = {
    val cents = centsIn.sortBy(_._1)
    val (centsLit, cidLit) = ivfCentsLit(cents)
    val ci = element_at(call_function("nearest_cells", col("v"), centsLit), 1)
      .cast("int")
    e.withColumn("ci", ci)
      .withColumn("cell", element_at(cidLit, col("ci") + 1))
      .withColumn("codes",
        pqCodesFor(zip_with(col("v"), element_at(centsLit, col("ci") + 1),
          (x, c) => x - c), cb))
      .drop("ci")
  }

  /** The IVFADC probe over a pre-encoded corpus `enc` (vec_id, cell,
    * codes) — see [[q124]] for the plan-shape discussion. Queries come
    * from base table `e` and are routed/residualized at query time
    * against the same literal model. */
  private[graft] def ivfPqProbe(enc: DataFrame, e: DataFrame,
      centsIn: Seq[(Long, Seq[Double])], cb: IndexedSeq[IndexedSeq[Double]],
      nprobe: Int, k: Int, nQueries: Int): DataFrame = {
    val cents = centsIn.sortBy(_._1)
    val (centsLit, cidLit) = ivfCentsLit(cents)
    def cellId(rank: Int): Column =
      element_at(cidLit, element_at(col("cells"), rank).cast("int") + 1)
    def residual(v: Column, idx: Column): Column =
      zip_with(v, element_at(centsLit, idx + 1), (x, c) => x - c)
    val qc = e.filter(col("vec_id") < nQueries)
      .withColumn("cells", call_function("nearest_cells", col("v"), centsLit))
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        explode(array((1 to nprobe).map(r => struct(
          cellId(r).as("qcell"),
          element_at(col("cells"), r).cast("int").as("qci"))): _*)).as("pc"))
      .select(col("q_id"), col("pc.qcell").as("qcell"),
        residual(col("qv"), col("pc.qci")).as("qrv"))
    val cbLit = VectorOps.litArr2(cb)
    val adist = call_function("pq_adc_dist",
      col("qrv"), col("codes"), cbLit, lit(PqDs))
    // bounded-heap top-k (q119's shape): only queries×k rows cross the
    // shuffle, no window sort of the probed-cell fanout
    Retrieval.heapTopK(
        enc.join(broadcast(qc), col("cell") === col("qcell") && col("vec_id") =!= col("q_id")),
        floor(adist * 10000).cast("long"), k)
      .select(col("q_id"), col("rn"), col("vec_id"), col("hk").as("adist_q"))
      .orderBy(col("q_id"), col("rn"))
  }

  /** Query-time-encode form of the IVFADC search (OpsSpec drives it
    * with trained centroids and codebooks). */
  private[graft] def ivfPqSearch(e: DataFrame,
      centsIn: Seq[(Long, Seq[Double])], cb: IndexedSeq[IndexedSeq[Double]],
      nprobe: Int, k: Int, nQueries: Int): DataFrame =
    ivfPqProbe(
      ivfPqEncode(e, centsIn, cb).select(col("vec_id"), col("cell"), col("codes")),
      e, centsIn, cb, nprobe, k, nQueries)

  // q132: ANN quality evaluation (recall@k, in-engine) ---------------------

  /** Recall@5 of the LSH-bucket ANN path (q37's index) against exact
    * brute-force ground truth, computed end-to-end IN the engine — the
    * evaluation loop an ANN deployment runs after every index rebuild.
    * For each of the 10 probe queries: ground truth = exact cosine
    * top-5 over the corpus; ANN = top-5 within the query's LSH bucket;
    * n_hits = |ANN ∩ GT|.
    *
    * Scale shape: the probe set is a broadcast literal-sized table, so
    * the brute-force side is one narrow corpus pass per rebuild (the
    * price of ground truth — paid for a SAMPLE of queries, never all);
    * the ANN side touches only same-bucket rows. Both top-5 cuts are
    * bounded heaps (10 keys × 5 rows cross the shuffle); the final
    * intersection joins two ≤50-row tables. */
  def q132(s: SparkSession, d: String): DataFrame = {
    val e = Tables.vectors(s, d)
      .withColumn("bucket", lshBucket(col("v")))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("bucket").as("qb"))
    val gt = topSim(e.join(broadcast(q), col("vec_id") =!= col("q_id")), 5)
      .select(col("q_id"), col("vec_id"))
    val ann = topSim(e.join(broadcast(q),
        col("bucket") === col("qb") && col("vec_id") =!= col("q_id")), 5)
      .select(col("q_id"), col("vec_id"))
    val hits = gt.join(ann, Seq("q_id", "vec_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
    val annN = ann.groupBy(col("q_id")).agg(count(lit(1)).as("n_ann"))
    gt.groupBy(col("q_id")).agg(count(lit(1)).as("n_gt"))
      .join(annN, Seq("q_id"), "left").join(hits, Seq("q_id"), "left")
      .na.fill(0L, Seq("n_ann", "n_hits"))
      .select(col("q_id"), col("n_gt"), col("n_ann"), col("n_hits"),
        expr("n_hits * 100L DIV n_gt").as("recall_pct"))
      .orderBy(col("q_id"))
  }

  // q130: leakage-safe train/val/test split --------------------------------

  /** q79's hash split has a training-data trap: two near-duplicate
    * documents can land in different splits, leaking training text into
    * eval. The leakage-safe form splits by NEAR-DUP CLUSTER — the whole
    * cluster rides on the md5 of its representative (min doc_id), so
    * near-dups always share a split; singletons hash their own id,
    * which keeps the 80/10/10 proportions of q79 on the (overwhelming
    * at corpus scale) un-clustered majority.
    *
    * Scale shape: the cluster table is the q68 artifact (pairs →
    * connected components, pointer jumping) and is small relative to
    * the corpus — broadcast left join, one narrow pass over documents,
    * exactly q78's annotation discipline with the split decision fused
    * in. */
  def q130(s: SparkSession, d: String): DataFrame = {
    val clusters = graft.functions.Graph.connectedComponents(
        neardupPairs(s, d).select(col("a"), col("b")))
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
    Tables.documents(s, d)
      .join(broadcast(clusters), Seq("doc_id"), "left")
      .withColumn("rep", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("bucket",
        conv(substring(md5(col("rep").cast("string")), 1, 4), 16, 10)
          .cast("long") % 10000)
      .select(col("doc_id"), col("lang"), col("rep"),
        when(col("bucket") < 8000, lit("train"))
          .when(col("bucket") < 9000, lit("val"))
          .otherwise(lit("test")).as("split"))
      .orderBy(col("doc_id"))
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q132_ann_recall_eval" -> q132 _,
    "q130_cluster_split"   -> q130 _,
    "q124_ivfpq_adc"       -> q124 _,
    "q118_pq_encode"       -> q118 _,
    "q119_pq_adc"          -> q119 _,
    "q30_dedup_exact"      -> q30 _,
    "q31_dedup_hash"       -> q31 _,
    "q32_minhash_sig"      -> q32 _,
    "q33_lsh_neardup"      -> q33 _,
    "q34_simhash"          -> q34 _,
    "q35_cosine_topk"      -> q35 _,
    "q36_ann_buckets"      -> q36 _,
    "q37_ann_bucket_topk"  -> q37 _,
    "q38_knn_label"        -> q38 _,
    "q65_ann_multiprobe"   -> q65 _,
    "q66_embed_quantize"   -> q66 _,
    "q39_embed_neardup"    -> q39 _,
    "q57_ivf_ann"          -> q57 _,
    "q68_neardup_clusters" -> q68 _,
    "q78_dedup_decision"   -> q78 _
  )

  private val simhashSql: String =
    (0 until 16).map { b =>
      val m = 1 << b
      s"""(CASE WHEN list_sum([CASE WHEN (CAST(('0x' || substr(md5(w), 1, 4)) AS INT) & $m) > 0
                 THEN 1 ELSE -1 END for w in words]) > 0 THEN $m ELSE 0 END)"""
    }.mkString("(", " + ", ")")

  /** Shared PQ-encode CTEs: per (vector, subspace) the argmin codebook
    * entry, distance term order identical to NearestCells. */
  private val pqCodesCtes: String = s"""
      e AS (SELECT vec_id, embedding AS v FROM embeddings),
      cb AS (SELECT vec_id AS k, embedding AS cv FROM embeddings WHERE vec_id < 16),
      sub AS (SELECT e.vec_id, g.j, cb.k,
                row_number() OVER (PARTITION BY e.vec_id, g.j
                  ORDER BY ${VectorOps.subL2sqSql("e.v", "cb.cv", "g.j", 8)}, cb.k) AS rnk
              FROM e, cb, generate_series(0, 7) AS g(j)),
      codes AS (SELECT vec_id, j, k FROM sub WHERE rnk = 1)"""

  /** Residual list (a − b) in DuckDB, elementwise double subtraction —
    * the twin of `zip_with(v, cent, _ - _)`. */
  private def resSql(a: String, b: String): String =
    s"[CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE) for i in generate_series(1, 64)]"

  override val oracle: Map[String, String] = Map(
    "q124_ivfpq_adc" -> s"""
      WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
      cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < $IvfPqCells),
      cb AS (SELECT vec_id AS k, embedding AS bv FROM embeddings WHERE vec_id < 16),
      ranked AS (SELECT e.vec_id, cid,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY ${VectorOps.l2sqSql("e.v", "cents.cv")}, cid) AS rnk
                 FROM e, cents),
      asg AS (SELECT e.vec_id, r.cid AS cell, ${resSql("e.v", "c.cv")} AS rv
              FROM e JOIN ranked r ON r.vec_id = e.vec_id AND r.rnk = 1
                     JOIN cents c ON c.cid = r.cid),
      sub AS (SELECT a.vec_id, g.j, cb.k,
                row_number() OVER (PARTITION BY a.vec_id, g.j
                  ORDER BY ${VectorOps.subL2sqSql("a.rv", "cb.bv", "g.j", 8)}, cb.k) AS rnk
              FROM asg a, cb, generate_series(0, 7) AS g(j)),
      codes AS (SELECT vec_id, j, k FROM sub WHERE rnk = 1),
      qres AS (SELECT q.vec_id AS q_id, q.cid AS qcell, ${resSql("e.v", "c.cv")} AS qrv
               FROM ranked q JOIN e ON e.vec_id = q.vec_id
                             JOIN cents c ON c.cid = q.cid
               WHERE q.vec_id < 5 AND q.rnk <= 2),
      cand AS (SELECT qr.q_id, a.vec_id, qr.qrv
               FROM qres qr JOIN asg a ON a.cell = qr.qcell AND a.vec_id <> qr.q_id),
      part AS (SELECT cnd.q_id, cnd.vec_id, c.j,
                 ${VectorOps.subL2sqSql("cnd.qrv", "cb.bv", "c.j", 8)} AS dist
               FROM cand cnd JOIN codes c ON c.vec_id = cnd.vec_id
                    JOIN cb ON cb.k = c.k),
      adc AS (SELECT q_id, vec_id,
                CAST(floor(list_sum(list(dist ORDER BY j)) * 10000) AS BIGINT) AS adist_q
              FROM part GROUP BY q_id, vec_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adist_q, vec_id) AS rn FROM adc)
      SELECT q_id, rn, vec_id, adist_q FROM r WHERE rn <= 3 ORDER BY q_id, rn""",
    "q118_pq_encode" -> s"""
      WITH $pqCodesCtes
      SELECT vec_id, string_agg(CAST(k AS VARCHAR), ',' ORDER BY j) AS pq_csv
      FROM codes GROUP BY vec_id ORDER BY vec_id""",
    "q119_pq_adc" -> s"""
      WITH $pqCodesCtes,
      q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
      part AS (SELECT q.q_id, c.vec_id, c.j,
                 ${VectorOps.subL2sqSql("q.qv", "cb.cv", "c.j", 8)} AS dist
               FROM codes c, cb, q
               WHERE cb.k = c.k AND c.vec_id <> q.q_id),
      adc AS (SELECT q_id, vec_id,
                CAST(floor(list_sum(list(dist ORDER BY j)) * 10000) AS BIGINT) AS adist_q
              FROM part GROUP BY q_id, vec_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adist_q, vec_id) AS rn FROM adc)
      SELECT q_id, rn, vec_id, adist_q FROM r WHERE rn <= 3 ORDER BY q_id, rn""",
    "q30_dedup_exact" -> """
      SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
      FROM documents GROUP BY text ORDER BY doc_id""",
    "q31_dedup_hash" -> """
      SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
      FROM documents GROUP BY md5(text) ORDER BY doc_id""",
    "q32_minhash_sig" -> s"""
      WITH $oracleSigs
      SELECT doc_id, sig0, sig1, sig2, sig3 FROM sigs ORDER BY doc_id""",
    "q33_lsh_neardup" -> s"""
      WITH $oracleSigs,
      $neardupCtes
      SELECT a, b, (common * 10000) // (za.c + zb.c - common) AS jac_bp
      FROM com JOIN sz za ON za.doc_id = a JOIN sz zb ON zb.doc_id = b
      WHERE common * 2 >= (za.c + zb.c - common)
      ORDER BY a, b""",
    "q68_neardup_clusters" -> s"""
      WITH RECURSIVE $oracleSigs,
      $neardupCtes,
      pairs AS (SELECT a, b
                FROM com JOIN sz za ON za.doc_id = a JOIN sz zb ON zb.doc_id = b
                WHERE common * 2 >= (za.c + zb.c - common)),
      e AS (SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b AS u, a AS v FROM pairs),
      n AS (SELECT DISTINCT u AS id FROM e),
      reach(id, r) AS (
        SELECT id, id FROM n
        UNION
        SELECT e.v AS id, reach.r FROM reach JOIN e ON e.u = reach.id
      )
      SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id ORDER BY doc_id""",
    "q132_ann_recall_eval" -> s"""
      WITH b AS (SELECT vec_id, embedding,
                        ${VectorOps.lshBucketSql("embedding")} AS bucket
                 FROM embeddings),
      q AS (SELECT vec_id AS q_id, embedding AS qv, bucket AS qb
            FROM b WHERE vec_id < 10),
      gp AS (SELECT q.q_id, e.vec_id,
                    ${VectorOps.cosineSql("q.qv", "e.embedding")} AS sim_q
             FROM b e, q WHERE e.vec_id <> q.q_id),
      gr AS (SELECT *, row_number() OVER (PARTITION BY q_id
               ORDER BY sim_q DESC, vec_id) AS rn FROM gp),
      gt AS (SELECT q_id, vec_id FROM gr WHERE rn <= 5),
      ap AS (SELECT q.q_id, e.vec_id,
                    ${VectorOps.cosineSql("q.qv", "e.embedding")} AS sim_q
             FROM b e JOIN q ON e.bucket = q.qb AND e.vec_id <> q.q_id),
      ar AS (SELECT *, row_number() OVER (PARTITION BY q_id
               ORDER BY sim_q DESC, vec_id) AS rn FROM ap),
      ann AS (SELECT q_id, vec_id FROM ar WHERE rn <= 5),
      h AS (SELECT gt.q_id, COUNT(*) AS n_hits
            FROM gt JOIN ann ON ann.q_id = gt.q_id AND ann.vec_id = gt.vec_id
            GROUP BY gt.q_id),
      an AS (SELECT q_id, COUNT(*) AS n_ann FROM ann GROUP BY q_id),
      g AS (SELECT q_id, COUNT(*) AS n_gt FROM gt GROUP BY q_id)
      SELECT g.q_id, g.n_gt,
             COALESCE(an.n_ann, 0) AS n_ann,
             COALESCE(h.n_hits, 0) AS n_hits,
             COALESCE(h.n_hits, 0) * 100 // g.n_gt AS recall_pct
      FROM g LEFT JOIN an ON an.q_id = g.q_id
             LEFT JOIN h ON h.q_id = g.q_id
      ORDER BY g.q_id""",
    "q130_cluster_split" -> s"""
      WITH RECURSIVE $oracleSigs,
      $neardupCtes,
      pairs AS (SELECT a, b
                FROM com JOIN sz za ON za.doc_id = a JOIN sz zb ON zb.doc_id = b
                WHERE common * 2 >= (za.c + zb.c - common)),
      e AS (SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b AS u, a AS v FROM pairs),
      n AS (SELECT DISTINCT u AS id FROM e),
      reach(id, r) AS (
        SELECT id, id FROM n
        UNION
        SELECT e.v AS id, reach.r FROM reach JOIN e ON e.u = reach.id
      ),
      cl AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
      rep AS (SELECT d.doc_id, d.lang,
                     COALESCE(cl.cluster_id, d.doc_id) AS rep
              FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id),
      bk AS (SELECT doc_id, lang, rep,
                    CAST(('0x' || substr(md5(CAST(rep AS VARCHAR)), 1, 4)) AS INT) % 10000 AS bucket
             FROM rep)
      SELECT doc_id, lang, rep,
             CASE WHEN bucket < 8000 THEN 'train'
                  WHEN bucket < 9000 THEN 'val'
                  ELSE 'test' END AS split
      FROM bk ORDER BY doc_id""",
    "q78_dedup_decision" -> s"""
      WITH RECURSIVE $oracleSigs,
      $neardupCtes,
      pairs AS (SELECT a, b
                FROM com JOIN sz za ON za.doc_id = a JOIN sz zb ON zb.doc_id = b
                WHERE common * 2 >= (za.c + zb.c - common)),
      e AS (SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b AS u, a AS v FROM pairs),
      n AS (SELECT DISTINCT u AS id FROM e),
      reach(id, r) AS (
        SELECT id, id FROM n
        UNION
        SELECT e.v AS id, reach.r FROM reach JOIN e ON e.u = reach.id
      ),
      cl AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id)
      SELECT d.doc_id, d.source,
             COALESCE(cl.cluster_id, d.doc_id) AS cluster_id,
             CAST(COALESCE(cl.cluster_id, d.doc_id) = d.doc_id AS INT) AS kept
      FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id
      ORDER BY d.doc_id""",
    "q34_simhash" -> s"""
      SELECT doc_id, $simhashSql AS simhash
      FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
      ORDER BY doc_id""",
    "q35_cosine_topk" -> s"""
      WITH p AS (
        SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
               ${VectorOps.cosineSql("q.embedding", "e.embedding")} AS sim_q
        FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        WHERE q.vec_id < 10),
      r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim_q DESC, vec_id) AS rn FROM p)
      SELECT q_id, rn, vec_id, sim_q FROM r WHERE rn <= 5 ORDER BY q_id, rn""",
    "q36_ann_buckets" -> s"""
      SELECT ${VectorOps.lshBucketSql("embedding")} AS bucket, COUNT(*) AS n
      FROM embeddings GROUP BY 1 ORDER BY bucket""",
    "q37_ann_bucket_topk" -> s"""
      WITH b AS (SELECT vec_id, embedding, ${VectorOps.lshBucketSql("embedding")} AS bucket FROM embeddings),
      p AS (
        SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
               ${VectorOps.cosineSql("q.embedding", "e.embedding")} AS sim_q
        FROM b q JOIN b e ON e.bucket = q.bucket AND e.vec_id <> q.vec_id
        WHERE q.vec_id < 5),
      r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim_q DESC, vec_id) AS rn FROM p)
      SELECT q_id, rn, vec_id, sim_q FROM r WHERE rn <= 3 ORDER BY q_id, rn""",
    "q66_embed_quantize" -> s"""
      WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
      mm AS (SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx FROM e),
      q AS (SELECT vec_id, v, mn, mx,
              CASE WHEN mx = mn THEN [0 for x in v]
                   ELSE [CAST(floor((x - mn) / (mx - mn) * 255) AS INT) for x in v] END AS q8
            FROM mm)
      SELECT vec_id, array_to_string(q8, ',') AS q8_csv,
             CASE WHEN mx = mn THEN 0
                  ELSE CAST(list_max([CAST(floor(abs(v[i] - (mn + CAST(q8[i] AS DOUBLE) / 255.0 * (mx - mn)))
                         / (mx - mn) * 10000) AS BIGINT) for i in generate_series(1, len(v))]) AS BIGINT)
             END AS max_err_bp
      FROM q ORDER BY vec_id""",
    "q65_ann_multiprobe" -> s"""
      WITH b AS (SELECT vec_id, embedding, ${VectorOps.lshBucketSql("embedding")} AS bucket FROM embeddings),
      p AS (
        SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
               ${VectorOps.cosineSql("q.embedding", "e.embedding")} AS sim_q
        FROM b q JOIN b e ON e.vec_id <> q.vec_id AND e.bucket IN
          (q.bucket${(0 until VectorOps.LshBits).map(h => s", xor(q.bucket, ${1 << h})").mkString})
        WHERE q.vec_id < 5),
      r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim_q DESC, vec_id) AS rn FROM p)
      SELECT q_id, rn, vec_id, sim_q FROM r WHERE rn <= 3 ORDER BY q_id, rn""",
    "q38_knn_label" -> s"""
      WITH p AS (
        SELECT q.vec_id AS q_id, q.label AS true_label, e.vec_id AS vec_id, e.label AS label,
               ${VectorOps.cosineSql("q.embedding", "e.embedding")} AS sim_q
        FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        WHERE q.vec_id < 20),
      top AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim_q DESC, vec_id) AS rn
              FROM p) WHERE rn <= 10),
      votes AS (SELECT q_id, true_label, label, COUNT(*) AS votes FROM top GROUP BY q_id, true_label, label),
      win AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY votes DESC, label) AS vr FROM votes)
      SELECT q_id AS vec_id, true_label, label AS pred_label FROM win WHERE vr = 1 ORDER BY vec_id""",
    "q39_embed_neardup" -> s"""
      WITH b AS (SELECT vec_id, embedding, ${VectorOps.lshBucketSql("embedding")} AS bucket FROM embeddings)
      SELECT x.vec_id AS a, y.vec_id AS b,
             ${VectorOps.cosineSql("x.embedding", "y.embedding")} AS sim_q
      FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
      WHERE ${VectorOps.cosineSql("x.embedding", "y.embedding")} >= 9000
      ORDER BY a, b""",
    "q57_ivf_ann" -> s"""
      WITH e AS (SELECT vec_id, embedding FROM embeddings),
      cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 16),
      ranked AS (SELECT e.vec_id, cid,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY ${VectorOps.l2sqSql("e.embedding", "cents.cv")}, cid) AS rnk
                 FROM e, cents),
      asg AS (SELECT vec_id, cid AS cell FROM ranked WHERE rnk = 1),
      qc AS (SELECT vec_id AS q_id, cid AS qcell FROM ranked WHERE vec_id < 5 AND rnk <= 2),
      cand AS (SELECT q.q_id, a.vec_id FROM qc q JOIN asg a
               ON a.cell = q.qcell AND a.vec_id <> q.q_id),
      p AS (SELECT c.q_id, c.vec_id,
              ${VectorOps.cosineSql("qe.embedding", "ce.embedding")} AS sim_q
            FROM cand c JOIN e qe ON qe.vec_id = c.q_id
                        JOIN e ce ON ce.vec_id = c.vec_id),
      r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim_q DESC, vec_id) AS rn FROM p)
      SELECT q_id, rn, vec_id, sim_q FROM r WHERE rn <= 3 ORDER BY q_id, rn"""
  )
}
