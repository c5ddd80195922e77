package graft.functions

import java.security.MessageDigest
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector primitives as Catalyst higher-order functions.
  *
  * All arithmetic is double-precision left folds in array order, which
  * both Spark's `aggregate` HOF and DuckDB's `list_sum` evaluate
  * sequentially — results are bit-identical across engines, and query
  * outputs additionally round to 4 decimals so a ulp of drift can never
  * flip a hash compare.
  */
object VectorOps {

  /** Cast a float embedding to double once, up front. */
  def toD(v: Column): Column = transform(v, _.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (s, x) => s + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cosine quantized to basis points: floor(cos * 1e4) as a long.
    *
    * floor-quantization, NOT round(x, 4): Spark's round works on the
    * exact binary expansion while DuckDB's rounds the shortest decimal
    * repr, so values whose shortest repr ends in ...5 at the 5th decimal
    * round DIFFERENTLY across engines (observed: 0.4987 vs 0.4988 at
    * sf0.1). floor of a bit-identical double is always identical. */
  def cosineQ(a: Column, b: Column): Column = floor(cosine(a, b) * 10000)

  /** [[cosineQ]] through the native codegen expression
    * (graft.expressions.CosineSimilarity), bit-identical but much
    * faster — the HOF form is CodegenFallback. The one basis-point
    * score every ANN path ranks by (also [[Retrieval.scoreById]]'s).
    * Needs GraftFunctions.ensure on the session, which every
    * SparkEntry query runs. */
  def cosineQNative(a: Column, b: Column): Column =
    floor(call_function("cosine_sim", a, b) * 10000)

  /** 32 sign bits of dims off+1..off+32 packed MSB-first into a long:
    * a sequential fold acc·2 + [x>0], so element off+1 carries weight
    * 2³¹. Two words cover a 64-dim vector without touching the BIGINT
    * sign bit in either engine (the binary-quantization signature
    * [[Retrieval.hammingRoute]]'s stage 1 ranks; oracle twin in
    * Round10Queries.signWordSql). */
  def signWord(v: Column, off: Int): Column =
    aggregate(slice(v, off + 1, 32), lit(0L),
      (acc, x) => acc * 2 + when(x > 0.0, lit(1L)).otherwise(lit(0L)))

  // ---- Random-hyperplane LSH --------------------------------------------

  /** Default hash width; callers can pass any `bits <= MaxLshBits`.
    * 8 bits = 256 buckets suits the fixtures; at corpus scale pick
    * bits ≈ log2(n / targetBucketSize) (e.g. 20 bits → ~1M buckets). */
  val LshBits = 8
  val MaxLshBits = 24
  val Dim = 64

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Deterministic pseudo-random hyperplanes in [-1, 1]^64, derived from
    * md5("h_d") — computed once on the driver and embedded as literals in
    * BOTH the Spark plan and the oracle SQL, so the two engines share the
    * exact same doubles (and at scale no per-row hashing is paid). */
  val allPlanes: IndexedSeq[IndexedSeq[Double]] =
    (0 until MaxLshBits).map { h =>
      (0 until Dim).map { d =>
        ((java.lang.Long.parseLong(md5hex(s"${h}_${d}").substring(0, 6), 16) % 2001) - 1000) / 1000.0
      }
    }

  val planes: IndexedSeq[IndexedSeq[Double]] = allPlanes.take(LshBits)

  /** A driver-known vector as ONE array literal node. `typedLit`, not
    * `array(p.map(lit))`: the element-wise form puts |p| Literal nodes
    * plus a CreateArray into the plan PER VECTOR, so a 16×64-dim
    * codebook contributed ~1k expression nodes that Catalyst's
    * fixed-point optimizer re-walked on every action — measured round
    * 16 as a dominant share of the maintenance gates' per-action
    * planning cost. One foldable Literal of ArrayType(Double) is
    * semantically identical (same type, same foldability, same
    * codegen'd value) at constant plan size. */
  def litArr(p: Seq[Double]): Column = typedLit(p.toSeq)

  /** A driver-known vector LIST (codebook, centroid set, plane pool)
    * as ONE nested-array literal node — same plan-size argument as
    * [[litArr]], one level up. */
  def litArr2(ps: Seq[Seq[Double]]): Column = typedLit(ps.map(_.toSeq).toSeq)

  /** Cells of a driver-known coarse quantizer, sorted nearest-first.
    *
    * The centroid set is a trained model a few KB in size — embedding it
    * as literals makes cell assignment a pure per-row expression (zero
    * shuffle, zero row amplification), where a join-against-centroids
    * formulation would fan every row out |cents|x and then shuffle the
    * whole corpus through a window just to take the argmin. Struct
    * comparison is field-ordered, so array_sort ranks by (dist, cid) —
    * ties break on the lower cell id, same as ORDER BY dist, cid.
    *
    * Cost shape: |v|^2 arrives precomputed in `vv` (one fold per row,
    * not one per centroid) and each |c|^2 is folded on the DRIVER —
    * sequential left fold, the same order as the engines' list folds,
    * so the doubles stay bit-identical to the oracle's
    * dot(a,a) - 2 dot(a,b) + dot(b,b). Per row that leaves exactly
    * |cents| dot products. */
  def nearestCells(v: Column, vv: Column, cents: Seq[(Long, Seq[Double])]): Column =
    array_sort(array(cents.map { case (cid, cv) =>
      val cc = cv.foldLeft(0.0)((s, x) => s + x * x)
      struct((vv - lit(2.0) * dot(v, litArr(cv)) + lit(cc)).as("dist"),
        lit(cid).as("cid"))
    }: _*))

  private def checkBits(bits: Int): Unit =
    require(bits >= 1 && bits <= MaxLshBits,
      s"LSH bits must be in [1, $MaxLshBits], got $bits")

  /** `bits`-bit LSH bucket id: bit h set iff dot(v, plane_h) >= 0. */
  def lshBucket(v: Column, bits: Int = LshBits, from: Int = 0): Column = {
    checkBits(from + bits)
    allPlanes.slice(from, from + bits).zipWithIndex.map { case (p, h) =>
      when(dot(v, litArr(p)) >= 0, lit(1 << h)).otherwise(lit(0))
    }.reduce(_ + _)
  }

  /** Multi-probe set over an already-computed bucket column: the exact
    * bucket plus its `bits` Hamming-distance-1 neighbors. Probing the
    * flip buckets recovers most of the recall a hard bucket boundary
    * loses — a near-neighbor differs in at most a couple of sign bits —
    * at (bits+1)x candidate cost, still O(n * probes / 2^bits). */
  def multiProbe(bucket: Column, bits: Int = LshBits): Column = {
    checkBits(bits)
    array(bucket +: (0 until bits).map(b => bucket.bitwiseXOR(lit(1 << b))): _*)
  }

  /** DuckDB SQL for the same bucket id over a FLOAT[] column name.
    * `from` selects the plane window [from, from+bits) — independent
    * LSH tables for multi-table seeding (q168) reuse the same plane
    * pool at disjoint offsets, mirroring [[lshBucket]]. */
  def lshBucketSql(col: String, bits: Int = LshBits, from: Int = 0): String = {
    checkBits(from + bits)
    allPlanes.slice(from, from + bits).zipWithIndex.map { case (p, h) =>
      val lits = p.mkString("[", ", ", "]")
      s"(CASE WHEN list_sum([CAST($col[i] AS DOUBLE) * ($lits)[i] for i in generate_series(1, $Dim)]) >= 0 THEN ${1 << h} ELSE 0 END)"
    }.mkString("(", " + ", ")")
  }

  /** DuckDB SQL for a double dot product over FLOAT[] columns. */
  def dotSql(x: String, y: String): String =
    s"list_sum([CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE) for i in generate_series(1, $Dim)])"

  /** DuckDB SQL for [[cosineQ]] over FLOAT[] columns. */
  def cosineSql(a: String, b: String): String =
    s"CAST(floor(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})) * 10000) AS BIGINT)"

  /** Squared L2 distance, same term order both engines: |a|^2 - 2ab + |b|^2. */
  def l2sq(a: Column, b: Column): Column =
    dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)

  /** DuckDB SQL twin of [[l2sq]]. */
  def l2sqSql(a: String, b: String): String =
    s"(${dotSql(a, a)} - 2.0 * ${dotSql(a, b)} + ${dotSql(b, b)})"

  /** DuckDB dot product restricted to SUBSPACE `j` (a 0-based SQL
    * expression) of width `ds`: folds x[j*ds+1 .. j*ds+ds] in element
    * order — the same sequential left fold as [[dot]] over
    * `slice(v, j*ds+1, ds)` on the Spark side. */
  def subDotSql(x: String, y: String, j: String, ds: Int): String =
    s"list_sum([CAST($x[($j)*$ds+i] AS DOUBLE) * CAST($y[($j)*$ds+i] AS DOUBLE) for i in generate_series(1, $ds)])"

  /** DuckDB SQL twin of [[l2sq]] over subspace `j` — term order matches
    * NearestCells' (dot(v,v) - 2*dot(v,c)) + dot(c,c) exactly. */
  def subL2sqSql(a: String, b: String, j: String, ds: Int): String =
    s"(${subDotSql(a, a, j, ds)} - 2.0 * ${subDotSql(a, b, j, ds)} + ${subDotSql(b, b, j, ds)})"
}
