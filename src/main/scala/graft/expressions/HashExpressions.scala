package graft.expressions

import java.security.MessageDigest
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Shared md5 plumbing for the portable-hash expressions.
  *
  * These are CodegenFallback by choice: the cost is the digest itself,
  * not row-loop dispatch, and a hand-written JVM loop already removes
  * the per-element Catalyst interpretation (md5 -> substring -> conv
  * -> cast tree per array element) that makes the HOF formulations the
  * benchmark hot spots. Results are bit/byte-identical to the HOF forms
  * and to DuckDB's md5 — the oracle contract.
  */
trait Md5Helper {
  // ThreadLocal, not a per-instance lazy val: a shared plan fragment can
  // be evaluated from multiple threads (e.g. driver-side constant
  // folding + executor tasks), and MessageDigest is stateful.
  @transient private lazy val mdLocal: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))
  private val hexChars = "0123456789abcdef".toCharArray

  protected def toHex(d: Array[Byte]): String = {
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexChars((d(i) >> 4) & 0xf)
      out(2 * i + 1) = hexChars(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  protected def md5Raw(bytes: Array[Byte]): Array[Byte] =
    mdLocal.get().digest(bytes)

  /** The thread's reset digest, for callers with bespoke update
    * sequences (multi-part without concatenation). */
  protected def mdInstance(): MessageDigest = {
    val md = mdLocal.get()
    md.reset()
    md
  }

  /** Digest of bytes[offset, offset+len) without copying the slice. */
  protected def md5Range(bytes: Array[Byte], offset: Int, len: Int): Array[Byte] = {
    val md = mdLocal.get()
    md.reset()
    md.update(bytes, offset, len)
    md.digest()
  }
}

/** Word 3-gram shingles over a string array — the native form of
  * TextOps.shingles3 (same output: windows joined by single spaces,
  * empty below 3 words). One UTF8String.concatWs per window replaces an
  * interpreted transform+slice+concat_ws tree per window.
  */
case class Shingles3(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"shingles3 expects array<string>, got ${t.simpleString}")
  }

  private val space = UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < 3) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - 2)
    var i = 0
    while (i < n - 2) {
      out(i) = UTF8String.concatWs(space,
        arr.getUTF8String(i), arr.getUTF8String(i + 1), arr.getUTF8String(i + 2))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Shingles3 =
    copy(child = newChild)
}

/** Word bigrams over a string array — the native form of the
  * `transform(sequence(1, n-1), i -> concat_ws(' ', ws[i], ws[i+1]))`
  * HOF tree (same output: adjacent pairs joined by a single space,
  * empty below 2 words). One UTF8String.concatWs per pair replaces an
  * interpreted sequence+element_at+concat_ws tree per pair — the HOF
  * form was the q95 bench hot spot (3.6 s of a 9.3 s sf1 run).
  */
case class Shingles2(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"shingles2 expects array<string>, got ${t.simpleString}")
  }

  private val space = UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - 1)
    var i = 0
    while (i < n - 1) {
      out(i) = UTF8String.concatWs(space,
        arr.getUTF8String(i), arr.getUTF8String(i + 1))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Shingles2 =
    copy(child = newChild)
}

/** 16-bit SimHash over a word array — the native form of
  * TextOps.simhash16 (bit b set iff the sum over words of +1/-1 by
  * md5-derived hash-bit b is positive). The per-word 16-bit hash is the
  * first two digest bytes — exactly `conv(substring(md5(w),1,4),16,10)`.
  */
case class Simhash16(child: Expression)
    extends UnaryExpression with CodegenFallback with Md5Helper {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash16 expects array<string>, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val bitSums = new Array[Int](16)
    var i = 0
    while (i < n) {
      // a null word contributes -1 to every bit — the HOF form's
      // when(null > 0).otherwise(-1) behavior, same as h == 0
      val h =
        if (arr.isNullAt(i)) 0
        else {
          val d = md5Raw(arr.getUTF8String(i).getBytes)
          ((d(0) & 0xff) << 8) | (d(1) & 0xff)
        }
      var b = 0
      while (b < 16) {
        if (((h >> b) & 1) == 1) bitSums(b) += 1 else bitSums(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0
    var b = 0
    while (b < 16) {
      if (bitSums(b) > 0) out |= 1 << b
      b += 1
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): Simhash16 =
    copy(child = newChild)
}

/** Position-weighted rolling fingerprint mod 1e9+7 over a string array —
  * the native form of TextOps.fingerprint (same fold, same constants).
  */
case class WordFingerprint(child: Expression)
    extends UnaryExpression with CodegenFallback with Md5Helper {

  private val P = 1000000007L

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"word_fingerprint expects array<string>, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      // first 7 hex chars == top 28 digest bits, read straight off the
      // bytes (no hex-string round trip): n0..n6 big-endian nibbles
      val d = md5Raw(arr.getUTF8String(i).getBytes)
      val h = (((d(0) & 0xffL) << 20) | ((d(1) & 0xff) << 12) |
        ((d(2) & 0xff) << 4) | ((d(3) & 0xff) >> 4)) % P
      acc = (acc + (i + 1) * h % P) % P
      i += 1
    }
    acc
  }

  override protected def withNewChildInternal(newChild: Expression): WordFingerprint =
    copy(child = newChild)
}

/** The 4-permutation MinHash signature over a shingle array in one
  * pass — ONE md5 per shingle, 4 derived hash functions by XOR with
  * fixed 60-bit constants (the standard Broder-style construction: the
  * base hash scatters, the XORs re-rank; replaced the earlier
  * 4-digests-per-shingle form, 3/4 of whose digest work was
  * redundant). Element k equals
  * `array_min(transform(shs, sh -> xor(top60(md5(sh)), SEED_k)))`
  * where top60 = first 15 hex chars as a BIGINT — exactly reproducible
  * in DuckDB as `xor(CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT),
  * SEED_k)` (TextOps.minhash is the HOF reference twin).
  */
case class MinHashSigs(child: Expression)
    extends UnaryExpression with CodegenFallback with Md5Helper {

  import MinHashSigs.SeedConsts

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_sigs expects array<string>, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(Array.fill[Any](SeedConsts.length)(null))
    val mins = Array.fill(SeedConsts.length)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val d = md5Raw(arr.getUTF8String(i).getBytes)
      // first 15 hex nibbles = top 60 digest bits, unsigned
      val h = (((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
        ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
        ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)) >>> 4
      var k = 0
      while (k < SeedConsts.length) {
        val v = h ^ SeedConsts(k)
        if (v < mins(k)) mins(k) = v
        k += 1
      }
      i += 1
    }
    new GenericArrayData(mins.map(m => m: Any))
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSigs =
    copy(child = newChild)
}

object MinHashSigs {
  /** 60-bit XOR seeds (seed 0 = identity; 1–3 from the hex expansion
    * of pi — "nothing up my sleeve", all < 2^60 so every signature
    * stays a non-negative BIGINT in both engines). */
  val SeedConsts: Array[Long] =
    Array(0L, 0x243F6A8885A308DL, 0x13198A2E0370734L, 0x082EFA98EC4E6C8L)
}

/** Top-60-bit md5 digest of a string as a BIGINT — the native form of
  * the house digest chain `conv(substring(md5(x), 1, 15), 16, 10)
  * .cast("long")` (first 15 hex chars parsed base-16). Value-identical
  * to the chained builtins and to DuckDB's
  * `CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)`, so every oracle
  * contract is untouched; what it removes is the per-value hex
  * encode → substring → radix-parse → string allocations of the
  * four-expression tree — the digest itself is the irreducible cost.
  */
case class Digest60(child: Expression)
    extends UnaryExpression with CodegenFallback with Md5Helper {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"digest60 expects string, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val d = md5Raw(input.asInstanceOf[UTF8String].getBytes)
    // first 15 hex nibbles = top 60 digest bits, unsigned
    (((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
      ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
      ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)) >>> 4
  }

  override protected def withNewChildInternal(newChild: Expression): Digest60 =
    copy(child = newChild)
}

/** [[Digest60]] mapped over a string array — the native form of
  * `transform(arr, x -> conv(substring(md5(x), 1, 15), 16, 10)
  * .cast("long"))`, element order preserved, null elements passed
  * through as null (exactly the HOF tree's semantics). One digest loop
  * replaces an interpreted four-expression tree per element — the
  * set-similarity/containment joins (q108/q114/q140) and the span-dedup
  * family digest every shingle of the corpus through this chain.
  */
case class Digests60(child: Expression)
    extends UnaryExpression with CodegenFallback with Md5Helper {

  // defensive against a non-array child (round-16 ADVICE): dataType can
  // be probed by error formatting / tree transforms BEFORE
  // checkInputDataTypes surfaces, and must not throw ClassCastException
  override def dataType: DataType = child.dataType match {
    case ArrayType(_, cn) => ArrayType(LongType, containsNull = cn)
    case _ => ArrayType(LongType, containsNull = true)
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"digests60 expects array<string>, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val d = md5Raw(arr.getUTF8String(i).getBytes)
        out(i) = (((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
          ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
          ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
          ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)) >>> 4
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Digests60 =
    copy(child = newChild)
}

/** Exact-set group key over a BIGINT digest array — the native form of
  * `md5(concat_ws(",", transform(array_sort(a), x -> cast(x as string))))`
  * (the q108/q114/q140 exact-set-collapse key): md5 hex of the
  * comma-joined decimal representations of the ascending-sorted
  * elements, nulls skipped exactly as concat_ws does. The digest is
  * streamed element by element (one small stack buffer per element)
  * instead of materializing the multi-KB decimal string the HOF tree
  * allocates per document.
  */
case class SetKeyMd5(child: Expression)
    extends UnaryExpression with CodegenFallback with Md5Helper {

  override def dataType: DataType = StringType

  // concat_ws NEVER returns null, so the builtin chain maps a null array
  // to md5("") — match it exactly (round-16 ADVICE: a null-text doc must
  // stay in the md5("") group, not move to a null key that inner joins
  // on the group key would silently drop)
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) UTF8String.fromString(toHex(mdInstance().digest()))
    else nullSafeEval(v)
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"setkey_md5 expects array<bigint>, got ${t.simpleString}")
  }

  private val comma = ",".getBytes

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    // collect non-null elements (concat_ws drops nulls), sort ascending
    // like array_sort/sort_array on bigint
    val vs = new Array[Long](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) { vs(m) = arr.getLong(i); m += 1 }
      i += 1
    }
    val kept = if (m == n) vs else java.util.Arrays.copyOf(vs, m)
    java.util.Arrays.sort(kept)
    val md = mdInstance()
    i = 0
    while (i < m) {
      if (i > 0) md.update(comma)
      md.update(java.lang.Long.toString(kept(i)).getBytes)
      i += 1
    }
    UTF8String.fromString(toHex(md.digest()))
  }

  override protected def withNewChildInternal(newChild: Expression): SetKeyMd5 =
    copy(child = newChild)
}

/** Content-defined chunk starts over a binary payload — the native form
  * of q135's boundary scan: start positions (1-based) are [1] plus every
  * i ≥ window+1 whose trailing `window`-byte md5 (top 60 bits, the
  * 15-hex-char house parse) is ≡ 0 mod `mod`. One reused MessageDigest
  * over (offset, len) slices replaces the interpreted
  * transform+substr+md5+conv tree per byte position — the q135 bench
  * hot spot (the digest itself is the irreducible cost; this removes
  * the per-position expression interpretation and byte-array copies).
  * Byte-identical to the HOF form and to DuckDB's substr+md5 oracle.
  */
case class CdcStarts(child: Expression, window: Int, mod: Int)
    extends UnaryExpression with CodegenFallback with Md5Helper {

  require(window >= 1 && mod >= 1, s"cdc_starts(window=$window, mod=$mod)")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"cdc_starts expects binary, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    val n = bytes.length
    // Empty payload ⇒ no chunks: the oracle's generate_series(1, 0) yields
    // zero rows for a zero-length doc, so emitting the unconditional start 1
    // would silently diverge on any future fixture with empty payloads.
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val out = scala.collection.mutable.ArrayBuilder.make[Any]
    out += (1: Any)
    var i = window + 1
    while (i <= n) {
      val d = md5Range(bytes, i - window - 1, window)
      val h = (((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
        ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
        ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)) >>> 4
      if (h % mod == 0) out += (i: Any)
      i += 1
    }
    new GenericArrayData(out.result())
  }

  override protected def withNewChildInternal(newChild: Expression): CdcStarts =
    copy(child = newChild)
}

/** Whole content-defined word-chunking of a document in one fused JVM
  * loop — the native form of q133's three-stage HOF tree (boundary
  * transform + chunk-assembly transform + per-chunk md5), which
  * evaluated an interpreted md5→substring→conv→cast expression tree
  * per 2-gram (~6M interpreted evals per sf0.1 pass; the q95/q137
  * precedent says the fused loop buys 2-10×).
  *
  * Contract (bit-identical to the HOF form and the DuckDB oracle):
  * a boundary falls BEFORE 1-based word i (i ≥ 2) iff the top 60 bits
  * of md5("w_{i-1} w_i") — exactly `conv(substring(md5(g),1,15),16,10)`
  * — are ≡ 0 (mod `mod`); chunk j spans [start_j, start_{j+1});
  * output rows are (chunk_idx 1-based, n_words, md5 hex of the chunk
  * words joined by single spaces). `split(text, ' ')` never yields an
  * empty array, so every doc emits ≥ 1 chunk — same as the oracle.
  */
case class CdcWordChunks(child: Expression, mod: Int)
    extends UnaryExpression with CodegenFallback with Md5Helper {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("chunk_idx", LongType, nullable = false),
    StructField("n_words", LongType, nullable = false),
    StructField("digest", StringType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if mod > 0 => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"cdc_word_chunks expects (array<string>, positive int literal mod), " +
      s"got ${child.dataType.simpleString}")
  }

  private val spaceByte = Array[Byte](' ')

  override def nullSafeEval(input: Any): Any = {
    val ws = input.asInstanceOf[ArrayData]
    val n = ws.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    // per-word UTF-8 bytes once, reused by both the 2-gram boundary
    // hashes and the chunk digests
    val wb = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) { wb(i) = ws.getUTF8String(i).getBytes; i += 1 }
    val starts = scala.collection.mutable.ArrayBuilder.make[Int]
    starts += 1
    i = 2
    while (i <= n) {
      val md = md5Of2Gram(wb(i - 2), wb(i - 1))
      val h = (((md(0) & 0xffL) << 56) | ((md(1) & 0xffL) << 48) |
        ((md(2) & 0xffL) << 40) | ((md(3) & 0xffL) << 32) |
        ((md(4) & 0xffL) << 24) | ((md(5) & 0xffL) << 16) |
        ((md(6) & 0xffL) << 8) | (md(7) & 0xffL)) >>> 4
      if (h % mod == 0) starts += i
      i += 1
    }
    val st = starts.result()
    val out = new Array[Any](st.length)
    var j = 0
    while (j < st.length) {
      val from = st(j) - 1
      val until = (if (j + 1 < st.length) st(j + 1) else n + 1) - 1
      out(j) = org.apache.spark.sql.catalyst.InternalRow(
        (j + 1).toLong, (until - from).toLong,
        UTF8String.fromString(toHex(md5Joined(wb, from, until))))
      j += 1
    }
    new GenericArrayData(out)
  }

  private def md5Of2Gram(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val md = mdInstance()
    md.update(a); md.update(spaceByte); md.update(b)
    md.digest()
  }

  /** md5 of words[from, until) joined by single spaces, no join string
    * materialized. */
  private def md5Joined(wb: Array[Array[Byte]], from: Int, until: Int): Array[Byte] = {
    val md = mdInstance()
    var i = from
    while (i < until) {
      if (i > from) md.update(spaceByte)
      md.update(wb(i))
      i += 1
    }
    md.digest()
  }

  override protected def withNewChildInternal(newChild: Expression): CdcWordChunks =
    copy(child = newChild)
}
