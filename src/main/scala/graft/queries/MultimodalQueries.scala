package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Typed-row shapes for the q56 mapPartitions pipeline (top-level:
  * Catalyst codegen cannot access private nested classes). */
case class DocIn(doc_id: Long, text: String)
case class DocFeat(doc_id: Long, byte_len: Int, checksum: String, n_frames: Long)

/** Multimodal-column plumbing (SURVEY.md §2.11): opaque binary payloads
  * with typed metadata, schema'd record assembly, and a stubbed
  * decode/feature-extract stage.
  *
  * The container has no image/audio codecs, so the "decode" is a
  * deterministic stand-in (md5 checksum, byte stats, frame count) — but
  * the Spark-side plumbing is real: binary columns, struct assembly via
  * a key join, and in q56 a typed Dataset.mapPartitions pipeline (the
  * Beam DoFn shape: per-partition setup, batch iteration) with
  * case-class schemas. Swap `MultimodalQueries.decodeStub` for a real
  * codec and nothing else changes.
  *
  * Scale: payloads stay opaque bytes end-to-end (never parsed on the
  * driver); the documents⋈embeddings join keys on ids; mapPartitions
  * preserves partitioning and streams batches.
  */
object MultimodalQueries extends QueryPack {

  /** q54: assemble (metadata, payload, vector) records — the multimodal
    * row shape — and project scalar stats. */
  def q54(s: SparkSession, d: String): DataFrame = {
    val doc = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        col("text").cast("binary").as("payload"))
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"), col("label"))
    doc.join(emb, col("doc_id") === col("vec_id"))
      .select(struct(
        col("doc_id"),
        struct(col("lang"), col("source")).as("meta"),
        col("payload"),
        col("embedding"),
        col("label")).as("rec"))
      .select(
        col("rec.doc_id").as("doc_id"),
        col("rec.meta.lang").as("lang"),
        octet_length(col("rec.payload")).as("payload_bytes"),
        size(col("rec.embedding")).as("dim"),
        col("rec.label").as("label"))
      .orderBy(col("doc_id"))
  }

  /** q55: columnar feature extraction over the binary payload. */
  def q55(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("payload"), col("text"))
      .select(
        col("doc_id"),
        octet_length(col("payload")).as("byte_len"),
        lower(hex(substring(col("payload"), 1, 8))).as("head_hex"),
        substring(md5(col("text")), 1, 8).as("checksum"),
        ((octet_length(col("payload")) + 15) / 16).cast("long").as("n_frames"))
      .orderBy(col("doc_id"))

  /** The stubbed per-batch decoder. A real implementation would open a
    * codec in setup (once per partition) and decode each payload; the
    * stand-in derives deterministic features from the bytes. */
  private def decodeStub(bytes: Array[Byte]): (Int, String, Long) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val checksum = md.digest(bytes).map("%02x".format(_)).mkString.substring(0, 8)
    (bytes.length, checksum, (bytes.length + 15L) / 16L)
  }

  /** q56: the same features through a typed mapPartitions pipeline — the
    * Beam ParDo/DoFn execution shape with real Encoders. */
  def q56(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"))
      .as[DocIn]
      .mapPartitions { it =>
        // per-partition setup would go here (codec/model open)
        it.map { doc =>
          val (len, sum, frames) = decodeStub(doc.text.getBytes("UTF-8"))
          DocFeat(doc.doc_id, len, sum, frames)
        }
      }
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** q116: frame sampling over the binary payload — the multimodal verb
    * set's missing member (assemble → features → decode → SAMPLE). A
    * video/audio pipeline reads every Kth fixed-stride frame, not the
    * whole stream; here: 16-byte frames at stride 12, every 4th slot
    * kept, each emitted as (slot, md5, byte length). Pure row-local
    * generator arithmetic — `sequence` + HOF filter + explode, zero
    * shuffle before the presentation sort, and the payload is sliced
    * lazily per frame (the full payload never leaves its task). Swap
    * the md5 stand-in for a codec call per q56's decode contract. */
  def q116(s: SparkSession, d: String): DataFrame = {
    val doc = Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val nf = greatest(
      floor((octet_length(col("payload")) - 16).cast("double") / 12.0).cast("long") + 1L,
      lit(1L))
    doc.select(col("doc_id"), col("payload"), nf.as("nf"))
      .select(col("doc_id"), col("payload"),
        explode(filter(sequence(lit(0L), col("nf") - 1L),
          i => i % 4 === 0)).as("slot"))
      .select(col("doc_id"), col("slot"),
        expr("md5(substring(payload, cast(slot*12+1 as int), 16))").as("frame_md5"),
        expr("cast(length(substring(payload, cast(slot*12+1 as int), 16)) as int)").as("frame_len"))
      .orderBy(col("doc_id"), col("slot"))
  }

  // q135: content-defined chunking of binary payloads ----------------------

  /** The storage-dedup framing for multimodal blobs: q133's
    * content-defined boundaries applied to the OPAQUE BYTE stream — a
    * chunk starts at byte i (i ≥ 5) whenever the md5 of the trailing
    * 4-byte window [i−4, i−1] is ≡ 0 mod 32 (~32-byte expected
    * chunks), so re-encoding a payload with bytes inserted early
    * re-digests O(1) chunks, not every fixed 16-byte frame (q116's
    * stride would shift globally). Emits (chunk_idx, start, n_bytes,
    * digest) per chunk — the manifest a content-addressed blob store
    * ingests.
    *
    * Row-local generator arithmetic end-to-end: the payload is sliced
    * lazily per window and per chunk, never leaves its task, zero
    * shuffle before the presentation sort. Oracle note: fixture
    * payloads are ASCII text bytes (precondition pinned in
    * GovernanceSpec), so DuckDB's string substr/md5 sees the same
    * bytes the engine's binary slicing does. */
  def q135(s: SparkSession, d: String): DataFrame = {
    // boundary scan through the native cdc_starts expression (one reused
    // digest over (offset, len) slices); the interpreted HOF twin it
    // replaced — transform(sequence(5, len), i -> md5(substr(...)) tree
    // per byte — is equality-pinned in ExpressionSpec
    Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .withColumn("starts",
        call_function("cdc_starts", col("payload"), lit(4), lit(32)))
      .select(col("doc_id"), col("payload"),
        explode(transform(sequence(lit(1), size(col("starts"))), j =>
          struct(j.cast("long").as("chunk_idx"),
            element_at(col("starts"), j).as("start"),
            (coalesce(try_element_at(col("starts"), j + 1),
              octet_length(col("payload")) + 1) -
              element_at(col("starts"), j)).as("n_bytes")))).as("c"))
      .select(col("doc_id"), col("c.chunk_idx"),
        col("c.start").cast("long").as("start"),
        col("c.n_bytes").cast("long").as("n_bytes"),
        md5(col("payload").substr(col("c.start"), col("c.n_bytes"))).as("digest"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  // q137: payload near-dup via shared CDC chunks ---------------------------

  /** What the q135 chunk manifest is FOR: two binary payloads are
    * near-duplicates when they share most content chunks — the
    * storage-level dedup verdict (restic/borg-style) that needs no
    * text parsing, no tokenizer, no embedding, and works on any
    * modality. Distinct chunk digests per payload, a
    * shared-by-≤64-docs frequency cap on join digests (q33's BandCap
    * contract: ubiquitous boilerplate chunks cannot quadratically
    * explode the candidate join), pair count via one digest-keyed
    * self-join, Jaccard ≥ 0.5 verdict in integer basis points.
    *
    * Scale shape: the shuffle carries (digest, doc_id) pairs — 8-byte
    * hashes, never payload bytes; candidate volume is bounded by
    * cap·|digests|; the per-pair verdict is arithmetic on three
    * counts (no re-reading payloads). Exactly q33's LSH-banding cost
    * model with content chunks as the bands. */
  def q137(s: SparkSession, d: String): DataFrame = {
    val ChunkCap = 64
    val chunks = Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .withColumn("starts",
        call_function("cdc_starts", col("payload"), lit(4), lit(32)))
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("starts"))), j =>
          md5(col("payload").substr(
            element_at(col("starts"), j),
            coalesce(try_element_at(col("starts"), j + 1),
              octet_length(col("payload")) + 1) -
              element_at(col("starts"), j))))).as("digest"))
      .distinct()
      .persist() // feeds sizes, the df cap, and both join sides
    val sz = chunks.groupBy(col("doc_id")).agg(count(lit(1)).as("c"))
    val ok = chunks.groupBy(col("digest")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= ChunkCap).select(col("digest"))
    val shared = chunks.join(ok, Seq("digest")).as("x")
      .join(chunks.as("y"),
        col("x.digest") === col("y.digest") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("common"))
    val out = shared
      .join(sz.select(col("doc_id").as("a"), col("c").as("ca")), Seq("a"))
      .join(sz.select(col("doc_id").as("b"), col("c").as("cb")), Seq("b"))
      .filter(col("common") * 2 >= col("ca") + col("cb") - col("common"))
      .select(col("a"), col("b"),
        expr("common * 10000L DIV (ca + cb - common)").as("jac_bp"))
      .orderBy(col("a"), col("b"))
      .localCheckpoint(true) // materialize so the persist above can release
    chunks.unpersist()
    out
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q137_chunk_neardup"      -> q137 _,
    "q135_payload_cdc"        -> q135 _,
    "q54_multimodal_assemble" -> q54 _,
    "q55_binary_features"     -> q55 _,
    "q56_mappartitions_decode"-> q56 _,
    "q116_frame_sample"       -> q116 _
  )

  override val oracle: Map[String, String] = Map(
    "q137_chunk_neardup" -> """
      WITH d AS (SELECT doc_id, text, octet_length(encode(text)) AS blen
                 FROM documents),
      pos AS (SELECT doc_id, text, blen,
                     unnest(generate_series(1, blen)) AS i FROM d),
      f AS (SELECT doc_id, i,
              CASE WHEN i >= 5 AND
                CAST(('0x' || substr(md5(substr(text, i - 4, 4)), 1, 15)) AS BIGINT) % 32 = 0
                THEN 1 ELSE 0 END AS cut
            FROM pos),
      c AS (SELECT doc_id, i,
              SUM(cut) OVER (PARTITION BY doc_id ORDER BY i) + 1 AS chunk_idx
            FROM f),
      g AS (SELECT doc_id, chunk_idx, MIN(i) AS start, COUNT(*) AS n_bytes
            FROM c GROUP BY doc_id, chunk_idx),
      ch AS (SELECT DISTINCT g.doc_id,
                    md5(substr(d.text, CAST(g.start AS INT), CAST(g.n_bytes AS INT))) AS digest
             FROM g JOIN d ON d.doc_id = g.doc_id),
      sz AS (SELECT doc_id, COUNT(*) AS c FROM ch GROUP BY doc_id),
      ok AS (SELECT digest FROM ch GROUP BY digest HAVING COUNT(*) <= 64),
      shared AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS common
                 FROM ch x JOIN ok USING (digest)
                      JOIN ch y ON y.digest = x.digest AND x.doc_id < y.doc_id
                 GROUP BY x.doc_id, y.doc_id)
      SELECT a, b, common * 10000 // (za.c + zb.c - common) AS jac_bp
      FROM shared JOIN sz za ON za.doc_id = a JOIN sz zb ON zb.doc_id = b
      WHERE common * 2 >= (za.c + zb.c - common)
      ORDER BY a, b""",
    "q135_payload_cdc" -> """
      WITH d AS (SELECT doc_id, text, octet_length(encode(text)) AS blen
                 FROM documents),
      pos AS (SELECT doc_id, text, blen,
                     unnest(generate_series(1, blen)) AS i FROM d),
      f AS (SELECT doc_id, i,
              CASE WHEN i >= 5 AND
                CAST(('0x' || substr(md5(substr(text, i - 4, 4)), 1, 15)) AS BIGINT) % 32 = 0
                THEN 1 ELSE 0 END AS cut
            FROM pos),
      c AS (SELECT doc_id, i,
              SUM(cut) OVER (PARTITION BY doc_id ORDER BY i) + 1 AS chunk_idx
            FROM f),
      g AS (SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
                   CAST(MIN(i) AS BIGINT) AS start,
                   CAST(COUNT(*) AS BIGINT) AS n_bytes
            FROM c GROUP BY doc_id, chunk_idx)
      SELECT g.doc_id, g.chunk_idx, g.start, g.n_bytes,
             md5(substr(d.text, CAST(g.start AS INT), CAST(g.n_bytes AS INT))) AS digest
      FROM g JOIN d ON d.doc_id = g.doc_id
      ORDER BY g.doc_id, g.chunk_idx""",
    "q54_multimodal_assemble" -> """
      SELECT doc_id, lang, octet_length(encode(text)) AS payload_bytes,
             len(embedding) AS dim, label
      FROM documents JOIN embeddings ON doc_id = vec_id
      ORDER BY doc_id""",
    "q55_binary_features" -> """
      SELECT doc_id, octet_length(encode(text)) AS byte_len,
             lower(hex(encode(substr(text, 1, 8)))) AS head_hex,
             substr(md5(text), 1, 8) AS checksum,
             (octet_length(encode(text)) + 15) // 16 AS n_frames
      FROM documents ORDER BY doc_id""",
    "q56_mappartitions_decode" -> """
      SELECT doc_id, octet_length(encode(text)) AS byte_len,
             substr(md5(text), 1, 8) AS checksum,
             (octet_length(encode(text)) + 15) // 16 AS n_frames
      FROM documents ORDER BY doc_id""",
    // Byte semantics wherever DuckDB can express them: nf and frame_len
    // derive from octet_length(encode(text)) — matching Spark's binary
    // payload exactly for ANY input. frame_md5 must stay char-based
    // (this DuckDB build has no BLOB substring/md5), which coincides
    // with Spark's byte slicing only for single-byte text — the
    // GovernanceSpec "fixture corpus is pure ASCII" test pins that
    // precondition instead of leaving it implicit.
    "q116_frame_sample" -> """
      WITH d AS (SELECT doc_id, text, octet_length(encode(text)) AS blen,
                   GREATEST(CAST(floor((octet_length(encode(text)) - 16.0) / 12.0) AS BIGINT) + 1, 1) AS nf
                 FROM documents),
      slots AS (SELECT doc_id, text, blen, unnest(range(0, nf)) AS slot FROM d)
      SELECT doc_id, slot,
             md5(substring(text, CAST(slot * 12 + 1 AS INT), 16)) AS frame_md5,
             CAST(GREATEST(LEAST(16, blen - slot * 12), 0) AS INT) AS frame_len
      FROM slots WHERE slot % 4 = 0
      ORDER BY doc_id, slot"""
  )
}
