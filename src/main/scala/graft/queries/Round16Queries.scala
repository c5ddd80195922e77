package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Retrieval.{hammingRoute, heapTopK}
import graft.functions.VectorOps.{cosineQNative, cosineSql}

/** Round-16 additions: retrieval-quality evaluation joins the ANN
  * family as a first-class pipeline pass — q183 grades a production
  * retriever (the q163 binary-Hamming + exact-rerank route, served
  * from the write-once annidx3 layout) with NDCG@10 against the exact
  * cosine ranking, the standard graded-relevance IR metric
  * (Järvelin & Kekäläinen 2002). An ANN stack without a standing
  * quality gate regresses silently; recall@k (q65) sees only set
  * overlap — NDCG sees ORDER, which is what serving quality is.
  */
object Round16Queries extends QueryPack {

  private val NdQ = 8      // evaluated queries: vec_id < 8 (family convention)
  private val NdShort = 32 // the system's Hamming shortlist (q163's width)
  private val NdK = 10     // grade the top-10 of the reranked system list

  /** Position discounts floor(10⁶/log₂(i+1)), i = 1..[[NdK]] — computed
    * ONCE on the driver and embedded as integer literals in BOTH
    * engines, so no cross-engine floating-point log ever meets the
    * hash gate. */
  private[graft] val NdW: IndexedSeq[Long] =
    (1 to NdK).map(i => math.floor(1e6 / (math.log(i + 1.0) / math.log(2.0))).toLong)

  /** Ideal DCG under the 3/2/1 grading below: a corpus with ≥ 30
    * non-self documents always has ideal relevance (3,3,3,2,2,2,2,2,2,2)
    * at ranks 1..10 — a driver-side integer constant shared with the
    * oracle verbatim. */
  private[graft] val NdIdcg: Long =
    NdW.zipWithIndex.map { case (w, i) => (if (i < 3) 3L else 2L) * w }.sum

  /** q183: NDCG@10 of the served retriever vs the exact ranking.
    * System list = q163's route ([[graft.functions.Retrieval.hammingRoute]]):
    * a 32-candidate shortlist over the packed sign words of the annidx3
    * layout — 8 index bytes/vector, the only corpus-wide scan — then
    * an exact-cosine rerank keeping the top-10. Relevance grades come
    * from the EXACT cosine ranking: rank ≤ 3 → rel 3, ≤ 10 → rel 2,
    * ≤ 30 → rel 1, else 0 — so the metric rewards putting the
    * truly-nearest documents early, not just retrieving them somewhere.
    *
    * Scale shape: the SYSTEM side is the production serve path, the
    * two-job [[graft.plans.TwoStageRoute]] (index-column scan with
    * per-task shortlist heaps, then one base scan reranking only the
    * shortlisted ids — nothing corpus-sized shuffles or broadcasts);
    * the GRADING side is the offline eval harness — exact top-30 per
    * evaluated query via the bounded heap, |Q|·n score pairs with |Q| the sampled eval set (8 here; at
    * 100 TB an eval set stays hundreds of queries, the standard
    * offline-eval economics). All ranking math is integer bp with id
    * tiebreaks; the discounts are shared integer literals — the whole
    * metric is hash-exact. */
  def q183(s: SparkSession, d: String): DataFrame = {
    val sg = Round10Queries.readAnnIndex(s, Round10Queries.annIndex(s, d))
      .select(col("vec_id"), col("lo"), col("hi"))
    val qs = sg.filter(col("vec_id") < NdQ)
      .select(col("vec_id").as("q_id"), col("lo").as("qlo"), col("hi").as("qhi"))
    val e = graft.Tables.vectors(s, d)
    val q = e.filter(col("vec_id") < NdQ)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    // system top-10: exact rerank of the shortlist (8×32 rows)
    val sys = hammingRoute(sg, qs, e, q, NdShort, NdK)
      .select(col("q_id"), col("rn"), col("vec_id"))
    // exact top-30 per query: the graded-relevance ground truth
    val exact = heapTopK(
        e.join(broadcast(q), col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"), cosineQNative(col("qv"), col("v")).as("sim")),
        -col("sim"), 30)
      .select(col("q_id"), col("vec_id"), col("rn").as("er"))
    val wLit = typedLit(NdW)
    sys.join(exact, Seq("q_id", "vec_id"), "left")
      .select(col("q_id"),
        (when(col("er") <= 3, 3L).when(col("er") <= 10, 2L)
          .when(col("er").isNotNull, 1L).otherwise(0L) *
         element_at(wLit, col("rn").cast("int"))).as("g"))
      .groupBy(col("q_id"))
      .agg(sum(col("g")).as("dcg"))
      .select(col("q_id"), col("dcg"),
        expr(s"CAST((dcg * 10000) DIV $NdIdcg AS BIGINT)").as("ndcg_bp"))
      .orderBy(col("q_id"))
  }

  /** q184: tokenizer FERTILITY per language — the statistic a
    * multilingual pipeline reads before fixing its mixing weights: a
    * language whose tokens/word (fertility) or chars/token runs hot is
    * under-served by the tokenizer, so its token budget buys fewer
    * documents (Rust et al. 2021's fertility framing). Composes two
    * standing derivations: q182's per-document token statistics under
    * the trained q179 tokenizer, rolled up over the corpus `lang`
    * column. Scale shape inherits q182's: one corpus pass, a
    * Heaps'-small broadcast, then a languages-sized aggregate —
    * nothing wider than small ints ever shuffles. */
  def q184(s: SparkSession, d: String): DataFrame =
    Round15Queries.docTokenStats(s, d)
      .join(graft.Tables.documents(s, d).select(col("doc_id"), col("lang")),
        Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_tokens"),
        expr("CAST((n_chars * 10000L) DIV n_tokens AS BIGINT)")
          .as("chars_per_token_bp"),
        expr("CAST((n_tokens * 10000L) DIV n_words AS BIGINT)")
          .as("tokens_per_word_bp"))
      .orderBy(col("lang"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q183_ndcg_eval" -> q183 _,
    "q184_tokenizer_fertility" -> q184 _
  )

  def oracle: Map[String, String] = {
    val w = NdW.mkString("[", ", ", "]")
    Map(
      "q183_ndcg_eval" -> s"""
      WITH sg AS (
        SELECT vec_id, embedding,
               ${Round10Queries.signWordSql("embedding", 0)} AS lo,
               ${Round10Queries.signWordSql("embedding", 32)} AS hi
        FROM embeddings),
      p AS (
        SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
               CAST(bit_count(xor(q.lo, e.lo)) + bit_count(xor(q.hi, e.hi)) AS BIGINT) AS ham,
               q.embedding AS qe, e.embedding AS ee
        FROM sg q JOIN sg e ON e.vec_id <> q.vec_id
        WHERE q.vec_id < $NdQ),
      sh AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY ham, vec_id) AS rn1 FROM p),
      r AS (SELECT q_id, vec_id, ${cosineSql("qe", "ee")} AS fsim
            FROM sh WHERE rn1 <= $NdShort),
      sys AS (SELECT q_id, vec_id,
                     row_number() OVER (PARTITION BY q_id ORDER BY fsim DESC, vec_id) AS rn
              FROM r),
      ex AS (
        SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
               ${cosineSql("q.embedding", "e.embedding")} AS sim
        FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        WHERE q.vec_id < $NdQ),
      er AS (SELECT q_id, vec_id,
                    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS er
             FROM ex),
      g AS (
        SELECT sys.q_id, sys.rn,
               CASE WHEN er.er <= 3 THEN 3 WHEN er.er <= 10 THEN 2
                    WHEN er.er <= 30 THEN 1 ELSE 0 END AS rel
        FROM sys LEFT JOIN er ON sys.q_id = er.q_id AND sys.vec_id = er.vec_id
        WHERE sys.rn <= $NdK)
      SELECT q_id,
             CAST(SUM(rel * ($w)[rn]) AS BIGINT) AS dcg,
             CAST(SUM(rel * ($w)[rn]) * 10000 // $NdIdcg AS BIGINT) AS ndcg_bp
      FROM g GROUP BY q_id ORDER BY q_id""",
      // the q182 chain's word→tokens table joined back onto the word
      // stream WITH its document's language, rolled up per language
      "q184_tokenizer_fertility" -> s"""
      ${Round14Queries.bpeBaseSql},
      wt AS (SELECT w,
                    CAST(len(string_split(trim(s, '|'), '||')) AS BIGINT) AS toks
             FROM v${Round14Queries.BpeRounds}),
      u AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
            FROM documents),
      j AS (SELECT u.doc_id, u.lang, wt.toks, len(u.w) AS wl
            FROM u JOIN wt USING (w))
      SELECT lang,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
             COUNT(*) AS n_words,
             CAST(SUM(toks) AS BIGINT) AS n_tokens,
             CAST((SUM(wl) * 10000) // SUM(toks) AS BIGINT) AS chars_per_token_bp,
             CAST((SUM(toks) * 10000) // COUNT(*) AS BIGINT) AS tokens_per_word_bp
      FROM j GROUP BY lang ORDER BY lang""")
  }
}
