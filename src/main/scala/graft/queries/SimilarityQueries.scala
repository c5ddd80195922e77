package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.TextOps

/** Similarity/linkage operators beyond the MinHash-LSH family:
  * an EXACT set-similarity join (AllPairs/PPJoin prefix filtering),
  * sorted-neighborhood record linkage, degree-capped triangle
  * counting, and a bigram-LM surprise gate.
  *
  * 100 TB design notes:
  *  - q108 is the prefix-filter set-similarity join (Bayardo et al.
  *    2007, "Scaling Up All Pairs Similarity Search"): tokens are
  *    canonically ordered by (global df ASC, digest) and only each
  *    set's PREFIX (|x| − ⌈τ|x|⌉ + 1 rarest tokens) is exploded into
  *    the candidate join — lossless for J ≥ τ, and candidate volume is
  *    driven by RARE-token collisions, not set size. Shuffles carry
  *    60-bit md5 digests, never shingle text. Unlike q33 (MinHash LSH,
  *    probabilistic recall) this join is exact: every J ≥ 0.8 pair is
  *    returned with its exact Jaccard.
  *  - q109 is sorted-neighborhood linkage (Hernández & Stolfo 1995):
  *    ONE window pass — sort within blocking key, compare each record
  *    to its w=3 successors — so candidate count is w·n instead of the
  *    Σ block² of naive blocking; edit distance runs on n·w pairs.
  *  - q110 counts triangles on a degree-capped co-supply graph: each
  *    node keeps its 8 smallest neighbors (WindowGroupLimit prunes
  *    pre-shuffle — q92's discipline), bounding wedge work to C(8,2)·n
  *    regardless of hub skew. The cap is the documented recall
  *    trade-off (same contract as q33's BandCap); all three triangle
  *    legs are then keyed equi-joins.
  *  - q111 scores documents by mean bigram surprise — floor(1000·
  *    c(w1)/c(w1,w2)) summed per doc — the conditional-probability
  *    form of a perplexity gate (q88 is the unigram-rank form). Both
  *    enrichment tables are Heaps'-law small and broadcast; integer
  *    floor division keeps both engines bit-identical.
  */
object SimilarityQueries extends QueryPack {

  // q108: exact set-similarity join via prefix filtering ------------------

  /** Jaccard threshold τ = 0.8 over distinct 3-shingle sets.
    * Integer forms: prefix length = sz − ⌈0.8·sz⌉ + 1 with
    * ⌈4s/5⌉ = (4s+4) DIV 5; the size filter 0.8·sx ≤ sy ≤ sx/0.8 is
    * 4·sx ≤ 5·sy ∧ 4·sy ≤ 5·sx; the final test J ≥ 0.8 is 5·∩ ≥ 4·∪. */
  def q108(s: SparkSession, d: String): DataFrame = {
    // EXACT-SET COLLAPSE first (q114/q137's discipline, applied here
    // after the round-9 sf10 sweep caught q108 at 410 s): on a
    // clone-heavy corpus (the sf10 fixture is 1/100-unique by
    // construction; a real crawl is the same shape) every stage of a
    // set-similarity join degrades quadratically IN THE CLONE FACTOR
    // if clones enter the join — K copies per doc square into K² work
    // per candidate bucket. Collapsing to one representative per
    // DISTINCT token set first bounds the entire PPJoin by unique
    // content; clones re-enter only in the final pair EXPANSION, which
    // is output-bound (the answer itself is clone-quadratic — every
    // member pair is a true J=1.0 pair — so Ω(output) is the floor).
    // sf10: 410 s → join work at sf0.1 scale + output expansion.
    val base = Tables.documents(s, d)
      .select(col("doc_id"), TextOps.words(col("text")).as("ws"))
      .select(col("doc_id"),
        array_distinct(call_function("shingles3", col("ws"))).as("shs"))
      .select(col("doc_id"),
        call_function("digests60", col("shs")).as("hs"))
    // group key = the SORTED token set (engine-internal, never output,
    // so the digest needs no cross-engine parity)
    val sets = base
      .select(col("doc_id"), col("hs"),
        call_function("setkey_md5", col("hs")).as("gk"))
      .select(col("doc_id"), col("hs"), col("gk"))
      .persist() // feeds reps, members, and both expansion sides
    val members = sets.select(col("gk"), col("doc_id"))
    val reps = sets.groupBy(col("gk")).agg(min(col("doc_id")).as("doc_id"))
      .join(sets.select(col("gk"), col("doc_id"), col("hs")), Seq("gk", "doc_id"))
    val ex = reps.select(col("gk"), explode(col("hs")).as("h"))
    // df over UNIQUE sets (any fixed global order satisfies the prefix
    // lemma; rep-level df keeps the order clone-invariant)
    val dfreq = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
    // canonical per-set token order: (df asc, digest asc); the ordered
    // signature table has four consumers (both prefix sides, both
    // verification sides) — persist once, checkpoint the tiny pair
    // output, release (q33's pattern)
    val ordered = ex.join(dfreq, Seq("h"))
      .groupBy(col("gk"))
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("ts"))
      .select(col("gk"),
        transform(col("ts"), t => t.getField("h")).as("toks"),
        size(col("ts")).as("sz"))
      .persist()
    // PPJoin positional filter (lossless): a pair first sharing the
    // token at 1-based positions (ix, iy) can overlap at most
    // 1 + min(sx−ix, sy−iy), which must reach the J ≥ 0.8 overlap
    // requirement ⌈4(sx+sy)/9⌉ — cuts candidates 3× at sf1
    val pre = ordered.select(col("gk"), col("sz"),
        posexplode(expr("slice(toks, 1, sz - (4*sz + 4) DIV 5 + 1)")))
      .withColumnRenamed("col", "h")
    val cand = pre.as("x").join(pre.as("y"),
        col("x.h") === col("y.h") && col("x.gk") < col("y.gk") &&
        col("x.sz") * 4 <= col("y.sz") * 5 && col("y.sz") * 4 <= col("x.sz") * 5 &&
        expr("1 + least(x.sz - x.pos - 1, y.sz - y.pos - 1) >= (4*(x.sz + y.sz) + 8) DIV 9"))
      .select(col("x.gk").as("gka"), col("y.gk").as("gkb")).distinct()
    val uniqPairs = cand
      .join(ordered.select(col("gk").as("gka"), col("toks").as("ta"), col("sz").as("sa")), Seq("gka"))
      .join(ordered.select(col("gk").as("gkb"), col("toks").as("tb"), col("sz").as("sb")), Seq("gkb"))
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))))
      .withColumn("un", col("sa") + col("sb") - col("inter"))
      .filter(col("inter") * 5 >= col("un") * 4)
      .select(col("gka"), col("gkb"), expr("(10000 * inter) DIV un").as("jac_bp"))
    // EXPANSION: cross-group pairs inherit the group-level Jaccard
    // (identical sets ⇒ identical jac for every member pair); clone
    // siblings within a group are exact J=1.0 pairs
    val cross = uniqPairs
      .join(members.select(col("gk").as("gka"), col("doc_id").as("da")), Seq("gka"))
      .join(members.select(col("gk").as("gkb"), col("doc_id").as("db")), Seq("gkb"))
      .select(least(col("da"), col("db")).as("a"),
        greatest(col("da"), col("db")).as("b"), col("jac_bp"))
    val within = members.as("m").join(members.as("n"),
        col("m.gk") === col("n.gk") && col("m.doc_id") < col("n.doc_id"))
      .select(col("m.doc_id").as("a"), col("n.doc_id").as("b"),
        lit(10000L).as("jac_bp"))
    val out = cross.union(within)
      .orderBy(col("a"), col("b"))
      .localCheckpoint(true)
    ordered.unpersist(); sets.unpersist()
    out
  }

  // q140: doc-level containment join (near-superset dedup) ----------------

  /** The asymmetric complement of q108: find documents whose shingle
    * set is ≥90% CONTAINED in another document — the "this doc is a
    * subset of that doc" dedup verdict (boilerplate pages inside
    * aggregators, quoted articles, partial re-crawls) that symmetric
    * Jaccard misses when the container is much larger. C(a→b) =
    * |a∩b| / |a| ≥ 0.9, so only the PROBE side explodes a prefix (its
    * sa − ⌈0.9·sa⌉ + 1 rarest tokens — pigeonhole-lossless, q114's
    * doc-level form) against the full corpus token index; the
    * container side never explodes prefixes and only pairs where
    * sb ≥ ⌈0.9·sa⌉. Verification is one array_intersect on the
    * persisted signature table. Integer forms: ⌈9s/10⌉ =
    * (9s+9) DIV 10; the verdict is 10·∩ ≥ 9·sa. */
  def q140(s: SparkSession, d: String): DataFrame = {
    // q114's exact-set collapse, doc-level: clones collapse to one
    // representative per UNIQUE shingle set before any candidate work,
    // so the prefix join's cost is independent of the corpus
    // duplication rate (without it, a 30×-cloned fixture paid 85 s at
    // sf3 in pure clone-quadratic candidates); the member fan-out at
    // the end writes the true — legitimately quadratic-in-clones —
    // answer rows. Identical sets contain each other by definition,
    // so same-key candidate pairs stay in and the a ≠ b filter lives
    // at fan-out, where doc identities exist.
    def setKey(a: org.apache.spark.sql.Column) =
      call_function("setkey_md5", a)
    val keyed = Tables.documents(s, d)
      .select(col("doc_id"), TextOps.words(col("text")).as("ws"))
      .select(col("doc_id"),
        array_distinct(call_function("shingles3", col("ws"))).as("shs"))
      .select(col("doc_id"),
        call_function("digests60", col("shs")).as("hs"))
      .filter(size(col("hs")) > 0)
      .withColumn("key", setKey(col("hs")))
      // persist the digest pass itself (round 17, the q114 fix): mem and
      // grp both derive from it, and persisting only the derivatives ran
      // the shingle→digest→setkey pipeline twice
      .persist()
    val mem = keyed.select(col("key"), col("doc_id"))
    val grp = keyed.groupBy(col("key"))
      .agg(first(array_sort(col("hs"))).as("toks"))
      .withColumn("sz", size(col("toks")))
      .persist()
    val gx = grp.select(col("key"), explode(col("toks")).as("h"))
    val dfreq = gx.groupBy(col("h")).agg(count(lit(1)).as("df"))
    // pigeonhole prefix over unique sets: ANY sz − ⌈0.9·sz⌉ + 1
    // elements of a must hit a 90%-container, rarest-first ordering
    // just minimizes candidates
    val preSized = gx.join(dfreq, Seq("h"))
      .join(grp.select(col("key"), col("sz")), Seq("key"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("key")).orderBy(col("df"), col("h"))))
      .filter(col("rn") <= col("sz") - expr("(9*sz + 9) DIV 10") + 1)
      .select(col("key").as("akey"), col("sz").as("sa"), col("h"))
    val cand = preSized.join(
        gx.select(col("key").as("bkey"), col("h")), Seq("h"))
      .join(grp.select(col("key").as("bkey"), col("sz").as("sb")), Seq("bkey"))
      .filter(col("sb") * 10 >= col("sa") * 9)
      .select(col("akey"), col("bkey")).distinct()
    val pairs = cand
      .join(grp.select(col("key").as("akey"), col("toks").as("ta"),
        col("sz").as("sa")), Seq("akey"))
      .join(grp.select(col("key").as("bkey"), col("toks").as("tb")), Seq("bkey"))
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))))
      .filter(col("inter") * 10 >= col("sa") * 9)
      .select(col("akey"), col("bkey"), expr("(10000 * inter) DIV sa").as("cont_bp"))
    val out = pairs
      .join(mem.select(col("key").as("akey"), col("doc_id").as("a")), Seq("akey"))
      .join(mem.select(col("key").as("bkey"), col("doc_id").as("b")), Seq("bkey"))
      .filter(col("a") =!= col("b"))
      .select(col("a"), col("b"), col("cont_bp"))
      .orderBy(col("a"), col("b"))
      .localCheckpoint(true)
    grp.unpersist(); keyed.unpersist()
    out
  }

  // q109: sorted-neighborhood record linkage ------------------------------

  def q109(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey")).orderBy(col("c_name"), col("c_custkey"))
    // levenshtein carries the match threshold (banded O(len·k) with
    // early exit instead of the full O(len²) matrix; exact distance is
    // still returned for every kept row, -1 only for dropped ones) and
    // the tiny match set is materialized (localCheckpoint) before the
    // presentation sort — a range-partitioned ORDER BY samples its
    // child for boundaries, which re-executed the whole window+distance
    // pipeline (sf1: 2.5 s → 1.4 s, the two fixes ~equal parts).
    Tables.customer(s, d)
      .select(col("c_custkey").as("a"), col("c_name").as("an"),
        array((1 to 3).map(i => struct(
          lead(col("c_custkey"), i).over(w).as("b"),
          lead(col("c_name"), i).over(w).as("bn"))): _*).as("nbs"))
      .select(col("a"), col("an"), explode(col("nbs")).as("nb"))
      .filter(col("nb.b").isNotNull)
      .withColumn("dist", levenshtein(col("an"), col("nb.bn"), 2))
      .filter(col("dist") >= 0)
      .select(col("a"), col("nb.b").as("b"), col("dist"))
      .localCheckpoint(true)
      .orderBy(col("a"), col("b"))
  }

  // q110: degree-capped triangle counting ---------------------------------

  /** Neighbor cap: each node keeps its 8 smallest co-supply neighbors. */
  val TriCap = 8

  def q110(s: SparkSession, d: String): DataFrame = {
    // id-oriented edges (a < b): suppliers appearing in the same order.
    // Pair generation: collapse each order to its distinct sorted
    // supplier set (one exchange on ok; set size is bounded by
    // lines-per-order, a business-domain constant ≤16 in this data),
    // then expand the i<j pairs with two chained GENERATORS
    // (posexplode, explode∘slice) — builtin expressions, whole-stage
    // codegen, zero per-pair object allocation. Raced against the
    // alternatives at BOTH scales (BASELINE.md round-7): the lo⋈lo
    // self-join is 3.97 s @sf1 / 14.0 s @sf3; a typed-mapPartitions
    // pair scan wins at sf1 (3.08 s) but its per-pair Tuple2 boxing
    // turns 36 M pairs into GC churn at sf3 (12.7–30.4 s, unstable);
    // this form is 3.85 s @sf1 and 5.7 s @sf3 — the only shape whose
    // cost stays data-proportional, which is what 100 TB needs. The
    // lambda-HOF expansion (transform∘transform∘flatten) evaluates
    // interpreted: 12.6 s @sf1, rejected.
    val sks = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      .groupBy(col("ok")).agg(sort_array(collect_set(col("sk"))).as("sks"))
      .filter(size(col("sks")) >= 2)
    val pairs = sks
      .select(col("sks"), posexplode(col("sks")).as(Seq("i", "a")))
      .select(col("a"),
        explode(slice(col("sks"), col("i") + 2,
          size(col("sks")) - col("i") - 1)).as("b"))
    // dedup + degree cap fused into ONE aggregation: collect_set
    // deduplicates a's neighbor set (the cap must see DISTINCT
    // neighbors, so a pure bounded heap can't stand alone), sort+slice
    // keeps the TriCap smallest. Replaces the former distinct-then-
    // Window pipeline — two full edge-set shuffles and a sort — with a
    // single shuffle whose partials already carry per-partition-unique
    // neighbor sets. Buffer bound: a node's distinct co-supply degree
    // (≤926 at sf1, domain-bounded by part count per supplier). The
    // typed mapPartitions form of this cap was also measured — slower
    // (encoder round-trip beats ObjectHashAggregate only upstream,
    // where it replaces set-building, not here where it adds a pass).
    val capped = pairs
      .groupBy(col("a"))
      .agg(slice(sort_array(collect_set(col("b"))), 1, TriCap).as("bs"))
      .select(col("a"), explode(col("bs")).as("b"))
    val e1 = capped
    val e2 = capped.select(col("a").as("b"), col("b").as("c"))
    val e3 = capped.select(col("a").as("a3"), col("b").as("c3"))
    e1.join(e2, Seq("b"))
      .join(e3, col("a") === col("a3") && col("c") === col("c3"))
      .groupBy(col("a")).agg(count(lit(1)).as("n_tri"))
      .orderBy(col("a"))
  }

  // q111: bigram-LM surprise gate -----------------------------------------

  /** Keep threshold: mean bigram surprise ≤ 31.000 (thousandths). */
  val SurpriseKeep = 31000L

  def q111(s: SparkSession, d: String): DataFrame = {
    // Measured dead end (round 9, BENCH_SCALING round9_q111_race): collapsing
    // bg to per-doc bigram TYPE counts (groupBy doc_id,w1,w2 + persist) before
    // deriving uni/big was 1.7x SLOWER at sf0.1 and sf1 — bigram types are
    // ~unique per doc (k~1), so the corpus-sized hash aggregate costs more
    // than the narrow re-explosion it saves. The sf0.1 gap vs the oracle is
    // multi-job fixed overhead: 8.1x targeted at sf0.1 -> 1.79x at sf1.
    val bg = Tables.documents(s, d)
      .select(col("doc_id"), TextOps.words(col("text")).as("ws"))
      .select(col("doc_id"), explode(
        when(size(col("ws")) >= 2,
          transform(sequence(lit(1), size(col("ws")) - 1),
            i => struct(element_at(col("ws"), i).as("w1"),
                        element_at(col("ws"), i + 1).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val uni = bg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val big = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    // uni is Heaps'-law small (unigram vocab) → broadcast; big is the
    // bigram TYPE table, which grows near-linearly with corpus size, so
    // at the 100 TB design point it must NOT broadcast — the (w1,w2)
    // join shuffles instead, co-partitioned with big's own groupBy key
    // (one exchange of bg on (w1,w2), reused by AQE for the join)
    bg.join(broadcast(uni), Seq("w1"))
      .join(big, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bg"),
        sum(expr("(1000 * c1) DIV c2")).as("ssum"))
      .select(col("doc_id"), col("n_bg"),
        expr("ssum DIV n_bg").as("surp_avg"))
      .withColumn("kept", (col("surp_avg") <= lit(SurpriseKeep)).cast("int"))
      .orderBy(col("doc_id"))
  }

  // q112: incremental cross-corpus near-dup (new drop vs corpus) ----------

  /** Incremental-ingest near-dup: an ASYMMETRIC LSH band join of a new
    * document batch B against the existing corpus A — the operator an
    * ingest pipeline runs on every drop, instead of re-running q33's
    * self-join over A ∪ B. B is derived deterministically (ids %3 = 0
    * re-ingested under id + 2·10^7; %6 = 0 keep their text and are true
    * dups, the rest re-ingest with reversed word order — disjoint
    * shingles, so genuinely new). Band keys and minhash signatures are
    * exactly q33's; the band-size cap applies to the CORPUS side, where
    * the degenerate buckets live. At 100 TB, A's signature/band table
    * is the persisted artifact — each drop computes only B's signatures
    * (|B| ≪ |A|) and probes the band index. */
  def q112(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val bSrc = docs.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 20000000L).as("doc_id"),
        when(col("doc_id") % 6 === 0, col("text"))
          .otherwise(concat_ws(" ", reverse(TextOps.words(col("text"))))).as("text"))
    // index construction + per-drop probe live in Streaming (shared by
    // this batch query and the foreachBatch streaming gate — one core,
    // stream ≡ batch by construction, spec'd in StreamingSpec)
    val idx = graft.streaming.Streaming.buildNearDupIndex(docs, LlmQueries.BandCap)
    graft.streaming.Streaming.nearDupProbe(idx, bSrc)
      .orderBy(col("doc_id"))
  }

  // q114: span-level quote detection (chunk containment join) -------------

  /** For every 40-word/stride-30 chunk (q67's windows): which OTHER
    * documents contain ≥ 80% of its distinct shingles — quote /
    * plagiarism attribution at span granularity (q91 counts duplicated
    * spans; this names the counterpart document). The containment join
    * is asymmetric: only the chunk side explodes a prefix (by
    * pigeonhole, ANY sz−⌈0.8·sz⌉+1 of its shingles must hit a true
    * container, so the rarest ones — fewest candidates — are chosen);
    * the container side is the full doc shingle index. Shuffles carry
    * 60-bit digests; verification is one array_intersect per surviving
    * (chunk, container) pair.
    *
    * EXACT-SET COLLAPSE (round 6): a duplicate-heavy corpus (web
    * boilerplate; the scalegen fixture's verbatim clones are the
    * adversarial extreme) makes the candidate/verify stages quadratic
    * in the clone factor K — every clone chunk pairs with every clone
    * container. Containment depends ONLY on the distinct-shingle SETS,
    * so both sides first group by an exact set digest (md5 over the
    * sorted digest array), the prefix/candidate/verify pipeline runs
    * once per UNIQUE (chunk-set, container-set) pair, and members fan
    * back out afterwards (the self-pair filter cdoc ≠ container moves
    * to the fan-out, where member identity exists). Work above the
    * fan-out drops from O((N·K)²-ish) to O(N²-ish); the fan-out and
    * write are sized by the true result, which no plan can shrink.
    * Measured: sf1 18.3→5.6 s, sf3 186.8→7.7 s (24×); on the
    * dup-LIGHT sf0.1 the collapse costs ~1 s of set-digest/group
    * overhead (2.6→3.5 s) — accepted unconditionally here because the
    * asymmetry is extreme (q108 measured the opposite trade and keeps
    * its direct pipeline; see BASELINE.md round-6 negative result). */
  def q114(s: SparkSession, d: String): DataFrame = {
    val (size40, stride) = (40, 30)
    def dig(shs: org.apache.spark.sql.Column) =
      call_function("digests60", array_distinct(shs))
    def setKey(a: org.apache.spark.sql.Column) =
      call_function("setkey_md5", a)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), TextOps.words(col("text")).as("ws"))
      .withColumn("n_words", size(col("ws")))
    // container side: per-doc distinct shingle digests, collapsed to
    // one representative per unique set (dgrp) + membership (dmem)
    // persist the DIGEST PASS itself (round 17): dmem and dgrp both
    // derive from dsh, and persisting only the two derivatives ran the
    // whole shingle→digests60→setkey_md5 pipeline TWICE per side (once
    // into each persist). Caching dsh runs each side's digest pass once;
    // dmem is a plain projection of the cache (no persist of its own),
    // dgrp keeps one (it is read by two joins).
    val dsh = docs.select(col("doc_id"),
        dig(call_function("shingles3", col("ws"))).as("ds"))
      .withColumn("dkey", setKey(col("ds")))
      .persist()
    val dmem = dsh.select(col("dkey"), col("doc_id"))
    val dgrp = dsh.groupBy(col("dkey"))
      .agg(first(array_sort(col("ds"))).as("ds")) // set-equal members: any rep
      .persist()
    val dx = dgrp.select(col("dkey"), explode(col("ds")).as("h"))
    // chunk side: q67's windows → digest sets, same collapse (cgrp/cmem)
    val starts = sequence(lit(1),
      greatest(col("n_words") - (size40 - stride), lit(1)), lit(stride))
    val csh = docs
      .select(col("doc_id").as("cdoc"), col("ws"), col("n_words"),
        posexplode(starts).as(Seq("chunk_idx", "start")))
      .withColumn("len", least(lit(size40), col("n_words") - col("start") + 1))
      .select(col("cdoc"), col("chunk_idx").cast("long").as("chunk_idx"),
        dig(call_function("shingles3", expr("slice(ws, start, len)"))).as("cs"))
      .withColumn("sz", size(col("cs")))
      .filter(col("sz") > 0)
      .withColumn("ckey", setKey(col("cs")))
    val cshP = csh.persist() // same digest-pass sharing as dsh above
    val cmem = cshP.select(col("ckey"), col("cdoc"), col("chunk_idx"))
    val cgrp = cshP.groupBy(col("ckey"))
      .agg(first(array_sort(col("cs"))).as("cs"), first(col("sz")).as("sz"))
      .persist()
    // rarest-prefix candidate generation over UNIQUE sets only
    val dfreq = dx.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val cx = cgrp.select(col("ckey"), col("sz"), explode(col("cs")).as("h"))
    val cpre = cx.join(dfreq, Seq("h"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("ckey")).orderBy(col("df"), col("h"))))
      .filter(col("rn") <= col("sz") - expr("(4*sz + 4) DIV 5") + 1)
      .select(col("ckey"), col("h"))
    val cand = cpre.join(dx, Seq("h"))
      .select(col("ckey"), col("dkey")).distinct()
    val pairs = cand
      .join(cgrp, Seq("ckey"))
      .join(dgrp, Seq("dkey"))
      .withColumn("inter", size(array_intersect(col("cs"), col("ds"))))
      .filter(col("inter") * 5 >= col("sz") * 4)
      .select(col("ckey"), col("dkey"), expr("(10000 * inter) DIV sz").as("cont_bp"))
    // fan the unique-pair verdicts back out to members; only here do
    // chunk/container identities exist, so the self-pair filter lives here
    val out = pairs
      .join(cmem, Seq("ckey"))
      .join(dmem.withColumnRenamed("doc_id", "container"), Seq("dkey"))
      .filter(col("container") =!= col("cdoc"))
      .select(col("cdoc"), col("chunk_idx"), col("container"), col("cont_bp"))
      .orderBy(col("cdoc"), col("chunk_idx"), col("container"))
      .localCheckpoint(true)
    dsh.unpersist(); dgrp.unpersist(); cshP.unpersist(); cgrp.unpersist()
    out
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q108_setsim_join"         -> q108 _,
    "q140_containment_join"    -> q140 _,
    "q109_sorted_neighbor"     -> q109 _,
    "q110_triangles"           -> q110 _,
    "q111_bigram_surprise"     -> q111 _,
    "q112_incremental_neardup" -> q112 _,
    "q114_quote_detection"     -> q114 _
  )

  /** DuckDB CTE chain computing shingles, q33-compatible minhash
    * signatures, band keys, and distinct shingle sets for source
    * relation `src`, name-prefixed with `p`. */
  private def sigCtes(src: String, p: String): String = {
    def sig(k: Int) =
      s"list_min([xor(CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT), " +
        s"${graft.expressions.MinHashSigs.SeedConsts(k)}) for x in sh]) AS sig$k"
    s"""${p}docs AS (SELECT doc_id, string_split(text, ' ') AS words FROM $src),
      ${p}shs AS (SELECT doc_id,
                [array_to_string(words[i:i+2], ' ')
                 for i in generate_series(1, greatest(len(words)-2, 0))] AS sh
              FROM ${p}docs),
      ${p}sigs AS (SELECT doc_id, ${sig(0)}, ${sig(1)}, ${sig(2)}, ${sig(3)} FROM ${p}shs),
      ${p}bands AS (SELECT doc_id,
                unnest([md5(CAST(sig0 AS VARCHAR) || CAST(sig1 AS VARCHAR)),
                        md5(CAST(sig2 AS VARCHAR) || CAST(sig3 AS VARCHAR))]) AS band
              FROM ${p}sigs),
      ${p}sh AS (SELECT DISTINCT doc_id, unnest(sh) AS s FROM ${p}shs),
      ${p}sz AS (SELECT doc_id, COUNT(*) AS c FROM ${p}sh GROUP BY doc_id)"""
  }

  override val oracle: Map[String, String] = Map(
    "q114_quote_detection" -> """
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws,
                        len(string_split(text, ' ')) AS n_words FROM documents),
      dsh AS (SELECT doc_id,
                list_distinct([CAST(('0x' || substr(md5(array_to_string(ws[i:i+2], ' ')), 1, 15)) AS BIGINT)
                               for i in generate_series(1, greatest(len(ws)-2, 0))]) AS ds
              FROM d),
      dx AS (SELECT doc_id, unnest(ds) AS h FROM dsh),
      dfreq AS (SELECT h, COUNT(*) AS df FROM dx GROUP BY h),
      ch AS (SELECT doc_id AS cdoc, ws, n_words, CAST(chunk_idx AS BIGINT) AS chunk_idx,
                    CAST(1 + chunk_idx * 30 AS BIGINT) AS start_word
             FROM (SELECT doc_id, ws, n_words,
                          unnest(range(greatest((n_words - 10 - 1) // 30 + 1, 1))) AS chunk_idx
                   FROM d)),
      csl AS (SELECT cdoc, chunk_idx,
                     ws[start_word : start_word + least(40, n_words - start_word + 1) - 1] AS cws
              FROM ch),
      cshs AS (SELECT cdoc, chunk_idx, cs, len(cs) AS sz FROM (
                SELECT cdoc, chunk_idx,
                  list_distinct([CAST(('0x' || substr(md5(array_to_string(cws[i:i+2], ' ')), 1, 15)) AS BIGINT)
                                 for i in generate_series(1, greatest(len(cws)-2, 0))]) AS cs
                FROM csl)
               WHERE len(cs) > 0),
      cx AS (SELECT cdoc, chunk_idx, sz, unnest(cs) AS h FROM cshs),
      cpre AS (SELECT cdoc, chunk_idx, h FROM (
                SELECT cdoc, chunk_idx, cx.h AS h, sz,
                       row_number() OVER (PARTITION BY cdoc, chunk_idx ORDER BY df, cx.h) AS rn
                FROM cx JOIN dfreq USING (h))
               WHERE rn <= sz - (4*sz + 4) // 5 + 1),
      cand AS (SELECT DISTINCT cdoc, chunk_idx, dx.doc_id AS container
               FROM cpre JOIN dx USING (h) WHERE dx.doc_id <> cdoc),
      v AS (SELECT cand.cdoc, cand.chunk_idx, container,
                   len(list_intersect(cshs.cs, dsh.ds)) AS inter, cshs.sz
            FROM cand JOIN cshs ON cshs.cdoc = cand.cdoc AND cshs.chunk_idx = cand.chunk_idx
                      JOIN dsh ON dsh.doc_id = container)
      SELECT cdoc, chunk_idx, container, (10000 * inter) // sz AS cont_bp
      FROM v WHERE inter * 5 >= sz * 4
      ORDER BY cdoc, chunk_idx, container""",
    "q112_incremental_neardup" -> s"""
      WITH bsrc AS (SELECT doc_id + 20000000 AS doc_id,
                           CASE WHEN doc_id % 6 = 0 THEN text
                                ELSE array_to_string(list_reverse(string_split(text, ' ')), ' ')
                           END AS text
                    FROM documents WHERE doc_id % 3 = 0),
      ${sigCtes("documents", "a")},
      ${sigCtes("bsrc", "b")},
      okb AS (SELECT band FROM abands GROUP BY band HAVING COUNT(*) <= ${LlmQueries.BandCap}),
      cand AS (SELECT DISTINCT bb.doc_id AS b, ab.doc_id AS a
               FROM bbands bb JOIN okb ON bb.band = okb.band
                              JOIN abands ab ON ab.band = bb.band),
      com AS (SELECT b, a, COUNT(*) AS common
              FROM cand JOIN ash xa ON xa.doc_id = a
                        JOIN bsh xb ON xb.doc_id = b AND xa.s = xb.s
              GROUP BY b, a),
      m AS (SELECT com.b, CAST(COUNT(*) AS BIGINT) AS n
            FROM com JOIN asz ON asz.doc_id = com.a JOIN bsz ON bsz.doc_id = com.b
            WHERE common * 2 >= asz.c + bsz.c - common
            GROUP BY com.b)
      SELECT bs.doc_id, COALESCE(m.n, 0) AS n_matches, CAST(m.n IS NULL AS INT) AS kept
      FROM bsrc bs LEFT JOIN m ON m.b = bs.doc_id
      ORDER BY bs.doc_id""",
    "q140_containment_join" -> """
      WITH docs AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
      shs AS (SELECT doc_id,
                list_distinct([array_to_string(words[i:i+2], ' ')
                               for i in generate_series(1, greatest(len(words)-2, 0))]) AS sh
              FROM docs),
      ex AS (SELECT doc_id, CAST(('0x' || substr(md5(sp), 1, 15)) AS BIGINT) AS h
             FROM (SELECT doc_id, unnest(sh) AS sp FROM shs)),
      dfreq AS (SELECT h, COUNT(*) AS df FROM ex GROUP BY h),
      t AS (SELECT doc_id, list(ex.h ORDER BY df, ex.h) AS toks, COUNT(*) AS sz
            FROM ex JOIN dfreq USING (h) GROUP BY doc_id),
      probe AS (SELECT doc_id AS a, sz AS sa,
                       unnest(toks[1 : sz - (9*sz + 9) // 10 + 1]) AS h FROM t),
      idx AS (SELECT doc_id AS b, sz AS sb, unnest(toks) AS h FROM t),
      cand AS (SELECT DISTINCT p.a, i.b
               FROM probe p JOIN idx i ON i.h = p.h AND p.a <> i.b
                AND 10 * i.sb >= 9 * p.sa),
      j AS (SELECT a, b, ta.sz AS sa,
              len(list_intersect(ta.toks, tb.toks)) AS inter
            FROM cand JOIN t ta ON ta.doc_id = a JOIN t tb ON tb.doc_id = b)
      SELECT a, b, (10000 * inter) // sa AS cont_bp
      FROM j WHERE 10 * inter >= 9 * sa ORDER BY a, b""",
    "q108_setsim_join" -> """
      WITH docs AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
      shs AS (SELECT doc_id,
                list_distinct([array_to_string(words[i:i+2], ' ')
                               for i in generate_series(1, greatest(len(words)-2, 0))]) AS sh
              FROM docs),
      ex AS (SELECT doc_id, CAST(('0x' || substr(md5(sp), 1, 15)) AS BIGINT) AS h
             FROM (SELECT doc_id, unnest(sh) AS sp FROM shs)),
      dfreq AS (SELECT h, COUNT(*) AS df FROM ex GROUP BY h),
      t AS (SELECT doc_id, list(ex.h ORDER BY df, ex.h) AS toks, COUNT(*) AS sz
            FROM ex JOIN dfreq USING (h) GROUP BY doc_id),
      pre AS (SELECT doc_id, sz, unnest(toks[1 : sz - (4*sz + 4) // 5 + 1]) AS h FROM t),
      cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
               FROM pre x JOIN pre y ON x.h = y.h AND x.doc_id < y.doc_id
                AND 4*x.sz <= 5*y.sz AND 4*y.sz <= 5*x.sz),
      j AS (SELECT a, b,
              len(list_intersect(ta.toks, tb.toks)) AS inter,
              ta.sz + tb.sz - len(list_intersect(ta.toks, tb.toks)) AS un
            FROM cand JOIN t ta ON ta.doc_id = a JOIN t tb ON tb.doc_id = b)
      SELECT a, b, (10000 * inter) // un AS jac_bp
      FROM j WHERE 5 * inter >= 4 * un ORDER BY a, b""",
    "q109_sorted_neighbor" -> """
      WITH l AS (SELECT c_custkey AS a, c_name AS an,
                   lead(c_custkey, 1) OVER w AS b1, lead(c_name, 1) OVER w AS n1,
                   lead(c_custkey, 2) OVER w AS b2, lead(c_name, 2) OVER w AS n2,
                   lead(c_custkey, 3) OVER w AS b3, lead(c_name, 3) OVER w AS n3
                 FROM customer
                 WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_name, c_custkey))
      SELECT a, b, dist FROM (
        SELECT a, b1 AS b, levenshtein(an, n1) AS dist FROM l WHERE b1 IS NOT NULL
        UNION ALL
        SELECT a, b2, levenshtein(an, n2) FROM l WHERE b2 IS NOT NULL
        UNION ALL
        SELECT a, b3, levenshtein(an, n3) FROM l WHERE b3 IS NOT NULL)
      WHERE dist <= 2 ORDER BY a, b""",
    "q110_triangles" -> s"""
      WITH lo AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem),
      e0 AS (SELECT DISTINCT x.sk AS a, y.sk AS b
             FROM lo x JOIN lo y ON x.ok = y.ok AND x.sk < y.sk),
      capped AS (SELECT a, b FROM e0
                 QUALIFY row_number() OVER (PARTITION BY a ORDER BY b) <= $TriCap)
      SELECT e1.a, CAST(COUNT(*) AS BIGINT) AS n_tri
      FROM capped e1
      JOIN capped e2 ON e1.b = e2.a
      JOIN capped e3 ON e3.a = e1.a AND e3.b = e2.b
      GROUP BY e1.a ORDER BY e1.a""",
    "q111_bigram_surprise" -> s"""
      WITH docs AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
      bg AS (SELECT doc_id, unnest([struct_pack(w1 := words[i], w2 := words[i+1])
                                    for i in generate_series(1, len(words)-1)],
                                   recursive := true) FROM docs),
      uni AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1),
      big AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bg,
             CAST(SUM((1000 * c1) // c2) AS BIGINT) // COUNT(*) AS surp_avg,
             CAST(CAST(SUM((1000 * c1) // c2) AS BIGINT) // COUNT(*) <= $SurpriseKeep AS INT) AS kept
      FROM bg JOIN uni USING (w1) JOIN big USING (w1, w2)
      GROUP BY doc_id ORDER BY doc_id"""
  )
}
