package graft

import org.apache.spark.sql.functions._
import graft.queries.CorpusQueries

/** Unit invariants for the round-4 corpus-analytics wave (q91–q96).
  * Oracle hash-parity is the driver's job; these pin the semantic
  * contracts that a hash compare alone would not explain on failure. */
class CorpusSpec extends SparkSpec {

  private def d = sf("sf0.001")

  test("q123: disjoint-vocabulary classes are recovered exactly") {
    import spark.implicits._
    // one distinctive word per class, chosen to hash into 5 DISTINCT
    // 64-buckets (3/52/30/43/46) so the hashed features can't collide
    val vocab = Seq("de" -> "alpha", "en" -> "bravo", "es" -> "charlie",
      "fr" -> "delta", "zh" -> "foxtrot")
    val buckets = vocab.map(_._2).toDF("w")
      .select((conv(substring(md5(col("w")), 1, 6), 16, 10).cast("long") % 64).as("b"))
      .as[Long].collect()
    assert(buckets.distinct.length == 5, s"bucket collision: ${buckets.toSeq}")
    val docs = (for {
      ((l, w), ci) <- vocab.zipWithIndex
      i <- 0 until 4
    } yield (ci * 10L + i, l, Seq.fill(20)(w).mkString(" ")))
      .toDF("doc_id", "lang", "text")
    val out = graft.queries.TextQueries.classify(docs).collect()
    assert(out.length == 20)
    out.foreach { r =>
      assert(r.getString(2) == r.getString(1), s"misclassified: $r")
      assert(r.getLong(3) == 1L && r.getLong(4) == 20L, s"bad hit/n_tok: $r")
    }
  }

  test("q123: fixture predictions are total, in-vocabulary, and deterministic") {
    val a = graft.queries.TextQueries.q123(spark, d).collect()
    val b = graft.queries.TextQueries.q123(spark, d).collect()
    assert(a.toSeq == b.toSeq, "two runs disagree")
    assert(a.length == spark.read.parquet(s"$d/documents.parquet").count())
    val langs = Set("de", "en", "es", "fr", "zh")
    a.foreach(r => assert(langs(r.getString(2)), s"pred out of vocabulary: $r"))
  }

  test("q126: spans equal an independent brute-force recomputation and are maximal") {
    val rows = CorpusQueries.q126(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // maximality: within a doc, consecutive spans cannot touch (they
    // would have merged into one island)
    rows.groupBy(_._1).foreach { case (_, ss) =>
      ss.sortBy(_._2).sliding(2).foreach {
        case Array((_, s1, _, g1), (_, s2, _, _)) =>
          assert(s2 > s1 + g1, s"adjacent spans failed to merge: $ss")
        case _ =>
      }
    }
    // brute force, shared-gram rule recomputed from scratch
    val docs = spark.read.parquet(s"$d/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq)
    val gramsByDoc: Map[Long, Seq[(Int, String)]] = docs.map { case (id, ws) =>
      id -> (if (ws.length < 3) Seq.empty[(Int, String)]
             else (0 to ws.length - 3).map(i => (i + 1, ws.slice(i, i + 3).mkString(" "))))
    }.toMap
    val docsOf: Map[String, Set[Long]] = gramsByDoc.toSeq
      .flatMap { case (id, gs) => gs.map(g => g._2 -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def runs(ps: Seq[Int]): Seq[(Int, Int)] = ps.foldLeft(List.empty[(Int, Int)]) {
      case ((s, l) :: t, p) if p == s + l => (s, l + 1) :: t
      case (acc, p) => (p, 1) :: acc
    }.reverse
    val expected = for {
      (id, gs) <- gramsByDoc.toSeq
      dup = gs.filter(g => docsOf(g._2).size >= 2).map(_._1).sorted
      (start, len) <- runs(dup) if len >= CorpusQueries.MinSpanGrams
    } yield (id, start.toLong, len + 2L, len.toLong)
    assert(rows.sorted.toSeq == expected.sorted, "engine spans differ from brute force")
    assert(rows.nonEmpty, "fixture should contain duplicated spans")
  }

  test("q91: shared-span counts are bounded by span counts and bp is in range") {
    val rows = CorpusQueries.q91(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nSh, nShared, bp) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nShared >= 0 && nShared <= nSh, s"row $r")
      assert(bp >= 0 && bp <= 10000, s"row $r")
      if (nSh > 0) assert(bp == nShared * 10000 / nSh, s"row $r")
    }
    // the fixture's word-salad vocabulary is small enough that SOME
    // 3-gram repeats across documents — an all-zero result would mean
    // the span join is broken, not that the corpus is clean
    assert(rows.exists(_.getLong(2) > 0), "no shared spans found at all")
  }

  test("q92: posting lists are sorted prefixes capped at PostingCap, df covers them") {
    val rows = CorpusQueries.q92(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val df = r.getLong(1)
      val postings = r.getString(2).split(",").map(_.toLong).toSeq
      assert(postings.nonEmpty && postings.size <= CorpusQueries.PostingCap, s"row $r")
      assert(postings == postings.sorted, s"unsorted postings in $r")
      assert(df >= postings.size, s"df below emitted postings in $r")
      if (df > CorpusQueries.PostingCap)
        assert(postings.size == CorpusQueries.PostingCap, s"cap not reached in $r")
    }
  }

  test("q93: ranks respect the damped floor and the graph covers both node families") {
    val rows = CorpusQueries.q93(spark, d).collect()
    assert(rows.size == 20)
    // every node receives at least the (1-d) teleport mass on the x1e6 scale
    rows.foreach(r => assert(r.getLong(1) >= 150000L, s"row $r"))
    // top-20 is rank-descending with the id tiebreak
    val ranks = rows.map(r => (-r.getLong(1), r.getLong(0))).toSeq
    assert(ranks == ranks.sorted, "output not in (rank desc, id) order")
    // two deterministic runs agree bit-for-bit (integer arithmetic claim)
    val again = CorpusQueries.q93(spark, d).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("q94: pairs are adjacent 2-grams and counts are positive") {
    val rows = CorpusQueries.q94(spark, d).collect()
    assert(rows.size == 20)
    rows.foreach { r =>
      assert(r.getString(0).length == 2, s"row $r")
      assert(r.getLong(1) > 0, s"row $r")
    }
  }

  test("q95: lift of an always-adjacent pair exceeds lift of independent words") {
    // synthetic corpus through the same operator path: "a b" glued 40
    // times vs independent filler — the glued pair must out-lift filler
    import spark.implicits._
    val docs = ((1 to 40).map(i => (i.toLong, "a b x" + (i % 4))) :+
      (41L, "x0 x1 x2 x3 x0 x1 x2 x3")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_q95").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val prev = CorpusQueries.LiftMinCount
    val out = CorpusQueries.q95(spark, tmp).collect()
    assert(out.isEmpty || out.forall(_.getLong(3) > 0)) // threshold may filter all
    // with the real fixture: every emitted lift is positive and support holds
    val real = CorpusQueries.q95(spark, d).collect()
    real.foreach { r =>
      assert(r.getLong(2) >= prev, s"support filter violated: $r")
      assert(r.getLong(3) > 0, s"row $r")
    }
  }

  test("q96: redaction removes every digit and counts runs faithfully") {
    val rows = CorpusQueries.q96(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val red = r.getString(1)
      assert(!red.exists(_.isDigit), s"unredacted digits in $r")
      val n = r.getLong(2)
      assert(red.count(_ == '#') == n, s"run count mismatch in $r")
    }
    // the fixture props are JSON like {"k": 87} — runs must exist
    assert(rows.exists(_.getLong(2) > 0))
  }

  test("q122: constructed duplicate chunks drop globally, first occurrence wins") {
    import spark.implicits._
    val shared = (1 to 10).map(i => s"dup$i").mkString(" ")
    val aTail = (1 to 10).map(i => s"a$i").mkString(" ")
    val bTail = (1 to 10).map(i => s"b$i").mkString(" ")
    // doc 1: shared + own tail; doc 2: shared twice + own tail
    val docs = Seq(
      (1L, s"$shared $aTail"),
      (2L, s"$shared $shared $bTail")).toDF("doc_id", "text")
    val out = CorpusQueries.paragraphDedup(docs, cs = 10)
      .orderBy("doc_id").collect()
    val byId = out.map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // doc 1 saw the chunk first: keeps everything
    assert(byId(1L) == ((2L, 0L, s"$shared $aTail")))
    // doc 2 loses BOTH copies (global dedup), keeps its own tail
    assert(byId(2L) == ((3L, 2L, bTail)))
  }

  test("q122: fixture reassembly never grows a document and drop counts add up") {
    val out = CorpusQueries.q122(spark, d).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (n, dropped, clean) = (r.getLong(1), r.getLong(2), r.getString(3))
      assert(dropped >= 0 && dropped <= n)
      val keptChunks = n - dropped
      val words = if (clean.isEmpty) 0 else clean.split(" ").length
      assert(words <= keptChunks * 10, s"doc ${r.getLong(0)}: $words words from $keptChunks chunks")
    }
  }

  test("q120: DSIR per-token weight centers near 1x and favors target-source docs") {
    val res = graft.queries.TextQueries.q120(spark, d)
    val docs = Tables.documents(spark, d).select(col("doc_id"), col("source"))
    val rows = res.join(docs, "doc_id")
      .select(col("doc_id"), col("per_tok"),
        col("source").isin("src0", "src1", "src2", "src3").as("is_t"))
      .collect()
    // smoothing keeps every ratio finite and positive
    assert(rows.forall(_.getLong(1) > 0L))
    def mean(t: Boolean) = {
      val xs = rows.filter(_.getBoolean(2) == t).map(_.getLong(1).toDouble)
      xs.sum / xs.length
    }
    val (mt, mr) = (mean(true), mean(false))
    info(f"mean per-token weight: target=$mt%.0f other=$mr%.0f (10000 = ratio 1.0)")
    // the importance weight must upweight docs drawn from the target slice
    assert(mt > mr, f"target docs must score higher: $mt%.0f vs $mr%.0f")
  }

  test("q179 merge table matches a from-scratch local BPE recompute") {
    // independent reference: plain-Scala greedy BPE over the same corpus
    // — list-of-symbols fold, no sentinel-string encoding, so it would
    // catch a defect in the shared replace('|x||y|') trick itself
    val texts = Tables.documents(spark, sf("sf0.001"))
      .select("text").collect().map(_.getString(0))
    val counts = scala.collection.mutable.Map[String, Long]()
    texts.foreach(_.split(" ").foreach(w => counts(w) = counts.getOrElse(w, 0L) + 1L))
    var vocab: Map[Vector[String], Long] =
      counts.toMap.map { case (w, c) => w.split("").toVector -> c }
    val expect = (1 to graft.queries.Round14Queries.BpeRounds).map { r =>
      val pairCounts = scala.collection.mutable.Map[(String, String), Long]()
      for ((syms, c) <- vocab; i <- 0 until syms.length - 1)
        pairCounts((syms(i), syms(i + 1))) =
          pairCounts.getOrElse((syms(i), syms(i + 1)), 0L) + c
      val ((x, y), n) = pairCounts.toSeq
        .sortBy { case ((a, b), m) => (-m, a, b) }.head
      def merge(syms: Vector[String]): Vector[String] = {
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == x && syms(i + 1) == y) {
            out += (x + y); i += 2
          } else { out += syms(i); i += 1 }
        }
        out.result()
      }
      vocab = vocab.groupBy { case (syms, _) => merge(syms) }
        .map { case (m, g) => m -> g.values.sum }
      (r, x, y, n)
    }
    val got = SparkEntry.queries("q179_bpe_train")(spark, sf("sf0.001"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(got == expect, s"merge tables diverged:\n got    $got\n expect $expect")
    // and the later rounds genuinely merge multi-char symbols — the part
    // q94's single-round statistic cannot reach
    assert(expect.exists { case (_, x, y, _) => x.length > 1 || y.length > 1 },
      s"8 rounds never merged a multi-char symbol: $expect")
    // q180 (apply): the encoded corpus' symbol table from the same fold
    val symCounts = scala.collection.mutable.Map[String, Long]()
    for ((syms, c) <- vocab; t <- syms)
      symCounts(t) = symCounts.getOrElse(t, 0L) + c
    val expTop = symCounts.toSeq.sortBy { case (t, n) => (-n, t) }.take(20)
    val gotTop = SparkEntry.queries("q180_bpe_apply")(spark, sf("sf0.001"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(gotTop == expTop, s"symbol tables diverged:\n got    $gotTop\n expect $expTop")
    assert(gotTop.exists(_._1.length > 1),
      "the applied tokenizer's top symbols must include a merged token")
    // q182 (corpus apply): per-document token counts from the same fold
    // — merges are count-independent at APPLY time, so folding the
    // trained merge list over each word reproduces the engine's
    // broadcast word→tokens join
    def applyMerges(word: String): Vector[String] =
      expect.foldLeft(word.split("").toVector) { case (syms, (_, x, y, _)) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == x && syms(i + 1) == y) {
            out += (x + y); i += 2
          } else { out += syms(i); i += 1 }
        }
        out.result()
      }
    val tokCache = scala.collection.mutable.Map[String, Long]()
    def toks(w: String): Long =
      tokCache.getOrElseUpdate(w, applyMerges(w).length.toLong)
    val expDoc = Tables.documents(spark, sf("sf0.001"))
      .select("doc_id", "text").collect()
      .map { r =>
        val ws = r.getString(1).split(" ")
        val nt = ws.map(toks).sum
        val nc = ws.map(_.length.toLong).sum
        (r.getLong(0), ws.length.toLong, nt, nc * 10000L / nt)
      }.sortBy(_._1).toSeq
    val gotDoc = SparkEntry.queries("q182_tokenize_corpus")(spark, sf("sf0.001"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(gotDoc == expDoc,
      s"per-doc tokenization diverged (first 3): got ${gotDoc.take(3)} expect ${expDoc.take(3)}")
    assert(expDoc.exists(t => t._2 < t._3),
      "some document must tokenize to more tokens than words")
  }

  test("q126 exact-substring fidelity vs Lee et al.: a 50-token duplicate is never missed or fragmented; chimeric merges only over-remove") {
    import spark.implicits._
    // vocabulary of unique words so no 3-gram is shared by accident
    def w(tag: String, n: Int): Seq[String] = (1 to n).map(i => s"$tag$i")
    val span50 = w("dup", 50)                  // the Lee-threshold span
    val fillerA = w("fa", 30); val fillerB = w("fb", 30)
    val docA = (fillerA ++ span50 ++ w("ta", 20)).mkString(" ")
    val docB = (fillerB ++ span50 ++ w("tb", 20)).mkString(" ")
    // chimera: docX carries two ADJACENT 26-token halves; docL witnesses
    // the left half PLUS the first two words of the right (so the
    // boundary 3-grams have a witness and the islands bridge); docR
    // witnesses the right half. No 50-token exact duplicate of docX's
    // merged region exists anywhere.
    val left26 = w("lf", 26); val right26 = w("rt", 26)
    val docL = (w("pl", 30) ++ left26 ++ right26.take(2) ++ w("sl", 18)).mkString(" ")
    val docR = (w("pr", 30) ++ right26 ++ w("sr", 20)).mkString(" ")
    val docX = (w("px", 30) ++ left26 ++ right26 ++ w("sx", 20)).mkString(" ")
    val spans = CorpusQueries.dupSpans(Seq(
        (1L, docA), (2L, docB), (10L, docL), (11L, docR), (12L, docX))
        .toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    // 1) NO MISS / NO FRAGMENTATION: the 50-token true duplicate is one
    //    maximal span in each doc at full length (48 grams = 50 words),
    //    at the exact word offset it occupies
    assert(spans(1L) == Seq((31L, 50L)),
      s"docA must report the full 50-token span at offset 31, got ${spans(1L)}")
    assert(spans(2L) == Seq((31L, 50L)),
      s"docB must report the full 50-token span at offset 31, got ${spans(2L)}")
    // 2) the measured chimera direction: every gram of docX's merged
    //    region has SOME witness (left ∪ bridge in docL, right in docR),
    //    so the island merge reports ONE 52-word span even though no
    //    52-word exact duplicate exists — islands merge on adjacency,
    //    not on a shared witness. This is the over-REMOVAL direction:
    //    under Lee-style cut-and-splice the bridged span removes
    //    strictly more than the true duplicates, never less — the
    //    conservative error for training-data hygiene (leakage needs a
    //    MISS, and every gram of any true duplicate is always marked,
    //    as part 1 pins). Recorded as the accepted approximation rather
    //    than silently relied on.
    assert(spans(12L) == Seq((31L, 52L)),
      s"docX's witnessed bridge must merge to one 52-word island, got ${spans(12L)}")
    // each witness reports its own true duplicate at full extent
    assert(spans(10L) == Seq((31L, 28L)), s"docL: ${spans(10L)}")
    assert(spans(11L) == Seq((31L, 26L)), s"docR: ${spans(11L)}")
  }
}
