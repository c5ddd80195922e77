package graft.queries

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{Retrieval, VectorOps}
import graft.functions.Retrieval.{heapTopK, topDistinct}
import graft.functions.VectorOps.cosineQNative
import graft.plans.{EdgeSet, GraphWalk, WalkStage}
import graft.streaming.Artifacts

/** Round-11/12 operators: corpus-wide kNN-graph construction — the
  * large-scale primitive behind semantic-dedup clustering that the
  * per-query ANN family (q35–q37, q57, q119, q124, q162–q167)
  * approximates one query at a time. Round 11 shipped the single
  * NN-descent round (q168); round 12 parameterizes the descent into a
  * convergence loop (q169) — same integer-bp/id-tiebreak discipline,
  * so DuckDB replays every round and the hash gate applies in full.
  */
object Round11Queries extends QueryPack {

  // q168: kNN graph (multi-table LSH seed + one NN-descent round) --------

  private[queries] val KgK = 5  // neighbors per node in the final graph
  private val KgCap = 64    // per-(table, bucket) candidate cap
  private val KgTables = 4  // independent LSH tables
  private val KgBits = 4    // bits per table (planes [t·4, t·4+4))
  private[queries] val KgUnd = 10 // undirected-degree cap before composition (2k)

  // q169: the same recipe run to convergence — a wider internal
  // neighbor list (Dong et al.'s K), more descent rounds, output top-5.
  private val KiK = 15      // internal neighbor-list width during descent
  private val KiUnd = 30    // undirected-degree cap before each compose
  private val KiRounds = 3  // descent rounds (fixed so the oracle replays)

  /** (vec_id, v, t, bk): each vector's bucket in each of the
    * [[KgTables]] frozen-plane LSH tables — the membership pass shared
    * by the initial seed, the incremental append, and the q171 serving
    * entry layer (buckets are deterministic functions of the vector, so
    * every consumer bucketizes identically). */
  private[graft] def bucketMembership(b: DataFrame): DataFrame =
    b.select(col("vec_id"), col("v"), explode(bucketsOf(col("v"))).as("m"))
      .select(col("vec_id"), col("v"), col("m.t").as("t"), col("m.bk").as("bk"))

  /** A vector's (t, bk) in each of the [[KgTables]] tables. */
  private def bucketsOf(v: Column): Column =
    array((0 until KgTables).map(t =>
      struct(lit(t).as("t"), VectorOps.lshBucket(v, KgBits, t * KgBits).as("bk"))): _*)

  /** One BIGINT per (table, bucket): the graph walk's entry-list key. */
  private def entryKey(t: Column, bk: Column): Column =
    (t * lit(1 << KgBits) + bk).cast("long")

  /** The capped per-(table, bucket) candidate lists of a membership
    * pass: (t, bk, nb, nv). */
  private[graft] def cappedBuckets(memb: DataFrame): DataFrame =
    capLists(memb.select(col("t"), col("bk"), col("vec_id").as("nb"), col("v").as("nv")))

  /** Bucket lists (t, bk, nb, …) capped at [[KgCap]] per (table, bucket)
    * in (md5(nb), nb) order — the cap is what keeps candidate generation
    * LINEAR: ≤ tables·cap pairs per node, never Σ|bucket|². The build
    * and [[compactKnnGraphIndex]] cut with this one cap, which plans as
    * a map-side `WindowGroupLimit`. */
  private def capLists(lists: DataFrame): DataFrame = {
    val wCap = org.apache.spark.sql.expressions.Window
      .partitionBy(col("t"), col("bk"))
      .orderBy(md5(col("nb").cast("string")), col("nb"))
    lists.withColumn("br", row_number().over(wCap))
      .filter(col("br") <= KgCap)
      .drop("br")
  }

  /** (src, nb, sim) edges plus their reverses — cosine is symmetric, so
    * a reverse edge costs no scoring. */
  private def undirected(g: DataFrame): DataFrame = {
    val e = g.select(col("src"), col("nb"), col("sim"))
    e.union(e.select(col("nb").as("src"), col("src").as("nb"), col("sim")))
  }

  /** The LSH-seeded top-[[kInt]] graph: every node's best `kInt`
    * bucket-mates across [[KgTables]] tables, pairs scored INSIDE the
    * bucket join (both vectors co-located after ONE linear shuffle of
    * n·tables vector rows; scoring seed pairs by id-join instead ships
    * a 512-byte payload per PAIR — n·tables·cap rows, ~280 GB at
    * sf100, the measured single-box killer). */
  private[graft] def seedGraph(b: DataFrame, kInt: Int): DataFrame = {
    val memb = bucketMembership(b)
    // the same (src, nb) from two tables carries the same sim, so the
    // cross-table dedup folds into the distinct heap
    topDistinct(bucketPairs(memb, cappedBuckets(memb)), "sim", kInt, group = "src", id = "nb")
  }

  /** Each membership row (vec_id, v, t, bk) paired with the `capped`
    * lists (t, bk, nb, nv) of its bucket, self dropped, and scored
    * INSIDE the join: pairs leave it as (src, nb, sim), 24 narrow bytes. */
  private def bucketPairs(memb: DataFrame, capped: DataFrame): DataFrame =
    memb.select(col("vec_id").as("src"), col("v"), col("t"), col("bk"))
      .join(capped, Seq("t", "bk"))
      .filter(col("src") =!= col("nb"))
      .select(col("src"), col("nb"), cosineQNative(col("v"), col("nv")).as("sim"))

  /** One NN-descent round (Dong, Moses & Li 2011): the improved graph is
    * the top-[[kInt]] of `und(g) ∪ compose(undc(g))` where `und` is the
    * undirected edge set (forward ∪ reverse — sims already known, cosine
    * is symmetric) and `compose` scores neighbors-of-neighbors through
    * the top-[[undCap]] undirected edges per node.
    *
    * Scale shape (100 TB): vectors attach to the two undirected
    * EDGE-LIST sides (2·n·k rows each) BEFORE the compose join, so the
    * ≤ n·undCap² candidate fanout is born inside the join, scores
    * in-map, and leaves as 24-byte (src, nb, sim) triples — O(n·k·dim)
    * vector bytes moved per round, vs O(n·k²·dim) if the fanout were
    * rescored through id-joins (measured: the 2-minute vs 10+-minute
    * difference per pass at sf10, and the difference between fitting
    * and not fitting a single box at sf100). The HUB CAP before
    * composition matters because a node's undirected degree is k
    * forward edges plus an UNBOUNDED number of reverse edges — on
    * clone-heavy corpora a vector's lowest-id clones collect reverse
    * edges from every other clone, and the compose join is quadratic in
    * hub degree (measured: ~10⁹ pairs through a handful of hubs at
    * sf100). Composing from the top-undCap undirected edges per node
    * (sim desc, id asc — the most useful neighbors anyway, NN-descent's
    * reverse-sample ρ) restores the n·R² bound. ALL undirected edges
    * still enter the final candidate set — their sims are already
    * known, so they cost nothing to keep. */
  private[graft] def descentRound(g: DataFrame, b: DataFrame,
                                  kInt: Int, undCap: Int): DataFrame = {
    val undS = undirected(g)
    val undC = topDistinct(undS, "sim", undCap, group = "src", id = "nb")
      .select(col("src"), col("nb"), col("sim"))
    val u1 = undC.select(col("src"), col("nb").as("mid"))
      .join(b.select(col("vec_id").as("src"), col("v").as("sv")), Seq("src"))
    val u2 = undC.select(col("src").as("mid"), col("nb"))
      .join(b.select(col("vec_id").as("nb"), col("v").as("nv")), Seq("nb"))
    val composeS = u1.join(u2, Seq("mid"))
      .filter(col("nb") =!= col("src"))
      .select(col("src"), col("nb"), cosineQNative(col("sv"), col("nv")).as("sim"))
    topDistinct(undS.union(composeS), "sim", kInt, group = "src", id = "nb")
  }

  /** The full builder: LSH seed + `rounds` NN-descent rounds, internal
    * neighbor width `kInt`, hub cap `undCap`; returns the final graph as
    * `(src, rn, nb, sim)` with rn dense per src. Each round's graph is
    * lineage-truncated with a lazy `localCheckpoint` (the functions/Graph
    * CC pattern): the n·k narrow edge list materializes ONCE at first
    * use and is read by the next round's five branches from block
    * storage instead of recomputing the whole bucket-join pipeline per
    * branch (measured: minutes per pass at sf10 without it), and the
    * checkpoint also replaces round-11's leaked `seed.persist()` —
    * blocks are released by the ContextCleaner when the plan is GC'd
    * rather than pinned for the session (round-11 ADVICE). On a real
    * cluster the per-round artifact would be a reliable checkpoint
    * (executor loss recomputes locally here); the loop is
    * driver-COORDINATED but never driver-MATERIALIZED — no row ever
    * reaches the driver.
    *
    * `minUpdateFrac` > 0 adds early termination on update rate (Dong's
    * δ): after each round, the fraction of changed (src, nb) edges is
    * counted (one cheap job over two checkpointed n·k edge lists) and
    * the loop stops when it falls below the threshold. Oracle-checked
    * queries pass 0 (fixed round count — data-dependent round counts
    * aren't SQL-replayable); the adaptive mode is spec-pinned. */
  def knnGraphBuild(b: DataFrame, kInt: Int, undCap: Int, rounds: Int,
                    minUpdateFrac: Double = 0.0): DataFrame =
    knnGraphBuildCounted(b, kInt, undCap, rounds, minUpdateFrac)._1

  /** [[knnGraphBuild]] plus the number of descent rounds actually
    * executed — the early-termination spec's observable. */
  def knnGraphBuildCounted(b: DataFrame, kInt: Int, undCap: Int, rounds: Int,
                           minUpdateFrac: Double = 0.0): (DataFrame, Int) = {
    var g = seedGraph(b, kInt)
      .select(col("src"), col("nb"), col("sim")).localCheckpoint(false)
    var r = 0
    var converged = false
    while (r < rounds && !converged) {
      val next = descentRound(g, b, kInt, undCap)
        .select(col("src"), col("nb"), col("sim")).localCheckpoint(false)
      if (minUpdateFrac > 0) {
        // ONE job for both convergence statistics (round 17): the old
        // form ran next.count() and then a separate left_anti count —
        // two full actions over the checkpointed n·k lists per round.
        // A left join against g's (distinct per src) keys gives
        // total = count(*) and changed = rows with no match, same
        // numbers, one pass. δ and the stop rule are unchanged.
        val row = next.join(
            g.select(col("src"), col("nb"), lit(1).as("_old")),
            Seq("src", "nb"), "left_outer")
          .agg(count(lit(1)).as("total"),
            coalesce(sum(when(col("_old").isNull, 1L).otherwise(0L)),
              lit(0L)).as("changed"))
          .collect()(0)
        val (total, changed) = (row.getLong(0), row.getLong(1))
        converged = changed.toDouble < minUpdateFrac * total.toDouble
      }
      g = next
      r += 1
    }
    (topDistinct(g, "sim", kInt, group = "src", id = "nb"), r)
  }

  /** q168: build the k-nearest-neighbor GRAPH of the whole corpus —
    * every vector gets its top-[[KgK]] neighbors — with the NN-descent
    * recipe (Dong, Moses & Li 2011, "Efficient K-Nearest Neighbor
    * Graph Construction for Generic Similarity Measures", WWW):
    * initialize each node's neighbor list cheaply from [[KgTables]]
    * independent random-hyperplane LSH tables, then improve it by one
    * round of scoring neighbors-of-neighbors, exploiting that a
    * neighbor's neighbor is likely a neighbor. Everything is integer-bp
    * sims with id tiebreaks and set-dedup, so DuckDB replays the exact
    * algorithm and the driver's hash gate applies; the recall floor vs
    * exact brute force is pinned in Round11Spec. */
  def q168(s: SparkSession, d: String): DataFrame = {
    val b = Tables.vectors(s, d)
    knnGraphBuild(b, KgK, KgUnd, rounds = 1)
      .select(col("src").as("vec_id"), col("rn"), col("nb").as("nb_id"),
        col("sim").as("sim_bp"))
      .orderBy(col("vec_id"), col("rn"))
  }

  /** q169: the kNN graph run to CONVERGENCE — [[KiRounds]] NN-descent
    * rounds over a [[KiK]]-wide internal neighbor list (Dong et al.
    * iterate with K larger than the serving k: the extra width is what
    * carries second-order neighbors toward each node), emitting the
    * top-[[KgK]] per node. Same linear scale shape as q168 — per-round
    * cost is ≤ n·undCap² 24-byte candidate triples and O(n·k·dim)
    * vector bytes, rounds fixed at [[KiRounds]] so the oracle replays
    * round by round. Recall@5 ≥ 0.97 vs exact brute force is pinned in
    * Round11Spec (vs 0.52 for the single round; measured 0.9736 at
    * sf0.001, 0.8822 at sf0.1 — the K-width was the binding lever:
    * K=10 plateaued at 0.86 over any extra-round/cap budget). */
  def q169(s: SparkSession, d: String): DataFrame = {
    val b = Tables.vectors(s, d)
    knnGraphBuild(b, KiK, KiUnd, rounds = KiRounds)
      .filter(col("rn") <= KgK)
      .select(col("src").as("vec_id"), col("rn"), col("nb").as("nb_id"),
        col("sim").as("sim_bp"))
      .orderBy(col("vec_id"), col("rn"))
  }

  /** q170: the kNN graph CLOSED INTO the dedup loop — semantic near-dup
    * clusters plus the survivor/split decision, the q68/q78/q130 shape
    * on EMBEDDING-space edges instead of MinHash bands. Two sparsifiers
    * stack before components, because either alone is degenerate:
    *
    *  - MUTUAL kNN: (a, b) is an edge only if b is in a's converged
    *    top-5 AND a is in b's — the standard kNN-graph clustering
    *    sparsifier. Alone it PERCOLATES on smooth corpora (measured:
    *    one giant component swallowing the sf0.001 fixture, whose max
    *    cosine is ~0.6 — "dedup" that keeps 1 of 500 distinct docs).
    *  - FIXED-FRACTION redundancy cut (the SemDeDup economics, Abbas et
    *    al. 2023: prune a fraction, not a threshold — an absolute
    *    cosine bar is degenerate the other way on clone-free corpora):
    *    keep only mutual edges with sim ≥ the global p90 of mutual-edge
    *    sims, so exactly the most semantically redundant decile of
    *    pairings clusters. The cut is one scalar percentile (Spark
    *    `percentile` ≡ DuckDB `quantile_cont`, the q48/q61 pin,
    *    floor-quantized to a long) broadcast back over the edge list.
    *
    * Components label the clusters (min-id representative), every
    * corpus vector gets a row (singleton = its own cluster), survivor =
    * the representative, and the q130 leakage rule rides along: the
    * train/val/test split hashes the CLUSTER id, so semantic near-dups
    * can never straddle a split boundary.
    *
    * Scale shape: the mutuality check is a self-join of the n·k edge
    * list on swapped narrow id pairs; the percentile is a map-combined
    * scalar agg over n·k rows; components are O(log n) pointer jumping
    * on the pruned (≤ n·k/20)-edge graph (functions/Graph, the q68
    * machinery); the final annotate joins the cluster map back on
    * vec_id WITHOUT a broadcast — the map is n-row, and at corpus scale
    * it must shuffle-join, not ship to every executor. */
  def q170(s: SparkSession, d: String): DataFrame = {
    // Round 17 (guide §6, build once / read many): the converged descent
    // graph this query clusters IS the write-once [[knnGraphIndex]]
    // artifact — same builder, same recipe constants (KiK/KiUnd/KiRounds,
    // marker-versioned), built by ingest exactly as q171/q173 serve it.
    // Re-deriving the top-[[KgK]] cut from the persisted KiK-wide lists
    // is exact: the artifact rows are knnGraphBuild's heap output, and
    // a bounded heap over a per-src superset list with the same
    // (sim desc, nb asc) order returns the identical top-KgK rows the
    // old `filter(rn <= KgK)` kept. Output is bit-identical (descent is
    // deterministic end-to-end; oracle replays the build), but q170 no
    // longer re-runs the O(n·K²) build the suite already owns on disk.
    val mutual = mutualTop(readKnnGraphIndex(s, knnGraphIndex(s, d))._1)
    // exact percentile is safe ONLY because sims are integer bp in
    // [-10000, 10000]: Spark's percentile agg keeps one counter per
    // DISTINCT value, so its state is histogram-bounded at ≤ 20001
    // entries regardless of corpus size (the q129 discipline) — a
    // float-sim refactor would silently make this state corpus-sized
    // and must switch to approx_percentile/t-digest
    val thr = mutual.agg(p90Sim.as("thr"))
    val edges = mutual.crossJoin(broadcast(thr))
      .filter(col("sim") >= col("thr"))
      .select(col("src"), col("nb"))
    val cc = graft.functions.Graph.connectedComponents(edges)
      .select(col("id").as("vec_id"), col("label"))
    // the annotate pass needs only ids — a vec_id-pruned base scan, not
    // the embedding payload (guide §6 column pruning)
    clusterDecision(Tables.embeddings(s, d).select(col("vec_id")), cc)
      .orderBy(col("vec_id"))
  }

  /** Mutual top-k edges (src < nb) of a (src, nb, sim) top-list graph —
    * the SemDeDup-style pair candidates q170 cuts at p90.
    *
    * One hash-agg exchange instead of the earlier self semi-join on
    * swapped keys (round 16): canonicalize each directed edge to
    * (lo, hi) and a pair is mutual iff BOTH directions arrive — count=2
    * (top-k lists are distinct per src, so no double-counting). The
    * sim is direction-symmetric (one deterministic bp cosine per vector
    * pair), so min(sim) ≡ either row's sim and the emitted (src, nb,
    * sim) rows are identical to the semi-join's src<nb half. Replaces
    * two sorted exchanges of the n·k edge list with one partial-agg
    * exchange. */
  private[graft] def mutualEdges(gTop: DataFrame): DataFrame =
    // direction FLAGS, not count==2 (round-16 ADVICE): max(fwd)/max(rev)
    // ask "did each direction arrive at least once", which is the
    // semi-join's exact semantics even if a future caller feeds
    // duplicate directed edges (count==2 would mistake two copies of
    // a->b for mutuality). Same single partial-agg exchange — the two
    // int flags combine map-side like the count did.
    // the edge ends are renamed (a, b) first, so the flags can only
    // read the directed edge, never the grouping keys named src/nb
    gTop.select(col("src").as("a"), col("nb").as("b"), col("sim"))
      .groupBy(least(col("a"), col("b")).as("src"), greatest(col("a"), col("b")).as("nb"))
      .agg(min(col("sim")).as("sim"),
        max(when(col("a") < col("b"), 1).otherwise(0)).as("fwd"),
        max(when(col("a") > col("b"), 1).otherwise(0)).as("rev"))
      .filter(col("fwd") === 1 && col("rev") === 1)
      .select(col("src"), col("nb"), col("sim"))

  /** [[mutualEdges]] of each node's top-[[KgK]] list of a (src, nb, sim)
    * graph of any width. */
  private def mutualTop(g: DataFrame): DataFrame =
    mutualEdges(topDistinct(g, "sim", KgK, group = "src", id = "nb")
      .select(col("src"), col("nb"), col("sim")))

  /** The cluster edges (src, nb): [[mutualTop]] pairs at or above the
    * frozen threshold `thrBp`. */
  private def mutualCut(g: DataFrame, thrBp: Long): DataFrame =
    mutualTop(g).filter(col("sim") >= lit(thrBp)).select(col("src"), col("nb"))

  /** The p90 of integer-bp `sim`, floor-quantized to a long. */
  private def p90Sim: Column = floor(expr("percentile(sim, 0.9D)")).cast("long")

  /** The q170 emit: ids + component labels → (vec_id, cluster_id, kept,
    * split). Everything is a pure function of the component map —
    * min-id representative survives, split = md5 bucket of the cluster
    * id, so one cluster can never straddle a split (the q130 leakage
    * rule) no matter how the map was produced or maintained. */
  private[graft] def clusterDecision(ids: DataFrame, cc: DataFrame): DataFrame =
    ids.join(cc, Seq("vec_id"), "left")
      .withColumn("cluster_id", coalesce(col("label"), col("vec_id")))
      .withColumn("kept", (col("cluster_id") === col("vec_id")).cast("int"))
      .withColumn("bucket",
        conv(substring(md5(col("cluster_id").cast("string")), 1, 4), 16, 10)
          .cast("long") % 10000)
      .select(col("vec_id"), col("cluster_id"), col("kept"),
        when(col("bucket") < 8000, lit("train"))
          .when(col("bucket") < 9000, lit("val"))
          .otherwise(lit("test")).as("split"))

  // ---- semantic-cluster lifecycle (the q170 maintenance loop) ----------

  /** The p90 mutual-sim cut as a build-time SCALAR — the frozen model
    * artifact of the cluster lifecycle, exactly like annidx3's
    * centroids/codebook: every later append must cut with the SAME
    * threshold or incremental and rebuilt maps drift apart. The
    * percentile state is histogram-bounded (integer bp, the q170/q129
    * discipline); one scalar reaches the driver. */
  def clusterThreshold(g: DataFrame): Long =
    mutualTop(g).agg(p90Sim.as("t")).collect()(0).getLong(0)

  /** Build the cluster map from a (src, nb, sim) graph (any width — the
    * top-[[KgK]] cut happens here) with a FROZEN threshold: the
    * ingest-time form of q170, whose oracle query instead derives the
    * threshold in-flight so SQL can replay it. */
  def clusterMap(ids: DataFrame, g: DataFrame, thrBp: Long): DataFrame =
    clusterDecision(ids, graft.functions.Graph.connectedComponents(mutualCut(g, thrBp))
      .select(col("id").as("vec_id"), col("label")))

  /** Incremental cluster maintenance — the q170 analogue of the band
    * index / annidx3 / kNN-graph appends, closing the LAST maintenance
    * gap in the ingest loop. Contract is MONOTONE MERGE: near-dup
    * clusters only grow under ingest (old merges are retained as star
    * edges even if the refreshed graph no longer carries the mutual
    * pair that proved them — the same never-forgets semantics as the
    * band index, and a rebuild is the escape hatch, not per-batch
    * un-merging). The new map's components = CC over star(old map) ∪
    * mutual(current graph) ≥ frozen threshold; any pair connected in a
    * frozen-threshold REBUILD of the grown graph is therefore also
    * connected here (rebuild refines incremental — spec-pinned).
    *
    * Per-batch work: one narrow self-join over the n·k 24-byte edge
    * list + pointer-jumping CC over star edges (depth-1 trees, so the
    * CC converges immediately); ZERO vector bytes move — the graph
    * append already paid for the geometry. */
  def appendToClusters(clusters: DataFrame, g: DataFrame, dropIds: DataFrame,
                       thrBp: Long): DataFrame = {
    val star = clusters.filter(col("vec_id") =!= col("cluster_id"))
      .select(col("cluster_id").as("src"), col("vec_id").as("nb"))
    val cc = graft.functions.Graph.connectedComponents(star.unionByName(mutualCut(g, thrBp)))
      .select(col("id").as("vec_id"), col("label"))
    val ids = clusters.select(col("vec_id"))
      .unionByName(dropIds.select(col("vec_id"))).distinct()
    clusterDecision(ids, cc)
  }

  /** Delete from the cluster map: retired ids leave, remaining members
    * of their clusters stay together (the monotone contract — a delete
    * cannot split a proven near-dup group) and re-elect the min-id
    * representative when the survivor itself was retired. One grouped
    * aggregation, no CC needed. */
  def deleteFromClusters(clusters: DataFrame, delIds: DataFrame): DataFrame = {
    val rest = clusters.join(
      broadcast(delIds.select(col("vec_id")).distinct()), Seq("vec_id"), "left_anti")
    val remap = rest.groupBy(col("cluster_id")).agg(min(col("vec_id")).as("rep"))
    clusterDecision(rest.select(col("vec_id")),
      rest.join(remap, Seq("cluster_id"))
        .select(col("vec_id"), col("rep").as("label")))
  }

  /** Incremental kNN-graph maintenance — the graph analogue of the band
    * index's `appendToIndex` and annidx3's `appendToAnnIndex`: fold a
    * new vector DROP into an existing graph without a global rebuild.
    *
    *  1. SEED the drop: bucket the drop rows with the FROZEN global
    *     plane pool (LSH buckets are deterministic functions of the
    *     vector, so a drop bucketizes exactly as an initial build
    *     would), join them against the capped bucket lists of the
    *     grown corpus, and score inside the join — drop→corpus edges
    *     plus their reverses (cosine is symmetric), so existing nodes
    *     SEE the new arrivals.
    *  2. One NN-descent round over old edges ∪ drop edges against the
    *     grown corpus refines both sides.
    *
    * Per-drop work: one corpus bucket pass (the persisted bucket table
    * at scale — the nearDupProbe economics) + O((n+|drop|)·k) descent,
    * never a from-scratch O(n·tables·cap) re-seed. The improvement
    * invariant is spec-pinned: an existing node's rank-r sim can only
    * rise, because the round's candidate set contains every edge it
    * already had (und ⊇ old forward edges) and sims are deterministic
    * integer bp. Incremental recall tracks the from-scratch rebuild on
    * the fixture (pinned in StreamingSpec alongside determinism). */
  def appendToKnnGraph(g: DataFrame, bOld: DataFrame, drop: DataFrame,
                       kInt: Int, undCap: Int): DataFrame = {
    val bAll = bOld.unionByName(drop)
    val dropE = bucketPairs(bucketMembership(drop), cappedBuckets(bucketMembership(bAll)))
    val merged = g.select(col("src"), col("nb"), col("sim"))
      .union(undirected(dropE))
      .localCheckpoint(false)
    descentRound(merged, bAll, kInt, undCap)
  }

  /** Delete maintenance for the kNN graph — the retire half of the
    * lifecycle build → [[appendToKnnGraph]] → delete: every edge
    * touching a deleted id is dropped, then ONE descent round over the
    * surviving edges against the shrunk corpus refills the lists of
    * nodes that lost neighbors (their remaining undirected edges reach
    * the deleted nodes' former neighborhoods — exactly NN-descent's
    * repair argument, Dong et al. 2011). Work is O(n·k) edge filtering
    * + one standard round; no re-seed, no rebuild. A node whose ENTIRE
    * undirected neighborhood was deleted drops out of the graph (it is
    * unreachable by edge repair alone — the same contract as an
    * LSH-isolated node at build time); the ingest loop's next append
    * re-seeds such orphans through the bucket pass. */
  def deleteFromKnnGraph(g: DataFrame, b: DataFrame, delIds: DataFrame,
                         kInt: Int, undCap: Int): DataFrame = {
    val del = broadcast(delIds.select(col("vec_id")).distinct())
    val gLeft = Artifacts.withoutIds(g.select(col("src"), col("nb"), col("sim")), del, "src", "nb")
      .localCheckpoint(false)
    descentRound(gLeft, Artifacts.withoutIds(b, del, "vec_id"), kInt, undCap)
  }

  /** [[deleteFromKnnGraph]] lifted to the HNSW layer stack by
    * [[liftToLayers]], mirroring [[appendToHnsw]]: each touched layer
    * repairs its promoted slice with the L0 recipe. */
  def deleteFromHnsw(layers: DataFrame, b: DataFrame, delIds: DataFrame): DataFrame =
    liftToLayers(layers, delIds) { (g, inL) =>
      deleteFromKnnGraph(g, inL(b), inL(delIds), KgK, KgUnd)
    }

  /** q177: the cluster-maintenance invariants under the hash gate — the
    * q172 assertion discipline extended to the stateful maintenance
    * path (cross-batch state isn't SQL-replayable, so the query
    * EXECUTES the incremental path in-engine and emits verdicts the
    * oracle states as literals). Deterministic 80/20 split by
    * `vec_id % 5` (robust to the scaled fixtures' offset id domains):
    * build the standing graph + frozen-threshold map on the 80%, fold
    * the 20% in through [[appendToKnnGraph]] + [[appendToClusters]]
    * (the q168 one-round recipe keeps the query suite-affordable; the
    * invariants don't depend on convergence depth), then assert via
    * bounded aggregates — coverage (every grown id mapped exactly
    * once), monotone merges (no pre-append cluster splits), and
    * rebuild refinement (a frozen-threshold rebuild on the grown graph
    * never straddles incremental clusters). A regression in any
    * maintenance invariant flips a verdict at every sf.
    *
    * The STANDING state (80% graph, frozen threshold, initial cluster
    * map) is written once per fixture by the SHARED maintenance-gate
    * build ([[Round14Queries.maintScratch]], round-15 verdict ask #1 —
    * q177 and q178 derive their artifacts from the same base slice, so
    * a cold board pays ONE corpus join for both gates): it is the
    * pre-existing serving artifact the maintenance path operates ON,
    * not the path under test — in production it was laid down by the
    * original build, and re-deriving it per bench pass timed the build
    * recipe a second time (r14 verdict: q177+q178 = 14% of the board).
    * The MAINTAINED path — append, cluster fold, every assertion —
    * still executes per run. Like q178, the gate's size is FIXED (the
    * [[Round14Queries.MaintSlice]]-vector slice, 80/20 split by
    * `vec_id % 5`): it grades maintenance SEMANTICS — a regression in
    * any invariant flips a verdict at every sf — while the maintained
    * operators' scale curves live with the operators themselves
    * (q168–q176, BENCH_SCALING). */
  def q177(s: SparkSession, d: String): DataFrame = {
    val standing = Round14Queries.maintScratch(s, d) // build: own knobs
    // the gate chains ~20 micro-jobs over ≤slice-sized frames: the
    // same micro-plan knobs as q178 (1 shuffle partition, whole-stage
    // codegen and AQE off — each unique tiny plan would pay a Janino
    // compile / runtime re-plan to process ≤240 rows). Identical
    // verdicts; scoped to the gate only.
    graft.util.Confs.scoped(s, Round14Queries.microPlan(1): _*)(q177Body(s, d, standing))
  }

  private def q177Body(s: SparkSession, d: String, standing: String): DataFrame = {
    val b = s.read.parquet(s"$standing/base")
      .select(col("doc_id").as("vec_id"), col("v"))
    val bOld = b.filter(col("vec_id") % 5 =!= 4)
    val drop = b.filter(col("vec_id") % 5 === 4)
    val gOld = s.read.parquet(s"$standing/gold")
      .select(col("src"), col("nb"), col("sim"))
    val thr = s.read.parquet(s"$standing/thr").head().getLong(0)
    val c0 = s.read.parquet(s"$standing/c0")
    val gNew = appendToKnnGraph(gOld, bOld, drop, KgK, KgUnd)
      .select(col("src"), col("nb"), col("sim")).localCheckpoint(false)
    val c1 = appendToClusters(c0, gNew, drop.select(col("vec_id")), thr)
      .localCheckpoint(false)
    // all three invariants ride ONE union job (per-action Catalyst
    // planning is the gate's dominant cost — measured, round 16): each
    // branch reduces to a single `bad` counter whose zero means the
    // invariant holds, and the branches share the c1/gNew checkpoints.
    // coverage: one full-outer aggregation, strictly STRONGER than the
    // old pair of counts — every grown id mapped exactly once AND no
    // phantom ids (a doubled id can't mask a missing one)
    val covBad = b.select(col("vec_id"), lit(1).as("e"))
      .join(c1.groupBy(col("vec_id")).agg(count(lit(1)).as("k")),
        Seq("vec_id"), "full")
      .agg(coalesce(sum(when(col("e").isNull || col("k").isNull || col("k") =!= 1, 1)
        .otherwise(0)), lit(1L)).as("bad"))
      .select(lit("coverage").as("inv"), col("bad"))
    // monotone merges: no pre-append cluster maps into two c1 clusters
    val monBad = c0.select(col("vec_id"), col("cluster_id").as("base_cl"))
      .join(c1.select(col("vec_id"), col("cluster_id").as("inc_cl")), Seq("vec_id"))
      .groupBy(col("base_cl"))
      .agg(countDistinct(col("inc_cl")).as("k"))
      .agg(coalesce(sum(when(col("k") > 1, 1).otherwise(0)), lit(1L)).as("bad"))
      .select(lit("monotone").as("inv"), col("bad"))
    // rebuild-refinement WITHOUT a third CC: components are generated
    // by edges, so "every frozen-thr rebuild cluster sits inside one
    // incremental cluster" ⟺ "no single rebuild edge crosses a c1
    // boundary" (along any rebuild path some edge would cross) — two
    // narrow joins instead of a clusterMap + CC pass
    val refBad = mutualCut(gNew, thr)
      .join(c1.select(col("vec_id").as("src"), col("cluster_id").as("ca")), Seq("src"))
      .join(c1.select(col("vec_id").as("nb"), col("cluster_id").as("cb")), Seq("nb"))
      .filter(col("ca") =!= col("cb"))
      .agg(count(lit(1)).as("bad"))
      .select(lit("refine").as("inv"), col("bad"))
    val bads = covBad.unionByName(monBad).unionByName(refBad).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val coverage = bads.get("coverage").contains(0L)
    val monotone = bads.get("monotone").contains(0L)
    val refined = bads.get("refine").contains(0L)
    s.range(1).select(
      lit(if (coverage) 1 else 0).cast("int").as("coverage_ok"),
      lit(if (monotone) 1 else 0).cast("int").as("monotone_ok"),
      lit(if (refined) 1 else 0).cast("int").as("rebuild_refines_ok"))
  }

  // q171: graph-descent ANN — SERVING from the converged graph ----------

  private val GdQ = 8      // queries: vec_id < GdQ (the family convention)
  private val GdBeam = 30  // beam width kept per hop (HNSW ef; 20 -> 0.825, 30 -> 0.925 recall at sf0.1)
  private val GdHops = 3  // fixed hop count so the oracle replays it
  private val GdK = 5      // final top-k

  /** The serve-time kNN-graph artifact, written ONCE per fixture
    * (marker-gated [[Round8Queries.ensureScratch]], the annidx3
    * pattern): the CONVERGED q169 graph at its full internal width
    * [[KiK]] (serving wants the extra connectivity, not just the top-5
    * the query emits) plus the capped LSH bucket lists that seed a
    * search's entry points. Both are id-narrow — the graph is n·K
    * 24-byte edges, the bucket table n·tables (t, bk, id) rows; vectors
    * stay in the BASE table and are fetched by id at scoring time, so
    * the artifact never duplicates the corpus payload. The on-disk
    * lifecycle is [[knnGraphBuild]] (build) + [[appendToKnnGraphIndex]]
    * (the bucket-list delta append) + [[deleteFromKnnGraphIndex]] +
    * [[compactKnnGraphIndex]] (the shared [[graft.streaming.Artifacts]]
    * protocol) — q171 is the serve side of that same artifact. The
    * streaming ingest loop does not write it: `ingestLoop` keeps its own
    * in-memory graph through [[appendToKnnGraph]] and
    * [[deleteFromKnnGraph]]. */
  private[graft] def knnGraphIndex(s: SparkSession, d: String): String =
    // recipe version in the marker (round-15 ADVICE): descent params or
    // bucket caps changing rebuilds the serving graph automatically
    // (`manifest`: the build commits version 0 of the artifact)
    Round8Queries.ensureScratch(s, "knngraph", d,
        s"r16:K=$KiK/${KiUnd}x$KiRounds:cap=$KgCap:manifest") { base =>
      val b = Tables.vectors(s, d)
      Artifacts.commit(s, Artifacts.knngraph(base), "build")(_ => Some(Artifacts.Change(Seq(
        "graph" -> knnGraphBuild(b, KiK, KiUnd, KiRounds)
          .select(col("src"), col("nb"), col("sim")).repartition(8),
        "buckets" -> cappedBuckets(bucketMembership(b))
          .select(col("t"), col("bk"), col("nb")).repartition(4)))))
    }

  /** q171: ANN queries SERVED from the converged kNN graph — greedy
    * beam search (the HNSW layer-0 idea, Malkov & Yashunin 2018, on the
    * flat converged graph): seed each query's frontier from its frozen-
    * plane LSH buckets (the entry layer persisted in [[knnGraphIndex]]),
    * then [[GdHops]] expansion hops — score the frontier's graph
    * neighbors, keep the best [[GdBeam]] — and emit the top-[[GdK]].
    * The hop count is FIXED so DuckDB replays the exact search; all
    * sims are integer bp with id tiebreaks, so the beam cut and the
    * final order are bit-deterministic.
    *
    * Scale shape (the serve-time economics the brute/Hamming paths
    * can't reach): per query per hop the work is ≤ beam·K scored id
    * pairs, and the whole search is ONE [[GraphWalk]] — the query rows
    * stream, the graph, the bucket lists and the vectors are built into
    * one broadcast index, and each task runs every hop of its queries in
    * memory. The graph and bucket lists are the resident read of
    * [[readKnnGraphIndex]]; over a checkpointed corpus the index itself
    * stays resident between requests.
    * Nothing corpus-sized ever shuffles at serve time; the O(n) work
    * all lives in the write-once [[knnGraphIndex]] build. Recall@5
    * ≥ 0.9 vs exact brute force is pinned in Round11Spec — above
    * q163's 32-deep Hamming shortlist on the same queries. */
  def q171(s: SparkSession, d: String): DataFrame =
    topGdK(flatGraphSearch(s, d)._1).orderBy(col("q_id"), col("rn"))

  /** q171's search, also returning the full SCORED multiset — every
    * (q_id, vec_id, sim) the traversal evaluated (entry probe + all hop
    * expansions). q171 emits the top-[[GdK]] of the final frontier and
    * never evaluates the scored walk (lazy plans); q174 post-filters the
    * scored set by attribute and never evaluates the frontier walk. */
  private def flatGraphSearch(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val (g, lists) = readKnnGraphIndex(s, knnGraphIndex(s, d))
    val b = Tables.vectors(s, d)
    graphSearch(g.select(col("src"), col("nb")), lists, b, fixtureQueries(b))
  }

  /** The family's fixture queries: corpus vectors with vec_id < [[GdQ]],
    * as (q_id, qv). */
  private def fixtureQueries(b: DataFrame): DataFrame =
    b.filter(col("vec_id") < GdQ).select(col("vec_id").as("q_id"), col("v").as("qv"))

  /** The final top-[[GdK]] of a graph search's (q_id, vec_id, sim)
    * rows: (q_id, rn, vec_id, sim_q). */
  private def topGdK(cand: DataFrame): DataFrame =
    topDistinct(cand, "sim", GdK)
      .select(col("q_id"), col("rn"), col("vec_id"), col("sim").as("sim_q"))

  /** The flat beam search over whatever graph/bucket state the caller
    * holds — q171/q174 pass the write-once fixture artifact; the
    * artifact-lifecycle spec and the streaming serve path pass a
    * delete-aware read. One [[flatWalk]] scored by exact cosine
    * ([[VectorOps.cosineQNative]] of qv against the corpus v). Returns
    * (final beam (q_id, vec_id, sim), full scored multiset) — two walks
    * over the same inputs, each computed only when its frame runs (see
    * [[flatGraphSearch]]). */
  private[graft] def graphSearch(g: DataFrame, buckets: DataFrame,
                                 b: DataFrame, q: DataFrame,
                                 beam: Int = GdBeam): (DataFrame, DataFrame) = {
    def walk(emitScored: Boolean): DataFrame =
      flatWalk(g, buckets, b.select(col("vec_id"), col("v")), q,
        cosineQNative(col("qv"), col("v")), "sim", desc = true, beam, emitScored)
    (walk(emitScored = false), walk(emitScored = true))
  }

  /** The flat graph search of q171/q174/q176 as one [[GraphWalk]]:
    * entry from the capped bucket lists (t, bk, nb) by each query's
    * bucket in every LSH table ([[bucketsOf]] of qv — the membership
    * expression the lists were built with), then [[GdHops]] hops over
    * the graph `g` (src, nb); self dropped at entry and on every hop,
    * the best `beam` kept by `score` (desc for similarities, asc for
    * distances, vec_id tiebreak). Rescoring a frontier node yields the
    * identical row, so the distinct heap absorbs it — no visited set.
    * `vectors` is (vec_id, the scorer's columns), `q` (q_id, qv).
    * Returns (q_id, vec_id, `name`). */
  private def flatWalk(g: DataFrame, buckets: DataFrame, vectors: DataFrame,
                       q: DataFrame, score: Column, name: String, desc: Boolean,
                       beam: Int, emitScored: Boolean): DataFrame =
    GraphWalk.walk(
      q.select(col("q_id"), col("qv"),
        transform(bucketsOf(col("qv")), m => entryKey(m("t"), m("bk"))).as("keys")),
      g, buckets.select(entryKey(col("t"), col("bk")).as("key"), col("nb")),
      vectors, None, score, name, desc,
      Seq(WalkStage(EdgeSet.Entry, beam, 1, dropSelf = true),
        WalkStage(EdgeSet.Graph, beam, GdHops, dropSelf = true)),
      emitScored)

  // q174: attribute-filtered graph search -------------------------------

  private val FgLabel = 3  // the filter attribute (q167's convention)

  /** q174: FILTERED ANN over the graph — "nearest neighbors WHERE
    * label = 3", the predicate+vector query every retrieval system
    * grows next. Strategy is the post-filtered traversal (ACORN-1,
    * Patel et al. 2024): navigate the UNFILTERED graph exactly as
    * q171 (a filtered graph fragments into islands the descent can't
    * cross — the reason filtered-HNSW systems keep traversal
    * unfiltered), then take the top-[[GdK]] BY ATTRIBUTE from the
    * full scored set the traversal evaluated (entry probe + every hop
    * expansion — a superset of the surviving beam, so the filter has
    * more to choose from at zero extra scoring cost; the plans are
    * shared with the beam's own computation). Self-rows never appear
    * (entry and expansion both exclude them). The label join is an
    * id-narrow broadcast onto the scored triples; recall@5 vs exact
    * label-filtered brute force is pinned in Round11Spec (0.975
    * measured). vs q167's pre-filtered Hamming path: q167 SCANS the
    * label slice per query batch — exhaustive but O(n·selectivity)
    * serve-time work; this path stays index-bounded like q171
    * (beam·K·hops scored pairs regardless of n), the right trade once
    * the filtered slice alone dwarfs the traversal. Deterministic
    * (integer-bp sims, id tiebreaks, fixed hops), so DuckDB replays
    * the search and the hash gate applies. */
  def q174(s: SparkSession, d: String): DataFrame = {
    val scored = flatGraphSearch(s, d)._2
    val labels = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
    topGdK(scored.join(labels, Seq("vec_id"))
        .filter(col("label") === FgLabel)
        .select(col("q_id"), col("vec_id"), col("sim")))
      .orderBy(col("q_id"), col("rn"))
  }

  // knngraph ARTIFACT lifecycle (the on-disk delta path) -----------------

  /** Append a vector drop to the ON-DISK knngraph artifact — the LSM
    * delta design that lets a serving tier ingest without holding the
    * graph in memory (the in-memory path is [[appendToKnnGraph]] +
    * `IngestState`; this is the same operation committed as part files,
    * graph and bucket parts in one commit, once per `key`).
    * Works because serving consumes the graph as an EDGE SET and the
    * bucket table as candidate lists: the drop's top-[[KiK]] edges
    * (scored against by-id fetches of its persisted-bucket mates) plus
    * their reverses plus its bucket memberships land as NEW files; no
    * existing file is touched, old nodes' stale top-k lists stay valid
    * edges (extra edges only widen expansion), and
    * [[compactKnnGraphIndex]] periodically restores the exact bounded
    * shape. Per-drop work: one probe of the persisted bucket lists +
    * O(|drop|·cap) scored pairs — the nearDupProbe economics. A re-add
    * under a still-tombstoned id compacts first
    * ([[graft.streaming.Artifacts.append]]). */
  def appendToKnnGraphIndex(s: SparkSession, idxPath: String,
                            b: DataFrame, drop: DataFrame, key: Option[Artifacts.Key] = None): Unit =
    Artifacts.append(s, Artifacts.knngraph(idxPath), drop, key)(
        compactKnnGraphIndex(s, idxPath)) { m =>
      val memb = bucketMembership(drop)
      val dropLists = memb.select(col("t"), col("bk"), col("vec_id").as("nb"))
      // candidates = committed lists ∪ this drop's own memberships (so
      // drop-internal near-pairs are seen); compaction re-caps later
      val lists = m.read(s, "buckets")
        .select(col("t"), col("bk"), col("nb")).unionByName(dropLists)
      val cand = memb.select(col("vec_id").as("src"), col("v"), col("t"), col("bk"))
        .join(lists, Seq("t", "bk"))
        .filter(col("src") =!= col("nb"))
        .join(b.select(col("vec_id").as("nb"), col("v").as("nv")), Seq("nb"))
        .select(col("src"), col("nb"), cosineQNative(col("v"), col("nv")).as("sim"))
      Seq("graph" -> undirected(topDistinct(cand, "sim", KiK, group = "src", id = "nb")),
        "buckets" -> dropLists)
    }

  /** Logical delete from the artifact: O(|delete|) commit to the
    * `<idx>/tombstones` sidecar ([[graft.streaming.Artifacts]]) under
    * `key`; [[readKnnGraphIndex]] hides the retired ids from every serve
    * path and the next compaction makes it physical. */
  def deleteFromKnnGraphIndex(s: SparkSession, idxPath: String,
                              delIds: DataFrame, key: Option[Artifacts.Key] = None): Unit =
    Artifacts.delete(s, Artifacts.knngraph(idxPath), delIds, key)

  /** Delete-aware read of the artifact's newest manifest: (edges, bucket
    * lists) minus the tombstone set (both anti-joins broadcast),
    * materialized by an eager `localCheckpoint`, so the frames read no
    * artifact file once returned. The read stays RESIDENT per (session,
    * root), keyed on the manifest's version and live files: a call at
    * the same manifest costs one listing and one small file read and
    * returns the same frames, so [[GraphWalk]] keeps its built index for
    * them; a new manifest reads again and releases the old frames. A
    * directory never committed (version -1) is read but never kept. The
    * resident frames are not in the cache manager, so
    * `spark.catalog.clearCache()` keeps them. */
  def readKnnGraphIndex(s: SparkSession, idxPath: String): (DataFrame, DataFrame) = {
    val m = Artifacts.snapshot(s, Artifacts.knngraph(idxPath))
    resident.synchronized {
      val at = (s, idxPath)
      resident.get(at).filter(r => r.version == m.version && r.files == m.files).getOrElse {
        val (g, lists) = readKnnGraph(s, m)
        val read = Resident(m.version, m.files, g.localCheckpoint(true), lists.localCheckpoint(true))
        (if (m.version < 0) resident.remove(at) else resident.put(at, read))
          .foreach(old => Seq(old.graph, old.buckets).foreach(_.queryExecution.analyzed.foreach {
            case r: LogicalRDD => r.rdd.unpersist(blocking = false)
            case _ => ()
          }))
        read
      }.frames
    }
  }

  /** One resident knngraph read: the manifest it was read at and its
    * checkpointed frames. */
  private final case class Resident(version: Long, files: Map[String, Seq[(String, Long)]],
                                    graph: DataFrame, buckets: DataFrame) {
    def frames: (DataFrame, DataFrame) = (graph, buckets)
  }
  private val resident = mutable.Map.empty[(SparkSession, String), Resident]

  private def readKnnGraph(s: SparkSession, m: Artifacts.Manifest): (DataFrame, DataFrame) =
    (m.live(s, "graph", "src", "nb"), m.live(s, "buckets", "nb"))

  /** Compaction of the artifact: merge the append deltas back to the
    * exact bounded shape — per-node top-[[KiK]] edge lists and
    * per-(table, bucket) candidate lists re-capped at [[KgCap]] in the
    * build's md5 order — with tombstoned rows physically dropped and
    * the sidecar cleared. A full rewrite, but of the ID-NARROW index
    * (n·K 24-byte edges), never the vector payload. Pruning the delta
    * edges back to the bound CAN narrow beam reachability in
    * principle — the result is exactly the shape a fresh build
    * guarantees (whose recall floors are pinned); the lifecycle spec
    * pins that fixture probes keep their answers across the rewrite.
    * The rewrite lands through one [[graft.streaming.Artifacts.commit]]
    * that retires every old part and tombstone. A compaction over a
    * manifest committed by a compaction with no tombstones has nothing
    * to do; `failpoint` is the crash-race spec's kill switch. Returns
    * the number of graph part files the rewrite replaced (0 = nothing
    * to do — idempotent on a compact artifact). */
  def compactKnnGraphIndex(s: SparkSession, idxPath: String,
                           failpoint: String => Unit = _ => ()): Int =
    Artifacts.commit(s, Artifacts.knngraph(idxPath), "compact", failpoint = failpoint) { m =>
      Option.when(m.op != "compact" || m.pendingDeletes) {
        val (g, lists) = readKnnGraph(s, m)
        Artifacts.Change(Seq(
          "graph" -> topDistinct(g, "sim", KiK, group = "src", id = "nb")
            .select(col("src"), col("nb"), col("sim")).repartition(8),
          "buckets" -> capLists(lists.distinct()).repartition(4)),
          m.at.dirs.flatMap { case (t, _) => m.parts(t).map(t -> _._1) })
      }
    }.fold(0)(_.retire.count(_._1 == "graph"))

  // q176: PQ-fused graph traversal (DiskANN) ----------------------------

  private val PfBeam = 90    // ADC beam width — wider than q171's 30: the
                             // quantized distance misorders near-ties, and
                             // the wider frontier is how DiskANN's L absorbs
                             // that noise (8 code bytes/row keeps it cheap)
  private val PfRerank = 60  // exact-rerank pool cut from the ADC beam

  /** q176: the DiskANN serving split (Subramanya et al. 2019) on the
    * existing artifacts — graph BUILT at full precision (the converged
    * q169 `knngraph`), traversal scored on PQ codes, exact vectors
    * touched only by the final rerank. Hops run exactly q171's beam
    * recipe but rank by the asymmetric PQ distance (floor(adc·10⁴),
    * ascending, id tiebreaks) against annidx3's 8-int `rcodes` column;
    * the final top-[[PfRerank]] by ADC is reranked with exact cosine
    * and the top-[[GdK]] emitted.
    *
    * Why this matters at 100 TB: q171's walk holds the 256-byte float
    * payload of every vector it may score; here the walk's vectors
    * child is 8 CODE bytes per row from the column-pruned index scan
    * (Round11Spec pins `embedding` out and `rcodes` in), and the
    * full-precision table is touched for only |Q|·[[PfRerank]] rows at
    * the end — DiskANN's memory/disk split, with the codebook a
    * bounded driver literal (the frozen model artifact every consumer
    * shares). Recall@5 vs exact brute force is pinned in Round11Spec
    * beside q171's (the ADC approximation costs recall; the pin
    * documents how much). Deterministic: integer-quantized distances,
    * id tiebreaks, fixed hops — DuckDB replays the whole search. */
  def q176(s: SparkSession, d: String): DataFrame = {
    val frontier = pqSearch(s, d)
    val b = Tables.vectors(s, d)
    // full precision only here: |Q|·PfRerank by-id fetches
    val pool = topDistinct(frontier, "ad", PfRerank, desc = false)
      .select(col("q_id"), col("vec_id"))
    topGdK(Retrieval.scoreById(b, fixtureQueries(b))(pool))
      .orderBy(col("q_id"), col("rn"))
  }

  /** q176's ADC traversal over the fixture artifacts: the q171
    * queries against the knngraph, scored on annidx3's `rcodes` with the
    * corpus codebook. Returns the final frontier (q_id, vec_id, ad);
    * its [[GraphWalk]] codes child is the column-pruned rcodes scan
    * (PlanGuard in Round11Spec: never `embedding`, never `prefix`). */
  private[graft] def pqSearch(s: SparkSession, d: String): DataFrame = {
    val (g, lists) = readKnnGraphIndex(s, knnGraphIndex(s, d))
    val codes = Round10Queries.readAnnIndex(s, Round10Queries.annIndex(s, d))
      .select(col("vec_id"), col("rcodes").as("codes"))
    val b = Tables.vectors(s, d)
    pqSearch(g, lists, codes, fixtureQueries(b), LlmQueries.pqCodebook(b))
  }

  /** The ADC traversal itself: [[flatWalk]] over the graph `g` and
    * bucket lists, ranked by ascending floor(adc·10⁴) of qv against the
    * PQ `codes` (vec_id, codes) under codebook `cb`, beam [[PfBeam]].
    * Returns the final frontier (q_id, vec_id, ad). */
  private[graft] def pqSearch(g: DataFrame, buckets: DataFrame, codes: DataFrame,
                              q: DataFrame, cb: Seq[Seq[Double]]): DataFrame =
    flatWalk(g, buckets, codes.select(col("vec_id"), col("codes")), q,
      floor(call_function("pq_adc_dist", col("qv"), col("codes"),
        VectorOps.litArr2(cb), lit(LlmQueries.PqDs)) * 10000).cast("long"),
      "ad", desc = false, PfBeam, emitScored = false)

  // q175: MMR-diversified retrieval over the served beam ----------------

  private val MmrK = 5       // diversified result size
  // λ = 0.7 kept EXACT in integer bp: score = 7·sim(q,c) − 3·max_pen,
  // both factors ×10 — no float mixing, so the greedy argmax is
  // bit-deterministic and DuckDB replays it
  private val MmrLam = 7
  private val MmrPen = 3

  /** q175: Maximal Marginal Relevance (Carbonell & Goldstein 1998) over
    * q171's served beam — the diversification pass a retrieval stack
    * runs when its raw top-k collapses onto near-duplicates (and this
    * corpus HAS exact-clone neighborhoods, so plain top-5 degenerates;
    * the spec measures the pairwise-sim drop). Greedy loop, [[MmrK]]
    * fixed steps so the oracle replays it: step 1 takes the beam's
    * rank-1; each later step scores every unselected beam candidate as
    * [[MmrLam]]·sim(q,c) − [[MmrPen]]·max over selected s of sim(c,s)
    * and takes the argmax (score desc, id asc).
    *
    * Scale shape: the beam is ≤ |Q|·[[GdBeam]] rows, so every step is
    * a broadcast join over serving-sized data — pair sims are computed
    * candidate×selected (≤ beam·k per query), never corpus-anything;
    * candidate vectors attach ONCE and ride the loop checkpointed. */
  def q175(s: SparkSession, d: String): DataFrame = {
    val beam = flatGraphSearch(s, d)._1
    val b = Tables.vectors(s, d)
    // beam with candidate vectors attached once (≤ |Q|·beam rows)
    val cv = beam.join(b, Seq("vec_id"))
      .select(col("q_id"), col("vec_id"), col("sim"), col("v"))
      .localCheckpoint(false)
    // each step's argmax per query: a one-row heap, (score desc, id asc)
    def pick1(scored: DataFrame, nscore: Column, rn: Int): DataFrame =
      heapTopK(scored, nscore, 1, Seq("sim"))
        .select(col("q_id"), lit(rn).as("rn"), col("vec_id"), col("sim"))
    var selected = pick1(cv, -col("sim"), 1).localCheckpoint(false)
    for (step <- 2 to MmrK) {
      val selV = selected.join(b, Seq("vec_id"))
        .select(col("q_id"), col("vec_id").as("sid"), col("v").as("sv"))
      val pen = cv
        .join(selected.select(col("q_id"), col("vec_id")), Seq("q_id", "vec_id"), "left_anti")
        .join(broadcast(selV), Seq("q_id"))
        .groupBy(col("q_id"), col("vec_id"), col("sim"))
        .agg(max(cosineQNative(col("v"), col("sv"))).as("pen"))
      selected = selected.unionByName(pick1(
          pen, -(lit(MmrLam) * col("sim") - lit(MmrPen) * col("pen")), step))
        .localCheckpoint(false)
    }
    selected.select(col("q_id"), col("rn"), col("vec_id"), col("sim").as("sim_q"))
      .orderBy(col("q_id"), col("rn"))
  }

  // q173: hierarchical graph serving (HNSW upper layers) ----------------

  private val HnRatio = 4  // per-level promote ratio: P[level >= l] = 4^-l
  private val HnL = 8      // fixed layer count (production sizes ~log_4 n;
                           //   8 covers n <= ~4^8·K — top layer ~30 nodes
                           //   at 2M vectors, and EMPTY high layers are
                           //   harmless no-ops at small fixtures)
  private val HnBeam = 8   // upper-layer beam width
  private val HnHops = 2   // expansion hops per upper layer

  /** 32-bit pseudo-uniform from the vector id (md5 prefix) — the
    * deterministic stand-in for HNSW's random level draw, so the layer
    * assignment is a pure function of the id and DuckDB, the engine,
    * and any future ingest all place a vector on the same levels. */
  private def lvlHash(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long")

  /** [[HnRatio]]^l — the level-l promotion modulus. */
  private def lvlMod(l: Int): Long = Seq.fill(l)(HnRatio.toLong).product

  /** The rows of a (vec_id, …) frame promoted to level `l`. */
  private def inLevel(l: Int)(df: DataFrame): DataFrame =
    df.filter(lvlHash(col("vec_id")) % lit(lvlMod(l)) === 0)

  /** Node level: the largest l in [0, HnL] with hash % 4^l == 0 —
    * levels are NESTED by construction (level >= l implies level >=
    * l-1), the skip-list/HNSW geometry. */
  private def maxLvl(id: Column): Column = {
    val h = lvlHash(id)
    (1 to HnL).foldLeft(lit(0)) { (acc, l) =>
      when(h % lit(lvlMod(l)) === 0, lit(l)).otherwise(acc)
    }
  }

  /** All upper-layer graphs as one (lvl, src, nb, sim) frame: for each
    * level l in 1..[[HnL]], the q168-recipe kNN graph (LSH seed + one
    * NN-descent round, width [[KgK]]) among the nodes promoted to that
    * level. Geometric layer populations mean the whole hierarchy costs
    * a CONSTANT FACTOR over the L0 build (Σ 4^-l ≈ 1/3). Sims ride
    * along for the MAINTENANCE path ([[appendToHnsw]] folds a drop in
    * with the same improvement invariant as the L0 graph); the serving
    * artifact drops them. */
  private[graft] def hnswLayers(b: DataFrame): DataFrame =
    (1 to HnL).map { l =>
      knnGraphBuild(inLevel(l)(b), KgK, KgUnd, rounds = 1)
        .select(lit(l).as("lvl"), col("src"), col("nb"), col("sim"))
    }.reduce(_ unionByName _)

  /** The hierarchical entry artifact, written once per fixture beside
    * [[knnGraphIndex]]: [[hnswLayers]] without the sims (serving only
    * walks edges), id-narrow like the base graph. Layers partition the
    * parquet by `lvl`, so a serve-time hop reads exactly one level's
    * files. */
  private[graft] def hnswIndex(s: SparkSession, d: String): String =
    // recipe version in the marker (round-15 ADVICE): a changed level
    // recipe or graph width rebuilds the standing layers automatically
    Round8Queries.ensureScratch(s, "hnsw", d,
        s"r16:L=$HnL:K=$KgK/${KgUnd}x1") { base =>
      val b = Tables.vectors(s, d)
      hnswLayers(b)
        .select(col("lvl"), col("src"), col("nb"))
        .repartition(4)
        .write.partitionBy("lvl").parquet(s"$base/layers")
    }

  /** Incremental HNSW maintenance — [[appendToKnnGraph]] lifted to the
    * layer stack: a drop folds into exactly the layers its ids promote
    * to. The level draw is the same pure md5 function the build uses,
    * so the drop's maximum level is ONE bounded scalar aggregate, and
    * every layer above it is returned untouched — BY CONSTRUCTION, not
    * by diffing (the hierarchy's geometric thinning means a drop's
    * expected touched depth is log₄|drop|, so steady-state ingest pays
    * for 1–2 low layers, not all [[HnL]]). Each touched layer runs the
    * L0 append recipe on its promoted slice: frozen-plane bucket seed
    * against the grown layer population + one descent round, so the
    * per-layer improvement invariant (an existing node's rank-r sim
    * can only rise) holds here too — pinned in StreamingSpec alongside
    * the untouched-upper-layer identity. */
  def appendToHnsw(layers: DataFrame, bOld: DataFrame, drop: DataFrame): DataFrame =
    liftToLayers(layers, drop) { (g, inL) =>
      appendToKnnGraph(g, inL(bOld), inL(drop), KgK, KgUnd)
    }

  /** One L0 maintenance `step` lifted to the (lvl, src, nb, sim) layer
    * stack. `ids` (vec_id) is the drop or delete set; its deepest
    * promotion level is ONE scalar to the driver, 0 when `ids` is empty
    * (no level touched). Each level l up to it runs `step` on the
    * level's (src, nb, sim) graph with [[inLevel]] l; the layers above
    * it come back untouched. */
  private def liftToLayers(layers: DataFrame, ids: DataFrame)
                          (step: (DataFrame, DataFrame => DataFrame) => DataFrame): DataFrame = {
    val maxL = ids.agg(coalesce(max(maxLvl(col("vec_id"))), lit(0))).collect()(0).getInt(0)
    val edges = Seq(col("src"), col("nb"), col("sim"))
    val touched = (1 to maxL).map { l =>
      step(layers.filter(col("lvl") === l).select(edges: _*), inLevel(l))
        .select(lit(l).as("lvl") +: edges: _*)
    }
    val untouched = layers.filter(col("lvl") > maxL).select(col("lvl") +: edges: _*)
    touched.foldLeft(untouched)(_ unionByName _)
  }

  /** q173: hierarchical graph-descent ANN — q171 with the LSH bucket
    * entry replaced by HNSW-style upper layers (Malkov & Yashunin 2018,
    * now the full idea rather than layer 0 alone). The motivation is a
    * measured SCALE FLAW in q171's entry: the frozen LSH tables have
    * 2^[[KgBits]] = 16 buckets capped at [[KgCap]] rows, so the entry
    * probe samples 64 of n/16 bucket-mates — entry coverage DILUTES
    * linearly in n and the fixed 3-hop L0 budget can't recover the
    * lost ground at corpus scale. The hierarchy is scale-free: each
    * level thins the corpus by [[HnRatio]], the search starts at the
    * single globally-best-leveled node and greedily descends —
    * [[HnHops]] beam-[[HnBeam]] hops per level, then the q171 L0 beam
    * search — so per-query work is O(levels·beam·K) INDEPENDENT of
    * corpus size, and the entry the L0 phase receives is already in
    * the query's neighborhood at every n.
    *
    * Determinism discipline: the level draw is an md5 hash of the id,
    * hop counts and beams are fixed literals, sims are integer bp with
    * id tiebreaks — DuckDB replays the exact search, hash gate applies.
    * The query's own row is deliberately KEPT in the frontier while
    * descending (it is the best possible navigation anchor when the
    * query is a corpus member — its L0 edges are the answer) and
    * excluded only at the final emit; q171 excludes it from entry
    * candidates instead, which costs nothing there because the LSH
    * probe supplies hundreds of alternatives, but here would discard
    * the single seeded entry row. */
  def q173(s: SparkSession, d: String): DataFrame = {
    val g0 = readKnnGraphIndex(s, knnGraphIndex(s, d))._1
    val idxH = hnswIndex(s, d)
    val layers = s.read.parquet(s"$idxH/layers")
    // the corpus is read once, into the walk's index — resident for
    // every hop the way a serving tier holds it in RAM; the layers and
    // the corpus are file scans, so the index is built per execution
    val b = Tables.vectors(s, d)
    hnswSearch(layers, g0, b, fixtureQueries(b)).orderBy(col("q_id"), col("rn"))
  }

  /** The hierarchical search itself, over whatever layer/graph state the
    * caller holds — q173 passes the write-once artifacts; the ingest
    * loop's end-to-end spec passes the [[appendToHnsw]]-maintained
    * in-memory state, proving the maintained hierarchy SERVES. `layers`
    * is (lvl, src, nb[, …]), `g0` (src, nb[, …]), `b` the corpus
    * (vec_id, v), `q` the queries (q_id, qv); emits (q_id, rn, vec_id,
    * sim_q), unordered — exactly q173's rows.
    *
    * The whole descent (the entry, [[HnHops]] hops on each of the
    * [[HnL]] layers, then [[GdHops]] L0 hops) is ONE [[GraphWalk]]: every
    * hop of a query runs inside the task that holds it, against one
    * broadcast index of the layers, graph and vectors, so a request costs
    * the job that collects them plus one stage — no job, shuffle or
    * checkpoint per hop (a repeat over persisted checkpoints reuses the
    * index: see [[GraphWalk]]). The final top-[[GdK]] is one distinct
    * heap after it. */
  private[graft] def hnswSearch(layers: DataFrame, g0: DataFrame,
                                b: DataFrame, q: DataFrame): DataFrame = {
    // the global entry point: the (level desc, md5 asc, id asc) minimum
    // — ONE scalar row from a map-combined struct-min, never a sort —
    // as the walk's one entry list, under the key every query carries
    val entry = b.select(min(struct((-maxLvl(col("vec_id"))).as("nl"),
        md5(col("vec_id").cast("string")).as("m"), col("vec_id").as("vid"))).as("e"))
      .select(lit(0L).as("key"), col("e.vid").as("nb"))
    // one walk: the entry, [[HnHops]] beam-[[HnBeam]] hops on each layer
    // from the top, then the q171 L0 hops — self kept throughout
    val schedule = WalkStage(EdgeSet.Entry, HnBeam, 1, dropSelf = false) +:
      (HnL to 1 by -1).map(l => WalkStage(EdgeSet.Layer(l), HnBeam, HnHops, dropSelf = false)) :+
      WalkStage(EdgeSet.Graph, GdBeam, GdHops, dropSelf = false)
    val frontier = GraphWalk.walk(
      q.select(col("q_id"), col("qv"), array(lit(0L)).as("keys")),
      g0, entry, b.select(col("vec_id"), col("v")), Some(layers),
      cosineQNative(col("qv"), col("v")), "sim", desc = true, schedule, emitScored = false)
    topGdK(frontier.filter(col("vec_id") =!= col("q_id")))
  }

  // q172: adaptive NN-descent (δ-termination) under the hash gate -------

  private val AdRounds = 10   // round budget the adaptive loop may use
  private val AdDelta = 0.1   // stop when < 10% of edges changed

  /** q172: the PRODUCTION descent mode — [[knnGraphBuildCounted]] with
    * δ-termination (Dong et al.'s update-rate stop) — as an
    * assertion-style oracle query (the q47/q48 verdict discipline:
    * data-dependent round counts aren't SQL-replayable, so the query
    * emits VERDICTS the oracle states as literals). Three verdicts:
    * the loop must stop strictly inside its [[AdRounds]] budget (ran
    * past round 1, converged before exhausting it), and the graph it
    * stops at must be structurally complete — every corpus vector holds
    * exactly [[KgK]] neighbors. The budget/δ are fixed literals, so a
    * regression in the convergence behavior (a descent round that stops
    * improving, a δ-counter bug) flips a verdict and fails the hash
    * gate at every sf. */
  def q172(s: SparkSession, d: String): DataFrame = {
    val b = Tables.vectors(s, d)
    val (g, executed) = knnGraphBuildCounted(b, KiK, KiUnd, AdRounds, AdDelta)
    // one verdict job instead of three (round 17): corpus size, node
    // coverage and per-node completeness come from a single outer join +
    // aggregate over the id-narrow frames (same literals emitted)
    val deg = g.filter(col("rn") <= KgK)
      .groupBy(col("src")).agg(count(lit(1)).as("c"))
    val stats = b.select(col("vec_id"), lit(1L).as("_b")).join(
        deg.withColumnRenamed("src", "vec_id"), Seq("vec_id"), "full_outer")
      .agg(coalesce(sum(col("_b")), lit(0L)).as("n"),
        coalesce(sum(when(col("c").isNotNull, 1L).otherwise(0L)), lit(0L))
          .as("deg_rows"),
        coalesce(sum(when(col("c") === KgK, 1L).otherwise(0L)), lit(0L))
          .as("full_k"))
      .collect()(0)
    // identical to the old three counts: n = |b|, deg_rows = |deg|,
    // full_k = |deg where c == KgK|; complete ⟺ full_k == n && deg_rows == n
    val complete = stats.getLong(2) == stats.getLong(0) &&
      stats.getLong(1) == stats.getLong(0)
    s.range(1).select(
      lit(AdRounds).cast("int").as("rounds_budget"),
      lit(if (executed > 1 && executed < AdRounds) 1 else 0).cast("int")
        .as("converged_early"),
      lit(if (complete) 1 else 0).cast("int").as("full_coverage"))
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q168_knn_graph" -> q168 _,
    "q169_knn_converged" -> q169 _,
    "q170_semantic_clusters" -> q170 _,
    "q171_graph_ann" -> q171 _,
    "q172_adaptive_knn" -> q172 _,
    "q173_hnsw_ann" -> q173 _,
    "q174_filtered_graph_ann" -> q174 _,
    "q175_mmr_rerank" -> q175 _,
    "q176_pq_graph_ann" -> q176 _,
    "q177_cluster_maint" -> q177 _
  )

  /** The seed + per-round CTE list (no WITH), shared by every graph
    * oracle: {p}g0 is the LSH-seeded top-`kInt` graph, {p}g{r} the
    * graph after descent round r — the SQL replay of [[knnGraphBuild]]
    * with the same caps/tiebreaks. `p` prefixes every CTE name so
    * several chains coexist in one statement (q173 builds one per HNSW
    * layer); `w` restricts the base table (" WHERE ...", the layer
    * membership predicate). */
  private def graphChain(kInt: Int, undCap: Int, rounds: Int,
                         p: String = "", w: String = ""): String = {
    val membSql = (0 until KgTables).map(t =>
      s"""SELECT vec_id, $t AS t,
          ${VectorOps.lshBucketSql("embedding", KgBits, t * KgBits)} AS bk
          FROM ${p}b""").mkString("\n        UNION ALL ")
    val roundSql = (1 to rounds).map { r =>
      val q = r - 1
      s"""${p}und$r AS MATERIALIZED (
        SELECT src, nb, sim FROM ${p}g$q
        UNION
        SELECT nb AS src, src AS nb, sim FROM ${p}g$q),
      ${p}undc$r AS (
        SELECT src, nb
        FROM (SELECT src, nb, row_number() OVER (PARTITION BY src
                ORDER BY sim DESC, nb) AS rn
              FROM ${p}und$r)
        WHERE rn <= $undCap),
      ${p}cand$r AS (
        SELECT src, nb FROM ${p}und$r
        UNION
        SELECT u1.src, u2.nb
        FROM ${p}undc$r u1 JOIN ${p}undc$r u2 ON u1.nb = u2.src
        WHERE u2.nb <> u1.src),
      ${p}g$r AS MATERIALIZED (
        SELECT src, nb, sim
        FROM (SELECT src, nb, sim, row_number() OVER (PARTITION BY src
                ORDER BY sim DESC, nb) AS rn
              FROM (SELECT c.src, c.nb,
                           ${VectorOps.cosineSql("x.embedding", "y.embedding")} AS sim
                    FROM ${p}cand$r c
                    JOIN ${p}b x ON c.src = x.vec_id
                    JOIN ${p}b y ON c.nb = y.vec_id))
        WHERE rn <= $kInt)""" }.mkString(",\n      ")
    s"""${p}b AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings$w),
      ${p}memb AS (
        $membSql),
      ${p}capped AS (
        SELECT t, bk, vec_id AS nb
        FROM (SELECT *, row_number() OVER (PARTITION BY t, bk
                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS br
              FROM ${p}memb)
        WHERE br <= $KgCap),
      ${p}seedcand AS (
        SELECT DISTINCT m.vec_id AS src, c.nb
        FROM ${p}memb m JOIN ${p}capped c
          ON m.t = c.t AND m.bk = c.bk AND m.vec_id <> c.nb),
      ${p}g0 AS MATERIALIZED (
        SELECT src, nb, sim
        FROM (SELECT src, nb, sim, row_number() OVER (PARTITION BY src
                ORDER BY sim DESC, nb) AS rn
              FROM (SELECT sc.src, sc.nb,
                           ${VectorOps.cosineSql("x.embedding", "y.embedding")} AS sim
                    FROM ${p}seedcand sc
                    JOIN ${p}b x ON sc.src = x.vec_id
                    JOIN ${p}b y ON sc.nb = y.vec_id))
        WHERE rn <= $kInt),
      $roundSql"""
  }

  /** [[graphChain]] with the leading WITH — the single-chain form the
    * q168–q172 oracles embed. */
  private def graphSql(kInt: Int, undCap: Int, rounds: Int): String =
    s"""
      WITH ${graphChain(kInt, undCap, rounds)}"""

  /** The q171 traversal as a CTE list (graph chain + LSH entry + hop
    * frontiers, through f[[GdHops]]) — shared by the q171 oracle (emit
    * = final beam cut) and the q174 oracle (emit = label-filtered cut
    * of the scored union s0..s[[GdHops]]). */
  private lazy val flatSearchSql: String = {
    val qmembSql = (0 until KgTables).map(t =>
      s"""SELECT vec_id AS q_id, $t AS t,
          ${VectorOps.lshBucketSql("embedding", KgBits, t * KgBits)} AS bk
          FROM b WHERE vec_id < $GdQ""").mkString("\n        UNION ALL ")
    val hopSql = (1 to GdHops).map { h =>
      val p = h - 1
      s"""e$h AS (
        SELECT DISTINCT f.q_id, g.nb AS vec_id
        FROM f$p f JOIN g$KiRounds g ON g.src = f.vec_id
        WHERE g.nb <> f.q_id),
      s$h AS (
        SELECT e.q_id, e.vec_id,
               ${VectorOps.cosineSql("q.embedding", "c.embedding")} AS sim
        FROM e$h e JOIN b q ON q.vec_id = e.q_id
                   JOIN b c ON c.vec_id = e.vec_id),
      f$h AS MATERIALIZED (
        SELECT q_id, vec_id, sim
        FROM (SELECT q_id, vec_id, sim, row_number() OVER (PARTITION BY q_id
                ORDER BY sim DESC, vec_id) AS rn
              FROM (SELECT q_id, vec_id, sim FROM f$p
                    UNION
                    SELECT q_id, vec_id, sim FROM s$h))
        WHERE rn <= $GdBeam)""" }.mkString(",\n      ")
    s"""${graphSql(KiK, KiUnd, KiRounds)},
      qm AS (
        $qmembSql),
      ec AS (
        SELECT DISTINCT q.q_id, c.nb AS vec_id
        FROM qm q JOIN capped c ON q.t = c.t AND q.bk = c.bk AND c.nb <> q.q_id),
      s0 AS (
        SELECT e.q_id, e.vec_id,
               ${VectorOps.cosineSql("q.embedding", "c.embedding")} AS sim
        FROM ec e JOIN b q ON q.vec_id = e.q_id
                  JOIN b c ON c.vec_id = e.vec_id),
      f0 AS MATERIALIZED (
        SELECT q_id, vec_id, sim
        FROM (SELECT q_id, vec_id, sim, row_number() OVER (PARTITION BY q_id
                ORDER BY sim DESC, vec_id) AS rn
              FROM s0)
        WHERE rn <= $GdBeam),
      $hopSql"""
  }

  override val oracle: Map[String, String] = Map(
    "q168_knn_graph" -> s"""${graphSql(KgK, KgUnd, 1)}
      SELECT src AS vec_id, rn, nb AS nb_id, sim AS sim_bp
      FROM (SELECT src, nb, sim, row_number() OVER (PARTITION BY src
              ORDER BY sim DESC, nb) AS rn
            FROM g1)
      WHERE rn <= $KgK
      ORDER BY vec_id, rn""",
    "q169_knn_converged" -> s"""${graphSql(KiK, KiUnd, KiRounds)}
      SELECT src AS vec_id, rn, nb AS nb_id, sim AS sim_bp
      FROM (SELECT src, nb, sim, row_number() OVER (PARTITION BY src
              ORDER BY sim DESC, nb) AS rn
            FROM g$KiRounds)
      WHERE rn <= $KgK
      ORDER BY vec_id, rn""",
    // The descent chain must stay OUTSIDE the RECURSIVE scope: DuckDB
    // 1.0 silently duplicates rows in the unrolled g1..g3 CTEs when the
    // whole WITH is RECURSIVE (measured: g3 7500 rows / 789 distinct vs
    // a clean 7500/7500 without the keyword), so the non-recursive
    // chain nests INSIDE the materialized edge CTE's body and only the
    // reach CTE is recursive.
    "q170_semantic_clusters" -> s"""
      WITH RECURSIVE me AS MATERIALIZED (
        ${graphSql(KiK, KiUnd, KiRounds)},
        top5 AS (
          SELECT src, nb, sim
          FROM (SELECT src, nb, sim, row_number() OVER (PARTITION BY src
                  ORDER BY sim DESC, nb) AS rn
                FROM g$KiRounds)
          WHERE rn <= $KgK),
        m AS (
          SELECT x.src AS a, x.nb AS b, x.sim
          FROM top5 x JOIN top5 y ON y.src = x.nb AND y.nb = x.src
          WHERE x.src < x.nb),
        thr AS (SELECT CAST(FLOOR(quantile_cont(sim, 0.9)) AS BIGINT) AS thr FROM m)
        SELECT a, b FROM m, thr WHERE m.sim >= thr.thr
      ),
      e AS (SELECT a AS u, b AS v FROM me UNION ALL SELECT b AS u, a AS v FROM me),
      n AS (SELECT DISTINCT u AS id FROM e),
      reach(id, r) AS (
        SELECT id, id FROM n
        UNION
        SELECT e.v AS id, reach.r FROM reach JOIN e ON e.u = reach.id
      ),
      cl AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
      rep AS (SELECT v.vec_id, COALESCE(cl.cluster_id, v.vec_id) AS cluster_id
              FROM embeddings v LEFT JOIN cl ON cl.id = v.vec_id),
      bk AS (SELECT vec_id, cluster_id,
                    CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 4)) AS INT) % 10000 AS bucket
             FROM rep)
      SELECT vec_id, cluster_id,
             CASE WHEN vec_id = cluster_id THEN 1 ELSE 0 END AS kept,
             CASE WHEN bucket < 8000 THEN 'train'
                  WHEN bucket < 9000 THEN 'val'
                  ELSE 'test' END AS split
      FROM bk ORDER BY vec_id""",
    // the beam search replayed hop by hop over the same g3 chain: f0 is
    // the LSH-entry frontier, f{h} the beam after hop h — identical
    // (sim desc, vec_id) cuts, so the hash gate covers the whole search
    "q171_graph_ann" -> s"""$flatSearchSql
      SELECT q_id, rn, vec_id, sim AS sim_q
      FROM (SELECT q_id, vec_id, sim, row_number() OVER (PARTITION BY q_id
              ORDER BY sim DESC, vec_id) AS rn
            FROM f$GdHops)
      WHERE rn <= $GdK
      ORDER BY q_id, rn""",
    // same traversal, filtered emit: vis is everything the search
    // scored (entry s0 + every hop's s{h}; UNION dedups like the
    // engine's distinct heap), cut top-k per query AFTER the label join
    "q174_filtered_graph_ann" -> s"""$flatSearchSql,
      vis AS (
        SELECT q_id, vec_id, sim FROM s0
        ${(1 to GdHops).map(h => s"UNION SELECT q_id, vec_id, sim FROM s$h").mkString("\n        ")})
      SELECT q_id, rn, vec_id, sim AS sim_q
      FROM (SELECT v.q_id, v.vec_id, v.sim, row_number() OVER (PARTITION BY v.q_id
              ORDER BY v.sim DESC, v.vec_id) AS rn
            FROM vis v JOIN embeddings e ON e.vec_id = v.vec_id
            WHERE e.label = $FgLabel)
      WHERE rn <= $GdK
      ORDER BY q_id, rn""",
    // the greedy MMR loop unrolled: m1 = beam rank-1, m{i} = argmax of
    // 7·sim − 3·(max sim to the selected set) among unselected beam
    // rows — integer bp throughout, so each argmax is bit-deterministic
    "q175_mmr_rerank" -> {
      val steps = (2 to MmrK).map { i =>
        val p = i - 1
        s"""pen$i AS (
          SELECT c.q_id, c.vec_id, c.sim,
                 MAX(${VectorOps.cosineSql("x.embedding", "y.embedding")}) AS pen
          FROM c0 c
          JOIN sel$p s ON s.q_id = c.q_id
          JOIN b x ON x.vec_id = c.vec_id
          JOIN b y ON y.vec_id = s.vec_id
          WHERE NOT EXISTS (SELECT 1 FROM sel$p t
                            WHERE t.q_id = c.q_id AND t.vec_id = c.vec_id)
          GROUP BY c.q_id, c.vec_id, c.sim),
        m$i AS (
          SELECT q_id, vec_id, sim
          FROM (SELECT q_id, vec_id, sim, row_number() OVER (PARTITION BY q_id
                  ORDER BY $MmrLam * sim - $MmrPen * pen DESC, vec_id) AS rn
                FROM pen$i)
          WHERE rn = 1),
        sel$i AS (SELECT * FROM sel$p UNION ALL SELECT * FROM m$i)""" }.mkString(",\n      ")
      s"""$flatSearchSql,
      c0 AS MATERIALIZED (SELECT q_id, vec_id, sim FROM f$GdHops),
      m1 AS (
        SELECT q_id, vec_id, sim
        FROM (SELECT q_id, vec_id, sim, row_number() OVER (PARTITION BY q_id
                ORDER BY sim DESC, vec_id) AS rn
              FROM c0)
        WHERE rn = 1),
      sel1 AS (SELECT * FROM m1),
      $steps
      SELECT q_id, rn, vec_id, sim AS sim_q
      FROM (${(1 to MmrK).map(i =>
        s"SELECT q_id, $i AS rn, vec_id, sim FROM m$i").mkString("\n            UNION ALL ")})
      ORDER BY q_id, rn"""
    },
    "q172_adaptive_knn" -> s"""
      SELECT CAST($AdRounds AS INT) AS rounds_budget,
             CAST(1 AS INT) AS converged_early,
             CAST(1 AS INT) AS full_coverage""",
    "q177_cluster_maint" -> s"""
      SELECT CAST(1 AS INT) AS coverage_ok,
             CAST(1 AS INT) AS monotone_ok,
             CAST(1 AS INT) AS rebuild_refines_ok""",
    // the ADC-scored traversal: same graph chain and entry candidates
    // as q171, but every frontier ranks by the PQ asymmetric distance
    // (q119's list_sum ADC over the 16-entry codebook), exact cosine
    // only in the final rerank CTE — the DiskANN split replayed
    "q176_pq_graph_ann" -> {
      val adcOf = (cand: String, out: String) => s"""$out AS (
        SELECT cd.q_id, cd.vec_id,
               CAST(floor(list_sum(list(
                 ${VectorOps.subL2sqSql("q.qv", "pcb.cv", "pc.j", LlmQueries.PqDs)}
                 ORDER BY pc.j)) * 10000) AS BIGINT) AS ad
        FROM $cand cd
        JOIN pcodes pc ON pc.vec_id = cd.vec_id
        JOIN pcb ON pcb.k = pc.k
        JOIN pq q ON q.q_id = cd.q_id
        GROUP BY cd.q_id, cd.vec_id)"""
      val hopSql = (1 to GdHops).map { h =>
        val p = h - 1
        s"""pe$h AS (
          SELECT DISTINCT f.q_id, g.nb AS vec_id
          FROM pf$p f JOIN g$KiRounds g ON g.src = f.vec_id
          WHERE g.nb <> f.q_id),
        ${adcOf(s"pe$h", s"pas$h")},
        pf$h AS MATERIALIZED (
          SELECT q_id, vec_id, ad
          FROM (SELECT q_id, vec_id, ad, row_number() OVER (PARTITION BY q_id
                  ORDER BY ad, vec_id) AS rn
                FROM (SELECT q_id, vec_id, ad FROM pf$p
                      UNION
                      SELECT q_id, vec_id, ad FROM pas$h))
          WHERE rn <= $PfBeam)""" }.mkString(",\n      ")
      val qmembSql = (0 until KgTables).map(t =>
        s"""SELECT vec_id AS q_id, $t AS t,
            ${VectorOps.lshBucketSql("embedding", KgBits, t * KgBits)} AS bk
            FROM b WHERE vec_id < $GdQ""").mkString("\n        UNION ALL ")
      s"""${graphSql(KiK, KiUnd, KiRounds)},
      pq AS (SELECT vec_id AS q_id, embedding AS qv FROM b WHERE vec_id < $GdQ),
      pcb AS (SELECT vec_id AS k, embedding AS cv FROM embeddings WHERE vec_id < 16),
      psub AS (SELECT b.vec_id, g.j, pcb.k,
                 row_number() OVER (PARTITION BY b.vec_id, g.j
                   ORDER BY ${VectorOps.subL2sqSql("b.embedding", "pcb.cv", "g.j", LlmQueries.PqDs)}, pcb.k) AS rnk
               FROM b, pcb, generate_series(0, ${LlmQueries.PqM - 1}) AS g(j)),
      pcodes AS MATERIALIZED (SELECT vec_id, j, k FROM psub WHERE rnk = 1),
      pqm AS (
        $qmembSql),
      pec AS (
        SELECT DISTINCT q.q_id, c.nb AS vec_id
        FROM pqm q JOIN capped c ON q.t = c.t AND q.bk = c.bk AND c.nb <> q.q_id),
      ${adcOf("pec", "pas0")},
      pf0 AS MATERIALIZED (
        SELECT q_id, vec_id, ad
        FROM (SELECT q_id, vec_id, ad, row_number() OVER (PARTITION BY q_id
                ORDER BY ad, vec_id) AS rn
              FROM pas0)
        WHERE rn <= $PfBeam),
      $hopSql,
      pool AS (
        SELECT q_id, vec_id
        FROM (SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
                ORDER BY ad, vec_id) AS rn
              FROM pf$GdHops)
        WHERE rn <= $PfRerank),
      rer AS (
        SELECT p.q_id, p.vec_id,
               ${VectorOps.cosineSql("q.embedding", "c.embedding")} AS sim
        FROM pool p JOIN b q ON q.vec_id = p.q_id
                    JOIN b c ON c.vec_id = p.vec_id)
      SELECT q_id, rn, vec_id, sim AS sim_q
      FROM (SELECT q_id, vec_id, sim, row_number() OVER (PARTITION BY q_id
              ORDER BY sim DESC, vec_id) AS rn
            FROM rer)
      WHERE rn <= $GdK
      ORDER BY q_id, rn"""
    },
    // the hierarchical search replayed step by step: one graphChain per
    // HNSW layer (l{l}g1 = the layer's q168-recipe graph), hf{i} the
    // frontier after upper-layer step i, f{h} the L0 beam after hop h —
    // identical level hash, entry order, and (sim desc, vec_id) cuts,
    // so the hash gate covers the whole descent
    "q173_hnsw_ann" -> {
      val hashSql = "CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)"
      val layerChains = (1 to HnL).map(l =>
        graphChain(KgK, KgUnd, 1, p = s"l$l",
          w = s" WHERE $hashSql % ${lvlMod(l)} = 0")).mkString(",\n      ")
      val lvlCase = (HnL to 1 by -1).map(l =>
        s"WHEN $hashSql % ${lvlMod(l)} = 0 THEN $l").mkString(" ")
      def scoreSql(i: Int): String =
        s"""hs$i AS (
          SELECT e.q_id, e.vec_id,
                 ${VectorOps.cosineSql("q.embedding", "c.embedding")} AS sim
          FROM he$i e JOIN b q ON q.vec_id = e.q_id
                      JOIN b c ON c.vec_id = e.vec_id)"""
      val upperSql = (1 to HnL * HnHops).map { i =>
        val l = HnL - (i - 1) / HnHops
        s"""he$i AS (
          SELECT DISTINCT f.q_id, g.nb AS vec_id
          FROM hf${i - 1} f JOIN l${l}g1 g ON g.src = f.vec_id),
        ${scoreSql(i)},
        hf$i AS MATERIALIZED (
          SELECT q_id, vec_id, sim
          FROM (SELECT q_id, vec_id, sim, row_number() OVER (PARTITION BY q_id
                  ORDER BY sim DESC, vec_id) AS rn
                FROM (SELECT q_id, vec_id, sim FROM hf${i - 1}
                      UNION
                      SELECT q_id, vec_id, sim FROM hs$i))
          WHERE rn <= $HnBeam)""" }.mkString(",\n      ")
      val hopSql = (1 to GdHops).map { h =>
        val i = HnL * HnHops + h
        val prev = if (h == 1) s"hf${HnL * HnHops}" else s"hf${i - 1}"
        s"""he$i AS (
          SELECT DISTINCT f.q_id, g.nb AS vec_id
          FROM $prev f JOIN g$KiRounds g ON g.src = f.vec_id),
        ${scoreSql(i)},
        hf$i AS MATERIALIZED (
          SELECT q_id, vec_id, sim
          FROM (SELECT q_id, vec_id, sim, row_number() OVER (PARTITION BY q_id
                  ORDER BY sim DESC, vec_id) AS rn
                FROM (SELECT q_id, vec_id, sim FROM $prev
                      UNION
                      SELECT q_id, vec_id, sim FROM hs$i))
          WHERE rn <= $GdBeam)""" }.mkString(",\n      ")
      s"""${graphSql(KiK, KiUnd, KiRounds)},
      $layerChains,
      qt AS (SELECT vec_id AS q_id FROM b WHERE vec_id < $GdQ),
      entry AS (
        SELECT vec_id
        FROM (SELECT vec_id, CASE $lvlCase ELSE 0 END AS maxlvl FROM b)
        ORDER BY maxlvl DESC, md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT 1),
      he0 AS (SELECT q.q_id, e.vec_id FROM qt q CROSS JOIN entry e),
      ${scoreSql(0)},
      hf0 AS MATERIALIZED (
        SELECT q_id, vec_id, sim
        FROM (SELECT q_id, vec_id, sim, row_number() OVER (PARTITION BY q_id
                ORDER BY sim DESC, vec_id) AS rn
              FROM hs0)
        WHERE rn <= $HnBeam),
      $upperSql,
      $hopSql
      SELECT q_id, rn, vec_id, sim AS sim_q
      FROM (SELECT q_id, vec_id, sim, row_number() OVER (PARTITION BY q_id
              ORDER BY sim DESC, vec_id) AS rn
            FROM hf${HnL * HnHops + GdHops}
            WHERE vec_id <> q_id)
      WHERE rn <= $GdK
      ORDER BY q_id, rn"""
    })
}
