package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Checkpoints.{Pins, persistedDuring}

/** Link-graph analytics for corpus curation. Web-scale training-data
  * pipelines weight documents by the link structure of their sources
  * (harvest ranking, seed selection, spam demotion) — a PageRank-style
  * score over the domain/document link graph is the standard signal.
  *
  * Scale shape: each power iteration is ONE shuffle — ranks hash-join
  * to edges on the source key (both sides arrive hash-partitioned on
  * it, so the edge side's exchange is planned once and reused), then
  * contributions two-phase-aggregate on the destination. Rank state is
  * 16 B/node; edges carry (src, dst, outdeg) only. Every round is
  * pinned, so iteration k plans over one round and reads the previous
  * round's blocks — unpinned, it re-executes all k-1 predecessors (the
  * quadratic-lineage trap).
  *
  * Arithmetic is FIXED-POINT INTEGER (rank ×1e6, floor division):
  * BIGINT sums are exact and order-invariant, so the result is
  * bit-identical across partitionings, retries, and engines — a
  * floating-point PageRank differs in the low bits per run, which
  * makes cross-engine verification impossible. Dangling-node mass
  * (nodes with no out-edges) is dropped, the standard sparse-engine
  * simplification; ranks then converge toward the damped visit
  * frequency scaled so the no-inlink floor is `(1-d) × 1e6`.
  */
object Graphs {

  /** Fixed-point PageRank. `edges`: (srcCol, dstCol) — duplicates are
    * counted as parallel edges. `nodes`: one row per node id (nodes
    * with no in-links keep the damping floor). `iters` fixed power
    * iterations, damping = dampingPermille/1000 (default 850 = 0.85).
    * Returns (node, rank_fp): rank scaled by 1e6, average ≈ 1e6.
    */
  def pageRank(nodes: DataFrame, nodeCol: String,
               edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, dampingPermille: Long = 850L): DataFrame = {
    require(iters >= 1 && dampingPermille >= 0 && dampingPermille <= 1000)
    val floorFp = (1000L - dampingPermille) * 1000L // (1-d) × 1e6
    val n = nodes.select(col(nodeCol).as("node"))
    // Outdegree folded onto the edge list once, up front; pinned so
    // every iteration rereads materialized blocks instead of
    // re-scanning the source.
    val deg = edges.groupBy(col(srcCol)).agg(count(lit(1)).as("outdeg"))
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .join(deg.withColumnRenamed(srcCol, "src"), "src")
      .repartition(col("src"))
      .pin
    // LAZY per-iteration pins: each pin still compiles its iteration's
    // plan immediately (so Catalyst never sees more than one iteration
    // of depth) and still stores its rows at materialization, but the
    // caller's FIRST action now runs the whole power iteration as one
    // job's stage chain instead of paying a scheduled job per
    // iteration. Each intermediate rank frame has exactly one consumer
    // (the next iteration), so the strictly-ordered shuffle
    // dependencies compute every marked RDD exactly once. `e` stays
    // EAGER: it is read by every iteration's join stage, and concurrent
    // stages recompute an unmaterialized frame instead of sharing it.
    var ranks = n.select(col("node"), lit(1000000L).as("r"))
      .pinLazily
    for (_ <- 1 to iters) {
      val contribs = e.join(ranks, col("src") === col("node"))
        // `div`, not `/`: long division stays exact where the
        // double-rounded quotient can land on the wrong side of an
        // integer boundary once operands outgrow the mantissa's ulp.
        .select(col("dst"), expr("r div outdeg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      ranks = n.join(contribs, col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(floorFp) + expr(s"($dampingPermille * coalesce(s, 0L)) div 1000"))
            .as("r"))
        .pinLazily
    }
    ranks.select(col("node"), col("r").as("rank_fp"))
  }

  /** Per-node triangle counts over an undirected graph — the local
    * clustering signal curation pipelines use to separate organic link
    * neighborhoods from spam farms (dense triangle clusters) and to
    * weight near-dup graph nodes by cohesion.
    *
    * Degree-ordered wedge closing, all joins/aggregations: edges are
    * oriented from the (degree, id)-smaller endpoint to the larger, so
    * every out-neighborhood has O(√m) size and the wedge set — the
    * one intermediate — is bounded by Σ outdeg² = O(m^1.5) TOTAL, not
    * per-hot-node quadratic (a raw three-way self-join on a skewed
    * graph explodes on the highest-degree node; orientation caps
    * exactly that). Each triangle {a,b,c} materializes exactly once,
    * at its orientation-minimal apex. Shuffles carry (long, long)
    * pairs only.
    *
    * Returns (node, n_tri) for nodes in at least one triangle.
    */
  def triangleCounts(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    // canonical undirected edge set (dedup, no self-loops)
    val und = edges
      .select(least(col(aCol), col(bCol)).as("u"), greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val deg = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient by the (deg, id) total order — ties broken on id make the
    // orientation a DAG regardless of degree collisions
    val withDeg = und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
    val oriented = withDeg.select(
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("d")))
          .otherwise(struct(col("v").as("s"), col("u").as("d"))).as("e"))
      .select(col("e.s").as("s"), col("e.d").as("d"))
      .pin // consumed three times below
    // wedges (s; b, c): unordered out-neighbor pairs in both orders —
    // the closing edge b→c exists in exactly ONE orientation, so the
    // equi-join keeps each triangle once, at apex s
    val e1 = oriented.select(col("s"), col("d").as("b"))
    val e2 = oriented.select(col("s"), col("d").as("c"))
    val wedges = e1.join(e2, Seq("s")).filter(col("b") =!= col("c")).as("w")
    val closing = oriented.select(col("s").as("cs"), col("d").as("cd"))
    val tris = wedges.join(closing,
      col("w.b") === col("cs") && col("w.c") === col("cd"))
      .select(col("w.s").as("x"), col("w.b").as("y"), col("w.c").as("z"))
    tris.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
  }

  /** k-core: the maximal subgraph in which every node keeps degree
    * ≥ k — the standard density filter for link-graph curation (spam
    * farms and isolated chains peel away; the well-connected core
    * survives). Input edges are undirected (both orientations are
    * normalized and deduplicated here).
    *
    * Iterative peeling: each round recomputes degrees over the
    * surviving subgraph (one two-phase agg) and drops nodes under k
    * (two semi-joins keep edges with both endpoints alive) — removing
    * a node can push its neighbors under k, so rounds CASCADE; the
    * fixed point is reached when a round removes nothing. Per round
    * the shuffle carries (node, deg) pairs — 16 B/row — and the edge
    * set only shrinks; a pin per round avoids the quadratic
    * re-execution, exactly as in [[pageRank]]. Peeling is deterministic
    * (the k-core is unique), so any engine replaying the same rounds
    * lands on the identical survivor set.
    *
    * Returns (node, core_deg) for surviving nodes, with core_deg the
    * node's degree INSIDE the core. Throws if `maxRounds` passes did
    * not reach the fixed point (callers replaying the peel elsewhere
    * — the gate's unrolled oracle — need convergence to be a fact,
    * not a hope). */
  def kCore(edges: DataFrame, aCol: String, bCol: String, k: Int,
            maxRounds: Int = 20): DataFrame = {
    require(k >= 1 && maxRounds >= 1)
    val und0 = edges.select(
        least(col(aCol), col(bCol)).as("u"), greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    // LAZY per-round pins (the connectedComponents shape): the round's
    // count() materializes the pinned blocks inside its own job, so a
    // peel round costs ONE job instead of three (materialize +
    // next.count + sym.count) — the prior count is carried in a local
    // instead of re-asked of the pinned frame
    val sc = edges.sparkSession.sparkContext
    var (sym, freeSym) = persistedDuring(sc)(und0.select(col("u").as("a"), col("v").as("b"))
      .unionAll(und0.select(col("v").as("a"), col("u").as("b"))).pinLazily)
    var nSym = sym.count()
    var converged = false
    var round = 0
    while (round < maxRounds && !converged) {
      val alive = sym.groupBy(col("a")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("a").as("node"))
      val (next, freeNext) = persistedDuring(sc)(sym
        .join(alive.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(alive.select(col("node").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b")).pinLazily)
      val nNext = next.count()
      converged = nNext == nSym
      // the previous round's blocks are dead once `next` is materialized
      freeSym()
      sym = next
      freeSym = freeNext
      nSym = nNext
      round += 1
    }
    require(converged, s"kCore: no fixed point within $maxRounds rounds")
    sym.groupBy(col("a").as("node")).agg(count(lit(1)).as("core_deg"))
  }
}
