package graft.ops

import graft.ops.Ck.CkOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pure graph algebra shared by the query surface
  * ([[graft.queries.GraphQueries]]) and the standing-state layout
  * ([[graft.sources.GraphStateStore]]): basket → edge construction and
  * the degree-ordered per-node triangle count. Extracted so the store
  * can BUILD the state the incremental views later READ without a
  * sources → queries dependency; both callers' oracles were re-verified
  * after the move (the functions are byte-identical to the r9 bodies).
  */
object Graph {

  /** Undirected co-purchase edges: parts appearing in the same order,
    * emitted in both directions, deduplicated. Self-join of the distinct
    * (order, part) incidence list on the order key — at 100 TB the
    * per-basket width bounds the blow-up (TPC-H baskets are ≤ a few
    * dozen lines; a retail-scale pipeline caps pathological baskets with
    * a per-order top-k guard before pairing, the `q_topn_per_group`
    * heap). Every node of this graph has degree ≥ 1 by construction
    * (an edge implies both endpoints), so rank updates need no
    * dangling-mass term and no left-join backfill.
    */
  def coPurchaseEdges(li: DataFrame): DataFrame = {
    val inc = li.select(col("l_orderkey").as("ok"),
      col("l_partkey").as("pid")).distinct()
    inc.as("a").join(inc.as("b"),
        col("a.ok") === col("b.ok") && col("a.pid") =!= col("b.pid"))
      .select(col("a.pid").as("src"), col("b.pid").as("dst"))
      .distinct()
  }

  /** Both directions of a canonical (src < dst) edge list. */
  def bothDirs(c: DataFrame): DataFrame =
    c.union(c.select(col("dst").as("src"), col("src").as("dst")))

  /** Per-node triangle counts of a canonical (src < dst) undirected edge
    * list by DEGREE-ORDERED orientation — the published fix for "the
    * curse of the last reducer" (Suri & Vassilvitskii, WWW'11; Schank's
    * thesis): orient every edge toward its (degree, id)-larger endpoint,
    * enumerate wedges only from each node's ORIENTED out-neighbors, and
    * close each wedge with one oriented-edge probe. Every triangle is
    * counted exactly once (at its (degree, id)-smallest corner), and the
    * wedge space is Σ outdeg² with outdeg ≤ O(√|E|) — a hub with a
    * million neighbors contributes almost no wedges because its edges
    * all point AWAY from smaller-degree nodes, which is exactly what
    * kills the hot-reducer cliff a naive neighbor-pair expansion hits at
    * 100 TB. Returns (node, triangles) for triangle-participating nodes.
    * `und` must already be MATERIALIZED (localCheckpoint / store read)
    * by the caller — it feeds the degree join, both wedge sides, and the
    * closing probe.
    */
  def cornerCounts(und: DataFrame): DataFrame =
    cornersOf(orientedTriangles(und))

  /** Every triangle of the canonical edge list, exactly once, as an
    * (a, b, c) row — the shared enumeration behind [[cornerCounts]] and
    * [[edgeCommonCounts]] (extracted r11 so the standing-state build
    * pays the wedge join ONCE for both derived tables).
    */
  def orientedTriangles(und: DataFrame): DataFrame = {
    val deg = und.select(explode(array(col("src"), col("dst"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("node").as("src"), col("deg").as("ds")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("dd")), "dst")
    val fwd = col("ds") < col("dd") ||
      (col("ds") === col("dd") && col("src") < col("dst"))
    // localCheckpoint: the oriented list feeds BOTH wedge sides and the
    // closing-edge probe — materialized once (|E| rows of 3 longs), the
    // three subtrees reuse it instead of re-running the degree joins.
    val e = withDeg.select(
      when(fwd, col("src")).otherwise(col("dst")).as("u"),
      when(fwd, col("dst")).otherwise(col("src")).as("v"),
      when(fwd, col("dd")).otherwise(col("ds")).as("dv"))
      .ckpt()
    val wedges = e.as("e1").join(e.as("e2"),
        col("e1.u") === col("e2.u") &&
          (col("e1.dv") < col("e2.dv") ||
            (col("e1.dv") === col("e2.dv") && col("e1.v") < col("e2.v"))))
      .select(col("e1.u").as("a"), col("e1.v").as("b"), col("e2.v").as("c"))
    wedges.join(e.select(col("u").as("b"), col("v").as("c")), Seq("b", "c"))
      .select("a", "b", "c")
  }

  /** (node, triangles) from a triangle list. */
  def cornersOf(tri: DataFrame): DataFrame =
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))

  /** (src, dst, common) per CANONICAL edge from a triangle list: each
    * triangle contributes one common neighbor to each of its three
    * edges — the tie-strength numerator, maintained beside the corner
    * counts so ◆ `q_tie_strength` can serve from standing state.
    */
  def tiesOf(tri: DataFrame): DataFrame =
    tri.select(explode(array(
        struct(least(col("a"), col("b")).as("x"),
          greatest(col("a"), col("b")).as("y")),
        struct(least(col("a"), col("c")).as("x"),
          greatest(col("a"), col("c")).as("y")),
        struct(least(col("b"), col("c")).as("x"),
          greatest(col("b"), col("c")).as("y")))).as("p"))
      .select(col("p.x").as("src"), col("p.y").as("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("common"))

  /** Per-canonical-edge common-neighbor counts (see [[tiesOf]]). */
  def edgeCommonCounts(und: DataFrame): DataFrame =
    tiesOf(orientedTriangles(und))

  /** The SIGNED delta-triangle enumeration under edge insertion — the
    * algebra behind ◆ `q_incr_triangles` / `q_incr_ties` AND the
    * store's chained advance ([[graft.sources.GraphStateStore
    * .advanceChained]]), extracted here so every consumer re-keys
    * the SAME enumerated instances and cannot disagree about which
    * triangles the delta added. When the novel canonical edge set N is
    * inserted into standing edges O, each triangle with k ≥ 1 novel
    * edges appears
    *
    *   +once per contained novel edge                 (A1, k times),
    *   −once per novel-edge pair sharing a vertex     (A2, C(k,2)),
    *   +once per all-novel min-vertex enumeration     (A3, C(k,3)),
    *
    * and k − C(k,2) + C(k,3) = 1 for k = 1, 2, 3 — every NEW triangle
    * nets exactly one. Each term's cost is DELTA-DRIVEN: novel edges
    * joined against the full adjacency, never a re-enumeration of the
    * standing graph. Returns ONE signed instance list
    * (ca, cb, cc, w ∈ {+1, −1}) — a refresh enumerates once and every
    * consumer re-keys it: [[cornerDeltaOf]] (per-node), [[tieDeltaOf]]
    * (per-edge). `oldEdges`/`novelEdges` are canonical (src < dst) and
    * disjoint.
    */
  def deltaTriangleInstances(oldEdges: DataFrame,
      novelEdges: DataFrame): DataFrame = {
    val fullC = oldEdges.unionByName(novelEdges)
    val fullD = bothDirs(fullC)
    val novelD = bothDirs(novelEdges)
    // A1: per novel edge (a, b): common neighbors w in the FULL graph
    val a1 = novelEdges.as("n")
      .join(fullD.as("f1"), col("n.src") === col("f1.src"))
      .join(fullD.as("f2"),
        col("n.dst") === col("f2.src") && col("f1.dst") === col("f2.dst"))
      .select(col("n.src").as("ca"), col("n.dst").as("cb"),
        col("f1.dst").as("cc"))
    // A2: per unordered pair of novel edges sharing vertex u — one
    // novel-novel wedge (u; a < b) — closed by ANY full edge (a, b)
    val a2 = novelD.as("x")
      .join(novelD.as("y"),
        col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
      .join(fullC.as("cl"),
        col("x.dst") === col("cl.src") && col("y.dst") === col("cl.dst"))
      .select(col("x.src").as("ca"), col("x.dst").as("cb"),
        col("y.dst").as("cc"))
    // A3: all-novel triangles, once each (min-vertex a < b < c)
    val a3 = novelEdges.as("x")
      .join(novelEdges.as("y"),
        col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
      .join(novelEdges.as("cl"),
        col("x.dst") === col("cl.src") && col("y.dst") === col("cl.dst"))
      .select(col("x.src").as("ca"), col("x.dst").as("cb"),
        col("y.dst").as("cc"))
    Seq(a1 -> 1L, a2 -> -1L, a3 -> 1L)
      .map { case (t, w) => t.withColumn("w", lit(w)) }
      .reduce(_.unionByName(_))
  }

  /** Corner-keyed net delta (node, delta_tri) of a signed triangle
    * enumeration — each instance credits its three corners.
    */
  def cornerDeltaOf(signed: DataFrame): DataFrame =
    signed
      .select(explode(array(col("ca"), col("cb"), col("cc"))).as("node"),
        col("w"))
      .groupBy("node").agg(sum("w").as("delta_tri"))

  /** Edge-keyed net delta (src, dst, delta_common) of a signed triangle
    * enumeration — each instance credits its three canonical edges.
    */
  def tieDeltaOf(signed: DataFrame): DataFrame =
    signed
      .select(explode(array(
          struct(least(col("ca"), col("cb")).as("x"),
            greatest(col("ca"), col("cb")).as("y")),
          struct(least(col("ca"), col("cc")).as("x"),
            greatest(col("ca"), col("cc")).as("y")),
          struct(least(col("cb"), col("cc")).as("x"),
            greatest(col("cb"), col("cc")).as("y")))).as("p"),
        col("w"))
      .select(col("p.x").as("src"), col("p.y").as("dst"), col("w"))
      .groupBy("src", "dst").agg(sum("w").as("delta_common"))

  /** Total rank mass for integer PageRank: 10¹² units. */
  val RankUnit = 1000000000000L
  /** (1−d)·RankUnit with d = 0.85, exact: 0.15·10¹² = 1.5·10¹¹. */
  val RankBase = 150000000000L
  /** Fixed rounds — the ◆ `q_item_rank` oracle unrolls exactly these. */
  val RankRounds = 5

  /** EXACT-INTEGER PageRank (◆ `q_item_rank`'s fixed point, extracted
    * r12 so [[graft.sources.GraphStateStore]] can MAINTAIN the rank
    * vector as a standing table): ranks live in units of 10⁻¹² of total
    * mass, r₀ = U div N, each round
    * r'(v) = B div N + (85 · Σ_{(u,v)∈E} (r(u) div deg(u))) div 100.
    * Integer division is associative however partitions sum, so the
    * result is bit-identical on any plan — which is what lets a
    * DuckDB oracle replay the fixed point and what makes the
    * materialized vector answer-equal to an in-query recompute.
    *
    * Scale shape: `edges` (directed, both directions) is the loop
    * INVARIANT — the caller materializes it once (localCheckpoint /
    * standing bucketed layout); per-round state is only the |V|-row
    * vector, BROADCAST as contributions onto the stationary edge list
    * (map-side hash join, no edge shuffle ever) and hash-aggregated
    * onto dst with map-side partials. `deg` is (src, deg).
    */
  def integerPageRank(edges: DataFrame, deg: DataFrame): DataFrame =
    integerPageRankRounds(edges, deg).last

  /** Every round's vector r₀..r₅ of [[integerPageRank]] (r12): the
    * incremental-maintenance path ([[incrRank5]]) needs the standing
    * graph's INTERMEDIATE vectors, because round k of the delta
    * recompute reads round k−1 values for unaffected in-neighbors.
    * Returned in round order; element 0 is the uniform U div N vector,
    * element [[RankRounds]] is the fixed point [[integerPageRank]]
    * returns. Each round is lazily checkpointed like the single-vector
    * loop (the unrolled plan tree is otherwise exponential in depth).
    */
  def integerPageRankRounds(edges: DataFrame, deg: DataFrame)
      : Seq[DataFrame] = {
    val nC = deg.agg(count(lit(1)).as("n"))
    var ranks = deg.crossJoin(broadcast(nC))
      .select(col("src").as("node"), expr(s"${RankUnit}L div n").as("r"))
    val rounds = scala.collection.mutable.ArrayBuffer(ranks)
    for (_ <- 1 to RankRounds) {
      val contrib = ranks.join(deg, ranks("node") === deg("src"))
        .select(col("node"), expr("r div deg").as("c"))
      ranks = edges.join(broadcast(contrib),
          edges("src") === contrib("node"))
        .groupBy("dst").agg(sum("c").as("cin"))
        .crossJoin(broadcast(nC))
        .select(col("dst").as("node"),
          expr(s"${RankBase}L div n + (85L * cin) div 100L").as("r"))
        .ckpt(eager = false)
      rounds += ranks
    }
    rounds.toSeq
  }

  /** Round at which the most recent [[incrRank5]] call detected
    * saturation (0 = never) — spec instrumentation, mirroring
    * [[graft.llm.Bpe.lastBatchedIterations]]: GraphStateSpec asserts
    * the switch FIRES on the dense fixture and does NOT on the
    * non-saturating path, so a silent regression to always-frontier
    * (or always-plain) fails a test, not just a benchmark.
    */
  @volatile var lastSaturatedAtRound: Int = 0

  /** EXACT incremental maintenance of the [[RankRounds]]-round integer
    * PageRank fixed point under edge insertion with an UNCHANGED node
    * set (r12 — the `q_incr_triangles`/`q_incr_ties` delta discipline
    * lifted to the iterative fixed point). The precondition is forced
    * by the arithmetic: r₀ = U div N and every round adds B div N, so a
    * node-count change perturbs EVERY rank — callers detect new nodes
    * and fall back to the full loop (a loud rebuild, never a silent
    * approximation).
    *
    * The algebra: rank changes propagate only FORWARD along edges, one
    * hop per round. Seed set S = endpoints of novel edges (their degree
    * — hence their contribution r div deg — changed, and novel edges
    * route contributions that did not exist). Round k's affected set is
    * the out-neighborhood of (affected_{k−1} ∪ S) in the NEW graph; only
    * those nodes are recomputed, reading round k−1 values from the
    * standing vectors overlaid with round k−1's recomputed overlay. By
    * induction every node whose r_k differs is recomputed (the affected
    * set is a superset — a recompute that lands on the old value is
    * harmless), so the merged result is bit-identical to running the
    * full loop on the new graph — which is exactly what the ◆ oracle
    * checks definitionally.
    *
    * Scale shape: per round the work is one frontier expansion and one
    * in-edge aggregation of the affected set — DELTA-DRIVEN while the
    * 5-hop forward frontier of the touched nodes is small against |V|
    * (a thousand new edges in a trillion-edge graph), the regime nightly
    * maintenance serves. On a small-diameter graph the frontier
    * saturates — and that is DETECTED, not endured: while unsaturated,
    * each round's affected set is already materialized (it feeds the
    * semi-join), so comparing its count to |V| is one cheap read; once
    * affected covers ≥ ⅔ of the nodes, all later rounds drop the
    * frontier machinery and run the plain [[integerPageRank]] round
    * over EVERY node. That switch is exact for ANY affected-set size —
    * the affected set is an optimization, never a correctness
    * requirement: recomputing a node whose inputs didn't change just
    * reproduces its standing value, and the coalesce merge makes that a
    * no-op — so past the threshold the cost degrades to the full
    * loop's (one |E| pass per round), never to frontier machinery ON
    * TOP of it. The standing vectors are |V|-row columnar scans; the
    * |E|-scale per-round aggregation of the full loop is what the
    * unsaturated path avoids.
    *
    * `fullDirected` = both directions of old ∪ novel edges (the caller
    * materializes it — it feeds every round); `degNew` = (src, deg) of
    * the new graph; `seeds` = (node) endpoints of novel edges. Returns
    * the merged round-[[RankRounds]] vector (node, r) for ALL nodes.
    */
  def incrRank5(oldRounds: Seq[DataFrame], fullDirected: DataFrame,
      degNew: DataFrame, seeds: DataFrame,
      nNodes: Option[Long] = None): DataFrame = {
    require(oldRounds.size == RankRounds + 1,
      s"need rounds 0..$RankRounds, got ${oldRounds.size}")
    lastSaturatedAtRound = 0
    val nC = degNew.agg(count(lit(1)).as("n"))
    // |V| of the new graph = every node with an edge (bothDirs makes the
    // src- and dst-sets identical) — the saturation yardstick. A caller
    // holding the staged degree table's count passes it (r16: the
    // per-call count() was a driver-synchronous job on the serving
    // path); absent, it computes here.
    val nAll = nNodes.getOrElse(degNew.count())
    // lazy checkpoint (r16): cuts lineage but materializes inside round
    // 1's affected-set job instead of as its own synchronous job —
    // callers pass small (often pre-staged) seed sets
    val s0 = seeds.select(col("node").as("src")).distinct()
      .ckpt(eager = false)
    var overlay: DataFrame = null // round k's recomputed (node, r)
    var saturated = false
    // set once a PLAIN round has run: its output covers every node with
    // an in-edge = every node (bothDirs), so the standing-vector merge
    // is an identity and later rounds read the overlay directly
    var overlayComplete = false
    // merged = the advanced round-k vector for ALL nodes — round 0 is
    // standing (node set unchanged by precondition); later rounds are
    // standing-overlaid-with-recompute, and round k's recompute reads
    // round k−1's merged vector exactly as the in-place loop always did.
    var merged = oldRounds(0)
    for (k <- 1 to RankRounds) {
      val ranPlain = saturated
      val contrib = merged
        .join(degNew, merged("node") === degNew("src"))
        .select(col("node"), expr("r div deg").as("c"))
      val inEdges =
        if (ranPlain) fullDirected
        else {
          val changedSrc = (if (overlay == null) s0
            else s0.unionByName(overlay.select(col("node").as("src")))
              .distinct())
          // LAZY ckpt + count (r17, verdict item 1): the eager ckpt was
          // one driver-blocking job and the saturation count a second;
          // lazily marked, the count's single job materializes the
          // blocks AND returns the cardinality — one sync point per
          // unsaturated round instead of two, same blocks, same reads.
          val affected = fullDirected
            .join(broadcast(changedSrc), Seq("src"), "left_semi")
            .select(col("dst")).distinct().ckpt(eager = false)
          if (3L * affected.count() >= 2L * nAll) {
            saturated = true
            lastSaturatedAtRound = k
          }
          fullDirected.join(broadcast(affected), Seq("dst"), "left_semi")
        }
      val next = inEdges
        .join(broadcast(contrib), col("src") === contrib("node"))
        .groupBy("dst").agg(sum("c").as("cin"))
        .crossJoin(broadcast(nC))
        .select(col("dst").as("node"),
          expr(s"${RankBase}L div n + (85L * cin) div 100L").as("r"))
        .ckpt(eager = false)
      overlay = next
      if (ranPlain) overlayComplete = true
      merged = if (overlayComplete) overlay
        else oldRounds(k).as("s")
          .join(overlay.as("o"), Seq("node"), "left_outer")
          .select(col("node"), coalesce(col("o.r"), col("s.r")).as("r"))
    }
    merged
  }
}
