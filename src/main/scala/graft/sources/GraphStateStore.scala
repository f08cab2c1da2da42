package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Graph
import graft.tables.Tables

/** STANDING graph state — the maintained-view layout the incremental
  * graph queries read instead of recomputing (the r9 verdict's top
  * item: ◆ `q_incr_triangles` spent ~12 of its 13.4 s rebuilding the
  * OLD graph's corner counts as fixture scaffolding; a deployment READS
  * that state, it never re-derives it).
  *
  * Per (dataset, cut point) the store materializes once:
  *
  *  - `edges` — the standing CANONICAL (src < dst) co-purchase edge
  *    list, written BUCKETED on `src` ([[Bucketed]], bucket count = the
  *    session's shuffle partitions): the loop-invariant input every
  *    graph pass reuses, paid for once at layout time. With
  *    `requireAllClusterKeysForCoPartition=false` the novel-edge
  *    anti-join and every src-keyed aggregate ride the layout with NO
  *    standing-side exchange (GraphStateSpec pins both) — the property
  *    that makes a refresh O(delta), not O(graph);
  *  - `degrees` — per-node degree of the standing graph (|V| rows);
  *  - `corners` — per-node triangle counts of the standing graph
  *    ([[Graph.cornerCounts]], |V| rows).
  *
  * The delta-refresh algebra (◆ `q_incr_graph` / `q_incr_triangles`)
  * then applies new baskets ON TOP of these tables; the queries' ◆
  * oracles stay the definitional full recompute, so hash equality
  * proves store build + delta apply reconstructs the view exactly.
  *
  * Build is cached per (session, dataset, cut) and the temp layouts are
  * removed by a JVM shutdown hook — the [[graft.queries.Warehouse]]
  * versioned-store discipline. At 100 TB the layout root is a real
  * object-store prefix written by the nightly refresh job; the cache
  * here stands in for "the table already exists".
  */
object GraphStateStore {

  /** Standing state handle: every member reads materialized layouts
    * (since r15 `edges` is a single-predicate view over the bucketed
    * [[firstSeen]] catalog — one |E| write serves every cut — and the
    * derived tables stay per-cut parquet). `ties` (r11) is the
    * per-canonical-edge common-neighbor count — the tie-strength
    * numerator maintained beside the corner counts, derived from the
    * SAME once-enumerated triangle list.
    *
    * `corners`/`ties` build LAZILY on first access (r15 verdict #4): a
    * cut whose consumers read only edges/degrees — the 8/10 delta
    * split feeding ◆ `q_incr_graph` — never pays the wedge enumeration
    * behind the two triangle tables. One access builds BOTH (the
    * shared-enumeration contract is unchanged); later reads are the
    * written parquet.
    */
  final class Standing(val edges: DataFrame, val degrees: DataFrame,
      cornersTies: => (DataFrame, DataFrame), val edgesTable: String) {
    lazy val (corners, ties) = cornersTies
  }

  private val cache =
    new LayoutCache.SessionCache[(String, Long, Long), Standing]()

  /** The standing baskets' cut key: orders with
    * `l_orderkey ≤ lo + (hi−lo)·cutNum/cutDen` are standing history;
    * the rest are the delta (the `q_split_temporal` data-derived
    * boundary discipline — no fixture-size assumption).
    */
  def cutExpr(cutNum: Long, cutDen: Long) = call_function("div",
    col("lo") + (col("hi") - col("lo")) * cutNum, lit(cutDen))

  /** (catalog frame, table name, lo, hi) — lo/hi are the dataset's
    * l_orderkey bounds, collected ONCE at catalog build (two scalars,
    * the Warehouse bounded-collect precedent): cut predicates are then
    * LITERALS that push into the bucketed parquet scan (PushedFilters
    * data skipping) instead of a per-use broadcast of the bounds
    * aggregate, keeping every cut view's plan a pure filtered scan.
    */
  private val firstSeenCache =
    new LayoutCache.SessionCache[String, (DataFrame, String, Long, Long)]()

  /** The canonical co-purchase pair catalog annotated with each pair's
    * FIRST witnessing basket (min `l_orderkey`) — r15 verdict #4, the
    * `q_assoc_rules` shared-scan technique applied to the store build:
    * baskets nest across cuts, so an edge stands at cut c iff its first
    * witness stands (`first_ok ≤ cut`), and a delta batch's NOVEL edges
    * are exactly `first_ok > cut` — no anti-join, no per-cut basket
    * self-join. Every standing cut's edge set and every cut's novel
    * split are single-predicate FILTERS over this one table, so the
    * warm-up's five basket self-joins (one per standing cut 8/10,
    * 19/20, 1/1 + one per delta split) collapse into one.
    *
    * At 100 TB this is the maintained edge catalog with a created-at
    * column — the shape every temporal graph store keeps anyway; cut
    * reads are predicate-pruned scans of it. Written hash-BUCKETED on
    * `src` (the standing layout's own contract), so a cut's edge view
    * is a FILTER of this one table that still carries
    * HashPartitioning(src): the per-cut standing layouts stop writing
    * their own |E| edge copies entirely — one bucketed write serves
    * every cut, and every src-keyed consumer stays exchange-free.
    */
  def firstSeen(s: SparkSession, sfDir: String): DataFrame =
    firstSeenTable(s, sfDir)._1

  private def firstSeenTable(s: SparkSession,
      sfDir: String): (DataFrame, String, Long, Long) =
    firstSeenCache.getOrBuild(s, sfDir) {
      val tag = LayoutCache.tag(s, sfDir)
      val root = LayoutCache.tempRoot(s"graft-gsfirst-$tag")
      val li = Tables.lineitem(s, sfDir)
      val inc = li.select(col("l_orderkey").as("ok"),
        col("l_partkey").as("pid")).distinct()
      // canonical in the join itself (a.pid < b.pid): half the pair
      // rows of the two-directional form, same distinct edge set
      val pairs = inc.as("a").join(inc.as("b"),
          col("a.ok") === col("b.ok") && col("a.pid") < col("b.pid"))
        .select(col("a.pid").as("src"), col("b.pid").as("dst"),
          col("a.ok").as("ok"))
        .groupBy("src", "dst").agg(min("ok").as("first_ok"))
      val table = s"graft_gs_first_$tag"
      Bucketed.writeBucketed(pairs, table, s"$root/firstseen", "src",
        s.sessionState.conf.numShufflePartitions)
      val bounds = li.agg(min("l_orderkey"), max("l_orderkey")).head()
      (s.table(table), table, bounds.getLong(0), bounds.getLong(1))
    }

  /** The cut boundary as a literal — the SAME arithmetic as [[cutExpr]]
    * over the catalog's collected bounds: `(lo + (hi−lo)·num) div den`,
    * the WHOLE numerator divided (review r15: `lo + (hi−lo)·num/den`
    * only coincides when lo = 0 — true of every shipped fixture, which
    * is exactly why only a formula audit could catch it — and on lo ≠ 0
    * data it would classify boundary edges standing while every
    * definitional oracle calls them novel). All values positive, so
    * Long `/` ≡ SQL `div`.
    */
  private def cutValueAt(s: SparkSession, sfDir: String,
      cutNum: Long, cutDen: Long): Long = {
    val (_, _, lo, hi) = firstSeenTable(s, sfDir)
    (lo + (hi - lo) * cutNum) / cutDen
  }

  /** The canonical standing edge set at a cut — one filter over
    * [[firstSeen]]. `lo`/`hi` come from the same lineitem aggregate the
    * basket split uses, so the boundary is bit-identical to the
    * definitional build's.
    */
  private def canonicalAtCut(s: SparkSession, sfDir: String,
      cutNum: Long, cutDen: Long): DataFrame =
    firstSeen(s, sfDir)
      .filter(col("first_ok") <= cutValueAt(s, sfDir, cutNum, cutDen))
      .select("src", "dst")

  /** The NOVEL canonical edges a cut's delta baskets introduce:
    * `first_ok > cut` — definitionally disjoint from the standing set
    * (the [[applyGraphDelta]] contract) with no anti-join at all.
    *
    * SCOPE (ADVICE r15): catalog-derived novelty is only valid against
    * CATALOG-DERIVED standings. A standing layout advanced with
    * out-of-catalog edges (the [[StreamingGraphMaintenance]] path,
    * whose observed pairs need not be lineitem co-purchases) holds
    * edges this catalog has no first witness for, so "first_ok > cut"
    * no longer implies "disjoint from that standing". The streaming
    * path derives its novelty by anti-join against the standing edges
    * themselves for exactly this reason; consumers pairing THIS helper
    * with a standing must take the standing from [[standing]]/
    * [[advanceChained]] at a catalog cut, never from a streaming fold.
    */
  def novelAtCut(s: SparkSession, sfDir: String,
      cutNum: Long, cutDen: Long): DataFrame =
    firstSeen(s, sfDir)
      .filter(col("first_ok") > cutValueAt(s, sfDir, cutNum, cutDen))
      .select("src", "dst")

  /** Novel canonical edges BETWEEN two cuts (first witness in
    * (oldCut, newCut]) — the batch that advances the standing layout
    * from oldCut to newCut when consecutive refreshes CHAIN through
    * [[applyGraphDelta]] instead of rebuilding each cut's triangle
    * tables definitionally (r15 verdict #4: the warm-up's three
    * standing cuts each paid a full wedge enumeration; chained, only
    * the oldest cut enumerates and the later two pay delta-sized work
    * — the store's own nightly-refresh story, answer-identical by
    * GraphStateSpec's chained-advance ≡ rebuild round-trip).
    */
  def novelBetween(s: SparkSession, sfDir: String,
      oldCutNum: Long, oldCutDen: Long,
      newCutNum: Long, newCutDen: Long): DataFrame =
    firstSeen(s, sfDir)
      .filter(col("first_ok") > cutValueAt(s, sfDir, oldCutNum, oldCutDen) &&
        col("first_ok") <= cutValueAt(s, sfDir, newCutNum, newCutDen))
      .select("src", "dst")

  /** The standing state for `sfDir` at the given cut, building (and
    * caching) it on first access. `cutNum/cutDen = 1/1` is the FULL
    * graph — the one edge source of every full-graph query in
    * [[graft.queries.GraphQueries]], which read its edges and maintained
    * tables instead of rebuilding the edge list from lineitem.
    */
  def standing(s: SparkSession, sfDir: String,
      cutNum: Long, cutDen: Long): Standing =
    cache.getOrBuild(s, (sfDir, cutNum, cutDen)) {
      val tag = LayoutCache.tag(s, sfDir) +
        s"_${cutNum}_$cutDen"
      val root = LayoutCache.tempRoot(s"graft-graphstate-$tag")
      // the cut's edges are a PREDICATE over the shared bucketed
      // first-witness catalog (r15) — value-identical to the old
      // per-cut basket self-join + dedicated edge write (an edge
      // stands iff SOME basket ≤ cut witnesses it ⟺ its min witness
      // does), with the join AND the |E| bucketed write paid once per
      // dataset in [[firstSeen]]. The filtered bucketed scan still
      // carries HashPartitioning(src), so every src-keyed consumer
      // stays exchange-free (GraphStateSpec pins it).
      val table = firstSeenTable(s, sfDir)._2
      val edges = canonicalAtCut(s, sfDir, cutNum, cutDen)
      Graph.bothDirs(edges).groupBy("src").agg(count(lit(1)).as("deg"))
        .select(col("src").as("node"), col("deg"))
        .write.mode("overwrite").parquet(s"$root/degrees")
      // triangle tables build lazily (the Standing scaladoc): one wedge
      // enumeration feeds BOTH (per-node corners, per-edge ties) —
      // checkpointed so the two aggregates share the triangle list
      // instead of re-joining wedges
      def buildTriangles(): (DataFrame, DataFrame) = {
        val tri = graft.ops.Ck(Graph.orientedTriangles(edges))
        Graph.cornersOf(tri)
          .write.mode("overwrite").parquet(s"$root/corners")
        Graph.tiesOf(tri)
          .write.mode("overwrite").parquet(s"$root/ties")
        graft.ops.Ck.free(tri)
        (s.read.parquet(s"$root/corners"), s.read.parquet(s"$root/ties"))
      }
      new Standing(edges,
        s.read.parquet(s"$root/degrees"),
        buildTriangles(), table)
    }

  private val ranksCache = new LayoutCache.SessionCache[String, DataFrame]()

  /** The standing integer-PageRank vector of the FULL graph (r12, the
    * r11 verdict's top item): the rank vector is a DETERMINISTIC
    * 5-round function of the standing edges — exact-integer arithmetic,
    * bit-identical on any plan — so like `ties` it belongs in the
    * maintained layout, paid once at build, and ◆ `q_item_rank` becomes
    * pure serving (one |V|-row scan + TakeOrdered). The oracle stays
    * the definitional unrolled-CTE recompute, so hash equality proves
    * build-time vector ≡ in-query fixed point; WarehouseSpec's
    * sequential PageRank replay covers the serving path. Built
    * lazily on first access (only the full-graph cut has rank readers —
    * the delta-cut stores skip the cost).
    */
  def standingRanks(s: SparkSession, sfDir: String): DataFrame =
    ranksCache.getOrBuild(s, sfDir) {
      val st = standing(s, sfDir, 1L, 1L)
      val root = LayoutCache.tempRoot(
        s"graft-gsranks-${LayoutCache.tag(s, sfDir)}")
      // dst-partitioned + checkpointed: every round's groupBy("dst")
      // rides the materialized layout with no exchange (localCheckpoint
      // preserves partitioning) — one shuffle for the whole 5-round
      // build instead of one per round
      val fd = graft.ops.Ck(
        Graph.bothDirs(st.edges).repartition(col("dst")))
      Graph.integerPageRank(fd,
          st.degrees.select(col("node").as("src"), col("deg")))
        .write.mode("overwrite").parquet(s"$root/ranks")
      graft.ops.Ck.free(fd)
      s.read.parquet(s"$root/ranks")
    }

  private val rankRoundsCache =
    new LayoutCache.SessionCache[(String, Long, Long), Seq[DataFrame]]()

  /** EVERY round's rank vector r₀..r₅ of the standing graph at the
    * given cut (r12): the incremental rank maintenance
    * (◆ `q_incr_ranks`, [[Graph.incrRank5]]) reads round k−1 standing
    * values for the unaffected in-neighbors of round k's affected set,
    * so the maintained layout keeps all six |V|-row vectors — written
    * once, partitioned by round (partition pruning makes each round's
    * read a single-directory scan). 6·|V| rows is catalog-scale, noise
    * against the |E| edge layout it sits beside.
    */
  def standingRankRounds(s: SparkSession, sfDir: String,
      cutNum: Long, cutDen: Long): Seq[DataFrame] =
    rankRoundsCache.getOrBuild(s, (sfDir, cutNum, cutDen)) {
      val st = standing(s, sfDir, cutNum, cutDen)
      val root = LayoutCache.tempRoot(
        s"graft-gsrankrounds-${LayoutCache.tag(s, sfDir)}" +
          s"_${cutNum}_$cutDen")
      // dst-partitioned + checkpointed, as in [[standingRanks]]: the
      // per-round groupBy("dst") shuffles once at stage time, not once
      // per round
      val fd = graft.ops.Ck(
        Graph.bothDirs(st.edges).repartition(col("dst")))
      val rounds = Graph.integerPageRankRounds(fd,
        st.degrees.select(col("node").as("src"), col("deg")))
      rounds.zipWithIndex
        .map { case (r, i) => r.withColumn("round", lit(i)) }
        .reduce(_.unionByName(_))
        .write.partitionBy("round").mode("overwrite")
        .parquet(s"$root/rankrounds")
      graft.ops.Ck.free(fd)
      val all = s.read.parquet(s"$root/rankrounds")
      (0 to Graph.RankRounds).map(k =>
        all.filter(col("round") === k).select("node", "r"))
    }

  /** WRITE-BACK of a FULL maintenance pass (r13): advance every
    * maintained table — edges, degrees, corners, ties — from the
    * standing state at `oldCut` to the state at `newCut` by applying
    * the novel canonical edge set, and PERSIST the result as the new
    * cut's standing layout. This closes the same loop
    * [[applyRankDelta]] closed for the rank vectors, over the rest of
    * the store: the nightly job stages the day's novel edges once,
    * maintains every view from that one batch, and the advanced layout
    * becomes the NEXT refresh's standing input — consecutive deltas
    * chain without ever rebuilding (GraphStateSpec round-trips two
    * consecutive advances against the definitional recompute).
    *
    * The delta algebra is the queries' own: the signed triangle
    * enumeration is [[Graph.deltaTriangleInstances]] — the SAME
    * extraction ◆ `q_incr_triangles` / `q_incr_ties` re-key — so what
    * the hash-gated queries prove per-round about the merge arithmetic
    * is exactly what gets persisted. Cost shape at 100 TB: one
    * delta-driven enumeration + two |V|-row merges + one |E_delta|-row
    * tie merge + the bucketed edge write (old ∪ novel) — the edge
    * rewrite IS the nightly refresh's dominant cost, identical to what
    * the rebuild path pays for that table alone, while corner/tie/
    * degree maintenance replaces full re-enumeration (the store-build
    * wedge join) with delta-sized work.
    *
    * `novelEdges` must be canonical (src < dst) and disjoint from the
    * standing edges (the [[graft.queries.GraphQueries]] novel split's
    * anti-join contract). Installs the advanced layout in the cache at
    * `newCut` — last write wins, answer-identical to a rebuild by the
    * maintenance algebra's proven claim.
    */
  def applyGraphDelta(s: SparkSession, sfDir: String,
      oldCutNum: Long, oldCutDen: Long,
      newCutNum: Long, newCutDen: Long,
      novelEdges: DataFrame): Standing = {
    // novel feeds the union write, the degree overlay, and all three
    // enumeration terms — materialize it once
    val novel = graft.ops.Ck(novelEdges)
    try applyGraphDeltaPinned(s, sfDir, oldCutNum, oldCutDen,
      newCutNum, newCutDen, novel)
    finally graft.ops.Ck.free(novel)
  }

  /** [[applyGraphDelta]] over a caller-materialized novel set — the
    * streaming fold already checkpoints its anti-joined batch (it also
    * feeds the rank seeds), so this variant skips the redundant second
    * materialization. `novel` must be checkpointed/pinned by the caller,
    * who retains ownership (this method never frees it).
    */
  private[sources] def applyGraphDeltaPinned(s: SparkSession, sfDir: String,
      oldCutNum: Long, oldCutDen: Long,
      newCutNum: Long, newCutDen: Long,
      novel: DataFrame): Standing = {
    val old = standing(s, sfDir, oldCutNum, oldCutDen)
    val tag = LayoutCache.tag(s, sfDir) +
      s"_adv_${newCutNum}_$newCutDen"
    val root = LayoutCache.tempRoot(s"graft-graphstate-$tag")
    // edges' = old ∪ novel, re-written bucketed on src (the layout
    // invariant every downstream pass rides)
    val table = s"graft_gs_edges_$tag"
    Bucketed.writeBucketed(old.edges.unionByName(novel), table,
      s"$root/edges", "src",
      s.sessionState.conf.numShufflePartitions)
    val edges = s.table(table)
    writeAdvancedDerived(root.toString, old, novel, None)
    val advanced = new Standing(edges,
      s.read.parquet(s"$root/degrees"),
      (s.read.parquet(s"$root/corners"),
        s.read.parquet(s"$root/ties")), table)
    cache.put(s, (sfDir, newCutNum, newCutDen), advanced)
    advanced
  }

  /** The three derived-table merge writes of an advance — degrees
    * overlay, corners + ties from ONE materialized signed enumeration —
    * shared by [[applyGraphDeltaPinned]] (streaming folds: arbitrary
    * novel edges, writes its own edge layout) and [[advanceChained]]
    * (catalog cuts: the edge view needs no write at all).
    */
  private def writeAdvancedDerived(root: String, old: Standing, novel: DataFrame,
      precomputedTerms: Option[DataFrame]): Unit = {
    // degrees' = degrees + both-direction novel-degree overlay
    val dDelta = Graph.bothDirs(novel)
      .groupBy("src").agg(count(lit(1)).as("ddelta"))
      .select(col("src").as("node"), col("ddelta"))
    old.degrees.join(dDelta, Seq("node"), "full_outer")
      .select(col("node"),
        (coalesce(col("deg"), lit(0L)) +
          coalesce(col("ddelta"), lit(0L))).as("deg"))
      .write.mode("overwrite").parquet(s"$root/degrees")
    // corners'/ties' = standing counts + the signed delta enumeration,
    // re-keyed per node and per canonical edge respectively
    // one materialized enumeration feeds BOTH derived-table writes;
    // a caller whose novel batch already has its signed enumeration
    // pinned (the prewarm's deltaTriangleTerms — the SAME (old edges,
    // novel) pair) passes it in instead of re-enumerating (r15)
    val terms = precomputedTerms.getOrElse(
      graft.ops.Ck(Graph.deltaTriangleInstances(old.edges, novel)))
    old.corners
      .join(Graph.cornerDeltaOf(terms), Seq("node"), "full_outer")
      .select(col("node"),
        (coalesce(col("triangles"), lit(0L)) +
          coalesce(col("delta_tri"), lit(0L))).as("triangles"))
      .filter(col("triangles") > 0)
      .write.mode("overwrite").parquet(s"$root/corners")
    old.ties
      .join(Graph.tieDeltaOf(terms), Seq("src", "dst"), "full_outer")
      .select(col("src"), col("dst"),
        (coalesce(col("common"), lit(0L)) +
          coalesce(col("delta_common"), lit(0L))).as("common"))
      .filter(col("common") > 0)
      .write.mode("overwrite").parquet(s"$root/ties")
    if (precomputedTerms.isEmpty) graft.ops.Ck.free(terms)
  }

  /** Advance the standing state between CATALOG cuts without rewriting
    * any edge layout (r15 verdict #4): the new cut's edges are the same
    * bucketed [[firstSeen]] catalog under a wider predicate, so an
    * advance runs ONLY the delta-sized derived-table merges — the
    * chained warm-up's 19/20 and 1/1 cuts pay O(delta) triangle work
    * instead of a full wedge enumeration each. Answer-identical to the
    * definitional build by the maintenance algebra — GraphStateSpec's
    * "advanceChained ≡ definitional rebuild" test gates BOTH variants
    * (self-computed and caller-pinned (novel, terms)) table for table,
    * and the q_incr_* oracles recompute the served tables
    * definitionally every driver round.
    */
  def advanceChained(s: SparkSession, sfDir: String,
      oldCutNum: Long, oldCutDen: Long,
      newCutNum: Long, newCutDen: Long,
      precomputed: Option[(DataFrame, DataFrame)] = None): Standing = {
    val old = standing(s, sfDir, oldCutNum, oldCutDen)
    // A caller-pinned novel set must BE the (oldCut, newCut] catalog
    // batch (ADVICE r15): a mismatched handoff — novel from a different
    // cut pair, or from outside the catalog — would write silently
    // wrong corners/ties and cache them under the new cut key for
    // every later consumer in the session. Refused here by one
    // delta-sized aggregate (novel joined back to the bucketed catalog
    // for its first witnesses): every pinned edge must exist in the
    // catalog with its first witness in (cutValueAt(old),
    // cutValueAt(new)]. Staging-time cost, not query-time.
    precomputed.map(_._1).foreach { pinned =>
      val oldCut = cutValueAt(s, sfDir, oldCutNum, oldCutDen)
      val newCut = cutValueAt(s, sfDir, newCutNum, newCutDen)
      val st = pinned.join(firstSeen(s, sfDir), Seq("src", "dst"))
        .agg(count(lit(1)).as("n"), min("first_ok").as("flo"),
          max("first_ok").as("fhi"),
          countDistinct(col("src"), col("dst")).as("nd")).head()
      val nPinned = pinned.count()
      require(st.getLong(0) == nPinned,
        s"advanceChained: $nPinned pinned novel edges but only " +
          s"${st.getLong(0)} appear in the first-witness catalog — " +
          "catalog-cut advances require catalog-derived novel sets")
      require(nPinned == 0L ||
        (st.getLong(1) > oldCut && st.getLong(2) <= newCut),
        s"advanceChained: pinned novel first witnesses span " +
          s"[${st.getLong(1)}, ${st.getLong(2)}], not within " +
          s"($oldCut, $newCut] — the handoff does not correspond to " +
          s"the $oldCutNum/$oldCutDen -> $newCutNum/$newCutDen advance")
      // Totality: containment alone admits a strict SUBSET of the
      // interval's batch (or a nested sub-interval), which would merge
      // corners/ties missing the dropped edges' triangle terms. The
      // pinned set must carry exactly the catalog's (oldCut, newCut]
      // edges: the DISTINCT matched count must equal the interval count
      // (every interval edge present — a bare multiset count would let
      // a duplicate compensate for a missing edge, review r16 II), and
      // the multiset count must equal it too (no duplicates, which
      // would double-count triangle terms in the merge).
      val nInterval = firstSeen(s, sfDir)
        .filter(col("first_ok") > oldCut && col("first_ok") <= newCut)
        .count()
      require(st.getLong(3) == nInterval && nPinned == nInterval,
        s"advanceChained: pinned novel has $nPinned edges " +
          s"(${st.getLong(3)} distinct) but the catalog holds " +
          s"$nInterval in ($oldCut, $newCut] — partial or " +
          "duplicate-carrying handoffs would write silently wrong " +
          "corners/ties")
    }
    // caller-owned (novel, signed terms) when the pair is already
    // pinned — the prewarm's deltaTriangleTerms is this exact pair for
    // the 19/20 → 1/1 advance, so the advance re-enumerates nothing
    val novel = precomputed.map(_._1).getOrElse(
      graft.ops.Ck(novelBetween(s, sfDir,
        oldCutNum, oldCutDen, newCutNum, newCutDen)))
    try {
      val tag = LayoutCache.tag(s, sfDir) +
        s"_adv_${newCutNum}_$newCutDen"
      val root = LayoutCache.tempRoot(s"graft-graphstate-$tag")
      writeAdvancedDerived(root.toString, old, novel, precomputed.map(_._2))
      val advanced = new Standing(
        canonicalAtCut(s, sfDir, newCutNum, newCutDen),
        s.read.parquet(s"$root/degrees"),
        (s.read.parquet(s"$root/corners"),
          s.read.parquet(s"$root/ties")), firstSeenTable(s, sfDir)._2)
      cache.put(s, (sfDir, newCutNum, newCutDen), advanced)
      advanced
    } finally if (precomputed.isEmpty) graft.ops.Ck.free(novel)
  }

  /** CONTINUOUS maintenance feed for the standing graph state (r13):
    * micro-batches of observed co-purchase pairs stage exactly-once
    * into batchId-keyed delta directories ([[StagedDeltas]] — a
    * checkpoint-replayed batch REWRITES its own directory, the
    * PostingsStore/IvfStore discipline), and the nightly [[fold]]
    * advances the standing layout with ONE [[applyGraphDelta]] over
    * the accumulated union. This is deliberately NOT a per-micro-batch
    * layout rewrite: advancing the bucketed edge layout costs an |E|
    * write, so the stream stages (delta-sized, idempotent) and the
    * fold pays the write once per refresh cycle — between folds,
    * [[read]] serves standing ∪ staged as the edge-set view.
    */
  final class StreamingGraphMaintenance(s: SparkSession, sfDir: String,
      oldCutNum: Long, oldCutDen: Long,
      newCutNum: Long, newCutDen: Long, deltaRoot: String,
      maintainRanks: Boolean = false) {
    // Equal cuts (compared as rationals — 19/20 ≡ 38/40) would make the
    // very first fold() trip the cur != next guard with its misleading
    // "already folded" message even though nothing was ever folded
    // (ADVICE r13): refuse at construction, where the mistake is.
    require(oldCutNum * newCutDen != newCutNum * oldCutDen,
      s"StreamingGraphMaintenance: old cut $oldCutNum/$oldCutDen equals " +
        s"new cut $newCutNum/$newCutDen — the first fold needs a distinct " +
        "target cut to advance to")
    // The maintenance CHAINS across refresh cycles (review r13): `cur`
    // is the cut the standing state currently sits at, `next` the cut
    // the upcoming fold advances to. Each successful fold sets
    // cur = next, so the following cycle's anti-join and advance read
    // the PREVIOUS fold's write-back — never the original cut (a fixed
    // old-cut would silently drop every earlier fold's edges from the
    // second fold onward). Later cycles pass their target cut to
    // [[fold(nextCutNum:Long,nextCutDen:Long)*]].
    @volatile private var cur = (oldCutNum, oldCutDen)
    @volatile private var next = (newCutNum, newCutDen)
    @volatile private var cycleFolded = false
    private val staged = new StagedDeltas(s, deltaRoot, Seq("src", "dst"),
      rows => {
        val (cn, cd) = cur
        val (nn, nd) = next
        val old = standing(s, sfDir, cn, cd)
        // observed pairs may repeat across batches and may re-observe
        // standing edges — set semantics: distinct, then anti-join
        // (applyGraphDelta's disjointness contract)
        val novel = graft.ops.Ck(rows.distinct()
          .join(old.edges, Seq("src", "dst"), "left_anti"))
        // the pinned variant: `novel` also feeds the rank seeds below,
        // so it is checkpointed once here, not re-checkpointed inside
        val adv = applyGraphDeltaPinned(s, sfDir, cn, cd, nn, nd, novel)
        // With maintainRanks the fold advances EVERY maintained view
        // from the one staged batch — the rank rounds through the
        // frontier-bounded incrRank5Rounds + applyRankDelta, with the
        // query path's loud full-loop fallback when the batch
        // introduces new nodes (r₀ = U div N: a node-count change
        // perturbs every rank).
        if (maintainRanks) {
          val oldRounds = standingRankRounds(s, sfDir, cn, cd)
          // dst-partitioned + materialized (the caller-materializes
          // contract): every round's dst aggregation is exchange-free
          val fullD = graft.ops.Ck(
            Graph.bothDirs(adv.edges).repartition(col("dst")))
          val degNew = adv.degrees
            .select(col("node").as("src"), col("deg"))
          val seeds = Graph.bothDirs(novel)
            .select(col("src").as("node")).distinct()
          val newNodes = seeds.join(old.degrees, Seq("node"), "left_anti")
          val advRounds =
            if (newNodes.isEmpty)
              Graph.incrRank5Rounds(oldRounds, fullD, degNew, seeds)
            else Graph.integerPageRankRounds(fullD, degNew)
          applyRankDelta(s, sfDir, nn, nd, advRounds)
          graft.ops.Ck.free(fullD)
        }
        graft.ops.Ck.free(novel)
        cycleFolded = true
        ()
      },
      () => { val (cn, cd) = cur; standing(s, sfDir, cn, cd).edges })

    /** Canonicalize one micro-batch's (src, dst) pair rows and stage
      * them exactly-once under their batchId.
      */
    def maintainStream(pairs: DataFrame, checkpoint: String)
        : org.apache.spark.sql.streaming.StreamingQuery =
      pairs.writeStream
        .option("checkpointLocation", checkpoint)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val canon = batch
            .select(least(col("src"), col("dst")).as("src"),
              greatest(col("src"), col("dst")).as("dst"))
            .filter(col("src") =!= col("dst"))
            .distinct()
          // an all-self-loop/duplicate batch canonicalizes to zero rows;
          // staging its empty dir would defeat fold's empty-delta
          // early-return (paying the |E| advance for nothing) and make
          // the no-op bare fold() spuriously refuse (review r13, round
          // 2). Deterministic transform ⇒ a replayed batch skips the
          // same way, so exactly-once is unaffected.
          if (!canon.isEmpty) staged.stage(canon, id)
        }
        .start()

    /** The edge-SET view between folds: standing-at-the-CURRENT-cut ∪
      * staged, distinct (a staged pair may re-observe a standing edge).
      * After a fold the base side is the fold's write-back, so folded
      * edges never disappear from the view (review r13).
      */
    def read: DataFrame = staged.read.distinct()

    /** Advance the standing layout with everything staged — one
      * [[applyGraphDelta]], then the advanced cut serves from the
      * store and becomes the NEXT cycle's standing input. Refuses
      * (loudly, via the `_folding` marker) if a prior fold crashed
      * mid-way. A fold with NOTHING staged is a no-op that returns the
      * current cut's standing — the state never advanced, so building
      * the target cut definitionally (the full wedge-join cost the
      * delta path exists to avoid) would be both wrong-shaped and, for
      * a data-defined cut, a different graph (review r13).
      */
    def fold(): Standing = synchronized {
      cycleFolded = false
      // the guard runs inside StagedDeltas.fold AFTER the delta listing
      // proves there is work but BEFORE the _folding marker: a consumed
      // target must not be re-advanced onto itself (cur == next after a
      // successful fold until the caller names the next cycle's cut —
      // folding staged data then would overwrite the cut's standing
      // with a graph its label no longer describes), and checking any
      // earlier races a concurrently staging micro-batch into
      // crashed-fold state (review r13, round 2)
      staged.fold { () =>
        // cross-multiplied RATIONAL comparison, the constructor guard's
        // (ADVICE r14): tuple equality would let fold(38, 40) after
        // folding to 19/20 advance staged deltas onto a rationally
        // identical cut under a second label — two divergent standings
        // for the same rational cut, exactly the confusion the
        // construction require refuses.
        require(cur._1 * next._2 != next._1 * cur._2,
          s"refresh cycle at cut ${cur._1}/${cur._2} already folded " +
            s"(target ${next._1}/${next._2} is the same rational cut) — " +
            "name a DISTINCT next cycle's target via " +
            "fold(nextCutNum, nextCutDen)")
      }
      if (cycleFolded) cur = next
      val (cn, cd) = cur
      standing(s, sfDir, cn, cd)
    }

    /** A LATER refresh cycle's fold: set the cycle's target cut, then
      * advance everything staged since the previous fold — the previous
      * fold's write-back is this fold's standing input.
      *
      * Both fold overloads synchronize on this instance (ADVICE r13):
      * cur/next/cycleFolded are volatile for read visibility, but two
      * concurrent fold() calls could otherwise both pass the cur != next
      * guard and the StagedDeltas exists-then-create marker check
      * (non-atomic) and double-apply the same staged deltas. The monitor
      * is reentrant, so this overload's body may call the bare fold().
      * Staging ([[maintainStream]]'s foreachBatch) is not serialized
      * against folds here — StagedDeltas owns that ordering.
      */
    def fold(nextCutNum: Long, nextCutDen: Long): Standing = synchronized {
      next = (nextCutNum, nextCutDen)
      fold()
    }
  }

  /** WRITE-BACK of a rank maintenance pass (r13, closing the r12
    * verdict's `q_incr_ranks` loop): persist [[Graph.incrRank5Rounds]]'s
    * merged per-round vectors as the standing rank layout for the
    * ADVANCED cut `newCutNum/newCutDen` — the nightly job's output
    * becomes the next refresh's standing input, so consecutive deltas
    * chain without ever rebuilding (GraphStateSpec round-trips two
    * consecutive deltas against the definitional full recompute).
    * Requires all rounds 0..[[Graph.RankRounds]]; same
    * partitioned-by-round layout as the rebuild path, and the installed
    * cache entry means a later [[standingRankRounds]] at the new cut
    * READS this layout. Last write wins if the new cut's vectors were
    * already built — the two are answer-identical (the maintenance
    * algebra's proven claim), so the swap only trades one layout path
    * for another.
    */
  def applyRankDelta(s: SparkSession, sfDir: String,
      newCutNum: Long, newCutDen: Long,
      mergedRounds: Seq[DataFrame]): Seq[DataFrame] = {
    require(mergedRounds.size == Graph.RankRounds + 1,
      s"need rounds 0..${Graph.RankRounds}, got ${mergedRounds.size}")
    val root = LayoutCache.tempRoot(
      s"graft-gsrankdelta-${LayoutCache.tag(s, sfDir)}" +
        s"_${newCutNum}_$newCutDen")
    mergedRounds.zipWithIndex
      .map { case (r, i) =>
        r.select(col("node"), col("r")).withColumn("round", lit(i)) }
      .reduce(_.unionByName(_))
      .write.partitionBy("round").mode("overwrite")
      .parquet(s"$root/rankrounds")
    val all = s.read.parquet(s"$root/rankrounds")
    val advanced = (0 to Graph.RankRounds).map(k =>
      all.filter(col("round") === k).select("node", "r"))
    rankRoundsCache.put(s, (sfDir, newCutNum, newCutDen), advanced)
    advanced
  }
}
