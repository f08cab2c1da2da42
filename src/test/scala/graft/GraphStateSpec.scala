package graft

import org.apache.spark.sql.functions._
import graft.sources.GraphStateStore
import graft.tables.Tables

/** Gates for the standing graph-state layout (the r10 deployment-shape
  * work): the bucketed edge list really removes the standing-side
  * shuffles it claims to, and the incremental views' store reads equal
  * the state they replaced.
  */
class GraphStateSpec extends SparkSpec {

  /** Shared cut fixture (review r13): the canonical co-purchase edge
    * set at cut n/20 — four tests previously each carried a verbatim
    * copy; one definition keeps them pinned to the SAME fixture.
    */
  private def cutEdges(n: Long) = {
    val li = Tables.lineitem(spark, sfDir)
    val keys = li.agg(min("l_orderkey").as("lo"), max("l_orderkey").as("hi"))
    graft.ops.Graph.coPurchaseEdges(
        li.crossJoin(broadcast(keys))
          .filter(col("l_orderkey") <= GraphStateStore.cutExpr(n, 20L)))
      .filter(col("src") < col("dst")).localCheckpoint()
  }

  private def edgeSet(df: org.apache.spark.sql.DataFrame) =
    df.select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  test("the standing store's state tables equal a direct recompute") {
    val st = GraphStateStore.standing(spark, sfDir, 19L, 20L)
    val li = Tables.lineitem(spark, sfDir)
    val keys = li.agg(min("l_orderkey").as("lo"), max("l_orderkey").as("hi"))
    val old = li.crossJoin(broadcast(keys))
      .filter(col("l_orderkey") <= GraphStateStore.cutExpr(19L, 20L))
    val oldC = graft.ops.Graph.coPurchaseEdges(old)
      .filter(col("src") < col("dst")).localCheckpoint()
    assert(st.edges.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      === oldC.collect().map(r => (r.getLong(0), r.getLong(1))).sorted)
    val degExpect = graft.ops.Graph.bothDirs(oldC)
      .groupBy("src").agg(count(lit(1)).as("deg"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(st.degrees.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted === degExpect)
    val cornExpect = graft.ops.Graph.cornerCounts(oldC)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(st.corners.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted === cornExpect)
    // ties (r11): per-edge common-neighbor counts ≡ direct enumeration
    val tieExpect = graft.ops.Graph.edgeCommonCounts(oldC)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(st.ties.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      === tieExpect)
    // and the build is cached: a second call returns the same handle
    assert(GraphStateStore.standing(spark, sfDir, 19L, 20L) eq st)
  }

  test("advanceChained ≡ definitional rebuild, with and without precomputed (novel, terms) (r15)") {
    import graft.sources.GraphStateStore
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    def triples(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    def assertMatches(adv: GraphStateStore.Standing, cut: Long): Unit = {
      val want = cutEdges(cut)
      assert(edgeSet(adv.edges) === edgeSet(want),
        s"advanced edges ≠ $cut/20 rebuild")
      assert(pairs(adv.degrees) === pairs(graft.ops.Graph.bothDirs(want)
        .groupBy("src").agg(count(lit(1)).as("deg"))),
        s"advanced degrees ≠ $cut/20 rebuild")
      assert(pairs(adv.corners) ===
        pairs(graft.ops.Graph.cornerCounts(want)),
        s"advanced corners ≠ $cut/20 rebuild")
      assert(triples(adv.ties) ===
        triples(graft.ops.Graph.edgeCommonCounts(want)),
        s"advanced ties ≠ $cut/20 rebuild")
    }
    // (a) self-computed novel + terms: 18/20 → 19/20
    assertMatches(
      GraphStateStore.advanceChained(spark, sfDir, 18L, 20L, 19L, 20L), 19L)
    // (b) the prewarm's handoff shape — caller-pinned novel + the SAME
    // signed enumeration deltaTriangleTerms pins: 19/20 → 20/20. The
    // pinned pair must be over the OLD cut's standing edges and the
    // exact between-cut novel set, the contract prewarmStaged relies on.
    val old = GraphStateStore.standing(spark, sfDir, 19L, 20L)
    val novel = graft.ops.Ck(
      GraphStateStore.novelBetween(spark, sfDir, 19L, 20L, 20L, 20L))
    val terms = graft.ops.Ck(
      graft.ops.Graph.deltaTriangleInstances(old.edges, novel))
    try assertMatches(GraphStateStore.advanceChained(spark, sfDir,
      19L, 20L, 20L, 20L, Some((novel, terms))), 20L)
    finally { graft.ops.Ck.free(terms); graft.ops.Ck.free(novel) }
  }

  test("advanceChained refuses a mismatched caller-pinned handoff (ADVICE r15)") {
    import graft.sources.GraphStateStore
    // the 17/20 → 18/20 batch handed to an 18/20 → 19/20 advance: its
    // first witnesses sit AT or BELOW cutValueAt(18/20), outside the
    // target interval — the silent-wrong-corners handoff the guard
    // refuses (and without the guard, would cache under 19/20 for the
    // whole session)
    val wrongNovel = graft.ops.Ck(
      GraphStateStore.novelBetween(spark, sfDir, 17L, 20L, 18L, 20L))
    // an empty mismatch would legitimately pass the bounds clause (and
    // an empty advance is harmless) — the refusal claim needs mass
    assert(wrongNovel.count() > 0, "fixture: 17/20-18/20 batch is empty")
    val old = GraphStateStore.standing(spark, sfDir, 18L, 20L)
    val terms = graft.ops.Ck(
      graft.ops.Graph.deltaTriangleInstances(old.edges, wrongNovel))
    try {
      val e = intercept[IllegalArgumentException] {
        GraphStateStore.advanceChained(spark, sfDir, 18L, 20L, 19L, 20L,
          Some((wrongNovel, terms)))
      }
      assert(e.getMessage.contains("does not correspond"),
        s"wrong refusal: ${e.getMessage}")
      // out-of-catalog edges refuse on the membership clause
      import spark.implicits._
      val alien = graft.ops.Ck(
        Seq((900001L, 900002L)).toDF("src", "dst"))
      try {
        val e2 = intercept[IllegalArgumentException] {
          GraphStateStore.advanceChained(spark, sfDir, 18L, 20L, 19L, 20L,
            Some((alien, terms)))
        }
        assert(e2.getMessage.contains("catalog-derived"),
          s"wrong refusal: ${e2.getMessage}")
      } finally graft.ops.Ck.free(alien)
      // a strict SUBSET of the right interval's batch passes membership
      // AND bounds but must refuse on the totality clause (review r16 —
      // a partial handoff would merge corners/ties missing the dropped
      // edges' triangle terms)
      val full = GraphStateStore.novelBetween(spark, sfDir,
        18L, 20L, 19L, 20L)
      val nFull = full.count()
      assert(nFull > 1, "fixture: 18/20-19/20 batch too small to subset")
      val partial = graft.ops.Ck(
        full.orderBy("src", "dst").limit((nFull - 1).toInt))
      try {
        val e3 = intercept[IllegalArgumentException] {
          GraphStateStore.advanceChained(spark, sfDir, 18L, 20L, 19L, 20L,
            Some((partial, terms)))
        }
        assert(e3.getMessage.contains("duplicate-carrying"),
          s"wrong refusal: ${e3.getMessage}")
        // and a duplicate compensating for a missing edge — the bare
        // multiset count matches the interval, so only the DISTINCT
        // clause can refuse it (review r16 II)
        val compensated = graft.ops.Ck(
          partial.unionByName(partial.limit(1)))
        try {
          val e4 = intercept[IllegalArgumentException] {
            GraphStateStore.advanceChained(spark, sfDir, 18L, 20L,
              19L, 20L, Some((compensated, terms)))
          }
          assert(e4.getMessage.contains("duplicate-carrying"),
            s"wrong refusal: ${e4.getMessage}")
        } finally graft.ops.Ck.free(compensated)
      } finally graft.ops.Ck.free(partial)
    } finally { graft.ops.Ck.free(terms); graft.ops.Ck.free(wrongNovel) }
  }

  test("the standing rank vector equals the in-query fixed point (r12)") {
    // standingRanks materializes q_item_rank's 5-round integer PageRank
    // at layout-build time; exact-integer arithmetic makes the stored
    // vector bit-identical to a direct recompute on any plan, so plain
    // equality is the full proof (WarehouseSpec's sequential PageRank
    // replay of q_item_rank then proves the SERVING path returns it).
    val edges = graft.ops.Graph
      .coPurchaseEdges(Tables.lineitem(spark, sfDir)).localCheckpoint()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val expect = graft.ops.Graph.integerPageRank(edges, deg)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val got = GraphStateStore.standingRanks(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got === expect)
    assert(GraphStateStore.standingRanks(spark, sfDir) eq
      GraphStateStore.standingRanks(spark, sfDir)) // cached handle
  }

  test("q_incr_ties: edge-keyed delta reconstructs the full ties table (r12)") {
    // store build (old ties) + signed delta ≡ definitional per-edge
    // common-neighbor recompute over the FULL graph — the q_incr_triangles
    // claim re-keyed from corners to edges.
    val out = SparkEntry.queries("q_incr_ties")(spark, sfDir).collect()
    val totals = out.map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).sorted
    val fullC = graft.ops.Graph
      .coPurchaseEdges(Tables.lineitem(spark, sfDir))
      .filter(col("src") < col("dst")).localCheckpoint()
    val expect = graft.ops.Graph.edgeCommonCounts(fullC)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(totals === expect)
    // non-vacuity: the fixture delta must actually move some counts
    assert(out.exists(_.getLong(3) != 0L),
      "fixture delta produced no tie-count changes — the test is vacuous")
  }

  private def incrRanksOf(canonical: org.apache.spark.sql.DataFrame) = {
    val d = graft.ops.Graph.bothDirs(canonical).localCheckpoint()
    (d, d.groupBy("src").agg(count(lit(1)).as("deg")).localCheckpoint())
  }

  /** incrRank5 on (old ∪ novel) vs the full loop — asserts bit-equality,
    * returns [[graft.ops.Graph.lastSaturatedAtRound]] for switch pins.
    */
  private def incrRankCheck(oldC: Seq[(Long, Long)],
      novel: Seq[(Long, Long)]): Int = {
    import spark.implicits._
    val oldDF = oldC.toDF("src", "dst")
    val novelDF = novel.toDF("src", "dst")
    val (oldD, oldDeg) = incrRanksOf(oldDF)
    val oldRounds = graft.ops.Graph.integerPageRankRounds(oldD, oldDeg)
      .map(_.localCheckpoint())
    val (fullD, fullDeg) = incrRanksOf(oldDF.unionByName(novelDF))
    val seeds = graft.ops.Graph.bothDirs(novelDF)
      .select(col("src").as("node")).distinct()
    val got = graft.ops.Graph
      .incrRank5(oldRounds, fullD, fullDeg, seeds)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val expect = graft.ops.Graph.integerPageRank(fullD, fullDeg)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got === expect, s"delta ≠ full loop for novel=$novel")
    graft.ops.Graph.lastSaturatedAtRound
  }

  test("incrRank5: frontier-bounded delta equals the full loop, saturating or not (r12)") {
    def check(o: Seq[(Long, Long)], n: Seq[(Long, Long)]) = incrRankCheck(o, n)
    // NON-saturating: a 12-node path with the delta at one end — the
    // 5-round forward frontier of seeds {0, 2} stops at node 7, so the
    // far end's values MUST come from the standing vectors through the
    // overlay merge (the case a saturating fixture never exercises).
    val path = (0L to 10L).map(i => (i, i + 1))
    check(path, Seq((0L, 2L)))
    // saturating: a dense clustered graph where the frontier covers
    // everything immediately — the degenerate worst case must still be
    // exact (every node recomputed, merge a no-op), and the ⅔ switch
    // must FIRE (instrumented like Bpe.lastBatchedIterations), so a
    // silent regression to always-frontier fails here, not in a bench.
    val dense = for { i <- 0L to 7L; j <- (i + 1) to 7L
      if (i + j) % 3 != 0 } yield (i, j)
    assert(check(dense, Seq((0L, 3L), (1L, 4L))) === 1,
      "dense fixture must trip the saturation switch in round 1")
    // multiple novel edges touching one hub — overlapping frontiers,
    // the seed set deduped across endpoints
    check(path, Seq((0L, 5L), (2L, 5L), (5L, 11L)))
    // a 21-node path keeps the 5-hop frontier under ⅔·|V| in every
    // round: the switch must NOT fire (the frontier-bounded path is the
    // one actually exercised, standing vectors read through the merge)
    val longPath = (0L to 19L).map(i => (i, i + 1))
    assert(check(longPath, Seq((0L, 2L))) === 0,
      "long-path fixture must stay frontier-bounded end to end")
  }

  test("incrRank5: randomized graphs and deltas equal the full loop (8 seeded trials)") {
    // BpeSpec's seeded-adversarial discipline applied to the rank
    // algebra: random connected graphs (spanning tree + random extra
    // edges, so the node set is stable — the incrRank5 precondition)
    // with random 1–4-edge deltas; every trial must be bit-equal to the
    // full loop whichever side of the saturation switch it lands on.
    val rnd = new scala.util.Random(12)
    var saturatedTrials = 0
    (1 to 8).foreach { trial =>
      // odd trials: long sparse paths (high diameter — the
      // frontier-bounded regime); even trials: random connected graphs
      // with extra edges (low diameter — the saturated regime)
      val pathShaped = trial % 2 == 1
      val n = if (pathShaped) 20 + rnd.nextInt(10) else 8 + rnd.nextInt(15)
      val spanning =
        if (pathShaped) (1 until n).map(i => ((i - 1).toLong, i.toLong))
        else (1 until n).map(i => (rnd.nextInt(i).toLong, i.toLong))
      val all = for { i <- 0 until n; j <- (i + 1) until n }
        yield (i.toLong, j.toLong)
      val extra =
        if (pathShaped) Seq.empty else rnd.shuffle(all).take(rnd.nextInt(2 * n))
      val old = (spanning ++ extra).distinct
      val oldSet = old.toSet
      val candidates =
        if (pathShaped)
          // keep the delta local so its 5-hop frontier stays well under
          // ⅔·|V| on the path
          rnd.shuffle(all.filterNot(oldSet).filter { case (a, b) =>
            a <= 4 && b <= 6 })
        else rnd.shuffle(all.filterNot(oldSet))
      if (candidates.nonEmpty) {
        val novel = candidates.take(1 + rnd.nextInt(4))
        if (incrRankCheck(old, novel) > 0) saturatedTrials += 1
      }
    }
    // the sweep must exercise BOTH regimes or it proves less than it says
    assert(saturatedTrials > 0 && saturatedTrials < 8,
      s"trials covered one regime only (saturated in $saturatedTrials/8)")
  }

  test("q_incr_ranks: standing rounds + delta ≡ definitional old/new diff (r12)") {
    // the registry query (delta path — the TPC-H split keeps the part
    // catalog stable) against the definitional recompute of BOTH fixed
    // points — the ScalaTest twin of the ◆ oracle, at spec scale.
    val out = SparkEntry.queries("q_incr_ranks")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val li = Tables.lineitem(spark, sfDir)
    val keys = li.agg(min("l_orderkey").as("lo"), max("l_orderkey").as("hi"))
    def fp(c: org.apache.spark.sql.DataFrame) = {
      val d = graft.ops.Graph.bothDirs(c).localCheckpoint()
      graft.ops.Graph.integerPageRank(d,
          d.groupBy("src").agg(count(lit(1)).as("deg")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val fullR = fp(graft.ops.Graph.coPurchaseEdges(li)
      .filter(col("src") < col("dst")).localCheckpoint())
    val oldR = fp(graft.ops.Graph.coPurchaseEdges(
        li.crossJoin(broadcast(keys))
          .filter(col("l_orderkey") <= GraphStateStore.cutExpr(19L, 20L)))
      .filter(col("src") < col("dst")).localCheckpoint())
    val expect = fullR.toSeq.collect {
      case (n, r) if oldR.getOrElse(n, 0L) != r =>
        (n, oldR.getOrElse(n, 0L), r, r - oldR.getOrElse(n, 0L))
    }.sortBy(_._1)
    assert(out.toSeq === expect)
    assert(out.nonEmpty, "fixture delta moved no ranks — vacuous")
  }

  test("delta-triangle algebra: randomized graphs and deltas reconstruct corners and ties (8 seeded trials)") {
    // The incrRank5 seeded-adversarial discipline applied to the signed
    // enumeration every maintenance consumer re-keys: random canonical
    // graphs with random disjoint edge deltas; merged counts must equal
    // the full-graph recompute exactly — corners AND ties — whatever
    // mix of k=1/2/3-novel-edge triangles the trial produces.
    import spark.implicits._
    val rnd = new scala.util.Random(21)
    var sawTies = 0
    (1 to 8).foreach { trial =>
      val n = 8 + rnd.nextInt(12)
      val all = for { i <- 0 until n; j <- (i + 1) until n }
        yield (i.toLong, j.toLong)
      val shuffled = rnd.shuffle(all)
      val old = shuffled.take(n + rnd.nextInt(2 * n))
      val novel = shuffled.drop(old.size).take(1 + rnd.nextInt(6))
      val oldDf = old.toDF("src", "dst").localCheckpoint()
      val novelDf = novel.toDF("src", "dst").localCheckpoint()
      val fullDf = (old ++ novel).toDF("src", "dst").localCheckpoint()
      val terms = graft.ops.Graph
        .deltaTriangleInstances(oldDf, novelDf).localCheckpoint()
      def cmap(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val oldC = cmap(graft.ops.Graph.cornerCounts(oldDf))
      val deltaC = cmap(graft.ops.Graph.cornerDeltaOf(terms))
      val mergedC = (oldC.keySet ++ deltaC.keySet).map(k =>
        k -> (oldC.getOrElse(k, 0L) + deltaC.getOrElse(k, 0L)))
        .filter(_._2 > 0).toMap
      assert(mergedC === cmap(graft.ops.Graph.cornerCounts(fullDf)),
        s"trial $trial: corners merge ≠ recompute (|old|=${old.size}, " +
          s"|novel|=${novel.size})")
      def tmap(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val oldT = tmap(graft.ops.Graph.edgeCommonCounts(oldDf))
      val deltaT = tmap(graft.ops.Graph.tieDeltaOf(terms))
      val mergedT = (oldT.keySet ++ deltaT.keySet).map(k =>
        k -> (oldT.getOrElse(k, 0L) + deltaT.getOrElse(k, 0L)))
        .filter(_._2 > 0).toMap
      val fullT = tmap(graft.ops.Graph.edgeCommonCounts(fullDf))
      assert(mergedT === fullT,
        s"trial $trial: ties merge ≠ recompute")
      if (fullT.nonEmpty) sawTies += 1
    }
    assert(sawTies >= 4,
      s"only $sawTies/8 trials produced triangles — sweep too sparse " +
        "to prove the merge")
  }

  test("src-keyed aggregates ride the bucketed standing layout with zero exchanges") {
    val st = GraphStateStore.standing(spark, sfDir, 1L, 1L)
    val bucketedDeg = st.edges.groupBy("src").agg(count(lit(1)).as("n"))
    val plan = bucketedDeg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"degree pass over the bucketed layout must not shuffle:\n$plan")
    // the raw twin genuinely pays the exchange the layout removes
    val raw = graft.ops.Graph
      .coPurchaseEdges(Tables.lineitem(spark, sfDir))
      .filter(col("src") < col("dst"))
      .groupBy("src").agg(count(lit(1)).as("n"))
    assert(raw.queryExecution.executedPlan.toString.contains("Exchange"))
    // and the answers agree
    assert(bucketedDeg.collect().map(_.toSeq).toSet
      === raw.collect().map(_.toSeq).toSet)
    // runtime metrics, not just the plan string (the WarehouseSpec
    // measured-bytes treatment): the layout pass writes ZERO shuffle
    // bytes through a listener-audited run (toRdd — a count() would
    // append its own exchange and charge bytes to the claim)
    val bytes = graft.ops.Measure.shuffleWriteBytes(spark) {
      bucketedDeg.queryExecution.toRdd.count(); ()
    }
    assert(bytes === 0L,
      s"bucketed degree pass wrote $bytes shuffle bytes — expected none")
  }

  test("a PageRank round over the bucketed layout: broadcast join, one |nodes| exchange, no edge shuffle") {
    val st = GraphStateStore.standing(spark, sfDir, 1L, 1L)
    val edges = graft.ops.Graph.bothDirs(st.edges)
    // per-round state derives from STANDING degree state — the loop
    // reads the store's |V|-row table, it never re-aggregates edges
    val contrib = st.degrees.select(col("node"),
      call_function("div", lit(1000000L), col("deg")).as("c"))
    val round = edges.join(broadcast(contrib),
        edges("src") === contrib("node"))
      .groupBy("dst").agg(sum("c").as("cin"))
    val plan = round.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the rank vector must broadcast onto the stationary edges:\n$plan")
    val edgeExchanges = "Exchange hashpartitioning\\(src".r
      .findAllMatchIn(plan).size
    assert(edgeExchanges === 0,
      s"the |E| edge list must never move in the loop:\n$plan")
    val dstExchanges = "Exchange hashpartitioning\\(dst".r
      .findAllMatchIn(plan).size
    assert(dstExchanges === 1,
      s"exactly the |nodes|-sized contribution aggregate shuffles:\n$plan")
  }

  test("the novel-edge anti-join never re-shuffles the standing side") {
    // The refresh crux at 100 TB: novel = delta-candidate edges ANTI
    // standing. The standing side is src-bucketed with bucket count =
    // shuffle partitions; with subset-key co-partitioning unlocked the
    // anti-join re-keys ONLY the delta side — the refresh cost is
    // O(delta), not O(graph).
    val st = GraphStateStore.standing(spark, sfDir, 19L, 20L)
    val li = Tables.lineitem(spark, sfDir)
    val keys = li.agg(min("l_orderkey").as("lo"), max("l_orderkey").as("hi"))
    val delta = li.crossJoin(broadcast(keys))
      .filter(col("l_orderkey") > GraphStateStore.cutExpr(19L, 20L))
    // the delta is materialized (in a refresh job it just landed), so
    // the plan under test is exactly the refresh join
    val deltaCand = graft.ops.Graph.coPurchaseEdges(delta)
      .filter(col("src") < col("dst")).localCheckpoint()
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      withConf("spark.sql.requireAllClusterKeysForCoPartition", "false") {
        // the refresh job re-keys the SMALL side to the layout's src
        // hash — with subset co-partitioning unlocked, both sides then
        // carry HashPartitioning(src, n) and the standing scan reads in
        // place (left alone, the planner re-shuffles the BIG standing
        // side to the delta's (src, dst) hash instead)
        val novel = deltaCand
          .repartition(spark.sessionState.conf.numShufflePartitions,
            col("src"))
          .join(st.edges, Seq("src", "dst"), "left_anti")
        val plan = novel.queryExecution.executedPlan.toString
        val exchanges = "Exchange hashpartitioning".r
          .findAllMatchIn(plan).size
        assert(exchanges === 1,
          s"only the delta side may move — the standing layout reads in place:\n$plan")
        assert(plan.contains("Bucketed: true"),
          s"the standing side must be the bucketed scan:\n$plan")
        assert(novel.count() > 0, "the fixture delta must add real edges")
      }
    }
  }
}
