package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.Num
import graft.sources.{Bucketed, Partitioned}
import graft.tables.Tables
import Registry.{Entry, Q}

/** Warehouse-maintenance surface: the layout and refresh machinery a
  * 100 TB deployment runs BETWEEN queries so the queries themselves stay
  * cheap — co-bucketed join layouts (write the join shuffle once, reuse it
  * forever) and incremental aggregate maintenance (refresh materialized
  * state from the delta instead of rescanning history).
  *
  * The reference has neither: every run re-reads and re-joins the raw
  * CSVs (reference: src/spark/training.py:113-145) and every dashboard
  * refresh recomputes its aggregates from the full interaction history
  * (reference: src/streaming_service.py:336). Both patterns here are the
  * standing fix: pay the full-scan cost once, then amortize.
  */
object Warehouse {

  // ------------------------------------------------------------ bucketed join

  /** Revenue-by-nation through the CO-BUCKETED orders⋈customer layout
    * ([[graft.sources.Bucketed.coBucketedOrdersCustomer]]): both sides were
    * written pre-hashed into 8 buckets on the customer key, so the equi-join
    * needs no Exchange on either side — each task zips bucket i of orders
    * with bucket i of customer (BucketedSpec pins the exchange-free plan and
    * the `SelectedBucketsCount` bucket-pruned point probe; at sf the
    * optimizer may still choose broadcast for the small dim — the SPEC
    * disables broadcast to prove the bucketed path, the registry query lets
    * Catalyst pick). The result is byte-identical to the plain join — the
    * oracle reads the raw parquet — which is exactly the claim: bucketing
    * changes the PLAN, never the answer.
    *
    * Scale shape: the one-time bucketed write shuffles each side once;
    * after that, every o_custkey equi-join, GROUP BY, or point probe rides
    * the layout with zero exchanges. The post-join rollup to |nations| rows
    * is a partial+final hash aggregate.
    */
  private val bucketedJoin: Q = (s, d) => {
    val (o, c) = Bucketed.coBucketedOrdersCustomer(s, d)
    o.join(c, col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_orders"),
        countDistinct("c_custkey").as("n_buyers"),
        sum(Num.cents(col("o_totalprice"))).as("revenue_cents"))
      .orderBy("c_nationkey")
  }

  private val bucketedJoinSql =
    """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_buyers,
      |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |         AS revenue_cents
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  // --------------------------------------------------- incremental aggregates

  /** Incremental aggregate maintenance — the materialized-view refresh
    * algebra: per-customer order metrics kept as a MERGEABLE state
    * (count, sum, min, max, last-day), refreshed by combining the standing
    * history state with a delta-only state instead of rescanning history.
    * The query splits orders at the 80% point of the day span (the
    * [[LlmQueries]] `q_split_temporal` boundary discipline — data-derived,
    * identical in both engines), builds the two partial states, merges
    * them, and derives the serving metrics (avg = sum div count in exact
    * integer cents) from the merged state. The ◆ oracle is the FULL
    * recompute over all orders — hash equality IS the proof that the merge
    * algebra loses nothing, the same claim the driver's own partial+final
    * hash aggregates rely on, here lifted to cross-refresh persistence.
    *
    * min/max merge: `least(coalesce(h, d), coalesce(d, h))` — null-safe on
    * both engines without relying on either's least/greatest null
    * convention (Spark skips nulls, DuckDB ignores them — the double
    * coalesce never feeds a null to either).
    *
    * Scale shape: the history side is |customers| STATE rows (at 100 TB:
    * read from the standing store, here recomputed for the oracle's sake);
    * the delta side scans only the refresh window; the merge is a
    * |customers|-row full-outer join on the state key — co-bucket the
    * state table on o_custkey ([[graft.sources.Bucketed]]) and the merge
    * too is exchange-free on the history side. [[graft.sources.AggStateStore]]
    * persists this state across refreshes.
    */
  private val incrAgg: Q = (s, d) => {
    val o = Tables.orders(s, d).select(col("o_custkey"),
      expr("unix_micros(o_orderdate) div 86400000000").as("day"),
      Num.cents(col("o_totalprice")).as("cents"))
    val bounds = o.agg(min("day").as("lo"), max("day").as("hi"))
    val tagged = o.crossJoin(broadcast(bounds))
      .withColumn("cut",
        col("lo") + call_function("div",
          (col("hi") - col("lo") + lit(1L)) * lit(8L), lit(10L)))
    def state(df: org.apache.spark.sql.DataFrame, tag: String) =
      df.groupBy("o_custkey").agg(
        count(lit(1)).as(s"n_$tag"),
        sum("cents").as(s"sum_$tag"),
        min("cents").as(s"min_$tag"),
        max("cents").as(s"max_$tag"),
        max("day").as(s"day_$tag"))
    val hist = state(tagged.filter(col("day") < col("cut")), "h")
    val delta = state(tagged.filter(col("day") >= col("cut")), "d")
    hist.join(delta, Seq("o_custkey"), "full_outer")
      .select(col("o_custkey"),
        (coalesce(col("n_h"), lit(0L)) + coalesce(col("n_d"), lit(0L)))
          .as("n_orders"),
        (coalesce(col("sum_h"), lit(0L)) + coalesce(col("sum_d"), lit(0L)))
          .as("revenue_cents"),
        least(coalesce(col("min_h"), col("min_d")),
          coalesce(col("min_d"), col("min_h"))).as("min_cents"),
        greatest(coalesce(col("max_h"), col("max_d")),
          coalesce(col("max_d"), col("max_h"))).as("max_cents"),
        greatest(coalesce(col("day_h"), col("day_d")),
          coalesce(col("day_d"), col("day_h"))).as("last_day"))
      .withColumn("avg_cents",
        call_function("div", col("revenue_cents"), col("n_orders")))
      .orderBy("o_custkey")
  }

  private val incrAggSql =
    """WITH o AS (
      |  SELECT o_custkey, epoch_us(o_orderdate) // 86400000000 AS day,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders)
      |SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(SUM(cents) AS BIGINT) AS revenue_cents,
      |       MIN(cents) AS min_cents, MAX(cents) AS max_cents,
      |       MAX(day) AS last_day,
      |       CAST(SUM(cents) AS BIGINT) // CAST(count(*) AS BIGINT)
      |         AS avg_cents
      |FROM o GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  // ------------------------------------------- dynamic partition pruning

  /** Quarterly revenue through the month-partitioned orders layout
    * ([[graft.sources.Partitioned.ordersByMonth]]) with the quarter filter
    * on a JOINED month dimension — the shape where static pruning is
    * impossible (the fact's scan predicate mentions no partition column)
    * and dynamic partition pruning is the difference between reading 3
    * months and reading all of them. Catalyst plants a runtime
    * `dynamicpruning` subquery on the fact scan's PartitionFilters that
    * reuses the dim's broadcast, so the directories outside the selected
    * quarter are never opened (WarehouseSpec pins the dynamicpruning
    * expression in the executed plan AND that the pruned scan reads only
    * the Q1 partitions; the ◆ oracle reads the RAW table — the layout
    * changes the scan, never the answer).
    *
    * Scale shape: at 100 TB the fact side is the whole corpus and the dim
    * broadcast is |months| rows; DPP turns "join then discard 75% of the
    * scan" into "scan 25%". The dim here derives from the raw orders table
    * (a date dimension in production) — NOT from the partitioned scan, so
    * the pruning subquery and the pruned scan are genuinely different
    * subtrees.
    */
  private val dppPrune: Q = (s, d) => {
    val fact = Partitioned.ordersByMonth(s, d)
    val dim = Tables.orders(s, d)
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("o_month"))
      .distinct()
      .withColumn("mm", substring(col("o_month"), 6, 2).cast("int"))
    val sel = dim.filter(col("mm") <= 3).select("o_month")
    fact.join(broadcast(sel), "o_month")
      .groupBy("o_month")
      .agg(count(lit(1)).as("n_orders"),
        sum(Num.cents(col("o_totalprice"))).as("revenue_cents"))
      .orderBy("o_month")
  }

  private val dppPruneSql =
    """SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
      |       CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |         AS revenue_cents
      |FROM orders WHERE month(o_orderdate) <= 3
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------- incremental join views

  /** Incremental JOIN-view maintenance — the delta algebra for a
    * materialized fact⋈fact join, completing what `q_incr_agg` proves for
    * aggregates: with each side split into standing history and delta
    * (data-derived 80% day cuts, one per table), the view refresh is
    *   ΔV = ΔO⋈E_old ∪ O_old⋈ΔE ∪ ΔO⋈ΔE
    * and V_new = V_old ∪ ΔV — four pairwise-disjoint terms whose union
    * covers O⋈E exactly (old/new × old/new partitions the pair space).
    * The ◆ oracle is the FULL recompute of the join rollup: hash equality
    * proves the decomposition is complete and non-overlapping — no pair
    * lost, no pair double-counted.
    *
    * Scale shape: at refresh time V_old is READ (here recomputed for the
    * oracle's sake), so the three computed terms each carry a delta on at
    * least one side — cost ∝ delta, not history; every term is the same
    * customer-keyed equi-join, so a co-bucketed layout
    * ([[graft.sources.Bucketed]]) makes all three exchange-free on their
    * big side. The rollup after the union is a partial+final hash
    * aggregate on the join key.
    */
  private val incrJoin: Q = (s, d) => {
    val o = Tables.orders(s, d).select(col("o_custkey").as("k"),
      expr("unix_micros(o_orderdate) div 86400000000").as("od"),
      Num.cents(col("o_totalprice")).as("oc"))
    val e = Tables.events(s, d).select(col("user_id").as("k"),
      expr("unix_micros(ts) div 86400000000").as("ed"),
      Num.cents(col("value")).as("ec"))
    def withCut(df: org.apache.spark.sql.DataFrame, dayCol: String,
        cutName: String) =
      df.crossJoin(broadcast(df.agg((min(col(dayCol)) + call_function("div",
        (max(col(dayCol)) - min(col(dayCol)) + lit(1L)) * lit(8L), lit(10L)))
        .as(cutName))))
    val oc_ = withCut(o, "od", "ocut")
    val ec_ = withCut(e, "ed", "ecut")
    val oOld = oc_.filter(col("od") < col("ocut"))
    val oNew = oc_.filter(col("od") >= col("ocut"))
    val eOld = ec_.filter(col("ed") < col("ecut"))
    val eNew = ec_.filter(col("ed") >= col("ecut"))
    def term(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame) =
      a.select(col("k"), col("oc")).join(b.select(col("k"), col("ec")), "k")
    val vOld = term(oOld, eOld)
    val delta = term(oNew, eOld)
      .unionByName(term(oOld, eNew))
      .unionByName(term(oNew, eNew))
    vOld.unionByName(delta)
      .groupBy("k")
      .agg(count(lit(1)).as("n_pairs"), sum("oc").as("o_cents"),
        sum("ec").as("e_cents"))
      .orderBy("k")
  }

  private val incrJoinSql =
    """SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS n_pairs,
      |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |         AS o_cents,
      |       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
      |         AS e_cents
      |FROM orders JOIN events ON o_custkey = user_id
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------ anti-entropy table diff

  /** Merkle-style snapshot diff — find WHAT changed between two table
    * snapshots by comparing per-range fingerprints first and re-reading
    * only the ranges that disagree, the anti-entropy pattern replication
    * and backup-audit systems use when "full-outer-join the two 100 TB
    * snapshots" is not an option. The synthetic second snapshot derives
    * deterministically from orders with a data-derived modulus m =
    * max(key) div 20 (no fixture-size assumption — the `q_merge_upsert`
    * ADVICE lesson): keys ≡1 (mod m) get +5.00, keys ≡2 are deleted,
    * keys ≡3 are re-inserted above the key space.
    *
    * Pass 1 collapses both snapshots to 64 (range, count, hash-sum)
    * fingerprint rows — row hash = md5-60 of the (key, cents) pair,
    * folded mod 2⁴⁰ so a 64-way range sum can never overflow a long; a
    * range whose count AND order-independent hash-sum both match holds no
    * change (deterministic here: fixed data, fixed hash). Pass 2 re-reads
    * ONLY the mismatched ranges — the ≤64 range ids collect to the driver
    * (bounded by construction, the [[graft.ops.Rank]] discipline) and
    * return as key-interval predicates the parquet scan can push down —
    * and full-outer-joins just those slices into modified/deleted/inserted
    * verdict rows. The ◆ oracle is the DEFINITIONAL unrestricted
    * full-outer diff: hash equality proves the fingerprint shortcut
    * dropped nothing (same claim shape as `q_simjoin_prefix`).
    *
    * Scale shape: pass 1 is two scans collapsing map-side to 64 rows each;
    * pass 2's cost is proportional to the CHANGED fraction of the table,
    * not the table (WarehouseSpec pins the pushed key-interval filters and
    * that clean ranges exist to skip at the fixture).
    */
  private val tableDiff: Q = (s, d) => {
    import graft.ops.Hashing
    val base = Tables.orders(s, d).select(col("o_orderkey").as("k"),
      Num.cents(col("o_totalprice")).as("cents"))
    val Row0 = base.agg(max("k")).collect()(0)
    val mx = Row0.getLong(0)
    val m = math.max(mx / 20L, 1L)
    val newT = base.filter(pmod(col("k"), lit(m)) =!= 2)
      .withColumn("cents", when(pmod(col("k"), lit(m)) === 1,
        col("cents") + lit(500L)).otherwise(col("cents")))
      .unionByName(base.filter(pmod(col("k"), lit(m)) === 3)
        .select((col("k") + lit(mx + 1L)).as("k"), col("cents")))
    // 64 key ranges covering both snapshots (inserted keys ≤ 2·mx+1)
    val rw = (2L * mx + 2L) / 64L + 1L
    def fp(df: org.apache.spark.sql.DataFrame, tag: String) =
      df.withColumn("range", call_function("div", col("k"), lit(rw)))
        .withColumn("h", pmod(Hashing.md5Long60(
          concat(col("k").cast("string"), lit("|"), col("cents").cast("string"))),
          lit(1L << 40)))
        .groupBy("range")
        .agg(count(lit(1)).as(s"n_$tag"), sum("h").as(s"fp_$tag"))
    val mismatched = fp(base, "b").join(fp(newT, "n"), Seq("range"), "full_outer")
      .filter(!(col("n_b") <=> col("n_n")) || !(col("fp_b") <=> col("fp_n")))
      .select("range").collect().map(_.getLong(0)).sorted
    val inRanges = mismatched.map(r =>
        col("k") >= lit(r * rw) && col("k") < lit((r + 1) * rw))
      .reduceOption(_ || _).getOrElse(lit(false))
    base.filter(inRanges).as("b")
      .join(newT.filter(inRanges).as("n"), col("b.k") === col("n.k"),
        "full_outer")
      .filter(col("b.k").isNull || col("n.k").isNull ||
        col("b.cents") =!= col("n.cents"))
      .select(coalesce(col("b.k"), col("n.k")).as("k"),
        when(col("b.k").isNull, lit("inserted"))
          .when(col("n.k").isNull, lit("deleted"))
          .otherwise(lit("modified")).as("status"),
        col("b.cents").as("base_cents"), col("n.cents").as("new_cents"))
      .orderBy("k")
  }

  private val tableDiffSql =
    """WITH base AS (SELECT o_orderkey AS k,
      |                     CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |              FROM orders),
      |mx AS (SELECT MAX(k) AS mx, greatest(MAX(k) // 20, 1) AS m FROM base),
      |newt AS (
      |  SELECT k, CASE WHEN k % m = 1 THEN cents + 500 ELSE cents END AS cents
      |  FROM base, mx WHERE k % m <> 2
      |  UNION ALL
      |  SELECT k + mx + 1 AS k, cents FROM base, mx WHERE k % m = 3)
      |SELECT COALESCE(b.k, n.k) AS k,
      |       CASE WHEN b.k IS NULL THEN 'inserted'
      |            WHEN n.k IS NULL THEN 'deleted'
      |            ELSE 'modified' END AS status,
      |       b.cents AS base_cents, n.cents AS new_cents
      |FROM base b FULL OUTER JOIN newt n ON b.k = n.k
      |WHERE b.k IS NULL OR n.k IS NULL OR b.cents <> n.cents
      |ORDER BY k""".stripMargin

  // ------------------------------------------------- join cardinality audit

  /** Pre-join cardinality + skew audit — the planner-aid that decides a
    * fact⋈fact join's physical strategy BEFORE paying for it. For an
    * equi-join the exact output size is Σ_k n_a(k)·n_b(k), computable from
    * two per-key count aggregates and a |keys|-row join of the count
    * tables — never the data itself (the join-side companion of
    * [[Aggregates]]' `q_skew_audit`, which makes the same argument for
    * aggregations). The verdict column applies the real decision rules:
    * broadcast when the build side is small, salt ([[graft.ops.Salt]])
    * when one key would dominate the output, plain shuffle otherwise.
    *
    * Scale shape: each side collapses map-side to |keys| count rows; the
    * matched-key join and both follow-ups run on count tables; the 1-row
    * summary/hot-key/side-total frames meet by broadcast. At 100 TB this
    * audit costs two scans and shuffles only key counts — the join it
    * sizes would shuffle the data. hot_key ties break to the smallest key
    * so the row is deterministic.
    */
  private val joinCardEst: Q = (s, d) => {
    val a = Tables.orders(s, d).groupBy(col("o_custkey").as("k"))
      .agg(count(lit(1)).as("n_a"))
    val b = Tables.events(s, d).groupBy(col("user_id").as("k"))
      .agg(count(lit(1)).as("n_b"))
    val matched = a.join(b, "k")
      .select(col("k"), (col("n_a") * col("n_b")).as("pairs"))
    val summary = matched.agg(
      count(lit(1)).as("n_keys_both"),
      sum("pairs").as("est_join_rows"),
      max("pairs").as("max_key_pairs"))
    val hot = matched
      .crossJoin(broadcast(summary.select("max_key_pairs")))
      .filter(col("pairs") === col("max_key_pairs"))
      .agg(min("k").as("hot_key"))
    val sides = a.agg(count(lit(1)).as("n_keys_a"), sum("n_a").as("rows_a"))
      .crossJoin(b.agg(count(lit(1)).as("n_keys_b"), sum("n_b").as("rows_b")))
    summary.crossJoin(broadcast(hot)).crossJoin(broadcast(sides))
      .withColumn("strategy",
        when(col("rows_b") <= 100000L, lit("broadcast"))
          .when(col("max_key_pairs") * lit(20L) > col("est_join_rows"),
            lit("salt"))
          .otherwise(lit("shuffle")))
      .select("n_keys_a", "n_keys_b", "n_keys_both", "rows_a", "rows_b",
        "est_join_rows", "max_key_pairs", "hot_key", "strategy")
  }

  private val joinCardEstSql =
    """WITH a AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS n_a
      |           FROM orders GROUP BY 1),
      |b AS (SELECT user_id AS k, CAST(count(*) AS BIGINT) AS n_b
      |      FROM events GROUP BY 1),
      |m AS (SELECT a.k, n_a * n_b AS pairs FROM a JOIN b ON a.k = b.k),
      |s AS (SELECT CAST(count(*) AS BIGINT) AS n_keys_both,
      |             CAST(SUM(pairs) AS BIGINT) AS est_join_rows,
      |             MAX(pairs) AS max_key_pairs FROM m),
      |h AS (SELECT MIN(k) AS hot_key FROM m, s WHERE pairs = max_key_pairs),
      |sa AS (SELECT CAST(count(*) AS BIGINT) AS n_keys_a,
      |              CAST(SUM(n_a) AS BIGINT) AS rows_a FROM a),
      |sb AS (SELECT CAST(count(*) AS BIGINT) AS n_keys_b,
      |              CAST(SUM(n_b) AS BIGINT) AS rows_b FROM b)
      |SELECT n_keys_a, n_keys_b, n_keys_both, rows_a, rows_b,
      |       est_join_rows, max_key_pairs, hot_key,
      |       CASE WHEN rows_b <= 100000 THEN 'broadcast'
      |            WHEN max_key_pairs * 20 > est_join_rows THEN 'salt'
      |            ELSE 'shuffle' END AS strategy
      |FROM s, h, sa, sb""".stripMargin

  // ------------------------------------------------------------- time travel

  /** TIME TRAVEL under the hash gate: the [[graft.sources.SnapshotStore]]
    * composition end-to-end — four per-customer status upsert batches
    * (batch i = each customer's latest order among o_orderkey ≡ i mod 4,
    * argmax by (order date, order key)) commit as versions 1..4 into a
    * fresh store, and the query reports the status census `readAsOf(2)`
    * vs `readAsOf(4)`. The ◆ oracle recomputes the SAME versioned
    * latest-wins from the raw orders table definitionally (two window
    * argmaxes) — hash equality proves the store's commit/read path
    * reconstructs exactly the state each commit prefix defines, the
    * claim that makes "re-materialize the snapshot a model trained on"
    * trustworthy. (SnapshotStoreSpec proves the mechanics — replay,
    * horizon, compaction; this query puts the read RESULT itself under
    * the driver's cross-engine gate.)
    */
  /** The 4-commit fixture store [[timeTravel]] and [[versionDiff]] both
    * read: built ONCE per (session, dataset) and cached — the two
    * queries (×3 bench repetitions each) would otherwise each write
    * their own disposable store copy. The temp roots are deleted by one
    * JVM shutdown hook (results are read through this store lazily, so
    * deletion cannot happen before the last consumer — session end is
    * the safe horizon).
    */
  /** Build the three fixture serving stores (snapshot / agg-state /
    * latest) outside any query's timing — Bench warm-up hook (review
    * r14: these are session-staged like the rest, so their one-time
    * ingest belongs in the staged-build tail, not a first sample).
    */
  private[graft] def prewarmStaged(s: org.apache.spark.sql.SparkSession,
      d: String): Unit = {
    versionedStore(s, d)
    aggStateStore(s, d)
    latestStore(s, d)
    ()
  }

  private val ttStores = new graft.sources.LayoutCache.SessionCache[
    String, graft.sources.SnapshotStore]()

  private def versionedStore(s: org.apache.spark.sql.SparkSession,
      d: String): graft.sources.SnapshotStore =
    ttStores.getOrBuild(s, d) {
      val tmp = graft.sources.LayoutCache.tempRoot("graft-tt")
      val store = new graft.sources.SnapshotStore(s, "file://" + tmp)
      def batch(i: Int) = Tables.orders(s, d)
        .filter(pmod(col("o_orderkey"), lit(4)) === i)
        .groupBy("o_custkey")
        .agg(max(struct(expr("unix_micros(o_orderdate)").as("dus"),
          col("o_orderkey").as("ok"), col("o_orderstatus").as("st"))).as("m"))
        .select(col("o_custkey").as("user_id"), col("m.st").as("event_type"))
      (0 to 3).foreach(i => store.commit(batch(i)))
      store
    }

  /** The other two stores' READ paths under the cross-engine hash gate
    * (the `q_time_travel` treatment extended family-wide: the specs
    * prove replay/compaction mechanics, these prove the served RESULT):
    * one cached fixture store per (session, dataset) via [[graft.sources.LayoutCache]].
    */
  private val aggStores = new graft.sources.LayoutCache.SessionCache[
    String, graft.sources.AggStateStore]()

  private def aggStateStore(s: org.apache.spark.sql.SparkSession,
      d: String): graft.sources.AggStateStore =
    aggStores.getOrBuild(s, d) {
      val store = new graft.sources.AggStateStore(s,
        "file://" + graft.sources.LayoutCache.tempRoot("graft-aggserve"))
      (0 to 2).foreach { i =>
        store.appendBatch(Tables.orders(s, d)
          .filter(pmod(col("o_orderkey"), lit(3)) === i), i.toLong)
      }
      store
    }

  /** ◆ `q_agg_state_serve` — the [[graft.sources.AggStateStore]]
    * composition end-to-end: three batch ingests (orders split by key
    * mod 3 — every batch touches overlapping customers, so the
    * merge-on-read genuinely folds), then `serve()`. The oracle is the
    * DEFINITIONAL single-pass aggregate over all orders — hash equality
    * proves partial-state append + merge loses nothing, the
    * `q_incr_agg` claim lifted onto the store's own read path.
    */
  private val aggStateServe: Q = (s, d) => aggStateStore(s, d).serve()

  private val aggStateServeSql =
    """SELECT o_custkey,
      |       CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |         AS revenue_cents,
      |       CAST(MIN(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |         AS min_cents,
      |       CAST(MAX(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |         AS max_cents,
      |       CAST(MAX(epoch_us(o_orderdate) // 86400000000) AS BIGINT)
      |         AS last_day,
      |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |         // CAST(count(*) AS BIGINT) AS avg_cents
      |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  private val latestStores = new graft.sources.LayoutCache.SessionCache[
    String, graft.sources.LatestStore]()

  private def latestStore(s: org.apache.spark.sql.SparkSession,
      d: String): graft.sources.LatestStore =
    latestStores.getOrBuild(s, d) {
      val store = new graft.sources.LatestStore(s,
        "file://" + graft.sources.LayoutCache.tempRoot("graft-latserve"))
      val changes = Tables.events(s, d).select(col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_id").as("seq"),
        col("event_type"))
      (0 to 2).foreach(i =>
        store.append(changes.filter(pmod(col("seq"), lit(3)) === i)))
      store
    }

  /** ◆ `q_latest_serve` — the [[graft.sources.LatestStore]] CDC
    * snapshot under the hash gate: the event stream lands as three
    * interleaved change batches (split by change id mod 3, so
    * arrival order is deliberately NOT event-time order), and the
    * served latest-wins state must still equal the definitional
    * per-user (event-time, change-id) argmax over the raw stream.
    */
  private val latestServe: Q = (s, d) => latestStore(s, d).snapshot()

  private val latestServeSql =
    """SELECT user_id, CAST(us AS BIGINT) AS us, CAST(seq AS BIGINT) AS seq,
      |       event_type
      |FROM (SELECT user_id, epoch_ns(ts) // 1000 AS us, event_id AS seq,
      |             event_type,
      |             row_number() OVER (PARTITION BY user_id
      |                                ORDER BY epoch_ns(ts) // 1000 DESC,
      |                                         event_id DESC) AS rn
      |      FROM events)
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  private val timeTravel: Q = (s, d) => {
    val store = versionedStore(s, d)
    Seq(2L, 4L).map { v =>
      store.readAsOf(v).groupBy("event_type")
        .agg(count(lit(1)).as("n_users")).withColumn("version", lit(v))
    }.reduce(_.unionByName(_))
      .select("version", "event_type", "n_users")
      .orderBy("version", "event_type")
  }

  private val timeTravelSql =
    """WITH b AS (
      |  SELECT o_custkey AS u, (o_orderkey % 4) + 1 AS v,
      |         o_orderstatus AS st,
      |         row_number() OVER (PARTITION BY o_custkey, o_orderkey % 4
      |                            ORDER BY o_orderdate DESC, o_orderkey DESC)
      |           AS rn
      |  FROM orders),
      |c AS (SELECT u, v, st FROM b WHERE rn = 1),
      |ao AS (
      |  SELECT vv.version, u, st,
      |         row_number() OVER (PARTITION BY vv.version, u ORDER BY v DESC)
      |           AS rn
      |  FROM c JOIN (VALUES (2), (4)) vv(version) ON c.v <= vv.version)
      |SELECT CAST(version AS BIGINT) AS version, st AS event_type,
      |       CAST(count(*) AS BIGINT) AS n_users
      |FROM ao WHERE rn = 1
      |GROUP BY version, st ORDER BY version, event_type""".stripMargin

  // ------------------------------------------------------------ table health

  /** One-report warehouse vitals — the sweep an on-call engineer reads
    * before anything else: per audited table, row count, distinct key
    * count, duplicate-key mass (n − distinct: the silent fanout source
    * every join downstream inherits), and the latest data day (the
    * freshness column a stalled pipeline shows first; NULL for tables
    * with no time axis). Four independent single-scan aggregates
    * unioned at 4 rows — each table is scanned once, keys collapse in
    * the count-distinct pyramid, nothing row-sized crosses the union.
    * Complements ◆ `q_reconcile` (cross-table key coverage) and
    * ◆ `q_constraints` (declarative per-rule gates): this is the
    * always-on dashboard row, those are the deep checks.
    */
  private val tableHealth: Q = (s, d) => {
    def vitals(name: String, df: org.apache.spark.sql.DataFrame,
        key: String, dayExpr: Option[String]) =
      df.agg(count(lit(1)).as("n_rows"),
          countDistinct(col(key)).as("distinct_keys"),
          dayExpr.map(e => max(expr(e)))
            .getOrElse(max(lit(null).cast("long"))).as("latest_day"))
        .select(lit(name).as("tbl"), col("n_rows"), col("distinct_keys"),
          (col("n_rows") - col("distinct_keys")).as("dup_keys"),
          col("latest_day"))
    vitals("documents", Tables.documents(s, d), "doc_id", None)
      .unionByName(vitals("events", Tables.events(s, d), "event_id",
        Some("unix_micros(ts) div 86400000000")))
      .unionByName(vitals("lineitem", Tables.lineitem(s, d), "l_orderkey",
        Some("unix_micros(l_shipdate) div 86400000000")))
      .unionByName(vitals("orders", Tables.orders(s, d), "o_orderkey",
        Some("unix_micros(o_orderdate) div 86400000000")))
      .orderBy("tbl")
  }

  private val tableHealthSql =
    """SELECT 'documents' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(count(DISTINCT doc_id) AS BIGINT) AS distinct_keys,
      |       CAST(count(*) - count(DISTINCT doc_id) AS BIGINT) AS dup_keys,
      |       CAST(NULL AS BIGINT) AS latest_day
      |FROM documents
      |UNION ALL
      |SELECT 'events', CAST(count(*) AS BIGINT),
      |       CAST(count(DISTINCT event_id) AS BIGINT),
      |       CAST(count(*) - count(DISTINCT event_id) AS BIGINT),
      |       CAST(MAX(epoch_ns(ts) // 1000 // 86400000000) AS BIGINT)
      |FROM events
      |UNION ALL
      |SELECT 'lineitem', CAST(count(*) AS BIGINT),
      |       CAST(count(DISTINCT l_orderkey) AS BIGINT),
      |       CAST(count(*) - count(DISTINCT l_orderkey) AS BIGINT),
      |       CAST(MAX(epoch_us(l_shipdate) // 86400000000) AS BIGINT)
      |FROM lineitem
      |UNION ALL
      |SELECT 'orders', CAST(count(*) AS BIGINT),
      |       CAST(count(DISTINCT o_orderkey) AS BIGINT),
      |       CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT),
      |       CAST(MAX(epoch_us(o_orderdate) // 86400000000) AS BIGINT)
      |FROM orders
      |ORDER BY tbl""".stripMargin

  /** What changed between two snapshot versions — the question TIME
    * TRAVEL exists to answer ("what moved under the model since it
    * trained"): states as-of v2 and v4 from the same [[timeTravel]]
    * store build, full-outer joined on the key, classified
    * added / changed / unchanged (this store has no deletes; the
    * category algebra covers `removed` when a tombstone payload is
    * modeled as an upsert). |keys|-sized on both sides; the ◆ oracle
    * recomputes both versioned states definitionally and diffs them the
    * same way — hash equality proves readAsOf's HISTORY is consistent,
    * not just each version in isolation.
    */
  private val versionDiff: Q = (s, d) => {
    val store = versionedStore(s, d)
    val a = store.readAsOf(2).select(col("user_id"),
      col("event_type").as("st_old"))
    val b = store.readAsOf(4).select(col("user_id"),
      col("event_type").as("st_new"))
    a.join(b, Seq("user_id"), "full_outer")
      .select(when(col("st_old").isNull, lit("added"))
        .when(col("st_new").isNull, lit("removed"))
        .when(col("st_old") =!= col("st_new"), lit("changed"))
        .otherwise(lit("unchanged")).as("category"))
      .groupBy("category").agg(count(lit(1)).as("n_keys"))
      .orderBy("category")
  }

  private val versionDiffSql =
    """WITH b AS (
      |  SELECT o_custkey AS u, (o_orderkey % 4) + 1 AS v,
      |         o_orderstatus AS st,
      |         row_number() OVER (PARTITION BY o_custkey, o_orderkey % 4
      |                            ORDER BY o_orderdate DESC, o_orderkey DESC)
      |           AS rn
      |  FROM orders),
      |c AS (SELECT u, v, st FROM b WHERE rn = 1),
      |v2 AS (SELECT u, st FROM (
      |         SELECT u, st, row_number() OVER (PARTITION BY u ORDER BY v DESC)
      |                  AS rn
      |         FROM c WHERE v <= 2) WHERE rn = 1),
      |v4 AS (SELECT u, st FROM (
      |         SELECT u, st, row_number() OVER (PARTITION BY u ORDER BY v DESC)
      |                  AS rn
      |         FROM c WHERE v <= 4) WHERE rn = 1)
      |SELECT CASE WHEN v2.u IS NULL THEN 'added'
      |            WHEN v4.u IS NULL THEN 'removed'
      |            WHEN v2.st <> v4.st THEN 'changed'
      |            ELSE 'unchanged' END AS category,
      |       CAST(count(*) AS BIGINT) AS n_keys
      |FROM v2 FULL OUTER JOIN v4 ON v2.u = v4.u
      |GROUP BY 1 ORDER BY category""".stripMargin

  /** Order→ship lead time and SLA attainment per priority — the
    * fulfillment-operations report (and, over a data pipeline's
    * submitted→completed timestamps, the job-latency SLO board): per
    * order priority, shipment count, exact mean lead days (day-sum ÷ n,
    * floor), worst case, and the share shipped within 30 / 60 / 90 days
    * in basis points — service levels as integer threshold-counts, not
    * percentile estimates (the SLA question is "what fraction made the
    * deadline", which is a conditional COUNT — cheaper and more robust
    * than inverting a quantile). One broadcast-dim join (orders is the
    * small side of lineitem⋈orders only at fixture scale — at 100 TB
    * both are facts and this is the co-bucketed join), one 5-group
    * aggregate.
    */
  private val leadTime: Q = (s, d) => {
    val days = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        (expr("unix_micros(l_shipdate) div 86400000000") -
          expr("unix_micros(o_orderdate) div 86400000000")).as("lead_days"))
    def within(n: Int) = sum((col("lead_days") <= n).cast("long"))
    days.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_ship"),
        sum("lead_days").as("sum_days"),
        max("lead_days").as("max_days"),
        within(30).as("w30"), within(60).as("w60"), within(90).as("w90"))
      .select(col("o_orderpriority"), col("n_ship"),
        call_function("div", col("sum_days"), col("n_ship"))
          .as("mean_days_floor"),
        col("max_days"),
        call_function("div", lit(10000L) * col("w30"), col("n_ship"))
          .as("sla30_bp"),
        call_function("div", lit(10000L) * col("w60"), col("n_ship"))
          .as("sla60_bp"),
        call_function("div", lit(10000L) * col("w90"), col("n_ship"))
          .as("sla90_bp"))
      .orderBy("o_orderpriority")
  }

  private val leadTimeSql =
    """WITH d AS (
      |  SELECT o_orderpriority,
      |         epoch_us(l_shipdate) // 86400000000 -
      |         epoch_us(o_orderdate) // 86400000000 AS lead_days
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |g AS (
      |  SELECT o_orderpriority,
      |         CAST(count(*) AS BIGINT) AS n_ship,
      |         CAST(SUM(lead_days) AS BIGINT) AS sum_days,
      |         CAST(MAX(lead_days) AS BIGINT) AS max_days,
      |         CAST(SUM(CASE WHEN lead_days <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS w30,
      |         CAST(SUM(CASE WHEN lead_days <= 60 THEN 1 ELSE 0 END) AS BIGINT) AS w60,
      |         CAST(SUM(CASE WHEN lead_days <= 90 THEN 1 ELSE 0 END) AS BIGINT) AS w90
      |  FROM d GROUP BY o_orderpriority)
      |SELECT o_orderpriority, n_ship,
      |       sum_days // n_ship AS mean_days_floor,
      |       max_days,
      |       (10000 * w30) // n_ship AS sla30_bp,
      |       (10000 * w60) // n_ship AS sla60_bp,
      |       (10000 * w90) // n_ship AS sla90_bp
      |FROM g ORDER BY o_orderpriority""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q_bucketed_join", bucketedJoin, Some(bucketedJoinSql)),
    Entry("q_incr_agg", incrAgg, Some(incrAggSql)),
    Entry("q_join_card_est", joinCardEst, Some(joinCardEstSql)),
    Entry("q_dpp_prune", dppPrune, Some(dppPruneSql)),
    Entry("q_table_diff", tableDiff, Some(tableDiffSql)),
    Entry("q_incr_join", incrJoin, Some(incrJoinSql)),
    Entry("q_time_travel", timeTravel, Some(timeTravelSql)),
    Entry("q_agg_state_serve", aggStateServe, Some(aggStateServeSql)),
    Entry("q_latest_serve", latestServe, Some(latestServeSql)),
    Entry("q_table_health", tableHealth, Some(tableHealthSql)),
    Entry("q_version_diff", versionDiff, Some(versionDiffSql)),
    Entry("q_lead_time", leadTime, Some(leadTimeSql)),
  )
}
