package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Ck.CkOps
import graft.ops.Num
import graft.tables.Tables
import Registry.{Entry, Q}

/** Exact-arithmetic statistical modelling over the warehouse: per-group
  * OLS trend fits, a single-scan moment/correlation matrix, series
  * autocorrelation, interval-union coverage, a-priori association rules,
  * and audience-overlap (exact + sketch) — the model-fitting analytics the
  * reference computes client-side on collected rows when at all
  * (reference: src/streamlit_app.py:640-670 trends the dashboard series in
  * pandas after `.collect()`; the engine keeps every sufficient statistic
  * distributed and exact).
  *
  * Numeric discipline (the PMI/Gini pattern): every statistic is derived
  * from integer sufficient statistics (counts, cents, dollar-rounded
  * units) aggregated exactly; ratios are formed ONCE at the end, from
  * identical int64 inputs in both engines, so `round4` is deterministic.
  * Where a final product exceeds int64 (the moment matrix's n·Σab at
  * large n), the widening happens on the already-aggregated single row —
  * Spark decimal(38,0) ↔ DuckDB HUGEINT — never on per-row data.
  *
  * Scale notes: each query is one or two hash-aggregate shuffles with
  * map-side partials over the fact; model algebra runs on aggregate rows
  * (|groups|, |days|, |pairs| — never data-sized). The OLS/Gram shape is
  * the normal-equations template: X^T X for p features is p² sums in ONE
  * scan, after which the solve is constant-size.
  */
object Analytics {

  // ---------------------------------------------------------------------
  // q_linreg_trend — per-nation OLS fit of monthly revenue
  // ---------------------------------------------------------------------

  /** Exact simple-regression trend of monthly order revenue per nation.
    *
    * x = month index since 1995-01 (fixture epoch), y = monthly revenue in
    * cents. The normal-equation solution is formed from four exact integer
    * sums per nation — slope_num = n·Σxy − Σx·Σy over den = n·Σx² − (Σx)²
    * — so the fitted slope/intercept are exact rationals; both numerators
    * and the shared denominator ship as hash-gated int64 alongside the
    * round4 dollar ratios. Plan: fact joins the customer dim once, two
    * hash aggregates (month cell → nation), nation names broadcast onto
    * the |nations| result rows.
    */
  private val linregTrendQ: Q = (s, d) => {
    val o = Tables.orders(s, d).select(
      col("o_custkey"),
      ((year(col("o_orderdate")) - lit(1995)) * lit(12) +
        month(col("o_orderdate")) - lit(1)).cast("long").as("mi"),
      Num.cents(col("o_totalprice")).as("cents"))
    val c = Tables.customer(s, d).select(
      col("c_custkey"), col("c_nationkey").cast("long").as("nk"))
    val monthly = o.join(c, col("o_custkey") === col("c_custkey"))
      .groupBy("nk", "mi").agg(sum("cents").as("y"))
    val fit = monthly.groupBy("nk").agg(
      count(lit(1)).as("n_months"),
      sum("mi").as("sx"),
      sum("y").as("sy"),
      sum(col("mi") * col("y")).as("sxy"),
      sum(col("mi") * col("mi")).as("sxx"))
      .select(
        col("nk"), col("n_months"),
        (col("n_months") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
        (col("n_months") * col("sxx") - col("sx") * col("sx")).as("den"),
        (col("sy") * col("sxx") - col("sx") * col("sxy")).as("icept_num"))
    val n = Tables.nation(s, d)
      .select(col("n_nationkey").cast("long").as("nk"), col("n_name"))
    fit.join(broadcast(n), "nk")
      .select(
        col("n_name"), col("n_months"), col("slope_num"), col("den"),
        col("icept_num"),
        Num.round4(col("slope_num") / col("den") / lit(100.0)).as("slope_dpm"),
        Num.round4(col("icept_num") / col("den") / lit(100.0)).as("icept_d"))
      .orderBy("n_name")
  }

  private val linregTrendSql =
    """WITH monthly AS (
      |  SELECT c_nationkey AS nk,
      |         CAST((year(o_orderdate) - 1995) * 12
      |              + month(o_orderdate) - 1 AS BIGINT) AS mi,
      |         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |fit AS (
      |  SELECT nk, CAST(count(*) AS BIGINT) AS n_months,
      |         CAST(SUM(mi) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |         CAST(SUM(mi * y) AS BIGINT) AS sxy,
      |         CAST(SUM(mi * mi) AS BIGINT) AS sxx
      |  FROM monthly GROUP BY 1)
      |SELECT n_name, n_months,
      |       n_months * sxy - sx * sy AS slope_num,
      |       n_months * sxx - sx * sx AS den,
      |       sy * sxx - sx * sxy AS icept_num,
      |       floor(CAST(n_months * sxy - sx * sy AS DOUBLE)
      |             / (n_months * sxx - sx * sx) / 100.0 * 10000.0 + 0.5)
      |         / 10000.0 AS slope_dpm,
      |       floor(CAST(sy * sxx - sx * sxy AS DOUBLE)
      |             / (n_months * sxx - sx * sx) / 100.0 * 10000.0 + 0.5)
      |         / 10000.0 AS icept_d
      |FROM fit JOIN nation ON nk = n_nationkey
      |ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------------
  // q_moment_matrix — single-scan pairwise correlation matrix
  // ---------------------------------------------------------------------

  /** Pairwise Pearson correlations among the four lineitem measures from
    * ONE scan: all 15 sufficient statistics (4 sums, 4 sums of squares,
    * 6 cross-products, count) aggregate in a single map-side-combined
    * pass, then the 6 off-diagonal pairs `inline()` out of the one result
    * row — the X^T X normal-equations/PCA input shape, where adding a
    * feature adds columns to the same scan, never a pass.
    *
    * Units are integers (quantity, whole dollars, pct points) so every
    * per-row product fits int64 at any tested SF; the final n·Σab − Σa·Σb
    * widening runs in decimal(38,0) ↔ HUGEINT on the single aggregate
    * row. Exact gates: n and the three sums per pair; the correlation is
    * one double division of identical exact integers.
    */
  private val momentMatrixQ: Q = (s, d) => {
    val li = Tables.lineitem(s, d).select(
      round(col("l_quantity")).cast("long").as("q"),
      round(col("l_extendedprice")).cast("long").as("p"),
      round(col("l_discount") * 100).cast("long").as("dc"),
      round(col("l_tax") * 100).cast("long").as("tx"))
    val g = li.agg(
      count(lit(1)).as("n"),
      sum("q").as("s_q"), sum("p").as("s_p"),
      sum("dc").as("s_d"), sum("tx").as("s_t"),
      sum(col("q") * col("q")).as("s_qq"),
      sum(col("p") * col("p")).as("s_pp"),
      sum(col("dc") * col("dc")).as("s_dd"),
      sum(col("tx") * col("tx")).as("s_tt"),
      sum(col("q") * col("p")).as("s_qp"),
      sum(col("q") * col("dc")).as("s_qd"),
      sum(col("q") * col("tx")).as("s_qt"),
      sum(col("p") * col("dc")).as("s_pd"),
      sum(col("p") * col("tx")).as("s_pt"),
      sum(col("dc") * col("tx")).as("s_dt"))
    def pairStruct(a: String, b: String, sa: String, sb: String,
        sab: String, saa: String, sbb: String) =
      struct(lit(a).as("col_a"), lit(b).as("col_b"), col("n").as("n"),
        col(sa).as("s_a"), col(sb).as("s_b"), col(sab).as("s_ab"),
        col(saa).as("s_aa"), col(sbb).as("s_bb"))
    val dec = "decimal(38,0)"
    def wide(c: Column) = c.cast(dec)
    val num = wide(col("n")) * wide(col("s_ab")) - wide(col("s_a")) * wide(col("s_b"))
    val denA = wide(col("n")) * wide(col("s_aa")) - wide(col("s_a")) * wide(col("s_a"))
    val denB = wide(col("n")) * wide(col("s_bb")) - wide(col("s_b")) * wide(col("s_b"))
    g.select(inline(array(
        pairStruct("disc", "tax", "s_d", "s_t", "s_dt", "s_dd", "s_tt"),
        pairStruct("price", "disc", "s_p", "s_d", "s_pd", "s_pp", "s_dd"),
        pairStruct("price", "tax", "s_p", "s_t", "s_pt", "s_pp", "s_tt"),
        pairStruct("qty", "disc", "s_q", "s_d", "s_qd", "s_qq", "s_dd"),
        pairStruct("qty", "price", "s_q", "s_p", "s_qp", "s_qq", "s_pp"),
        pairStruct("qty", "tax", "s_q", "s_t", "s_qt", "s_qq", "s_tt"))))
      .select(col("col_a"), col("col_b"), col("n"),
        col("s_a"), col("s_b"), col("s_ab"),
        Num.round4(num.cast("double") /
          (sqrt(denA.cast("double")) * sqrt(denB.cast("double")))).as("corr"))
      .orderBy("col_a", "col_b")
  }

  private val momentMatrixSql =
    """WITH m AS (
      |  SELECT CAST(round(l_quantity) AS BIGINT) AS q,
      |         CAST(round(l_extendedprice) AS BIGINT) AS p,
      |         CAST(round(l_discount * 100) AS BIGINT) AS dc,
      |         CAST(round(l_tax * 100) AS BIGINT) AS tx
      |  FROM lineitem),
      |g AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |         CAST(SUM(q) AS BIGINT) AS s_q, CAST(SUM(p) AS BIGINT) AS s_p,
      |         CAST(SUM(dc) AS BIGINT) AS s_d, CAST(SUM(tx) AS BIGINT) AS s_t,
      |         CAST(SUM(q*q) AS BIGINT) AS s_qq, CAST(SUM(p*p) AS BIGINT) AS s_pp,
      |         CAST(SUM(dc*dc) AS BIGINT) AS s_dd, CAST(SUM(tx*tx) AS BIGINT) AS s_tt,
      |         CAST(SUM(q*p) AS BIGINT) AS s_qp, CAST(SUM(q*dc) AS BIGINT) AS s_qd,
      |         CAST(SUM(q*tx) AS BIGINT) AS s_qt, CAST(SUM(p*dc) AS BIGINT) AS s_pd,
      |         CAST(SUM(p*tx) AS BIGINT) AS s_pt, CAST(SUM(dc*tx) AS BIGINT) AS s_dt
      |  FROM m),
      |pairs AS (
      |  SELECT 'disc' AS col_a, 'tax' AS col_b, n, s_d AS s_a, s_t AS s_b,
      |         s_dt AS s_ab, s_dd AS s_aa, s_tt AS s_bb FROM g
      |  UNION ALL SELECT 'price', 'disc', n, s_p, s_d, s_pd, s_pp, s_dd FROM g
      |  UNION ALL SELECT 'price', 'tax', n, s_p, s_t, s_pt, s_pp, s_tt FROM g
      |  UNION ALL SELECT 'qty', 'disc', n, s_q, s_d, s_qd, s_qq, s_dd FROM g
      |  UNION ALL SELECT 'qty', 'price', n, s_q, s_p, s_qp, s_qq, s_pp FROM g
      |  UNION ALL SELECT 'qty', 'tax', n, s_q, s_t, s_qt, s_qq, s_tt FROM g)
      |SELECT col_a, col_b, n, s_a, s_b, s_ab,
      |       floor(CAST(CAST(n AS HUGEINT) * s_ab - CAST(s_a AS HUGEINT) * s_b
      |                  AS DOUBLE)
      |             / (sqrt(CAST(CAST(n AS HUGEINT) * s_aa
      |                          - CAST(s_a AS HUGEINT) * s_a AS DOUBLE))
      |                * sqrt(CAST(CAST(n AS HUGEINT) * s_bb
      |                            - CAST(s_b AS HUGEINT) * s_b AS DOUBLE)))
      |             * 10000.0 + 0.5) / 10000.0 AS corr
      |FROM pairs ORDER BY col_a, col_b""".stripMargin

  // ---------------------------------------------------------------------
  // q_acf — autocorrelation of the daily event-count series
  // ---------------------------------------------------------------------

  /** Sample autocorrelation of daily event counts at lags 1..7, exact:
    * with S = Σy and n = |days|, the lag-k estimator
    * r_k = Σ_{t>k}(y_t−ȳ)(y_{t−k}−ȳ) / Σ_t(y_t−ȳ)² is multiplied
    * through by n², making numerator and denominator exact integers —
    * Σ(n·y_t − S)(n·y_{t−k} − S) and Σ(n·y_t − S)² — both hash-gated.
    * The data shuffles once into the per-day rollup; every later pass
    * (totals broadcast, the 7 lags in ONE unpartitioned window, the
    * final sum) runs over |days| calendar-bounded rows
    * (RegistrySpec-whitelisted, the q_resample_ffill argument).
    */
  private val acfQ: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
    val tot = daily.agg(
      count(lit(1)).as("n"), sum("y").as("sy"))
    val dev = daily.crossJoin(broadcast(tot))
      .select(col("day"), (col("n") * col("y") - col("sy")).as("dv"))
    val w = Window.orderBy("day")
    val lagged = dev.select(
      col("dv") +: (1 to 7).map(k => lag("dv", k).over(w).as(s"l$k")): _*)
    val g = lagged.agg(
      sum(col("dv") * col("dv")).as("den"),
      (1 to 7).map(k => sum(col("dv") * col(s"l$k")).as(s"num$k")): _*)
    g.select(inline(array((1 to 7).map(k =>
        struct(lit(k).cast("long").as("lag_k"), col(s"num$k").as("num"),
          col("den").as("den"))): _*)))
      .select(col("lag_k"), col("num"), col("den"),
        Num.round4(col("num").cast("double") / col("den")).as("acf"))
      .orderBy("lag_k")
  }

  private val acfSql =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |               CAST(SUM(y) AS BIGINT) AS sy FROM daily),
      |dev AS (SELECT day, n * y - sy AS dv FROM daily, tot),
      |lagged AS (
      |  SELECT dv,
      |         lag(dv, 1) OVER (ORDER BY day) AS l1,
      |         lag(dv, 2) OVER (ORDER BY day) AS l2,
      |         lag(dv, 3) OVER (ORDER BY day) AS l3,
      |         lag(dv, 4) OVER (ORDER BY day) AS l4,
      |         lag(dv, 5) OVER (ORDER BY day) AS l5,
      |         lag(dv, 6) OVER (ORDER BY day) AS l6,
      |         lag(dv, 7) OVER (ORDER BY day) AS l7
      |  FROM dev),
      |g AS (
      |  SELECT CAST(SUM(dv*dv) AS BIGINT) AS den,
      |         CAST(SUM(dv*l1) AS BIGINT) AS num1,
      |         CAST(SUM(dv*l2) AS BIGINT) AS num2,
      |         CAST(SUM(dv*l3) AS BIGINT) AS num3,
      |         CAST(SUM(dv*l4) AS BIGINT) AS num4,
      |         CAST(SUM(dv*l5) AS BIGINT) AS num5,
      |         CAST(SUM(dv*l6) AS BIGINT) AS num6,
      |         CAST(SUM(dv*l7) AS BIGINT) AS num7
      |  FROM lagged),
      |rows_k AS (
      |  SELECT CAST(1 AS BIGINT) AS lag_k, num1 AS num, den FROM g
      |  UNION ALL SELECT 2, num2, den FROM g
      |  UNION ALL SELECT 3, num3, den FROM g
      |  UNION ALL SELECT 4, num4, den FROM g
      |  UNION ALL SELECT 5, num5, den FROM g
      |  UNION ALL SELECT 6, num6, den FROM g
      |  UNION ALL SELECT 7, num7, den FROM g)
      |SELECT lag_k, num, den,
      |       floor(CAST(num AS DOUBLE) / den * 10000.0 + 0.5) / 10000.0 AS acf
      |FROM rows_k ORDER BY lag_k""".stripMargin

  // ---------------------------------------------------------------------
  // q_interval_merge — per-customer interval-union coverage
  // ---------------------------------------------------------------------

  /** Coalesce each customer's 30-day order-activity intervals
    * [orderdate, orderdate+30) into maximal disjoint periods — the
    * interval-union/island operator (validity-window stitching, coverage
    * accounting). A row opens a new island iff its start exceeds the
    * running max end of every earlier interval (half-open: touching
    * intervals merge); island id = cumulative count of openings. Both
    * windows and the island rollup share ONE customer-keyed exchange —
    * no self-join, no data-sized global pass. Distinct from
    * [[Windows]]' gap sessionization: intervals carry duration, so the
    * cumulative-max-end test (not lag-gap) is what detects overlap.
    */
  private val intervalMergeQ: Q = (s, d) => {
    val o = Tables.orders(s, d).select(
      col("o_custkey").as("ck"),
      datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast("date"))
        .cast("long").as("sd"),
      col("o_orderkey").as("ok"))
      .withColumn("ed", col("sd") + 30)
    val wOrd = Window.partitionBy("ck").orderBy("sd", "ok")
    val prevMax = max("ed").over(wOrd.rowsBetween(Window.unboundedPreceding, -1))
    val flagged = o
      .withColumn("opens",
        when(prevMax.isNull || col("sd") > prevMax, 1L).otherwise(0L))
      .withColumn("island",
        sum("opens").over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
    val periods = flagged.groupBy("ck", "island")
      .agg(min("sd").as("ps"), max("ed").as("pe"))
    periods.groupBy("ck").agg(
        count(lit(1)).as("n_periods"),
        sum(col("pe") - col("ps")).as("active_days"),
        min("ps").as("first_day"),
        max("pe").as("last_day"))
      .orderBy("ck")
  }

  private val intervalMergeSql =
    """WITH o AS (
      |  SELECT o_custkey AS ck,
      |         CAST(date_diff('day', DATE '1995-01-01',
      |                        CAST(o_orderdate AS DATE)) AS BIGINT) AS sd,
      |         o_orderkey AS ok
      |  FROM orders),
      |iv AS (SELECT ck, sd, sd + 30 AS ed, ok FROM o),
      |flagged AS (
      |  SELECT ck, sd, ed, ok,
      |         CASE WHEN max(ed) OVER (PARTITION BY ck ORDER BY sd, ok
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |              IS NULL
      |              OR sd > max(ed) OVER (PARTITION BY ck ORDER BY sd, ok
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |         THEN 1 ELSE 0 END AS opens
      |  FROM iv),
      |islands AS (
      |  SELECT ck, sd, ed,
      |         CAST(SUM(opens) OVER (PARTITION BY ck ORDER BY sd, ok
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |              AS BIGINT) AS island
      |  FROM flagged),
      |periods AS (
      |  SELECT ck, island, MIN(sd) AS ps, MAX(ed) AS pe
      |  FROM islands GROUP BY 1, 2)
      |SELECT ck, CAST(count(*) AS BIGINT) AS n_periods,
      |       CAST(SUM(pe - ps) AS BIGINT) AS active_days,
      |       MIN(ps) AS first_day, MAX(pe) AS last_day
      |FROM periods GROUP BY ck ORDER BY ck""".stripMargin

  // ---------------------------------------------------------------------
  // q_assoc_rules — a-priori pair mining with exact support/confidence/lift
  // ---------------------------------------------------------------------

  /** Market-basket association rules over order baskets: top-20 part
    * pairs by co-occurrence with support counts, confidence and lift as
    * exact rationals (integer counts gated; round4 ratios derived once).
    *
    * The a-priori monotonicity prune runs BEFORE pairing: an item below
    * the pair-support floor cannot be in a qualifying pair, so the
    * basket self-join sees only frequent items — at 100 TB the frequent
    * dictionary (not the raw item table) bounds the quadratic stage, and
    * baskets are naturally small (≤ 17 lines here). Pairing is a
    * self-join on the basket key: one exchange, both sides the same
    * pruned scan.
    */
  private val assocRulesQ: Q = (s, d) => {
    val minSup = 2L
    // The explicit not-null filter keeps every consumer's subtree
    // byte-identical, so the (bk, item) distinct's exchange is computed
    // once and ReusedExchange-d by the pair sides, the item counts, and
    // the order count — without it the join-side isnotnull inference
    // splits them into three separate scans + distincts of the fact.
    val items = Tables.lineitem(s, d)
      .where(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
      .select(col("l_orderkey").as("bk"), col("l_partkey").as("item"))
      .distinct()
    val itemCnt = items.groupBy("item").agg(count(lit(1)).as("c_item"))
    val freq = itemCnt.filter(col("c_item") >= minSup)
    val fi = items.join(freq, "item")
    val a = fi.select(col("bk"), col("item").as("pa"), col("c_item").as("c_a"))
    val b = fi.select(col("bk"), col("item").as("pb"), col("c_item").as("c_b"))
    // shuffled-hash for the basket self-join: left alone, AQE
    // auto-broadcasts the pruned fact side (600 k rows at sf0.1 — a
    // full driver collect + rebroadcast per sample, and a plain
    // non-starter at data scale, where the basket table is the corpus).
    // The hint keeps the join on the two already-reused (bk, item)
    // exchanges with a per-partition hash build that AQE partition
    // sizing bounds at any scale. Measured isolated A/B at sf0.1:
    // 2.19 → 1.26-1.49 s steady; plan BroadcastHashJoin(600 k build)
    // → ShuffledHashJoin over ReusedExchange.
    val pairs = a.join(b.hint("shuffle_hash"), Seq("bk"))
      .filter(col("pa") < col("pb"))
    val nOrders = items.groupBy("bk").agg(count(lit(1)))
      .agg(count(lit(1)).as("n_orders"))
    pairs.groupBy("pa", "pb", "c_a", "c_b")
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minSup)
      .crossJoin(broadcast(nOrders))
      .select(col("pa"), col("pb"), col("c_ab"), col("c_a"), col("c_b"),
        col("n_orders"),
        Num.round4(col("c_ab").cast("double") / col("c_a")).as("conf_ab"),
        Num.round4((col("c_ab") * col("n_orders")).cast("double") /
          (col("c_a") * col("c_b"))).as("lift"))
      .orderBy(desc("c_ab"), asc("pa"), asc("pb"))
      .limit(20)
  }

  private val assocRulesSql =
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS item FROM lineitem),
      |item_cnt AS (
      |  SELECT item, CAST(count(*) AS BIGINT) AS c_item
      |  FROM items GROUP BY 1 HAVING count(*) >= 2),
      |fi AS (SELECT i.bk, i.item, c.c_item
      |       FROM items i JOIN item_cnt c ON i.item = c.item),
      |pairs AS (
      |  SELECT a.item AS pa, b.item AS pb, a.c_item AS c_a, b.c_item AS c_b
      |  FROM fi a JOIN fi b ON a.bk = b.bk AND a.item < b.item),
      |n AS (SELECT CAST(count(DISTINCT bk) AS BIGINT) AS n_orders FROM items),
      |pc AS (
      |  SELECT pa, pb, c_a, c_b, CAST(count(*) AS BIGINT) AS c_ab
      |  FROM pairs GROUP BY 1, 2, 3, 4 HAVING count(*) >= 2)
      |SELECT pa, pb, c_ab, c_a, c_b, n_orders,
      |       floor(CAST(c_ab AS DOUBLE) / c_a * 10000.0 + 0.5) / 10000.0
      |         AS conf_ab,
      |       floor(CAST(c_ab * n_orders AS DOUBLE) / (c_a * c_b)
      |             * 10000.0 + 0.5) / 10000.0 AS lift
      |FROM pc, n
      |ORDER BY c_ab DESC, pa, pb LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // q_overlap_exact / q_overlap_approx — audience overlap matrix
  // ---------------------------------------------------------------------

  /** Exact audience overlap between event types: distinct users per type,
    * pairwise intersection via a self-join of the distinct (user, type)
    * table on the user key, union by inclusion-exclusion, Jaccard round4.
    * The distinct collapse (|users|·|types| rows) happens BEFORE the
    * quadratic stage, and the pair aggregate output is |types|² rows.
    * Sketch twin: [[overlapApproxQ]].
    */
  private val overlapExactQ: Q = (s, d) => {
    // Not-null filter for the same exchange-reuse reason as q_assoc_rules:
    // the self-join sides and the per-type counts all share ONE (u, t)
    // distinct shuffle only when their subtrees match exactly.
    val ut = Tables.events(s, d)
      .where(col("user_id").isNotNull && col("event_type").isNotNull)
      .select(col("user_id").as("u"), col("event_type").as("t"))
      .distinct()
    val perType = ut.groupBy("t").agg(count(lit(1)).as("n_users"))
    val a = ut.select(col("u"), col("t").as("ta"))
    val b = ut.select(col("u"), col("t").as("tb"))
    val both = a.join(b, Seq("u")).filter(col("ta") < col("tb"))
      .groupBy("ta", "tb").agg(count(lit(1)).as("n_both"))
    both
      .join(broadcast(perType.select(col("t").as("ta"), col("n_users").as("n_a"))), "ta")
      .join(broadcast(perType.select(col("t").as("tb"), col("n_users").as("n_b"))), "tb")
      .select(col("ta"), col("tb"), col("n_a"), col("n_b"), col("n_both"),
        (col("n_a") + col("n_b") - col("n_both")).as("n_union"),
        Num.round4(col("n_both").cast("double") /
          (col("n_a") + col("n_b") - col("n_both"))).as("jaccard"))
      .orderBy("ta", "tb")
  }

  private val overlapExactSql =
    """WITH ut AS (
      |  SELECT DISTINCT user_id AS u, event_type AS t FROM events),
      |per_type AS (
      |  SELECT t, CAST(count(*) AS BIGINT) AS n_users FROM ut GROUP BY 1),
      |both_t AS (
      |  SELECT a.t AS ta, b.t AS tb, CAST(count(*) AS BIGINT) AS n_both
      |  FROM ut a JOIN ut b ON a.u = b.u AND a.t < b.t
      |  GROUP BY 1, 2)
      |SELECT ta, tb, pa.n_users AS n_a, pb.n_users AS n_b, n_both,
      |       pa.n_users + pb.n_users - n_both AS n_union,
      |       floor(CAST(n_both AS DOUBLE)
      |             / (pa.n_users + pb.n_users - n_both) * 10000.0 + 0.5)
      |         / 10000.0 AS jaccard
      |FROM both_t
      |JOIN per_type pa ON ta = pa.t
      |JOIN per_type pb ON tb = pb.t
      |ORDER BY ta, tb""".stripMargin

  /** Sketch twin of [[overlapExactQ]]: one HLL sketch per event type
    * (map-side combined — the user-level distinct never shuffles), pair
    * intersections by inclusion-exclusion over `hll_union`. |types|
    * sketch rows replace the |users|·|types| distinct table — at 100 TB
    * the self-join disappears entirely; the cost is the HLL relative
    * error, gated within 10% of the exact matrix in AnalyticsSpec.
    * Sketch estimates aren't cross-engine comparable → rows-only.
    */
  private val overlapApproxQ: Q = (s, d) => {
    val sk = Tables.events(s, d)
      .groupBy(col("event_type").as("t"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val a = sk.select(col("t").as("ta"), col("sk").as("sk_a"))
    val b = sk.select(col("t").as("tb"), col("sk").as("sk_b"))
    a.crossJoin(b).filter(col("ta") < col("tb"))
      .select(col("ta"), col("tb"),
        hll_sketch_estimate(col("sk_a")).as("est_a"),
        hll_sketch_estimate(col("sk_b")).as("est_b"),
        hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b"))).as("est_union"))
      .select(col("ta"), col("tb"), col("est_a"), col("est_b"), col("est_union"),
        greatest(col("est_a") + col("est_b") - col("est_union"), lit(0L))
          .as("est_both"))
      .orderBy("ta", "tb")
  }

  // ---------------------------------------------------------------------
  // q_ols_fit — multi-feature OLS by normal equations (exact Cramer solve)
  // ---------------------------------------------------------------------

  /** Two-feature OLS with intercept — price ~ qty + disc — solved by the
    * normal equations: the 3×3 Gram matrix XᵀX and XᵀY aggregate in ONE
    * scan (9 integer sums, the [[momentMatrixQ]] shape), then Cramer's
    * rule runs as exact cofactor arithmetic on the single aggregate row,
    * widened to decimal(38,0) ↔ HUGEINT (determinant values reach ~1e27
    * here; the unit choices — qty, pct points, whole dollars — keep them
    * inside 38 digits at any tested SF). No driver-side solve, no
    * iteration, no float until the final β = det_k/det division of
    * identical exact integers. This is the closed-form template that
    * scales: p features = p² sums in one pass + constant-size algebra.
    */
  private val olsFitQ: Q = (s, d) => {
    val li = Tables.lineitem(s, d).select(
      round(col("l_quantity")).cast("long").as("x1"),
      round(col("l_discount") * 100).cast("long").as("x2"),
      round(col("l_extendedprice")).cast("long").as("y"))
    val g = li.agg(
      count(lit(1)).as("n"),
      sum("x1").as("s1"), sum("x2").as("s2"), sum("y").as("sy"),
      sum(col("x1") * col("x1")).as("s11"),
      sum(col("x1") * col("x2")).as("s12"),
      sum(col("x2") * col("x2")).as("s22"),
      sum(col("x1") * col("y")).as("s1y"),
      sum(col("x2") * col("y")).as("s2y"),
      sum(col("y") * col("y")).as("syy"))
    val dec = "decimal(38,0)"
    def w(name: String) = col(name).cast(dec)
    def det3(a0: Column, a1: Column, a2: Column,
        b0: Column, b1: Column, b2: Column,
        c0: Column, c1: Column, c2: Column): Column =
      a0 * (b1 * c2 - b2 * c1) - a1 * (b0 * c2 - b2 * c0) +
        a2 * (b0 * c1 - b1 * c0)
    // G = [[n s1 s2][s1 s11 s12][s2 s12 s22]], b = [sy s1y s2y]
    val det = det3(w("n"), w("s1"), w("s2"),
      w("s1"), w("s11"), w("s12"), w("s2"), w("s12"), w("s22"))
    val det0 = det3(w("sy"), w("s1"), w("s2"),
      w("s1y"), w("s11"), w("s12"), w("s2y"), w("s12"), w("s22"))
    val det1 = det3(w("n"), w("sy"), w("s2"),
      w("s1"), w("s1y"), w("s12"), w("s2"), w("s2y"), w("s22"))
    val det2 = det3(w("n"), w("s1"), w("sy"),
      w("s1"), w("s11"), w("s1y"), w("s2"), w("s12"), w("s2y"))
    // The determinants exceed 2^53, and decimal→double vs int128→double
    // rounding differs by one ulp across engines — ship the EXACT values
    // as decimal strings (hash-identical); the doubles feed only round4
    // ratios, where a 1-ulp input (rel 1e−16) cannot move a 1e−4 floor.
    val withDets = g.select(col("n"), col("sy"), col("s1y"), col("s2y"),
      col("syy"),
      det.cast("string").as("det_s"), det0.cast("string").as("det0_s"),
      det1.cast("string").as("det1_s"), det2.cast("string").as("det2_s"),
      det.cast("double").as("det_d"), det0.cast("double").as("det0_d"),
      det1.cast("double").as("det1_d"), det2.cast("double").as("det2_d"))
    // R² = 1 − SSE/SST with SSE = Σy² − βᵀXᵀy, SST = Σy² − (Σy)²/n —
    // doubles formed once from the exact integers.
    val bty = (col("det0_d") * col("sy") + col("det1_d") * col("s1y") +
      col("det2_d") * col("s2y")) / col("det_d")
    val sst = col("syy") - col("sy").cast("double") * col("sy") / col("n")
    val r2 = Num.round4((lit(1.0) - (col("syy") - bty) / sst))
    withDets.select(inline(array(
        struct(lit("intercept").as("coef"), col("det0_s").as("det_num"),
          col("det_s").as("det_den"), col("det0_d").as("num_d"),
          col("det_d").as("den_d"), r2.as("r2")),
        struct(lit("qty").as("coef"), col("det1_s").as("det_num"),
          col("det_s").as("det_den"), col("det1_d").as("num_d"),
          col("det_d").as("den_d"), r2.as("r2")),
        struct(lit("disc_pct").as("coef"), col("det2_s").as("det_num"),
          col("det_s").as("det_den"), col("det2_d").as("num_d"),
          col("det_d").as("den_d"), r2.as("r2")))))
      .select(col("coef"), col("det_num"), col("det_den"),
        Num.round4(col("num_d") / col("den_d")).as("beta"), col("r2"))
      .orderBy("coef")
  }

  private val olsFitSql =
    """WITH m AS (
      |  SELECT CAST(round(l_quantity) AS BIGINT) AS x1,
      |         CAST(round(l_discount * 100) AS BIGINT) AS x2,
      |         CAST(round(l_extendedprice) AS BIGINT) AS y
      |  FROM lineitem),
      |g AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |         CAST(SUM(x1) AS HUGEINT) AS s1, CAST(SUM(x2) AS HUGEINT) AS s2,
      |         CAST(SUM(y) AS HUGEINT) AS sy,
      |         CAST(SUM(x1*x1) AS HUGEINT) AS s11,
      |         CAST(SUM(x1*x2) AS HUGEINT) AS s12,
      |         CAST(SUM(x2*x2) AS HUGEINT) AS s22,
      |         CAST(SUM(x1*y) AS HUGEINT) AS s1y,
      |         CAST(SUM(x2*y) AS HUGEINT) AS s2y,
      |         CAST(SUM(y*y) AS HUGEINT) AS syy
      |  FROM m),
      |dets0 AS (
      |  SELECT n, sy, s1y, s2y, syy,
      |         n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
      |              + s2*(s1*s12 - s11*s2) AS det_h,
      |         sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y)
      |              + s2*(s1y*s12 - s11*s2y) AS det0_h,
      |         n*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2)
      |              + s2*(s1*s2y - s1y*s2) AS det1_h,
      |         n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2)
      |              + sy*(s1*s12 - s11*s2) AS det2_h
      |  FROM g),
      |dets AS (
      |  SELECT n, sy, s1y, s2y, syy,
      |         CAST(det_h AS VARCHAR) AS det_s,
      |         CAST(det0_h AS VARCHAR) AS det0_s,
      |         CAST(det1_h AS VARCHAR) AS det1_s,
      |         CAST(det2_h AS VARCHAR) AS det2_s,
      |         CAST(det_h AS DOUBLE) AS det_d,
      |         CAST(det0_h AS DOUBLE) AS det0_d,
      |         CAST(det1_h AS DOUBLE) AS det1_d,
      |         CAST(det2_h AS DOUBLE) AS det2_d
      |  FROM dets0),
      |r AS (
      |  SELECT det_s, det0_s, det1_s, det2_s, det_d, det0_d, det1_d, det2_d,
      |         floor((1.0 - (CAST(syy AS DOUBLE)
      |                 - (det0_d * CAST(sy AS DOUBLE)
      |                    + det1_d * CAST(s1y AS DOUBLE)
      |                    + det2_d * CAST(s2y AS DOUBLE)) / det_d)
      |               / (CAST(syy AS DOUBLE)
      |                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
      |                    / CAST(n AS DOUBLE)))
      |               * 10000.0 + 0.5) / 10000.0 AS r2
      |  FROM dets),
      |coefs AS (
      |  SELECT 'intercept' AS coef, det0_s AS det_num, det_s AS det_den,
      |         det0_d AS num_d, det_d AS den_d, r2 FROM r
      |  UNION ALL SELECT 'qty', det1_s, det_s, det1_d, det_d, r2 FROM r
      |  UNION ALL SELECT 'disc_pct', det2_s, det_s, det2_d, det_d, r2 FROM r)
      |SELECT coef, det_num, det_den,
      |       floor(num_d / den_d * 10000.0 + 0.5) / 10000.0 AS beta, r2
      |FROM coefs ORDER BY coef""".stripMargin

  // ---------------------------------------------------------------------
  // q_forecast_eval — seasonal-naive forecast + exact MAE/MASE backtest
  // ---------------------------------------------------------------------

  /** Seasonal-naive backtest per event type: forecast each day's count
    * with the count 7 days earlier, score MAE and MASE — MASE's
    * denominator is the in-sample naive-1 MAE, so the ratio is scale-free
    * and the whole statistic is the exact rational
    * (Σ|e_seasonal| · (n−1)) / (Σ|naive diff| · m) on integer counts,
    * both sides hash-gated. All windows partition by event type over the
    * |days|-bounded daily rollup; the raw events shuffle once.
    */
  private val forecastEvalQ: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type").as("t"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
    val w = Window.partitionBy("t").orderBy("day")
    val lagged = daily.select(col("t"), col("y"),
      lag("y", 7).over(w).as("f7"), lag("y", 1).over(w).as("f1"))
    lagged.groupBy("t").agg(
        count(lit(1)).as("n_days"),
        count(col("f7")).as("n_eval"),
        sum(abs(col("y") - col("f7"))).as("sae"),
        sum(abs(col("y") - col("f1"))).as("snd"))
      .select(col("t"), col("n_days"), col("n_eval"), col("sae"), col("snd"),
        Num.round4(col("sae").cast("double") / col("n_eval")).as("mae"),
        Num.round4((col("sae") * (col("n_days") - 1)).cast("double") /
          (col("snd") * col("n_eval"))).as("mase"))
      .orderBy("t")
  }

  private val forecastEvalSql =
    """WITH daily AS (
      |  SELECT event_type AS t, CAST(ts AS DATE) AS day,
      |         CAST(count(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |lagged AS (
      |  SELECT t, y,
      |         lag(y, 7) OVER (PARTITION BY t ORDER BY day) AS f7,
      |         lag(y, 1) OVER (PARTITION BY t ORDER BY day) AS f1
      |  FROM daily),
      |g AS (
      |  SELECT t, CAST(count(*) AS BIGINT) AS n_days,
      |         CAST(count(f7) AS BIGINT) AS n_eval,
      |         CAST(SUM(abs(y - f7)) AS BIGINT) AS sae,
      |         CAST(SUM(abs(y - f1)) AS BIGINT) AS snd
      |  FROM lagged GROUP BY 1)
      |SELECT t, n_days, n_eval, sae, snd,
      |       floor(CAST(sae AS DOUBLE) / n_eval * 10000.0 + 0.5) / 10000.0
      |         AS mae,
      |       floor(CAST(sae * (n_days - 1) AS DOUBLE) / (snd * n_eval)
      |             * 10000.0 + 0.5) / 10000.0 AS mase
      |FROM g ORDER BY t""".stripMargin

  // ---------------------------------------------------------------------
  // q_ab_lift — A/B experiment analysis with exact χ² and Wilson CI
  // ---------------------------------------------------------------------

  /** Experiment readout: users split into arms by key parity (the
    * deterministic stand-in for an assignment column), conversion = ≥1
    * high-value purchase (value ≥ 145, the fixture's median per-user
    * purchase maximum — a plain "any purchase" is degenerate here: every
    * user has ~660 events, so everyone converts). Absolute counts, conversion rates, relative lift,
    * the 2×2 χ² statistic N(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) — every
    * factor an exact int64 — and the Wilson 95% interval per arm (the
    * sqrt happens once, on identical exact integers). One distinct-user
    * collapse, one aggregate; output is a single row per arm pair.
    */
  private val abLiftQ: Q = (s, d) => {
    val users = Tables.events(s, d)
      .groupBy(col("user_id").as("u"))
      .agg(max(when(col("event_type") === "purchase" && col("value") >= 145.0,
        1L).otherwise(0L)).as("conv"))
      .select((col("u") % 2).as("arm"), col("conv"))
    // One conditional aggregate, not groupBy(arm)+two filters: a filter
    // on the group key pushes below the aggregate and splits the plan
    // into two scans of the fact; the FILTER-style form keeps it one.
    val ab = users.agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("k_a"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("k_b"))
    val z2 = lit(1.959963984540054 * 1.959963984540054)
    def wilson(k: Column, n: Column, up: Boolean): Column = {
      val p = k.cast("double") / n
      val center = p + z2 / (n * 2)
      val half = sqrt(p * (lit(1.0) - p) / n + z2 / (n * n * 4)) * lit(1.959963984540054)
      Num.round4((if (up) center + half else center - half) / (lit(1.0) + z2 / n))
    }
    ab.select(
        col("n_a"), col("k_a"), col("n_b"), col("k_b"),
        Num.round4(col("k_a").cast("double") / col("n_a")).as("rate_a"),
        Num.round4(col("k_b").cast("double") / col("n_b")).as("rate_b"),
        Num.round4((col("k_b") * col("n_a") - col("k_a") * col("n_b"))
          .cast("double") / (col("k_a") * col("n_b"))).as("lift"),
        Num.round4(((col("n_a") + col("n_b")) *
          pow((col("k_a") * (col("n_b") - col("k_b")) -
            col("k_b") * (col("n_a") - col("k_a"))).cast("double"), 2)) /
          (col("n_a").cast("double") * col("n_b") *
            (col("k_a") + col("k_b")) *
            (col("n_a") + col("n_b") - col("k_a") - col("k_b")))).as("chi2"),
        wilson(col("k_b"), col("n_b"), up = false).as("ci_lo_b"),
        wilson(col("k_b"), col("n_b"), up = true).as("ci_hi_b"))
  }

  private val abLiftSql =
    """WITH users AS (
      |  SELECT user_id % 2 AS arm,
      |         CAST(MAX(CASE WHEN event_type = 'purchase' AND value >= 145.0
      |                       THEN 1 ELSE 0 END)
      |              AS BIGINT) AS conv
      |  FROM events GROUP BY user_id),
      |g AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
      |             CAST(SUM(conv) AS BIGINT) AS k
      |      FROM users GROUP BY 1),
      |ab AS (
      |  SELECT a.n AS n_a, a.k AS k_a, b.n AS n_b, b.k AS k_b
      |  FROM (SELECT n, k FROM g WHERE arm = 0) a,
      |       (SELECT n, k FROM g WHERE arm = 1) b)
      |SELECT n_a, k_a, n_b, k_b,
      |       floor(CAST(k_a AS DOUBLE) / n_a * 10000.0 + 0.5) / 10000.0
      |         AS rate_a,
      |       floor(CAST(k_b AS DOUBLE) / n_b * 10000.0 + 0.5) / 10000.0
      |         AS rate_b,
      |       floor(CAST(k_b * n_a - k_a * n_b AS DOUBLE) / (k_a * n_b)
      |             * 10000.0 + 0.5) / 10000.0 AS lift,
      |       floor((n_a + n_b)
      |             * pow(CAST(k_a * (n_b - k_b) - k_b * (n_a - k_a)
      |                        AS DOUBLE), 2)
      |             / (CAST(n_a AS DOUBLE) * n_b * (k_a + k_b)
      |                * (n_a + n_b - k_a - k_b))
      |             * 10000.0 + 0.5) / 10000.0 AS chi2,
      |       floor((CAST(k_b AS DOUBLE) / n_b
      |                + 3.8414588206941254 / (2 * n_b)
      |              - 1.959963984540054
      |                * sqrt(CAST(k_b AS DOUBLE) / n_b
      |                       * (1.0 - CAST(k_b AS DOUBLE) / n_b) / n_b
      |                       + 3.8414588206941254 / (4.0 * n_b * n_b)))
      |             / (1.0 + 3.8414588206941254 / n_b)
      |             * 10000.0 + 0.5) / 10000.0 AS ci_lo_b,
      |       floor((CAST(k_b AS DOUBLE) / n_b
      |                + 3.8414588206941254 / (2 * n_b)
      |              + 1.959963984540054
      |                * sqrt(CAST(k_b AS DOUBLE) / n_b
      |                       * (1.0 - CAST(k_b AS DOUBLE) / n_b) / n_b
      |                       + 3.8414588206941254 / (4.0 * n_b * n_b)))
      |             / (1.0 + 3.8414588206941254 / n_b)
      |             * 10000.0 + 0.5) / 10000.0 AS ci_hi_b
      |FROM ab""".stripMargin

  // ---------------------------------------------------------------------
  // q_activity_bitmap — per-user day-mask set algebra
  // ---------------------------------------------------------------------

  /** Per-user activity as a 30-bit day mask: `bit_or(1 << day_index)`
    * collapses any number of events to ONE long per user inside the hash
    * aggregate (the roaring-bitmap idea at its smallest — set membership,
    * cardinality and intersections become integer ops on 8 bytes of
    * state, so "active weekend days" costs a bitwise AND, not a second
    * scan or join). The weekend mask is a compile-time constant shared
    * with the oracle.
    */
  private val activityBitmapQ: Q = (s, d) => {
    // Jan 2024: the 1st is a Monday; weekend day-indices 5,6,12,13,20,...
    val weekendMask = 202911840L
    val e = Tables.events(s, d)
      .select(col("user_id").as("u"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date")).as("di"))
      .select(col("u"),
        expr("shiftleft(CAST(1 AS BIGINT), di)").as("daybit"))
    e.groupBy("u").agg(bit_or(col("daybit")).as("mask"))
      .select(col("u"), col("mask"),
        bit_count(col("mask")).cast("long").as("n_active_days"),
        bit_count(col("mask").bitwiseAND(lit(weekendMask))).cast("long")
          .as("n_weekend_days"),
        (bit_count(col("mask").bitwiseAND(lit(~weekendMask))) === 0)
          .cast("long").as("weekend_only"))
      .orderBy("u")
  }

  private val activityBitmapSql =
    """WITH e AS (
      |  SELECT user_id AS u,
      |         CAST(1 AS BIGINT)
      |           << date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
      |           AS daybit
      |  FROM events),
      |m AS (SELECT u, CAST(bit_or(daybit) AS BIGINT) AS mask
      |      FROM e GROUP BY 1)
      |SELECT u, mask,
      |       CAST(bit_count(mask) AS BIGINT) AS n_active_days,
      |       CAST(bit_count(mask & 202911840) AS BIGINT) AS n_weekend_days,
      |       CAST(CASE WHEN bit_count(mask & ~202911840) = 0 THEN 1 ELSE 0 END
      |            AS BIGINT) AS weekend_only
      |FROM m ORDER BY u""".stripMargin

  // ---------------------------------------------------------------------
  // q_pca_axes — closed-form 2-D PCA from the moment matrix
  // ---------------------------------------------------------------------

  /** Principal axes of the (qty, price) and (disc, tax) covariance pairs,
    * closed form: the 2×2 eigenproblem needs only trace and discriminant,
    * so from the [[momentMatrixQ]] sufficient statistics (ONE scan, the
    * same n·Σab − Σa·Σb integer widening) the leading eigenvalue share
    * evr = λ₁/(λ₁+λ₂) and axis angle ½·atan2(2v_ab, v_aa−v_bb) come out
    * as two double expressions — no iteration, no matrix library. The
    * exact integer moments ship as decimal↔HUGEINT strings (the
    * [[olsFitQ]] >2^53 lesson); round4 absorbs cross-engine libm ulp in
    * sqrt/atan2.
    */
  private val pcaAxesQ: Q = (s, d) => {
    val li = Tables.lineitem(s, d).select(
      round(col("l_quantity")).cast("long").as("q"),
      round(col("l_extendedprice")).cast("long").as("p"),
      round(col("l_discount") * 100).cast("long").as("dc"),
      round(col("l_tax") * 100).cast("long").as("tx"))
    val g = li.agg(
      count(lit(1)).as("n"),
      sum("q").as("s_q"), sum("p").as("s_p"),
      sum("dc").as("s_d"), sum("tx").as("s_t"),
      sum(col("q") * col("q")).as("s_qq"),
      sum(col("p") * col("p")).as("s_pp"),
      sum(col("q") * col("p")).as("s_qp"),
      sum(col("dc") * col("dc")).as("s_dd"),
      sum(col("tx") * col("tx")).as("s_tt"),
      sum(col("dc") * col("tx")).as("s_dt"))
    val dec = "decimal(38,0)"
    def v(sa: String, sb: String, sab: String) =
      (col("n").cast(dec) * col(sab).cast(dec) -
        col(sa).cast(dec) * col(sb).cast(dec))
    def pairRow(name: String, sa: String, sb: String, saa: String,
        sbb: String, sab: String) =
      struct(lit(name).as("pair"),
        v(sa, sa, saa).cast("string").as("v_aa"),
        v(sa, sb, sab).cast("string").as("v_ab"),
        v(sb, sb, sbb).cast("string").as("v_bb"),
        v(sa, sa, saa).cast("double").as("vaa_d"),
        v(sa, sb, sab).cast("double").as("vab_d"),
        v(sb, sb, sbb).cast("double").as("vbb_d"))
    g.select(inline(array(
        pairRow("disc_tax", "s_d", "s_t", "s_dd", "s_tt", "s_dt"),
        pairRow("qty_price", "s_q", "s_p", "s_qq", "s_pp", "s_qp"))))
      .select(col("pair"), col("v_aa"), col("v_ab"), col("v_bb"),
        Num.round4(
          (col("vaa_d") + col("vbb_d") +
            sqrt(pow(col("vaa_d") - col("vbb_d"), 2) +
              lit(4.0) * col("vab_d") * col("vab_d"))) /
            (lit(2.0) * (col("vaa_d") + col("vbb_d")))).as("evr"),
        Num.round4(atan2(lit(2.0) * col("vab_d"),
          col("vaa_d") - col("vbb_d")) / 2).as("axis_rad"))
      .orderBy("pair")
  }

  private val pcaAxesSql =
    """WITH m AS (
      |  SELECT CAST(round(l_quantity) AS BIGINT) AS q,
      |         CAST(round(l_extendedprice) AS BIGINT) AS p,
      |         CAST(round(l_discount * 100) AS BIGINT) AS dc,
      |         CAST(round(l_tax * 100) AS BIGINT) AS tx
      |  FROM lineitem),
      |g AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |         CAST(SUM(q) AS HUGEINT) AS s_q, CAST(SUM(p) AS HUGEINT) AS s_p,
      |         CAST(SUM(dc) AS HUGEINT) AS s_d, CAST(SUM(tx) AS HUGEINT) AS s_t,
      |         CAST(SUM(q*q) AS HUGEINT) AS s_qq,
      |         CAST(SUM(p*p) AS HUGEINT) AS s_pp,
      |         CAST(SUM(q*p) AS HUGEINT) AS s_qp,
      |         CAST(SUM(dc*dc) AS HUGEINT) AS s_dd,
      |         CAST(SUM(tx*tx) AS HUGEINT) AS s_tt,
      |         CAST(SUM(dc*tx) AS HUGEINT) AS s_dt
      |  FROM m),
      |pairs AS (
      |  SELECT 'disc_tax' AS pair,
      |         n*s_dd - s_d*s_d AS vaa, n*s_dt - s_d*s_t AS vab,
      |         n*s_tt - s_t*s_t AS vbb FROM g
      |  UNION ALL
      |  SELECT 'qty_price',
      |         n*s_qq - s_q*s_q, n*s_qp - s_q*s_p, n*s_pp - s_p*s_p FROM g)
      |SELECT pair,
      |       CAST(vaa AS VARCHAR) AS v_aa, CAST(vab AS VARCHAR) AS v_ab,
      |       CAST(vbb AS VARCHAR) AS v_bb,
      |       floor((CAST(vaa AS DOUBLE) + CAST(vbb AS DOUBLE)
      |              + sqrt(pow(CAST(vaa AS DOUBLE) - CAST(vbb AS DOUBLE), 2)
      |                     + 4.0 * CAST(vab AS DOUBLE) * CAST(vab AS DOUBLE)))
      |             / (2.0 * (CAST(vaa AS DOUBLE) + CAST(vbb AS DOUBLE)))
      |             * 10000.0 + 0.5) / 10000.0 AS evr,
      |       floor(atan2(2.0 * CAST(vab AS DOUBLE),
      |                   CAST(vaa AS DOUBLE) - CAST(vbb AS DOUBLE)) / 2
      |             * 10000.0 + 0.5) / 10000.0 AS axis_rad
      |FROM pairs ORDER BY pair""".stripMargin

  // ---------------------------------------------------------------------
  // q_diversity_profile — exact Simpson/Gini-impurity categorical profile
  // ---------------------------------------------------------------------

  /** Categorical-column diversity profile across four columns of three
    * tables: value-count collapse per column, then n, |distinct|, Σc² —
    * from which Gini impurity (n²−Σc²)/n² and effective cardinality
    * n²/Σc² (inverse Simpson) derive as exact rationals. The log-free
    * diversity measure is deliberate: Shannon entropy would need a
    * cross-row float sum (partition-order-dependent) or a per-engine
    * libm; Σc² stays in int64 and hash-gates. Each column costs one
    * value-count aggregate over its own table; the union rows are
    * |columns|-sized.
    */
  private val diversityProfileQ: Q = (s, d) => {
    def prof(df: DataFrame, colName: String, outName: String) = {
      val vc = df.where(col(colName).isNotNull)
        .groupBy(col(colName).as("v")).agg(count(lit(1)).as("c"))
      vc.agg(
        sum("c").as("n"), count(lit(1)).as("n_distinct"),
        sum(col("c") * col("c")).as("sum_c2"))
        .select(lit(outName).as("col_name"), col("n"), col("n_distinct"),
          col("sum_c2"))
    }
    prof(Tables.events(s, d), "event_type", "events.event_type")
      .unionAll(prof(Tables.documents(s, d), "lang", "documents.lang"))
      .unionAll(prof(Tables.documents(s, d), "source", "documents.source"))
      .unionAll(prof(Tables.customer(s, d), "c_mktsegment",
        "customer.c_mktsegment"))
      .select(col("col_name"), col("n"), col("n_distinct"), col("sum_c2"),
        Num.round4((col("n") * col("n") - col("sum_c2")).cast("double") /
          (col("n") * col("n"))).as("gini_impurity"),
        Num.round4((col("n") * col("n")).cast("double") / col("sum_c2"))
          .as("eff_cardinality"))
      .orderBy("col_name")
  }

  private val diversityProfileSql =
    """WITH vc AS (
      |  SELECT 'events.event_type' AS col_name, event_type AS v,
      |         CAST(count(*) AS BIGINT) AS c
      |  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
      |  UNION ALL
      |  SELECT 'documents.lang', lang, CAST(count(*) AS BIGINT)
      |  FROM documents WHERE lang IS NOT NULL GROUP BY 1, 2
      |  UNION ALL
      |  SELECT 'documents.source', source, CAST(count(*) AS BIGINT)
      |  FROM documents WHERE source IS NOT NULL GROUP BY 1, 2
      |  UNION ALL
      |  SELECT 'customer.c_mktsegment', c_mktsegment, CAST(count(*) AS BIGINT)
      |  FROM customer WHERE c_mktsegment IS NOT NULL GROUP BY 1, 2),
      |g AS (
      |  SELECT col_name, CAST(SUM(c) AS BIGINT) AS n,
      |         CAST(count(*) AS BIGINT) AS n_distinct,
      |         CAST(SUM(c*c) AS BIGINT) AS sum_c2
      |  FROM vc GROUP BY 1)
      |SELECT col_name, n, n_distinct, sum_c2,
      |       floor(CAST(n*n - sum_c2 AS DOUBLE) / (n*n) * 10000.0 + 0.5)
      |         / 10000.0 AS gini_impurity,
      |       floor(CAST(n*n AS DOUBLE) / sum_c2 * 10000.0 + 0.5) / 10000.0
      |         AS eff_cardinality
      |FROM g ORDER BY col_name""".stripMargin

  // ---------------------------------------------------------------------
  // q_ewma — bit-exact exponential smoothing of the daily series
  // ---------------------------------------------------------------------

  private val EwmaLags = 20

  /** Exponentially weighted moving average (α = ½) of daily event counts
    * per type, bit-exact: weights 2^(19−i) over the last 20 days make
    * numerator and denominator exact int64 (the truncation past lag 19
    * is ≤ 2⁻²⁰ of the mass — below round4 resolution by construction).
    * Early days renormalize over the lags that exist, matching pandas'
    * `ewm(adjust=True)` convention. One window pass partitioned by type
    * over the |days|-bounded rollup carries all 20 lags.
    */
  private val ewmaQ: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type").as("t"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
    val w = Window.partitionBy("t").orderBy("day")
    val lagged = daily.select(
      col("t") +: col("day") +:
        (0 until EwmaLags).map(i =>
          lag("y", i).over(w).as(s"l$i")): _*)
    val num = (0 until EwmaLags).map(i =>
      when(col(s"l$i").isNotNull,
        col(s"l$i") * lit(1L << (EwmaLags - 1 - i))).otherwise(lit(0L)))
      .reduce(_ + _)
    val den = (0 until EwmaLags).map(i =>
      when(col(s"l$i").isNotNull, lit(1L << (EwmaLags - 1 - i)))
        .otherwise(lit(0L)))
      .reduce(_ + _)
    lagged.select(col("t"), col("day"), num.as("num"), den.as("den"),
        Num.round4(num.cast("double") / den).as("ewma"))
      .orderBy("t", "day")
  }

  private val ewmaSql = {
    val lagDefs = (0 until EwmaLags).map(i =>
      s"lag(y, $i) OVER (PARTITION BY t ORDER BY day) AS l$i").mkString(",\n         ")
    val numTerms = (0 until EwmaLags).map(i =>
      s"CASE WHEN l$i IS NOT NULL THEN l$i * ${1L << (EwmaLags - 1 - i)} ELSE 0 END")
      .mkString(" + ")
    val denTerms = (0 until EwmaLags).map(i =>
      s"CASE WHEN l$i IS NOT NULL THEN ${1L << (EwmaLags - 1 - i)} ELSE 0 END")
      .mkString(" + ")
    s"""WITH daily AS (
       |  SELECT event_type AS t, CAST(ts AS DATE) AS day,
       |         CAST(count(*) AS BIGINT) AS y
       |  FROM events GROUP BY 1, 2),
       |lagged AS (
       |  SELECT t, day,
       |         $lagDefs
       |  FROM daily),
       |g AS (
       |  SELECT t, day,
       |         CAST($numTerms AS BIGINT) AS num,
       |         CAST($denTerms AS BIGINT) AS den
       |  FROM lagged)
       |SELECT t, day, num, den,
       |       floor(CAST(num AS DOUBLE) / den * 10000.0 + 0.5) / 10000.0
       |         AS ewma
       |FROM g ORDER BY t, day""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q_seasonal_effect — weekday seasonality decomposition
  // ---------------------------------------------------------------------

  /** Weekday effect per event type: mean daily count per (type, weekday)
    * minus the type's overall mean daily count, as the exact rational
    * c_w/d_w − n_t/d_t (all four integers gated; the round4 difference is
    * formed once). The daily rollup is computed ONCE and shared by both
    * the weekday and the per-type aggregate — the decomposition costs one
    * data shuffle plus |days|-sized passes. Spark `dayofweek` is
    * 1=Sunday; the DuckDB twin shifts its 0=Sunday `dow` by +1 (the
    * q_ts_extract convention).
    */
  private val seasonalEffectQ: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type").as("t"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
    val byDow = daily
      .groupBy(col("t"), dayofweek(col("day")).as("dow"))
      .agg(sum("y").as("c_w"), count(lit(1)).as("d_w"))
    val byType = daily.groupBy("t")
      .agg(sum("y").as("n_t"), count(lit(1)).as("d_t"))
    byDow.join(broadcast(byType), "t")
      .select(col("t"), col("dow"), col("c_w"), col("d_w"), col("n_t"),
        col("d_t"),
        Num.round4(col("c_w").cast("double") / col("d_w") -
          col("n_t").cast("double") / col("d_t")).as("effect"))
      .orderBy("t", "dow")
  }

  private val seasonalEffectSql =
    """WITH daily AS (
      |  SELECT event_type AS t, CAST(ts AS DATE) AS day,
      |         CAST(count(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |by_dow AS (
      |  SELECT t, CAST(EXTRACT(dow FROM day) + 1 AS INT) AS dow,
      |         CAST(SUM(y) AS BIGINT) AS c_w, CAST(count(*) AS BIGINT) AS d_w
      |  FROM daily GROUP BY 1, 2),
      |by_type AS (
      |  SELECT t, CAST(SUM(y) AS BIGINT) AS n_t,
      |         CAST(count(*) AS BIGINT) AS d_t
      |  FROM daily GROUP BY 1)
      |SELECT b.t, dow, c_w, d_w, n_t, d_t,
      |       floor((CAST(c_w AS DOUBLE) / d_w - CAST(n_t AS DOUBLE) / d_t)
      |             * 10000.0 + 0.5) / 10000.0 AS effect
      |FROM by_dow b JOIN by_type g ON b.t = g.t
      |ORDER BY b.t, dow""".stripMargin

  /** Seasonally-ADJUSTED daily series — the apply step after
    * ◆ `q_seasonal_effect`'s decompose: each (type, day) count minus its
    * weekday effect e_{t,w} = c_w/d_w − n_t/d_t, kept EXACT as the
    * integer rational (y·d_w·d_t − c_w·d_t + n_t·d_w) / (d_w·d_t) —
    * all factors calendar-bounded ints, products well inside int64 —
    * with round4 presentation formed once. De-seasonalized series are
    * what ops monitors should threshold on (a Saturday dip is not an
    * incident); downstream this feeds ◆ `q_zscore_anomaly` in place of
    * the raw counts. One daily rollup (the shared shape), two bounded
    * aggregates, two broadcast joins back onto |type·days| rows.
    */
  private val seasonalAdjustQ: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type").as("t"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
      .ckpt()
    val byDow = daily
      .groupBy(col("t").as("t2"), dayofweek(col("day")).as("dow"))
      .agg(sum("y").as("c_w"), count(lit(1)).as("d_w"))
    val byType = daily.groupBy(col("t").as("t3"))
      .agg(sum("y").as("n_t"), count(lit(1)).as("d_t"))
    daily
      .join(broadcast(byDow),
        col("t") === col("t2") && dayofweek(col("day")) === col("dow"))
      .join(broadcast(byType), col("t") === col("t3"))
      .select(col("t"), col("day"), col("y"),
        (col("y") * col("d_w") * col("d_t") - col("c_w") * col("d_t") +
          col("n_t") * col("d_w")).as("adj_num"),
        (col("d_w") * col("d_t")).as("adj_den"))
      .withColumn("adjusted",
        Num.round4(col("adj_num").cast("double") / col("adj_den")))
      .orderBy("t", "day")
  }

  private val seasonalAdjustSql =
    """WITH daily AS (
      |  SELECT event_type AS t, CAST(ts AS DATE) AS day,
      |         CAST(count(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |by_dow AS (
      |  SELECT t, CAST(EXTRACT(dow FROM day) + 1 AS INT) AS dow,
      |         CAST(SUM(y) AS BIGINT) AS c_w, CAST(count(*) AS BIGINT) AS d_w
      |  FROM daily GROUP BY 1, 2),
      |by_type AS (
      |  SELECT t, CAST(SUM(y) AS BIGINT) AS n_t,
      |         CAST(count(*) AS BIGINT) AS d_t
      |  FROM daily GROUP BY 1)
      |SELECT daily.t, daily.day, y,
      |       CAST(y * d_w * d_t - c_w * d_t + n_t * d_w AS BIGINT)
      |         AS adj_num,
      |       CAST(d_w * d_t AS BIGINT) AS adj_den,
      |       floor(CAST(y * d_w * d_t - c_w * d_t + n_t * d_w AS DOUBLE)
      |             / (d_w * d_t) * 10000.0 + 0.5) / 10000.0 AS adjusted
      |FROM daily
      |JOIN by_dow b ON daily.t = b.t
      |             AND CAST(EXTRACT(dow FROM daily.day) + 1 AS INT) = b.dow
      |JOIN by_type g ON daily.t = g.t
      |ORDER BY daily.t, daily.day""".stripMargin

  // ---------------------------------------------------------------------
  // q_rank_test — Mann-Whitney U with exact midranks and tie correction
  // ---------------------------------------------------------------------

  /** Two-sample Mann-Whitney U test of purchase value between the two
    * experiment arms — the nonparametric companion of ◆ `q_ab_lift`'s
    * proportion test. Midranks never materialize per row: collapsing to
    * per-distinct-VALUE counts (c₀, c₁) first, 2·midrank(v) =
    * 2·cntLess(v) + cntEq(v) + 1 is integer-exact, the running cntLess
    * rides [[graft.ops.Prefix.withCumSum]]'s bucket decomposition (no
    * data-sized global window), and 2·R₁ = Σ c₁(v)·(2·cntLess + cntEq + 1)
    * plus the tie term Σ(t³−t) aggregate exactly in int64. The normal
    * z with tie-corrected variance is formed once from the gated
    * integers. Per-row work is one value-collapse aggregate; everything
    * after runs on |distinct values| rows.
    */
  private val rankTestQ: Q = (s, d) => {
    val pv = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select((col("user_id") % 2).as("arm"),
        Num.cents(col("value")).as("v"))
    // Materialize the value-collapse once: its consumers (Prefix bounds,
    // bucket pass, final sums) prune different columns, so without the
    // checkpoint each would re-expand to its own scan + aggregate of the
    // fact (the same reuse blocker the assoc-rules audit hit; |distinct
    // cents| rows is domain-bounded at any SF).
    val byVal = pv.groupBy("v").agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("c0"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("c1"))
      .ckpt()
    val withCum = graft.ops.Prefix.withCumSum(
      byVal.withColumn("ct", col("c0") + col("c1")),
      "v", Nil, "ct", "cum")
    val g = withCum.agg(
      sum("c0").as("n0"), sum("c1").as("n1"),
      sum(col("c1") * (lit(2L) * (col("cum") - col("ct")) + col("ct") + 1L))
        .as("two_r1"),
      sum(col("ct") * col("ct") * col("ct") - col("ct")).as("tie_sum"))
    g.select(col("n0"), col("n1"), col("two_r1"),
        (col("two_r1") - col("n1") * (col("n1") + 1L)).as("two_u1"),
        col("tie_sum"))
      .select(col("n0"), col("n1"), col("two_r1"), col("two_u1"),
        col("tie_sum"),
        Num.round4({
          val n = col("n0") + col("n1")
          val u1 = col("two_u1").cast("double") / 2
          val mu = col("n0").cast("double") * col("n1") / 2
          val variance = (col("n0").cast("double") * col("n1") / 12) *
            ((n + 1).cast("double") -
              col("tie_sum").cast("double") / (n * (n - 1)))
          (u1 - mu) / sqrt(variance)
        }).as("z"))
  }

  private val rankTestSql =
    """WITH pv AS (
      |  SELECT user_id % 2 AS arm, CAST(round(value * 100) AS BIGINT) AS v
      |  FROM events WHERE event_type = 'purchase'),
      |by_val AS (
      |  SELECT v,
      |         CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
      |         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
      |  FROM pv GROUP BY 1),
      |cumd AS (
      |  SELECT v, c0, c1, c0 + c1 AS ct,
      |         CAST(SUM(c0 + c1) OVER (ORDER BY v
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |              AS BIGINT) AS cum
      |  FROM by_val),
      |g AS (
      |  SELECT CAST(SUM(c0) AS BIGINT) AS n0, CAST(SUM(c1) AS BIGINT) AS n1,
      |         CAST(SUM(c1 * (2 * (cum - ct) + ct + 1)) AS BIGINT) AS two_r1,
      |         CAST(SUM(ct * ct * ct - ct) AS BIGINT) AS tie_sum
      |  FROM cumd)
      |SELECT n0, n1, two_r1, two_r1 - n1 * (n1 + 1) AS two_u1, tie_sum,
      |       floor(((CAST(two_r1 - n1 * (n1 + 1) AS DOUBLE) / 2
      |               - CAST(n0 AS DOUBLE) * n1 / 2)
      |              / sqrt((CAST(n0 AS DOUBLE) * n1 / 12)
      |                     * (CAST(n0 + n1 + 1 AS DOUBLE)
      |                        - CAST(tie_sum AS DOUBLE)
      |                          / (CAST(n0 + n1 AS DOUBLE) * (n0 + n1 - 1)))))
      |             * 10000.0 + 0.5) / 10000.0 AS z
      |FROM g""".stripMargin

  // ---------------------------------------------------------------------
  // q_cramers_v — categorical association on the contingency table
  // ---------------------------------------------------------------------

  /** Cramér's V between event type and weekday: the (type × dow)
    * contingency table collapses in one aggregate, each cell's χ²
    * contribution is the exact rational (o·N − r·c)²/(N·r·c) floored to
    * micro units BEFORE the final sum (the `q_drift_chi2` discipline —
    * summing longs is partition-order-independent where summing doubles
    * is not), and V = √(χ²/(N·min(r−1, c−1))). Row/column margins meet
    * the |cells| rows by broadcast.
    */
  private val cramersVQ: Q = (s, d) => {
    // One scan: the |cells| contingency table (≤ |types|·7 rows) feeds
    // four consumers — checkpoint it rather than re-aggregate the fact
    // per margin.
    val cells = Tables.events(s, d)
      .groupBy(col("event_type").as("t"),
        dayofweek(to_date(col("ts"))).as("dow"))
      .agg(count(lit(1)).as("o"))
      .ckpt()
    val rowM = cells.groupBy("t").agg(sum("o").as("r"))
    val colM = cells.groupBy("dow").agg(sum("o").as("c"))
    val tot = cells.agg(sum("o").as("n"),
      countDistinct("t").as("nr"), countDistinct("dow").as("nc"))
    val contrib = cells
      .join(broadcast(rowM), "t").join(broadcast(colM), "dow")
      .crossJoin(broadcast(tot))
      .select(col("n"), col("nr"), col("nc"),
        floor(pow((col("o") * col("n") - col("r") * col("c")).cast("double"), 2)
          / (col("n").cast("double") * col("r") * col("c")) * 1000000.0)
          .cast("long").as("chi2_micro"))
    contrib.groupBy("n", "nr", "nc")
      .agg(sum("chi2_micro").as("chi2_micro"))
      .select(col("n"), col("nr"), col("nc"), col("chi2_micro"),
        Num.round4(sqrt((col("chi2_micro").cast("double") / 1000000.0) /
          (col("n") * least(col("nr") - 1, col("nc") - 1)).cast("double")))
          .as("cramers_v"))
  }

  private val cramersVSql =
    """WITH cells AS (
      |  SELECT event_type AS t,
      |         CAST(EXTRACT(dow FROM CAST(ts AS DATE)) + 1 AS INT) AS dow,
      |         CAST(count(*) AS BIGINT) AS o
      |  FROM events GROUP BY 1, 2),
      |rm AS (SELECT t, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY 1),
      |cm AS (SELECT dow, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY 1),
      |tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
      |               CAST(count(DISTINCT t) AS BIGINT) AS nr,
      |               CAST(count(DISTINCT dow) AS BIGINT) AS nc
      |        FROM cells),
      |contrib AS (
      |  SELECT n, nr, nc,
      |         CAST(floor(pow(CAST(o * n - r * c AS DOUBLE), 2)
      |                    / (CAST(n AS DOUBLE) * r * c) * 1000000.0)
      |              AS BIGINT) AS chi2_micro
      |  FROM cells JOIN rm USING (t) JOIN cm USING (dow), tot)
      |SELECT n, nr, nc,
      |       CAST(SUM(chi2_micro) AS BIGINT) AS chi2_micro,
      |       floor(sqrt((CAST(SUM(chi2_micro) AS DOUBLE) / 1000000.0)
      |                  / (n * least(nr - 1, nc - 1)))
      |             * 10000.0 + 0.5) / 10000.0 AS cramers_v
      |FROM contrib GROUP BY n, nr, nc""".stripMargin

  // ---------------------------------------------------------------------
  // q_growth_accounting — weekly new / retained / resurrected / churned
  // ---------------------------------------------------------------------

  /** Weekly growth accounting: every active (user, week) classifies as
    * new (first week ever), retained (active the week before) or
    * resurrected (returning after a gap), and each week also reports the
    * churn out of the PREVIOUS week (active then, not now — the identity
    * churned(w) = active(w−1) − retained(w), which the spec pins). One
    * distinct collapse to (user, week), lag over the user-partitioned
    * window, one aggregate per week — the user axis never leaves its
    * exchange. Weeks are epoch-day div 7 (calendar-stable across SFs).
    */
  private val growthAccountingQ: Q = (s, d) => {
    val uw = Tables.events(s, d)
      .select(col("user_id").as("u"),
        call_function("div", expr("unix_micros(ts)"), lit(86400000000L) * 7)
          .as("wk"))
      .distinct()
    val w = Window.partitionBy("u").orderBy("wk")
    val classified = uw
      .withColumn("prev", lag("wk", 1).over(w))
      .select(col("u"), col("wk"),
        when(col("prev").isNull, "new")
          .when(col("prev") === col("wk") - 1, "retained")
          .otherwise("resurrected").as("kind"))
    val byWeek = classified.groupBy("wk").agg(
      count(lit(1)).as("n_active"),
      sum(when(col("kind") === "new", 1L).otherwise(0L)).as("n_new"),
      sum(when(col("kind") === "retained", 1L).otherwise(0L)).as("n_retained"),
      sum(when(col("kind") === "resurrected", 1L).otherwise(0L))
        .as("n_resurrected"))
    val wWk = Window.orderBy("wk")
    byWeek
      .withColumn("prev_active", lag("n_active", 1).over(wWk))
      .select(col("wk"), col("n_active"), col("n_new"), col("n_retained"),
        col("n_resurrected"),
        coalesce(col("prev_active") - col("n_retained"), lit(0L))
          .as("n_churned_from_prev"))
      .orderBy("wk")
  }

  private val growthAccountingSql =
    """WITH uw AS (
      |  SELECT DISTINCT user_id AS u, epoch_us(ts) // 604800000000 AS wk
      |  FROM events),
      |cl AS (
      |  SELECT u, wk,
      |         CASE WHEN lag(wk, 1) OVER (PARTITION BY u ORDER BY wk) IS NULL
      |              THEN 'new'
      |              WHEN lag(wk, 1) OVER (PARTITION BY u ORDER BY wk) = wk - 1
      |              THEN 'retained'
      |              ELSE 'resurrected' END AS kind
      |  FROM uw),
      |bw AS (
      |  SELECT wk, CAST(count(*) AS BIGINT) AS n_active,
      |         CAST(SUM(CASE WHEN kind = 'new' THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_new,
      |         CAST(SUM(CASE WHEN kind = 'retained' THEN 1 ELSE 0 END)
      |              AS BIGINT) AS n_retained,
      |         CAST(SUM(CASE WHEN kind = 'resurrected' THEN 1 ELSE 0 END)
      |              AS BIGINT) AS n_resurrected
      |  FROM cl GROUP BY 1)
      |SELECT wk, n_active, n_new, n_retained, n_resurrected,
      |       COALESCE(lag(n_active, 1) OVER (ORDER BY wk) - n_retained,
      |                CAST(0 AS BIGINT)) AS n_churned_from_prev
      |FROM bw ORDER BY wk""".stripMargin

  // ---------------------------------------------------------------------
  // q_decile_lift — gains/lift table over an activity score
  // ---------------------------------------------------------------------

  /** Decile lift table — the model-evaluation gains chart, here scoring
    * users by raw activity against the shared high-value-purchase
    * conversion ([[abLiftQ]]'s definition): users rank by (events DESC,
    * id) through [[graft.ops.Rank.withGlobalRank]] (no global sort),
    * deciles by [[graft.ops.Rank.ntileFromRank]]'s integer fill rule —
    * bit-identical to the oracle's `ntile(10)` — and per-decile
    * conversion, lift k_d·N/(n_d·K), and cumulative capture in integer
    * basis points all derive from gated counts. The cumulative pass runs
    * over 10 decile rows (whitelisted).
    */
  private val decileLiftQ: Q = (s, d) => {
    // Checkpoint the per-user collapse: totals, rank bounds, and the
    // bucket pass prune different columns and would otherwise each
    // re-scan and re-aggregate the fact.
    val users = Tables.events(s, d)
      .groupBy(col("user_id").as("u"))
      .agg(count(lit(1)).as("activity"),
        max(when(col("event_type") === "purchase" && col("value") >= 145.0,
          1L).otherwise(0L)).as("conv"))
      .ckpt()
    val tot = users.agg(count(lit(1)).as("n_total"), sum("conv").as("k_total"))
    val ranked = graft.ops.Rank.withGlobalRank(
      users, "activity", Seq("u"), "rnk", descending = true)
      .crossJoin(broadcast(tot))
      .withColumn("decile",
        graft.ops.Rank.ntileFromRank(col("rnk"), col("n_total"), 10L)
          .cast("long"))
    val byDecile = ranked.groupBy("decile", "n_total", "k_total")
      .agg(count(lit(1)).as("n_u"), sum("conv").as("k_u"))
    val wCum = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, 0)
    byDecile
      .withColumn("cum_k", sum("k_u").over(wCum))
      .select(col("decile"), col("n_u"), col("k_u"),
        Num.round4(col("k_u").cast("double") / col("n_u")).as("rate"),
        Num.round4((col("k_u") * col("n_total")).cast("double") /
          (col("n_u") * col("k_total"))).as("lift"),
        call_function("div", col("cum_k") * lit(10000L), col("k_total"))
          .as("cum_capture_bp"))
      .orderBy("decile")
  }

  /** Reliability table + expected calibration error — the ML-ops
    * readout next to [[decileLiftQ]]'s gains table: a score is USEFUL
    * if it ranks (lift) and TRUSTWORTHY if its value means what it says
    * (calibration). The deterministic score under audit is the
    * activity-rank percentile in basis points (rank-derived, so the
    * whole readout is integer-exact and the ◆ oracle's `ntile` matches
    * [[graft.ops.Rank.ntileFromRank]] bit-for-bit — the
    * `q_decile_lift` discipline); per decile the report compares mean
    * predicted score (confidence) against the realized conversion rate
    * in bp, and ECE_bp = Σ n_b·|conf_b − acc_b| / N rides a broadcast
    * of the 10-row bin table. Everything after the per-user collapse is
    * |deciles|-sized.
    */
  private val calibrationQ: Q = (s, d) => {
    val users = Tables.events(s, d)
      .groupBy(col("user_id").as("u"))
      .agg(count(lit(1)).as("activity"),
        max(when(col("event_type") === "purchase" && col("value") >= 145.0,
          1L).otherwise(0L)).as("conv"))
      .ckpt()
    val tot = users.agg(count(lit(1)).as("n_total"))
    val ranked = graft.ops.Rank.withGlobalRank(
      users, "activity", Seq("u"), "rnk", descending = true)
      .crossJoin(broadcast(tot))
      .withColumn("score_bp", call_function("div",
        lit(10000L) * (col("n_total") - col("rnk") + 1L), col("n_total")))
      .withColumn("decile",
        graft.ops.Rank.ntileFromRank(col("rnk"), col("n_total"), 10L)
          .cast("long"))
    val bins = ranked.groupBy("decile", "n_total")
      .agg(count(lit(1)).as("n_u"), sum("conv").as("k_u"),
        sum("score_bp").as("s_bp"))
      .withColumn("conf_bp", call_function("div", col("s_bp"), col("n_u")))
      .withColumn("acc_bp", call_function("div",
        lit(10000L) * col("k_u"), col("n_u")))
      .withColumn("gap_bp", abs(col("conf_bp") - col("acc_bp")))
      .ckpt()
    val ece = bins.agg(call_function("div",
      sum(col("n_u") * col("gap_bp")), max("n_total")).as("ece_bp"))
    bins.crossJoin(broadcast(ece))
      .select("decile", "n_u", "k_u", "conf_bp", "acc_bp", "gap_bp",
        "ece_bp")
      .orderBy("decile")
  }

  private val calibrationSql =
    """WITH users AS (
      |  SELECT user_id AS u, CAST(count(*) AS BIGINT) AS activity,
      |         CAST(MAX(CASE WHEN event_type = 'purchase' AND value >= 145.0
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS conv
      |  FROM events GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM users),
      |ranked AS (
      |  SELECT u, conv, n_total,
      |         CAST(row_number() OVER (ORDER BY activity DESC, u) AS BIGINT)
      |           AS rnk,
      |         ntile(10) OVER (ORDER BY activity DESC, u) AS decile
      |  FROM users, tot),
      |scored AS (
      |  SELECT CAST(decile AS BIGINT) AS decile, n_total, conv,
      |         (10000 * (n_total - rnk + 1)) // n_total AS score_bp
      |  FROM ranked),
      |bins AS (
      |  SELECT decile, n_total, CAST(count(*) AS BIGINT) AS n_u,
      |         CAST(SUM(conv) AS BIGINT) AS k_u,
      |         CAST(SUM(score_bp) AS BIGINT) AS s_bp
      |  FROM scored GROUP BY decile, n_total),
      |b2 AS (
      |  SELECT decile, n_total, n_u, k_u,
      |         s_bp // n_u AS conf_bp,
      |         (10000 * k_u) // n_u AS acc_bp,
      |         abs(s_bp // n_u - (10000 * k_u) // n_u) AS gap_bp
      |  FROM bins),
      |e AS (SELECT CAST(SUM(n_u * gap_bp) AS BIGINT) // MAX(n_total)
      |        AS ece_bp FROM b2)
      |SELECT decile, n_u, k_u, conf_bp, acc_bp, gap_bp, e.ece_bp
      |FROM b2, e ORDER BY decile""".stripMargin

  private val decileLiftSql =
    """WITH users AS (
      |  SELECT user_id AS u, CAST(count(*) AS BIGINT) AS activity,
      |         CAST(MAX(CASE WHEN event_type = 'purchase' AND value >= 145.0
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS conv
      |  FROM events GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total,
      |               CAST(SUM(conv) AS BIGINT) AS k_total FROM users),
      |ranked AS (
      |  SELECT u, conv, n_total, k_total,
      |         ntile(10) OVER (ORDER BY activity DESC, u) AS decile
      |  FROM users, tot),
      |bd AS (
      |  SELECT decile, n_total, k_total, CAST(count(*) AS BIGINT) AS n_u,
      |         CAST(SUM(conv) AS BIGINT) AS k_u
      |  FROM ranked GROUP BY 1, 2, 3),
      |cum AS (
      |  SELECT *, CAST(SUM(k_u) OVER (ORDER BY decile
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |            AS BIGINT) AS cum_k
      |  FROM bd)
      |SELECT CAST(decile AS BIGINT) AS decile, n_u, k_u,
      |       floor(CAST(k_u AS DOUBLE) / n_u * 10000.0 + 0.5) / 10000.0
      |         AS rate,
      |       floor(CAST(k_u * n_total AS DOUBLE) / (n_u * k_total)
      |             * 10000.0 + 0.5) / 10000.0 AS lift,
      |       cum_k * 10000 // k_total AS cum_capture_bp
      |FROM cum ORDER BY decile""".stripMargin

  // ---------------------------------------------------------------------
  // q_funnel_time — time-to-convert between ordered funnel steps
  // ---------------------------------------------------------------------

  /** Time-to-convert between the strict funnel's steps (signup→click,
    * click→purchase — ◆ `q_funnel_steps`' chained conditional minima
    * reused verbatim): per-user step gaps in whole seconds (integer
    * micros div 10⁶), then per step-pair count, exact rational mean
    * (sum + n gated), and p50/p90 via the continuous-interpolation
    * percentile both engines share (`q_percentiles` precedent; the
    * distributed-selection swap-in for a data-sized pair is
    * ◆ `q_quantile_group`). All three step minima stack on ONE
    * user-keyed exchange.
    */
  private val funnelTimeQ: Q = (s, d) => {
    val w = Window.partitionBy("user_id")
    val stepped = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .withColumn("t1",
        min(when(col("event_type") === "signup", col("us"))).over(w))
      .withColumn("t2",
        min(when(col("event_type") === "click" && col("us") > col("t1"),
          col("us"))).over(w))
      .withColumn("t3",
        min(when(col("event_type") === "purchase" && col("us") > col("t2"),
          col("us"))).over(w))
      .groupBy("user_id")
      .agg(min("t1").as("t1"), min("t2").as("t2"), min("t3").as("t3"))
    val gaps = stepped.select(
        col("user_id"),
        call_function("div", col("t2") - col("t1"), lit(1000000L)).as("s12"),
        call_function("div", col("t3") - col("t2"), lit(1000000L)).as("s23"))
    // ONE aggregate for both pairs (percentile/count/sum all skip nulls);
    // a per-pair filter+agg would re-run the window pipeline twice.
    val g = gaps.agg(
      count(col("s12")).as("n12"), sum("s12").as("sum12"),
      Num.roundAt(expr("percentile(s12, 0.5)"), 4).as("p50_12"),
      Num.roundAt(expr("percentile(s12, 0.9)"), 4).as("p90_12"),
      count(col("s23")).as("n23"), sum("s23").as("sum23"),
      Num.roundAt(expr("percentile(s23, 0.5)"), 4).as("p50_23"),
      Num.roundAt(expr("percentile(s23, 0.9)"), 4).as("p90_23"))
    g.select(inline(array(
        struct(lit("click_purchase").as("step_pair"), col("n23").as("n"),
          col("sum23").as("sum_s"), col("p50_23").as("p50_s"),
          col("p90_23").as("p90_s")),
        struct(lit("signup_click").as("step_pair"), col("n12").as("n"),
          col("sum12").as("sum_s"), col("p50_12").as("p50_s"),
          col("p90_12").as("p90_s")))))
      .select(col("step_pair"), col("n"), col("sum_s"),
        Num.round4(col("sum_s").cast("double") / col("n")).as("mean_s"),
        col("p50_s"), col("p90_s"))
      .orderBy("step_pair")
  }

  private val funnelTimeSql =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events),
      |s1 AS (
      |  SELECT *, min(CASE WHEN event_type = 'signup' THEN us END)
      |              OVER (PARTITION BY user_id) AS t1 FROM e),
      |s2 AS (
      |  SELECT *, min(CASE WHEN event_type = 'click' AND us > t1 THEN us END)
      |              OVER (PARTITION BY user_id) AS t2 FROM s1),
      |s3 AS (
      |  SELECT *, min(CASE WHEN event_type = 'purchase' AND us > t2 THEN us END)
      |              OVER (PARTITION BY user_id) AS t3 FROM s2),
      |u AS (SELECT user_id, min(t1) AS t1, min(t2) AS t2, min(t3) AS t3
      |      FROM s3 GROUP BY user_id),
      |gaps AS (
      |  SELECT user_id, (t2 - t1) // 1000000 AS s12,
      |         (t3 - t2) // 1000000 AS s23
      |  FROM u),
      |p AS (
      |  SELECT 'signup_click' AS step_pair, CAST(count(*) AS BIGINT) AS n,
      |         CAST(SUM(s12) AS BIGINT) AS sum_s,
      |         floor((quantile_cont(s12, 0.5)) * 10000 + 0.5) / 10000.0 AS p50_s,
      |         floor((quantile_cont(s12, 0.9)) * 10000 + 0.5) / 10000.0 AS p90_s
      |  FROM gaps WHERE s12 IS NOT NULL
      |  UNION ALL
      |  SELECT 'click_purchase', CAST(count(*) AS BIGINT),
      |         CAST(SUM(s23) AS BIGINT),
      |         floor((quantile_cont(s23, 0.5)) * 10000 + 0.5) / 10000.0,
      |         floor((quantile_cont(s23, 0.9)) * 10000 + 0.5) / 10000.0
      |  FROM gaps WHERE s23 IS NOT NULL)
      |SELECT step_pair, n, sum_s,
      |       floor(CAST(sum_s AS DOUBLE) / n * 10000.0 + 0.5) / 10000.0
      |         AS mean_s,
      |       p50_s, p90_s
      |FROM p ORDER BY step_pair""".stripMargin

  // ---------------------------------------------------------------------
  // q_cohort_ltv — cumulative revenue curves per signup cohort
  // ---------------------------------------------------------------------

  /** LTV curves: users cohort by their FIRST active week, purchase
    * revenue accumulates per (cohort, weeks-since-first) cell, and the
    * running total divided by the cohort's size gives cumulative revenue
    * per cohort member at every age — the revenue companion of
    * ◆ `q_cohort_retention`'s activity counts. Exact integer cents
    * throughout; the cumulative pass is PARTITIONED by cohort; cohort
    * sizes meet the |cohorts|·|ages| cells by broadcast. Two passes over
    * the (user, week) rollup — first-week extraction and cell revenue —
    * share its one user-keyed exchange.
    */
  private val cohortLtvQ: Q = (s, d) => {
    val ev = Tables.events(s, d).select(
      col("user_id").as("u"),
      call_function("div", expr("unix_micros(ts)"), lit(86400000000L) * 7)
        .as("wk"),
      when(col("event_type") === "purchase", Num.cents(col("value")))
        .otherwise(0L).as("cents"))
    val perUserWeek = ev.groupBy("u", "wk").agg(sum("cents").as("wc"))
      .ckpt()
    val firstWeek = perUserWeek.groupBy("u").agg(min("wk").as("w0"))
    val cohortSize = firstWeek.groupBy(col("w0").as("cohort"))
      .agg(count(lit(1)).as("cohort_users"))
    val cells = perUserWeek.join(firstWeek, "u")
      .groupBy(col("w0").as("cohort"), (col("wk") - col("w0")).as("age"))
      .agg(sum("wc").as("cents"), count(lit(1)).as("n_active"))
    val wCum = Window.partitionBy("cohort").orderBy("age")
      .rowsBetween(Window.unboundedPreceding, 0)
    cells
      .withColumn("cum_cents", sum("cents").over(wCum))
      .join(broadcast(cohortSize), "cohort")
      .select(col("cohort"), col("age"), col("n_active"), col("cents"),
        col("cum_cents"), col("cohort_users"),
        Num.round4(col("cum_cents").cast("double") / 100.0 /
          col("cohort_users")).as("ltv_per_user"))
      .orderBy("cohort", "age")
  }

  private val cohortLtvSql =
    """WITH ev AS (
      |  SELECT user_id AS u, epoch_us(ts) // 604800000000 AS wk,
      |         CASE WHEN event_type = 'purchase'
      |              THEN CAST(round(value * 100) AS BIGINT)
      |              ELSE CAST(0 AS BIGINT) END AS cents
      |  FROM events),
      |puw AS (
      |  SELECT u, wk, CAST(SUM(cents) AS BIGINT) AS wc
      |  FROM ev GROUP BY 1, 2),
      |fw AS (SELECT u, MIN(wk) AS w0 FROM puw GROUP BY 1),
      |cs AS (SELECT w0 AS cohort, CAST(count(*) AS BIGINT) AS cohort_users
      |       FROM fw GROUP BY 1),
      |cells AS (
      |  SELECT w0 AS cohort, wk - w0 AS age,
      |         CAST(SUM(wc) AS BIGINT) AS cents,
      |         CAST(count(*) AS BIGINT) AS n_active
      |  FROM puw JOIN fw USING (u) GROUP BY 1, 2),
      |cum AS (
      |  SELECT *, CAST(SUM(cents) OVER (PARTITION BY cohort ORDER BY age
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |            AS BIGINT) AS cum_cents
      |  FROM cells)
      |SELECT cohort, age, n_active, cents, cum_cents, cohort_users,
      |       floor(CAST(cum_cents AS DOUBLE) / 100.0 / cohort_users
      |             * 10000.0 + 0.5) / 10000.0 AS ltv_per_user
      |FROM cum JOIN cs USING (cohort)
      |ORDER BY cohort, age""".stripMargin

  // ---------------------------------------------------------------------
  // q_rolling_corr — 7-day rolling exact correlation of two daily series
  // ---------------------------------------------------------------------

  /** Rolling 7-day Pearson correlation between daily revenue and daily
    * event count — the co-movement monitor between a business metric and
    * an activity metric. Both series collapse in ONE daily aggregate
    * (revenue in whole dollars so every windowed product stays int64);
    * all five windowed sums (Σx, Σy, Σxy, Σx², Σy², count) ride a single
    * |days|-bounded rolling frame (whitelisted), and the correlation is
    * formed once per day from exact integers — null when a window's
    * variance vanishes.
    */
  private val rollingCorrQ: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(
        sum(when(col("event_type") === "purchase",
          round(col("value")).cast("long")).otherwise(0L)).as("x"),
        count(lit(1)).as("y"))
    val w7 = Window.orderBy("day").rowsBetween(-6, 0)
    val rolled = daily.select(col("day"),
      count(lit(1)).over(w7).as("n"),
      sum("x").over(w7).as("sx"), sum("y").over(w7).as("sy"),
      sum(col("x") * col("y")).over(w7).as("sxy"),
      sum(col("x") * col("x")).over(w7).as("sxx"),
      sum(col("y") * col("y")).over(w7).as("syy"))
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val da = col("n") * col("sxx") - col("sx") * col("sx")
    val db = col("n") * col("syy") - col("sy") * col("sy")
    rolled.select(col("day"), col("n"), col("sx"), col("sy"), col("sxy"),
        when(da > 0 && db > 0,
          Num.round4(num.cast("double") /
            (sqrt(da.cast("double")) * sqrt(db.cast("double")))))
          .as("corr7"))
      .orderBy("day")
  }

  private val rollingCorrSql =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day,
      |         CAST(SUM(CASE WHEN event_type = 'purchase'
      |                       THEN CAST(round(value) AS BIGINT)
      |                       ELSE 0 END) AS BIGINT) AS x,
      |         CAST(count(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1),
      |rolled AS (
      |  SELECT day,
      |         CAST(count(*) OVER w AS BIGINT) AS n,
      |         CAST(SUM(x) OVER w AS BIGINT) AS sx,
      |         CAST(SUM(y) OVER w AS BIGINT) AS sy,
      |         CAST(SUM(x * y) OVER w AS BIGINT) AS sxy,
      |         CAST(SUM(x * x) OVER w AS BIGINT) AS sxx,
      |         CAST(SUM(y * y) OVER w AS BIGINT) AS syy
      |  FROM daily
      |  WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
      |SELECT day, n, sx, sy, sxy,
      |       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
      |            THEN floor(CAST(n * sxy - sx * sy AS DOUBLE)
      |                       / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
      |                          * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
      |                       * 10000.0 + 0.5) / 10000.0
      |       END AS corr7
      |FROM rolled ORDER BY day""".stripMargin

  // ---------------------------------------------------------------------
  // q_zscore_anomaly — trailing z-score anomaly flags on the daily metric
  // ---------------------------------------------------------------------

  /** Metric anomaly detection: each day's event count scored against the
    * TRAILING 7-day window (current day excluded — the day under test
    * must not contaminate its own baseline): z² = (n·y − Σ)² / (n·Σy² −
    * Σ²) · n / n... kept as the exact integer comparison
    * (n·y_t − Σ)² · (n−1) vs k²·n·(n·Σy² − Σ²) so the |z| > 2 flag needs
    * NO square root or division — pure int64 arithmetic on windowed sums
    * (the drift-family discipline applied to ops monitoring). The round4
    * z itself ships for the dashboard. |days|-bounded frame, whitelisted.
    */
  private val zscoreAnomalyQ: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
    val w7 = Window.orderBy("day").rowsBetween(-7, -1)
    val rolled = daily.select(col("day"), col("y"),
      count(lit(1)).over(w7).as("n"),
      sum("y").over(w7).as("sy"),
      sum(col("y") * col("y")).over(w7).as("syy"))
    // variance numerator n·Σy² − Σ², deviation numerator n·y − Σ
    val dev = col("n") * col("y") - col("sy")
    val varN = col("n") * col("syy") - col("sy") * col("sy")
    rolled.filter(col("n") === 7)
      .select(col("day"), col("y"), col("sy"), col("syy"),
        // |z| > 2 ⇔ dev²·(n−1) > 4·n·varN, exact integers
        (dev * dev * (col("n") - 1) > lit(4L) * col("n") * varN)
          .cast("long").as("is_anomaly"),
        when(varN > 0, Num.round4(dev.cast("double") /
          sqrt(varN.cast("double") * col("n") / (col("n") - 1))))
          .as("z"))
      .orderBy("day")
  }

  private val zscoreAnomalySql =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS y
      |  FROM events GROUP BY 1),
      |rolled AS (
      |  SELECT day, y,
      |         CAST(count(*) OVER w AS BIGINT) AS n,
      |         CAST(SUM(y) OVER w AS BIGINT) AS sy,
      |         CAST(SUM(y * y) OVER w AS BIGINT) AS syy
      |  FROM daily
      |  WINDOW w AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
      |SELECT day, y, sy, syy,
      |       CAST(CASE WHEN (n * y - sy) * (n * y - sy) * (n - 1)
      |                      > 4 * n * (n * syy - sy * sy)
      |                 THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly,
      |       CASE WHEN n * syy - sy * sy > 0
      |            THEN floor(CAST(n * y - sy AS DOUBLE)
      |                       / sqrt(CAST(n * syy - sy * sy AS DOUBLE)
      |                              * n / (n - 1))
      |                       * 10000.0 + 0.5) / 10000.0
      |       END AS z
      |FROM rolled WHERE n = 7 ORDER BY day""".stripMargin

  // ---------------------------------------------------------------------
  // q_seq_pairs — ordered-containment support matrix (sequence mining lite)
  // ---------------------------------------------------------------------

  /** Support of every ordered behavior pair "A … then B" (not-necessarily
    * adjacent — the subsequence question [[Windows]]' adjacent-transition
    * matrix cannot answer): a user supports (A, B) iff some B follows
    * their FIRST A, i.e. first_A < last_B. One conditional aggregate
    * collapses each user to 10 timestamps (first/last per type); the 20
    * ordered pairs `inline()` out of per-user rows, aggregate to counts,
    * support in integer basis points. The per-row state is 2·|types|
    * longs — sequence mining without materializing a single subsequence.
    */
  private def firstLastAggs(types: Seq[String]): Seq[Column] =
    types.flatMap(t => Seq(
      min(when(col("t") === t, col("us"))).as(s"f_$t"),
      max(when(col("t") === t, col("us"))).as(s"l_$t")))

  private val seqPairsQ: Q = (s, d) => {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val perUser = Tables.events(s, d)
      .select(col("user_id").as("u"), col("event_type").as("t"),
        unix_micros(col("ts")).as("us"))
      .groupBy("u")
      .agg(firstLastAggs(types).head, firstLastAggs(types).tail: _*)
    val nUsers = perUser.agg(count(lit(1)).as("n_users"))
    val pairRows = perUser.select(inline(array(
      (for (a <- types; b <- types if a != b) yield
        struct(lit(a).as("t_a"), lit(b).as("t_b"),
          (col(s"f_$a").isNotNull && col(s"l_$b").isNotNull &&
            col(s"f_$a") < col(s"l_$b")).cast("long").as("supp"))): _*)))
    pairRows.groupBy("t_a", "t_b").agg(sum("supp").as("n_supporting"))
      .crossJoin(broadcast(nUsers))
      .select(col("t_a"), col("t_b"), col("n_supporting"), col("n_users"),
        call_function("div", col("n_supporting") * lit(10000L),
          col("n_users")).as("support_bp"))
      .orderBy("t_a", "t_b")
  }

  private val seqPairsSql = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val aggCols = types.map(t =>
      s"""MIN(CASE WHEN event_type = '$t' THEN us END) AS f_$t,
         |         MAX(CASE WHEN event_type = '$t' THEN us END) AS l_$t"""
        .stripMargin).mkString(",\n         ")
    val pairSelects = (for (a <- types; b <- types if a != b) yield
      s"""SELECT '$a' AS t_a, '$b' AS t_b,
         |       CAST(CASE WHEN f_$a IS NOT NULL AND l_$b IS NOT NULL
         |                      AND f_$a < l_$b THEN 1 ELSE 0 END AS BIGINT)
         |         AS supp FROM pu""".stripMargin).mkString("\n  UNION ALL ")
    s"""WITH e AS (
       |  SELECT user_id AS u, event_type, epoch_ns(ts) // 1000 AS us
       |  FROM events),
       |pu AS (
       |  SELECT u,
       |         $aggCols
       |  FROM e GROUP BY u),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM pu),
       |pairs AS (
       |  $pairSelects)
       |SELECT t_a, t_b, CAST(SUM(supp) AS BIGINT) AS n_supporting, n_users,
       |       CAST(SUM(supp) AS BIGINT) * 10000 // n_users AS support_bp
       |FROM pairs, n GROUP BY t_a, t_b, n_users
       |ORDER BY t_a, t_b""".stripMargin
  }

  // ---------------------------------------------------------------------
  // q_trending — period-over-period rank movers
  // ---------------------------------------------------------------------

  /** Top rank climbers between the two halves of the shipping-date span —
    * the "trending items" report (and the rank-shift drift signal for a
    * corpus's source mix): per-part demand counts in each half, each half
    * ranked GLOBALLY by (count desc, part asc), top-20 by rank improvement.
    * Both ranks come from ONE [[graft.ops.Prefix.withCumSums]] running
    * count grouped by half — no global sort anywhere — and the ◆ oracle's
    * two `row_number() OVER (ORDER BY n DESC, pid)` windows match
    * bit-for-bit. The per-(part, half) count table is localCheckpoint-ed:
    * the rank pass's two offsets jobs and local pass would otherwise
    * re-expand the fact aggregate per consumer (the `q_rank_test`
    * reuse-blocker class). Parts absent from either half have no rank
    * there and drop (inner join) — a rank DELTA needs both endpoints.
    */
  private val trendingQ: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .select(col("l_partkey").as("pid"),
        expr("unix_micros(l_shipdate) div 86400000000").as("day"))
    val bounds = li.agg(min("day").as("lo"), max("day").as("hi"))
    val counts = li.crossJoin(broadcast(bounds))
      .withColumn("half",
        when(col("day") <= call_function("div", col("lo") + col("hi"),
          lit(2L)), lit(1L)).otherwise(lit(2L)))
      .groupBy("pid", "half").agg(count(lit(1)).as("n"))
      .ckpt(eager = false)
    val ranked = graft.ops.Prefix.withCumSums(counts, "n", Seq("pid"),
        Seq("r" -> lit(1L)), descending = true, groups = Seq("half"))
      .select("pid", "half", "n", "r")
      .ckpt(eager = false)
    val h1 = ranked.filter(col("half") === 1L)
      .select(col("pid"), col("n").as("n_old"), col("r").as("r1"))
    val h2 = ranked.filter(col("half") === 2L)
      .select(col("pid"), col("n").as("n_new"), col("r").as("r2"))
    h1.join(h2, "pid")
      .withColumn("rank_delta", col("r1") - col("r2"))
      .select(col("pid").as("part_id"), col("n_old"), col("n_new"),
        col("r1"), col("r2"), col("rank_delta"))
      .orderBy(desc("rank_delta"), asc("part_id")).limit(20)
  }

  private val trendingSql =
    """WITH li AS (
      |  SELECT l_partkey AS pid,
      |         epoch_us(l_shipdate) // 86400000000 AS day
      |  FROM lineitem),
      |b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM li),
      |counts AS (
      |  SELECT pid,
      |         CASE WHEN day <= (lo + hi) // 2 THEN 1 ELSE 2 END AS half,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM li, b GROUP BY 1, 2),
      |h1 AS (SELECT pid, n AS n_old,
      |              CAST(row_number() OVER (ORDER BY n DESC, pid) AS BIGINT)
      |                AS r1
      |       FROM counts WHERE half = 1),
      |h2 AS (SELECT pid, n AS n_new,
      |              CAST(row_number() OVER (ORDER BY n DESC, pid) AS BIGINT)
      |                AS r2
      |       FROM counts WHERE half = 2)
      |SELECT h1.pid AS part_id, n_old, n_new, r1, r2, r1 - r2 AS rank_delta
      |FROM h1 JOIN h2 ON h1.pid = h2.pid
      |ORDER BY rank_delta DESC, part_id LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // q_churn_hazard — discrete-time survival/hazard table
  // ---------------------------------------------------------------------

  /** Discrete-time churn hazard by tenure week — the life-table form of
    * the retention question (`q_cohort_retention` asks "how many came
    * back at offset k"; the hazard asks "of those who REACHED week t,
    * what fraction ended there"). Each user collapses to
    * (tenure = last − first active week, churned flag); a user whose
    * last activity is within 2 weeks of the observation horizon is
    * CENSORED (still alive at cutoff — they ended observation at tenure
    * t without churning, exactly Kaplan–Meier's right-censoring).
    * at_risk(t) = Σ_{t'≥t} ended(t') is a reverse running sum over the
    * |months|-bounded tenure table (calendar-bounded unpartitioned
    * window, RegistrySpec-declared); hazard_bp = ⌊10⁴·churned/at_risk⌋
    * exact. The survival curve is Π(1−h) — a float product the engine
    * deliberately leaves to the reader of the exact hazard column (the
    * Benford rule: report measured integers, not libm compositions).
    * Tenure runs on the ORDER history at calendar-month granularity
    * (the events fixture spans days, so every user would share one
    * tenure; order dates span years) — month index year·12+month is
    * identical integer arithmetic on both engines.
    */
  private val churnHazardQ: Q = (s, d) => {
    val mo = Tables.orders(s, d).select(col("o_custkey").as("u"),
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("mo"))
    val pu = mo.groupBy("u").agg(min("mo").as("fm"), max("mo").as("lm"))
    val hz = mo.agg(max("mo").as("h"))
    val byT = pu.crossJoin(broadcast(hz))
      .select((col("lm") - col("fm")).as("tenure_months"),
        (col("lm") <= col("h") - 2).cast("long").as("churned"))
      .groupBy("tenure_months").agg(count(lit(1)).as("n_ended"),
        sum("churned").as("n_churned"))
    val w = Window.orderBy(desc("tenure_months"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byT.withColumn("at_risk", sum("n_ended").over(w))
      .withColumn("hazard_bp", call_function("div",
        lit(10000L) * col("n_churned"), col("at_risk")))
      .select("tenure_months", "at_risk", "n_churned", "hazard_bp")
      .orderBy("tenure_months")
  }

  private val churnHazardSql =
    """WITH o AS (
      |  SELECT o_custkey AS u,
      |         CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
      |           AS mo
      |  FROM orders),
      |pu AS (SELECT u, MIN(mo) AS fm, MAX(mo) AS lm FROM o GROUP BY u),
      |h AS (SELECT MAX(mo) AS h FROM o),
      |t AS (
      |  SELECT lm - fm AS tenure_months,
      |         CAST(count(*) AS BIGINT) AS n_ended,
      |         CAST(SUM(CASE WHEN lm <= h - 2 THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_churned
      |  FROM pu, h GROUP BY 1),
      |r AS (
      |  SELECT tenure_months, n_churned,
      |         CAST(SUM(n_ended) OVER (ORDER BY tenure_months DESC
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |              AS BIGINT) AS at_risk
      |  FROM t)
      |SELECT tenure_months, at_risk, n_churned,
      |       (10000 * n_churned) // at_risk AS hazard_bp
      |FROM r ORDER BY tenure_months""".stripMargin

  // ---------------------------------------------------------------------
  // q_streaks — gaps-and-islands longest consecutive-day runs
  // ---------------------------------------------------------------------

  /** Longest consecutive-active-day streak per user — the classic
    * gaps-and-islands idiom (day − row_number is constant exactly on a
    * consecutive run), which neither the gap sessionizer (no calendar
    * grid) nor the interval merge (no unit steps) expresses: engagement
    * streaks, SLA uptime runs, consecutive-day data-completeness checks
    * are all this query. One distinct (user, day) collapse, both windows
    * and both rollups on the SAME user-keyed exchange; output |users|
    * rows with streak/island/active-day counts.
    */
  private val streaksQ: Q = (s, d) => {
    val ud = Tables.events(s, d).select(col("user_id").as("u"),
      expr("unix_micros(ts) div 86400000000").as("day")).distinct()
    val w = Window.partitionBy("u").orderBy("day")
    ud.withColumn("grp", col("day") - row_number().over(w))
      .groupBy("u", "grp").agg(count(lit(1)).as("len"))
      .groupBy("u").agg(max("len").as("longest_streak"),
        count(lit(1)).as("n_streaks"), sum("len").as("n_active_days"))
      .select(col("u").as("user_id"), col("longest_streak"),
        col("n_streaks"), col("n_active_days"))
      .orderBy("user_id")
  }

  private val streaksSql =
    """WITH ud AS (
      |  SELECT DISTINCT user_id AS u, epoch_ns(ts) // 1000 // 86400000000 AS day
      |  FROM events),
      |isl AS (
      |  SELECT u, day - row_number() OVER (PARTITION BY u ORDER BY day) AS grp
      |  FROM ud),
      |st AS (SELECT u, CAST(count(*) AS BIGINT) AS len
      |       FROM isl GROUP BY u, grp)
      |SELECT u AS user_id,
      |       CAST(MAX(len) AS BIGINT) AS longest_streak,
      |       CAST(count(*) AS BIGINT) AS n_streaks,
      |       CAST(SUM(len) AS BIGINT) AS n_active_days
      |FROM st GROUP BY u ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // q_top_paths — most common 3-step behavior paths
  // ---------------------------------------------------------------------

  /** Top-10 most frequent CONSECUTIVE 3-step event paths across all user
    * timelines — the n-gram extension of the bigram questions
    * (◆ `q_transitions` = adjacent pairs, ◆ `q_seq_pairs` = ordered
    * containment): "view → click → purchase" vs "view → click → view"
    * is the distinction a UX or curriculum designer reads. Two `lead`s
    * on ONE user-keyed exchange materialize each position's trigram
    * (windows never buffer beyond the frame), a hash aggregate counts
    * the ≤ |types|³ distinct paths, TakeOrderedAndProject keeps 10.
    * Cross-user adjacency never pairs (the window partition is the
    * user), and the (time, event_id) order is total so the path set is
    * deterministic.
    */
  private val topPathsQ: Q = (s, d) => {
    val w = Window.partitionBy("u").orderBy("us", "eid")
    Tables.events(s, d)
      .select(col("user_id").as("u"), col("event_type").as("t"),
        expr("unix_micros(ts)").as("us"), col("event_id").as("eid"))
      .select(col("t").as("e1"), lead("t", 1).over(w).as("e2"),
        lead("t", 2).over(w).as("e3"))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .groupBy("e1", "e2", "e3").agg(count(lit(1)).as("n_paths"))
      .orderBy(desc("n_paths"), asc("e1"), asc("e2"), asc("e3"))
      .limit(10)
  }

  private val topPathsSql =
    """WITH e AS (
      |  SELECT user_id AS u, event_type AS t, epoch_ns(ts) // 1000 AS us,
      |         event_id AS eid
      |  FROM events),
      |tri AS (
      |  SELECT t AS e1,
      |         lead(t, 1) OVER (PARTITION BY u ORDER BY us, eid) AS e2,
      |         lead(t, 2) OVER (PARTITION BY u ORDER BY us, eid) AS e3
      |  FROM e)
      |SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n_paths
      |FROM tri WHERE e2 IS NOT NULL AND e3 IS NOT NULL
      |GROUP BY e1, e2, e3
      |ORDER BY n_paths DESC, e1, e2, e3 LIMIT 10""".stripMargin

  // ---------------------------------------------------------------------
  // q_did — difference-in-differences readout
  // ---------------------------------------------------------------------

  /** Difference-in-differences over the parity experiment — the causal
    * companion of ◆ `q_ab_lift` (which reads a post-only 2×2; DiD
    * subtracts each arm's OWN baseline, removing any fixed between-arm
    * level difference): purchase value means per (arm × before/after the
    * day-span midpoint), estimate
    * ΔΔ = (μ̄₁₁ − μ̄₁₀) − (μ̄₀₁ − μ̄₀₀). The four cells aggregate in ONE
    * conditional pass (the `q_ab_lift` single-scan discipline); the
    * estimate is the exact rational with denominator n₁₁·n₁₀·n₀₁·n₀₀ —
    * the cross-multiplied numerator exceeds 2⁶³, so both ship as
    * decimal(38,0) ↔ HUGEINT STRINGS (the `q_ols_fit` widening rule) and
    * the dollars figure is a round4 double formed once from them.
    */
  private val didQ: Q = (s, d) => {
    val e = Tables.events(s, d).filter(col("event_type") === "purchase")
      .select(pmod(col("user_id"), lit(2L)).as("arm"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        Num.cents(col("value")).as("cents"))
    val bounds = e.agg(min("day").as("lo"), max("day").as("hi"))
    def cell(arm: Int, post: Int, agg: Column): Column = {
      val inPost = col("day") > call_function("div",
        col("lo") + col("hi"), lit(2L))
      sum(when(col("arm") === arm &&
        (if (post == 1) inPost else !inPost), agg).otherwise(lit(0L)))
    }
    val g = e.crossJoin(broadcast(bounds)).agg(
      cell(0, 0, lit(1L)).as("n00"), cell(0, 0, col("cents")).as("s00"),
      cell(0, 1, lit(1L)).as("n01"), cell(0, 1, col("cents")).as("s01"),
      cell(1, 0, lit(1L)).as("n10"), cell(1, 0, col("cents")).as("s10"),
      cell(1, 1, lit(1L)).as("n11"), cell(1, 1, col("cents")).as("s11"))
    val dec = "decimal(38,0)"
    def w(n: String) = col(n).cast(dec)
    val num = (w("s11") * w("n10") - w("s10") * w("n11")) *
      (w("n01") * w("n00")) -
      (w("s01") * w("n00") - w("s00") * w("n01")) * (w("n11") * w("n10"))
    val den = w("n11") * w("n10") * w("n01") * w("n00")
    g.select(col("n00"), col("s00"), col("n01"), col("s01"),
        col("n10"), col("s10"), col("n11"), col("s11"),
        num.cast("string").as("did_num_s"),
        den.cast("string").as("did_den_s"),
        Num.round4(num.cast("double") / den.cast("double") / lit(100.0))
          .as("did_dollars"))
  }

  private val didSql =
    """WITH e AS (
      |  SELECT user_id % 2 AS arm,
      |         epoch_ns(ts) // 1000 // 86400000000 AS day,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'),
      |b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM e),
      |g AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN arm = 0 AND day <= (lo+hi)//2 THEN 1 ELSE 0 END) AS BIGINT) AS n00,
      |    CAST(SUM(CASE WHEN arm = 0 AND day <= (lo+hi)//2 THEN cents ELSE 0 END) AS BIGINT) AS s00,
      |    CAST(SUM(CASE WHEN arm = 0 AND day >  (lo+hi)//2 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
      |    CAST(SUM(CASE WHEN arm = 0 AND day >  (lo+hi)//2 THEN cents ELSE 0 END) AS BIGINT) AS s01,
      |    CAST(SUM(CASE WHEN arm = 1 AND day <= (lo+hi)//2 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
      |    CAST(SUM(CASE WHEN arm = 1 AND day <= (lo+hi)//2 THEN cents ELSE 0 END) AS BIGINT) AS s10,
      |    CAST(SUM(CASE WHEN arm = 1 AND day >  (lo+hi)//2 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
      |    CAST(SUM(CASE WHEN arm = 1 AND day >  (lo+hi)//2 THEN cents ELSE 0 END) AS BIGINT) AS s11
      |  FROM e, b),
      |w AS (
      |  SELECT n00, s00, n01, s01, n10, s10, n11, s11,
      |         (CAST(s11 AS HUGEINT) * n10 - CAST(s10 AS HUGEINT) * n11) *
      |           (CAST(n01 AS HUGEINT) * n00) -
      |         (CAST(s01 AS HUGEINT) * n00 - CAST(s00 AS HUGEINT) * n01) *
      |           (CAST(n11 AS HUGEINT) * n10) AS num,
      |         CAST(n11 AS HUGEINT) * n10 * n01 * n00 AS den
      |  FROM g)
      |SELECT n00, s00, n01, s01, n10, s10, n11, s11,
      |       CAST(num AS VARCHAR) AS did_num_s,
      |       CAST(den AS VARCHAR) AS did_den_s,
      |       floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 100.0
      |             * 10000.0 + 0.5) / 10000.0 AS did_dollars
      |FROM w""".stripMargin

  // ---------------------------------------------------------------------
  // q_mom_growth — month-over-month growth per nation
  // ---------------------------------------------------------------------

  /** Month-over-month revenue deltas per nation — the period-comparison
    * report every finance dashboard opens with, exact: monthly cents
    * rollup (customer dim broadcast onto the fact), lag over the
    * nation-partitioned |months| calendar rows, delta in cents and
    * growth in floor basis points (null on a missing previous month —
    * no fabricated 0% growth). One fact shuffle into the rollup;
    * everything after is |nations|·|months| rows.
    */
  private val momGrowthQ: Q = (s, d) => {
    val monthly = Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").cast("long").as("nk"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .cast("long").as("mi"))
      .agg(sum(Num.cents(col("o_totalprice"))).as("cents"))
    val w = Window.partitionBy("nk").orderBy("mi")
    monthly.withColumn("prev", lag("cents", 1).over(w))
      .select(col("nk"), col("mi"), col("cents"),
        (col("cents") - col("prev")).as("delta_cents"),
        when(col("prev").isNotNull, call_function("div",
          lit(10000L) * (col("cents") - col("prev")), col("prev")))
          .as("growth_bp"))
      .orderBy("nk", "mi")
  }

  private val momGrowthSql =
    """WITH m AS (
      |  SELECT CAST(c_nationkey AS BIGINT) AS nk,
      |         CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
      |           AS mi,
      |         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |           AS cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |l AS (
      |  SELECT nk, mi, cents,
      |         lag(cents) OVER (PARTITION BY nk ORDER BY mi) AS prev
      |  FROM m)
      |SELECT nk, mi, cents,
      |       cents - prev AS delta_cents,
      |       CASE WHEN prev IS NOT NULL
      |            THEN (10000 * (cents - prev)) // prev END AS growth_bp
      |FROM l ORDER BY nk, mi""".stripMargin

  // ---------------------------------------------------------------------
  // q_sql_shared — ONE dialect-portable SQL text runs on both engines
  // ---------------------------------------------------------------------

  /** The engine's SQL surface, demonstrated at its strongest: ONE
    * ANSI-portable SQL text (joins, conditional aggregation, exact cents
    * arithmetic — no engine-specific functions) registered over the
    * engine's temp views and executed by `spark.sql`, while the ◆ oracle
    * is the IDENTICAL STRING executed by DuckDB — write once, hash-match
    * everywhere. This is the dialect-compatibility contract a user
    * migrating warehouse SQL onto the engine cares about, stated as an
    * executable artifact rather than a claim. (The DataFrame queries
    * elsewhere deliberately use Spark-native idioms; this one pins the
    * pure-SQL path end-to-end, Catalyst planning included.)
    */
  private val sqlSharedText =
    """SELECT r_name,
      |       o_orderpriority,
      |       CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |         AS revenue_cents,
      |       CAST(SUM(CASE WHEN o_orderstatus = 'F'
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_finished
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE o_totalprice > 1000
      |GROUP BY r_name, o_orderpriority
      |ORDER BY r_name, o_orderpriority""".stripMargin

  private val sqlSharedQ: Q = (s, d) => {
    Seq("orders", "customer", "nation", "region").foreach { t =>
      Tables.read(s, d, t).createOrReplaceTempView(t)
    }
    s.sql(sqlSharedText)
  }

  // ---------------------------------------------------------------------
  // q_lag_features — the supervised-learning feature matrix in one pass
  // ---------------------------------------------------------------------

  /** Per-(user, calendar day) lag/rolling feature matrix — the table a
    * churn/LTV model trains on, built in ONE pass: the dense day spine
    * (the ◆ `q_resample_ffill` discipline — lag-1 must mean YESTERDAY,
    * not "previous active day", so gaps zero-fill before any lag),
    * then lag-1 / lag-7 counts and trailing-7-day count+revenue sums,
    * all exact integers, all windows partitioned by user on one
    * exchange. Spine heads carry null lags (no fabricated zeros — a
    * model's missing-indicator is the modeler's choice, not the
    * engine's). Reported for the user_id < 10 panel; the spine bounds
    * come from the WHOLE stream so every panel shares one calendar.
    */
  private val lagFeaturesQ: Q = (s, d) => {
    val allDays = Tables.events(s, d)
      .select(expr("unix_micros(ts) div 86400000000").as("day"))
    val bounds = allDays.agg(min("day").as("lo"), max("day").as("hi"))
    val ev = Tables.events(s, d).filter(col("user_id") < 10)
      .select(col("user_id").as("u"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        Num.cents(col("value")).as("cents"))
    val spine = ev.select("u").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("u"), explode(expr("sequence(lo, hi)")).as("day"))
    val daily = ev.groupBy("u", "day")
      .agg(count(lit(1)).as("n"), sum("cents").as("c"))
    val w = Window.partitionBy("u").orderBy("day")
    val wr = w.rowsBetween(-6, Window.currentRow)
    spine.join(daily, Seq("u", "day"), "left")
      .na.fill(0L, Seq("n", "c"))
      .withColumn("lag1_n", lag("n", 1).over(w))
      .withColumn("lag7_n", lag("n", 7).over(w))
      .withColumn("roll7_n", sum("n").over(wr))
      .withColumn("roll7_cents", sum("c").over(wr))
      .select(col("u").as("user_id"), col("day"), col("n"),
        col("c").as("cents"), col("lag1_n"), col("lag7_n"),
        col("roll7_n"), col("roll7_cents"))
      .orderBy("user_id", "day")
  }

  private val lagFeaturesSql =
    """WITH ev AS (
      |  SELECT user_id AS u, (epoch_ns(ts) // 1000) // 86400000000 AS day,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |days AS (SELECT unnest(generate_series((SELECT min(day) FROM ev),
      |                                       (SELECT max(day) FROM ev))) AS day),
      |u AS (SELECT DISTINCT u FROM ev WHERE u < 10),
      |daily AS (
      |  SELECT u, day, CAST(count(*) AS BIGINT) AS n,
      |         CAST(SUM(cents) AS BIGINT) AS c
      |  FROM ev WHERE u < 10 GROUP BY u, day),
      |j AS (
      |  SELECT s.u, s.day,
      |         CAST(coalesce(d.n, 0) AS BIGINT) AS n,
      |         CAST(coalesce(d.c, 0) AS BIGINT) AS c
      |  FROM (SELECT u, day FROM u, days) s
      |  LEFT JOIN daily d USING (u, day))
      |SELECT u AS user_id, day, n, c AS cents,
      |       lag(n, 1) OVER (PARTITION BY u ORDER BY day) AS lag1_n,
      |       lag(n, 7) OVER (PARTITION BY u ORDER BY day) AS lag7_n,
      |       CAST(SUM(n) OVER (PARTITION BY u ORDER BY day
      |         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS roll7_n,
      |       CAST(SUM(c) OVER (PARTITION BY u ORDER BY day
      |         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
      |         AS roll7_cents
      |FROM j ORDER BY user_id, day""".stripMargin

  // ---------------------------------------------------------------------
  // q_cuped — variance-reduced experiment readout
  // ---------------------------------------------------------------------

  /** CUPED-adjusted treatment effect — the variance-reduction standard of
    * modern experimentation (Deng et al., WSDM'13): each user's POST
    * metric is adjusted by θ·PRE (their own pre-period baseline), which
    * cancels the between-user variance the raw difference carries;
    * θ = cov(pre, post)/var(pre) is the pooled OLS slope. Everything is
    * exact: per-user (pre, post) purchase cents collapse in one
    * conditional aggregate (the day-span midpoint splits periods — the
    * `q_did` discipline); θ's numerator/denominator are the n-scaled
    * moments in decimal(38,0) ↔ HUGEINT (per-user products stay int64,
    * the widening happens on the single aggregate row — the
    * `q_moment_matrix` rule); the adjusted difference is the exact
    * rational [(Σy₁n₀ − Σy₀n₁)·θ_den − θ_num·(Σx₁n₀ − Σx₀n₁)] over
    * n₁·n₀·θ_den, shipped as strings with round4 dollar doubles formed
    * once. The raw difference rides along — the spread between the two
    * IS the variance the adjustment removed.
    */
  private val cupedQ: Q = (s, d) => {
    val e = Tables.events(s, d).filter(col("event_type") === "purchase")
      .select(col("user_id").as("u"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        Num.cents(col("value")).as("cents"))
    val bounds = e.agg(min("day").as("lo"), max("day").as("hi"))
    val perUser = e.crossJoin(broadcast(bounds))
      .withColumn("post", (col("day") > call_function("div",
        col("lo") + col("hi"), lit(2L))).cast("long"))
      .groupBy("u")
      .agg(sum(when(col("post") === 0L, col("cents")).otherwise(lit(0L)))
        .as("x"),
        sum(when(col("post") === 1L, col("cents")).otherwise(lit(0L)))
          .as("y"))
      .withColumn("arm", pmod(col("u"), lit(2L)))
    val g = perUser.agg(
      count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"),
      sum(when(col("arm") === 0L, lit(1L)).otherwise(lit(0L))).as("n0"),
      sum(when(col("arm") === 0L, col("x")).otherwise(lit(0L))).as("sx0"),
      sum(when(col("arm") === 0L, col("y")).otherwise(lit(0L))).as("sy0"),
      sum(when(col("arm") === 1L, lit(1L)).otherwise(lit(0L))).as("n1"),
      sum(when(col("arm") === 1L, col("x")).otherwise(lit(0L))).as("sx1"),
      sum(when(col("arm") === 1L, col("y")).otherwise(lit(0L))).as("sy1"))
    val dec = "decimal(38,0)"
    def w(n: String) = col(n).cast(dec)
    val thetaNum = w("n") * w("sxy") - w("sx") * w("sy")
    val thetaDen = w("n") * w("sxx") - w("sx") * w("sx")
    val dyNum = w("sy1") * w("n0") - w("sy0") * w("n1")
    val dxNum = w("sx1") * w("n0") - w("sx0") * w("n1")
    val adjNum = dyNum * thetaDen - thetaNum * dxNum
    val adjDen = w("n1") * w("n0") * thetaDen
    g.select(col("n0"), col("n1"),
      thetaNum.cast("string").as("theta_num_s"),
      thetaDen.cast("string").as("theta_den_s"),
      Num.round4(dyNum.cast("double") /
        (w("n1") * w("n0")).cast("double") / lit(100.0))
        .as("raw_diff_dollars"),
      Num.round4(adjNum.cast("double") / adjDen.cast("double") / lit(100.0))
        .as("cuped_diff_dollars"))
  }

  private val cupedSql =
    """WITH e AS (
      |  SELECT user_id AS u,
      |         epoch_ns(ts) // 1000 // 86400000000 AS day,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase'),
      |b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM e),
      |pu AS (
      |  SELECT u,
      |         CAST(SUM(CASE WHEN day <= (lo+hi)//2 THEN cents ELSE 0 END)
      |              AS BIGINT) AS x,
      |         CAST(SUM(CASE WHEN day >  (lo+hi)//2 THEN cents ELSE 0 END)
      |              AS BIGINT) AS y,
      |         u % 2 AS arm
      |  FROM e, b GROUP BY u),
      |g AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |         CAST(SUM(x * x) AS BIGINT) AS sxx,
      |         CAST(SUM(x * y) AS BIGINT) AS sxy,
      |         CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
      |         CAST(SUM(CASE WHEN arm = 0 THEN x ELSE 0 END) AS BIGINT) AS sx0,
      |         CAST(SUM(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS sy0,
      |         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |         CAST(SUM(CASE WHEN arm = 1 THEN x ELSE 0 END) AS BIGINT) AS sx1,
      |         CAST(SUM(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS sy1
      |  FROM pu),
      |wdn AS (
      |  SELECT n0, n1,
      |         CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS tnum,
      |         CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS tden,
      |         CAST(sy1 AS HUGEINT) * n0 - CAST(sy0 AS HUGEINT) * n1 AS dy,
      |         CAST(sx1 AS HUGEINT) * n0 - CAST(sx0 AS HUGEINT) * n1 AS dx
      |  FROM g)
      |SELECT n0, n1,
      |       CAST(tnum AS VARCHAR) AS theta_num_s,
      |       CAST(tden AS VARCHAR) AS theta_den_s,
      |       floor(CAST(dy AS DOUBLE) /
      |             (CAST(n1 AS DOUBLE) * n0) / 100.0 * 10000.0 + 0.5)
      |         / 10000.0 AS raw_diff_dollars,
      |       floor(CAST(dy * tden - tnum * dx AS DOUBLE) /
      |             CAST(CAST(n1 AS HUGEINT) * n0 * tden AS DOUBLE)
      |             / 100.0 * 10000.0 + 0.5) / 10000.0 AS cuped_diff_dollars
      |FROM wdn""".stripMargin

  /** Mann–Kendall monotone-trend test over the daily revenue series —
    * the nonparametric companion to ◆ `q_linreg_trend`'s parametric
    * slope (and the trend half the family was missing next to
    * `q_rank_test`'s two-sample MW-U): S = Σ_{i<j} sign(x_j − x_i)
    * needs no distributional assumption and is immune to outliers a
    * revenue series always has. All moments exact integers: S from the
    * strictly-upper-triangle self-join of the |days| daily rollup
    * (|days|² pairs of an already-collapsed table — the `q_acf`
    * bounded-domain argument; the events never pair), the tie-corrected
    * variance kept ×18 as var18 = n(n−1)(2n+5) − Σ t(t−1)(2t+5) so the
    * hash gate sees only int64; the sole floats are the final
    * correctly-rounded /18, sqrt, and division into the round4 z
    * (continuity-corrected), identical IEEE ops in both engines.
    */
  private val mannKendallQ: Q = (s, d) => {
    val daily = Tables.orders(s, d)
      .groupBy(expr("unix_micros(o_orderdate) div 86400000000").as("day"))
      .agg(sum(graft.ops.Num.cents(col("o_totalprice"))).as("x"))
      .ckpt()
    val sDf = daily.as("a").join(daily.as("b"), col("a.day") < col("b.day"))
      .agg(sum(signum(col("b.x") - col("a.x")).cast("long")).as("s"))
    val ties = daily.groupBy("x").agg(count(lit(1)).as("t"))
      .agg(sum(col("t") * (col("t") - 1L) * (lit(2L) * col("t") + 5L))
        .as("tie18"))
    val nDf = daily.agg(count(lit(1)).as("n_days"))
    sDf.crossJoin(broadcast(nDf)).crossJoin(broadcast(ties))
      .select(col("n_days"), col("s"),
        (col("n_days") * (col("n_days") - 1L) *
          (lit(2L) * col("n_days") + 5L) - col("tie18")).as("var18"))
      .select(col("n_days"), col("s"), col("var18"),
        Num.round4(
          when(col("s") > 0L, (col("s") - 1L).cast("double") /
            sqrt(col("var18").cast("double") / 18.0))
            .when(col("s") < 0L, (col("s") + 1L).cast("double") /
              sqrt(col("var18").cast("double") / 18.0))
            .otherwise(lit(0.0))).as("z"))
  }

  private val mannKendallSql =
    """WITH daily AS (
      |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
      |         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |           AS x
      |  FROM orders GROUP BY 1),
      |s AS (SELECT CAST(SUM(CASE WHEN b.x > a.x THEN 1
      |                           WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT)
      |        AS s
      |      FROM daily a JOIN daily b ON a.day < b.day),
      |t AS (SELECT CAST(coalesce(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
      |        AS tie18
      |      FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY x)),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily),
      |v AS (SELECT n_days, s,
      |             n_days * (n_days - 1) * (2 * n_days + 5) - tie18 AS var18
      |      FROM s, t, n)
      |SELECT n_days, s, var18,
      |       floor((CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE)
      |                               / sqrt(CAST(var18 AS DOUBLE) / 18.0)
      |                   WHEN s < 0 THEN CAST(s + 1 AS DOUBLE)
      |                               / sqrt(CAST(var18 AS DOUBLE) / 18.0)
      |                   ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS z
      |FROM v""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q_mann_kendall", mannKendallQ, Some(mannKendallSql)),
    Entry("q_linreg_trend", linregTrendQ, Some(linregTrendSql)),
    Entry("q_moment_matrix", momentMatrixQ, Some(momentMatrixSql)),
    Entry("q_acf", acfQ, Some(acfSql)),
    Entry("q_interval_merge", intervalMergeQ, Some(intervalMergeSql)),
    Entry("q_assoc_rules", assocRulesQ, Some(assocRulesSql)),
    Entry("q_overlap_exact", overlapExactQ, Some(overlapExactSql)),
    Entry("q_overlap_approx", overlapApproxQ, None),
    Entry("q_ols_fit", olsFitQ, Some(olsFitSql)),
    Entry("q_forecast_eval", forecastEvalQ, Some(forecastEvalSql)),
    Entry("q_ab_lift", abLiftQ, Some(abLiftSql)),
    Entry("q_activity_bitmap", activityBitmapQ, Some(activityBitmapSql)),
    Entry("q_pca_axes", pcaAxesQ, Some(pcaAxesSql)),
    Entry("q_diversity_profile", diversityProfileQ, Some(diversityProfileSql)),
    Entry("q_ewma", ewmaQ, Some(ewmaSql)),
    Entry("q_seasonal_effect", seasonalEffectQ, Some(seasonalEffectSql)),
    Entry("q_seasonal_adjust", seasonalAdjustQ, Some(seasonalAdjustSql)),
    Entry("q_rank_test", rankTestQ, Some(rankTestSql)),
    Entry("q_cramers_v", cramersVQ, Some(cramersVSql)),
    Entry("q_growth_accounting", growthAccountingQ, Some(growthAccountingSql)),
    Entry("q_decile_lift", decileLiftQ, Some(decileLiftSql)),
    Entry("q_calibration", calibrationQ, Some(calibrationSql)),
    Entry("q_funnel_time", funnelTimeQ, Some(funnelTimeSql)),
    Entry("q_cohort_ltv", cohortLtvQ, Some(cohortLtvSql)),
    Entry("q_rolling_corr", rollingCorrQ, Some(rollingCorrSql)),
    Entry("q_zscore_anomaly", zscoreAnomalyQ, Some(zscoreAnomalySql)),
    Entry("q_seq_pairs", seqPairsQ, Some(seqPairsSql)),
    Entry("q_trending", trendingQ, Some(trendingSql)),
    Entry("q_churn_hazard", churnHazardQ, Some(churnHazardSql)),
    Entry("q_streaks", streaksQ, Some(streaksSql)),
    Entry("q_top_paths", topPathsQ, Some(topPathsSql)),
    Entry("q_did", didQ, Some(didSql)),
    Entry("q_mom_growth", momGrowthQ, Some(momGrowthSql)),
    Entry("q_sql_shared", sqlSharedQ, Some(sqlSharedText)),
    Entry("q_lag_features", lagFeaturesQ, Some(lagFeaturesSql)),
    Entry("q_cuped", cupedQ, Some(cupedSql)),
  )
}
