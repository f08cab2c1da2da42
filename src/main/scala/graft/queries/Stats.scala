package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.{Hashing, Num, Prefix, Rank}
import org.apache.spark.sql.Column
import graft.tables.Tables
import Registry.{Entry, Q}

/** OLAP/statistical surface beyond the reference's own aggregates: rollup
  * hierarchies, pivoted cross-tabs, exact interpolated percentiles, and
  * second-moment statistics — the analytics a complete engine serves that
  * the reference computed client-side in the dashboard, when at all
  * (reference: src/streamlit_app.py:640-670 does its "analytics" in pandas
  * on collected rows; the engine keeps them distributed).
  *
  * Scale notes: rollup/pivot/stats are all single hash-aggregate shuffles
  * with map-side partials (pivot compiles to one conditional aggregate per
  * cell — no per-pivot-value pass); percentiles use Spark's exact
  * `percentile` (sort-based within group) — at extreme cardinality the
  * constant-memory swap-in is `percentile_approx`, kept out of the oracle
  * path because sketches differ across engines.
  */
object Stats {

  /** Rollup hierarchy: nation → mktsegment subtotals + grand total.
    * grouping() disambiguates NULL-as-subtotal from NULL data.
    *
    * Aggregate-then-join, deliberately: rolling up on the fact's nation KEY
    * and broadcast-joining the ~26 aggregate rows to names afterwards joins
    * a constant-size result instead of every fact row — and sidesteps a
    * Spark 4.1 analyzer quirk where rollup over a join trips the
    * ambiguous-self-join detector (grouping-sets expansion duplicates the
    * joined child). The name↔key bijection makes this identical to the
    * oracle's rollup-over-join.
    */
  private val rollupQ: Q = (s, d) => {
    val rolled = Tables.customer(s, d)
      .rollup("c_nationkey", "c_mktsegment")
      .agg(
        count(lit(1)).as("cnt"),
        Num.dollars(sum(Num.cents(col("c_acctbal")))).as("sum_bal"),
        grouping("c_nationkey").as("g_nation"),
        grouping("c_mktsegment").as("g_seg"))
    val n = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
    rolled.join(broadcast(n), col("c_nationkey") === col("n_nationkey"), "left")
      .select("n_name", "c_mktsegment", "cnt", "sum_bal", "g_nation", "g_seg")
      .orderBy(asc_nulls_first("n_name"), asc_nulls_first("c_mktsegment"))
  }

  private val rollupSql =
    """SELECT n_name, c_mktsegment, count(*) AS cnt,
      |       CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_bal,
      |       CAST(grouping(n_name) AS TINYINT) AS g_nation,
      |       CAST(grouping(c_mktsegment) AS TINYINT) AS g_seg
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY ROLLUP (n_name, c_mktsegment)
      |ORDER BY n_name NULLS FIRST, c_mktsegment NULLS FIRST""".stripMargin

  /** Pivoted cross-tab: order count per mktsegment × orderstatus. Spark's
    * `pivot` with an explicit value list compiles to one conditional
    * aggregate per cell — a single shuffle, no per-value scan.
    */
  private val pivotQ: Q = (s, d) => {
    val o = Tables.orders(s, d).select("o_custkey", "o_orderstatus")
    val c = Tables.customer(s, d).select("c_custkey", "c_mktsegment")
    o.join(c, col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .select(col("c_mktsegment"), col("F").as("n_f"), col("O").as("n_o"),
        col("P").as("n_p"))
      .orderBy("c_mktsegment")
  }

  private val pivotSql =
    """SELECT c_mktsegment,
      |       count(*) FILTER (o_orderstatus = 'F') AS n_f,
      |       count(*) FILTER (o_orderstatus = 'O') AS n_o,
      |       count(*) FILTER (o_orderstatus = 'P') AS n_p
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Exact interpolated percentiles (p50/p90/p99) of event value per type —
    * Spark `percentile` and DuckDB `quantile_cont` share the continuous
    * interpolation definition, so this is hash-comparable.
    */
  private val percentilesQ: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(
        Num.roundAt(expr("percentile(value, 0.5)"), 4).as("p50"),
        Num.roundAt(expr("percentile(value, 0.9)"), 4).as("p90"),
        Num.roundAt(expr("percentile(value, 0.99)"), 4).as("p99"))
      .orderBy("event_type")

  private val percentilesSql =
    """SELECT event_type,
      |       floor((quantile_cont(value, 0.5)) * 10000 + 0.5) / 10000.0 AS p50,
      |       floor((quantile_cont(value, 0.9)) * 10000 + 0.5) / 10000.0 AS p90,
      |       floor((quantile_cont(value, 0.99)) * 10000 + 0.5) / 10000.0 AS p99
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Constant-memory twin of [[percentilesQ]] — `percentile_approx`
    * (Greenwald-Khanna sketch, bounded state per group) is the swap-in at
    * extreme cardinality where the exact sort-based `percentile` would
    * spill. Sketches aren't cross-engine comparable, so no SQL oracle;
    * the error-bound property test vs the exact query is the gate
    * (PropertiesSpec).
    */
  private val percentilesApproxQ: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(
        Num.roundAt(expr("percentile_approx(value, 0.5, 10000)"), 4).as("p50"),
        Num.roundAt(expr("percentile_approx(value, 0.9, 10000)"), 4).as("p90"),
        Num.roundAt(expr("percentile_approx(value, 0.99, 10000)"), 4).as("p99"))
      .orderBy("event_type")

  /** Second-moment statistics per order status: sample stddev/variance of
    * the price and its correlation/covariance with quantity.
    */
  private val statsAggQ: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        Num.roundAt(stddev_samp(col("l_extendedprice")), 2).as("sd_price"),
        Num.roundAt(var_samp(col("l_extendedprice")), 2).as("var_price"),
        Num.roundAt(corr(col("l_extendedprice"), col("l_quantity")), 6).as("corr_pq"),
        Num.roundAt(covar_samp(col("l_extendedprice"), col("l_quantity")), 2).as("cov_pq"))
      .orderBy("l_returnflag")

  private val statsAggSql =
    """SELECT l_returnflag,
      |       floor((stddev_samp(l_extendedprice)) * 100 + 0.5) / 100.0 AS sd_price,
      |       floor((var_samp(l_extendedprice)) * 100 + 0.5) / 100.0 AS var_price,
      |       floor((corr(l_extendedprice, l_quantity)) * 1000000 + 0.5) / 1000000.0 AS corr_pq,
      |       floor((covar_samp(l_extendedprice, l_quantity)) * 100 + 0.5) / 100.0 AS cov_pq
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** JSON path extraction over the events' semi-structured `props` column
    * (`{"k": 87}`-shaped): extract, type, aggregate — the scan stays
    * columnar, only the string column is parsed, per row, in codegen.
    */
  private val jsonExtractQ: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("cnt"),
        min("k").as("min_k"),
        max("k").as("max_k"),
        Num.roundAt(avg("k"), 4).as("avg_k"))
      .orderBy("event_type")

  private val jsonExtractSql =
    """SELECT event_type, count(*) AS cnt,
      |       min(CAST(props->>'k' AS INT)) AS min_k,
      |       max(CAST(props->>'k' AS INT)) AS max_k,
      |       floor((avg(CAST(props->>'k' AS INT))) * 10000 + 0.5) / 10000.0 AS avg_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Semi-structured extraction through Spark 4's VARIANT type — the
    * binary-encoded sibling of ◆ `q_json_extract`'s per-path
    * `get_json_object`: `parse_json` decodes the string ONCE into a
    * traversal-friendly binary value, after which every `variant_get`
    * path access is a lookup, not a re-parse — the difference that
    * matters when a 100 TB event stream carries wide payloads read along
    * many paths (the engine's ingest answer to "schema-on-read without
    * rescanning strings"). Values and aggregation are identical to the
    * string-path twin, so the same DuckDB JSON oracle hash-gates the
    * whole VARIANT decode→access→aggregate path; VariantSpec-style
    * behavior (missing-path null via `try_variant_get`, inferred
    * `schema_of_variant`) is pinned in AnalyticsSpec.
    */
  private val variantExtractQ: Q = (s, d) =>
    Tables.events(s, d)
      .select(col("event_type"),
        parse_json(col("props")).as("v"))
      .select(col("event_type"),
        try_variant_get(col("v"), "$.k", "bigint").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), sum("k").as("sum_k"),
        min("k").as("min_k"), max("k").as("max_k"))
      .orderBy("event_type")

  private val variantExtractSql =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
      |       CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
      |       CAST(MIN(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS min_k,
      |       CAST(MAX(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Pivot → unpivot round trip with Spark's NATIVE `unpivot` (melt):
    * per-nation revenue pivoted wide over order status, melted back to
    * long — and the ◆ oracle is the DIRECT long-form GROUP BY, so hash
    * equality proves the reshape algebra is lossless (pivot's
    * null-filled absent cells drop on the way back, restoring exactly
    * the sparse long form). Wide↔long is the report-vs-model impedance
    * every BI export crosses; doing it with the engine's native
    * operators (one Expand for the melt — no UNION-per-column rescan)
    * keeps it one-pass at any width.
    */
  private val unpivotRoundtripQ: Q = (s, d) => {
    val statuses = Seq("F", "O", "P")
    val wide = Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").cast("long").as("nk"))
      .pivot("o_orderstatus", statuses)
      .agg(sum(Num.cents(col("o_totalprice"))))
    wide.unpivot(Array(col("nk")),
        statuses.map(col).toArray, "status", "cents")
      .filter(col("cents").isNotNull)
      .orderBy("nk", "status")
  }

  private val unpivotRoundtripSql =
    """SELECT CAST(c_nationkey AS BIGINT) AS nk, o_orderstatus AS status,
      |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |         AS cents
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1, 2 ORDER BY nk, status""".stripMargin

  /** Ranking-distribution window functions: percent_rank / cume_dist /
    * ntile(4) of value within each event type, sampled to a deterministic
    * row subset so the output stays bounded.
    */
  private val rankFuncsQ: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(asc("value"), asc("event_id"))
    Tables.events(s, d)
      .withColumn("pr", Num.roundAt(percent_rank().over(w), 6))
      .withColumn("cd", Num.roundAt(cume_dist().over(w), 6))
      .withColumn("quartile", ntile(4).over(w))
      .filter(col("event_id") % 199 === 0)
      .select("event_id", "event_type", "pr", "cd", "quartile")
      .orderBy("event_id")
  }

  private val rankFuncsSql =
    """SELECT event_id, event_type,
      |       floor(percent_rank() OVER (PARTITION BY event_type
      |                                  ORDER BY value, event_id)
      |             * 1000000 + 0.5) / 1000000.0 AS pr,
      |       floor(cume_dist() OVER (PARTITION BY event_type
      |                               ORDER BY value, event_id)
      |             * 1000000 + 0.5) / 1000000.0 AS cd,
      |       ntile(4) OVER (PARTITION BY event_type
      |                      ORDER BY value, event_id) AS quartile
      |FROM events QUALIFY event_id % 199 = 0 ORDER BY event_id""".stripMargin

  /** Set operations (the surface beyond the reference's union-only J7):
    * customers with BOTH fulfilled and open orders (INTERSECT) and with
    * fulfilled-only (EXCEPT), tagged and unioned. Both compile to
    * aggregate/join plans, not row-by-row comparisons.
    */
  private val setOpsQ: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val f = o.filter(col("o_orderstatus") === "F").select("o_custkey")
    val open = o.filter(col("o_orderstatus") === "O").select("o_custkey")
    f.intersect(open).withColumn("tag", lit("both"))
      .unionByName(f.except(open).withColumn("tag", lit("f_only")))
      .orderBy("tag", "o_custkey")
  }

  private val setOpsSql =
    """WITH f AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
      |o AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'),
      |bo AS (SELECT o_custkey, 'both' AS tag FROM (SELECT * FROM f INTERSECT SELECT * FROM o)),
      |fo AS (SELECT o_custkey, 'f_only' AS tag FROM (SELECT * FROM f EXCEPT SELECT * FROM o))
      |SELECT o_custkey, tag FROM bo
      |UNION ALL SELECT o_custkey, tag FROM fo
      |ORDER BY tag, o_custkey""".stripMargin

  /** AS-OF join — the canonical "operator Spark lacks" (SURVEY §4 custom-op
    * candidates), expressed by COMPOSING built-ins rather than a custom
    * physical operator (the preference order's option (a)): union the two
    * event streams, window per user ordered by time, carry the most recent
    * left-side timestamp forward with last_value(ignoreNulls), keep the
    * right-side rows. One shuffle by user — the same cost as any
    * per-user window — where a naive inequality join would be O(n·m) per
    * user. Semantics: each purchase matched to the user's most recent
    * preceding-or-simultaneous click (null if none).
    */
  private val asofJoinQ: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(asc("us"), asc("event_id"))
    ev.withColumn("click_us",
        last(when(col("event_type") === "click", col("us")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(
        col("user_id"), col("event_id").as("purchase_id"),
        col("us").as("purchase_us"), col("click_us"),
        (col("us") - col("click_us")).as("lag_us"))
      .orderBy("user_id", "purchase_id")
  }

  private val asofJoinSql =
    """WITH ev AS (
      |  SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS us
      |  FROM events WHERE event_type IN ('click', 'purchase'))
      |SELECT user_id, event_id AS purchase_id, us AS purchase_us, click_us,
      |       us - click_us AS lag_us
      |FROM (SELECT *,
      |             last_value(CASE WHEN event_type = 'click' THEN us END
      |                        IGNORE NULLS)
      |               OVER (PARTITION BY user_id ORDER BY us, event_id) AS click_us
      |      FROM ev)
      |WHERE event_type = 'purchase'
      |ORDER BY user_id, purchase_id""".stripMargin

  /** Column profiling — the data-quality pass every training pipeline runs
    * before ingest: per-column count / nulls / min / max / cent-exact mean,
    * in long form via `stack` so one scan profiles all columns (a single
    * partial+final aggregate, not one job per column).
    */
  private val profileQ: Q = (s, d) =>
    Tables.lineitem(s, d)
      .select(expr(
        """stack(3,
          |  'l_quantity', l_quantity,
          |  'l_extendedprice', l_extendedprice,
          |  'l_discount', l_discount) AS (col_name, v)""".stripMargin))
      .groupBy("col_name")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_null"),
        min("v").as("min_v"),
        max("v").as("max_v"),
        Num.roundAt(sum(Num.cents(col("v"))) / lit(100.0) / count(col("v")), 4).as("mean_v"))
      .orderBy("col_name")

  private val profileSql =
    """WITH long AS (
      |  SELECT 'l_quantity' AS col_name, l_quantity AS v FROM lineitem
      |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
      |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem)
      |SELECT col_name, count(*) AS n,
      |       CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
      |       min(v) AS min_v, max(v) AS max_v,
      |       floor(CAST(SUM(CAST(round(v * 100) AS BIGINT)) AS DOUBLE) / 100.0
      |             / count(v) * 10000 + 0.5) / 10000.0 AS mean_v
      |FROM long GROUP BY col_name ORDER BY col_name""".stripMargin

  /** Range (interval) join — events matched to the promo window containing
    * them. The interval dim is tiny and broadcast, so the inequality join
    * is a broadcast nested loop over a handful of build rows per stream
    * row — the right plan when one side is small; at big×big scale the
    * composition is bucketize-then-equi-join (events already carry their
    * day bucket here, which IS that rewrite: the equi-key prunes before
    * the residual range predicate).
    */
  private val rangeJoinQ: Q = (s, d) => {
    val iv = s.range(10).select(
      col("id").as("promo_id"),
      (lit(1704067200000000L) + col("id") * lit(86400000000L)).as("b_us"),
      (lit(1704067200000000L) + col("id") * lit(86400000000L) + lit(43200000000L)).as("e_us"))
    Tables.events(s, d)
      .withColumn("us", unix_micros(col("ts")))
      .join(broadcast(iv),
        col("us") >= col("b_us") && col("us") < col("e_us"))
      .groupBy("promo_id")
      .agg(count(lit(1)).as("cnt"),
        Num.dollars(sum(Num.cents(col("value")))).as("sum_value"))
      .orderBy("promo_id")
  }

  private val rangeJoinSql =
    """WITH iv AS (
      |  SELECT i AS promo_id,
      |         1704067200000000 + i * 86400000000 AS b_us,
      |         1704067200000000 + i * 86400000000 + 43200000000 AS e_us
      |  FROM (SELECT unnest(range(0, 10)) AS i))
      |SELECT promo_id, count(*) AS cnt,
      |       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
      |FROM events JOIN iv
      |  ON epoch_ns(ts) // 1000 >= b_us AND epoch_ns(ts) // 1000 < e_us
      |GROUP BY promo_id ORDER BY promo_id""".stripMargin

  /** Count-min sketch of user-id frequencies, built as ONE hash aggregate:
    * 4 depths × 256 buckets via deterministic md5-derived hashes — the
    * streaming-friendly heavy-hitter sketch, constructed distributed and
    * (because the hash family is md5) byte-identical in the oracle. Output
    * is the sketch's point estimates (min over depths) for three probe
    * users next to their exact counts, so over-estimation bias is visible
    * and bounded.
    */
  private val countMinQ: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val cells = ev.select(col("user_id"),
        explode(expr(
          """transform(sequence(0, 3), dd -> named_struct(
            |  'depth', dd,
            |  'bucket', pmod(cast(conv(substring(md5(concat(cast(dd as string), ':', cast(user_id as string))), 1, 8), 16, 10) as bigint), 256L)))"""
            .stripMargin)).as("c"))
      .groupBy(col("c.depth").as("depth"), col("c.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val probes = ev.filter(col("user_id") < 3)
      .groupBy("user_id").agg(count(lit(1)).as("exact_cnt"))
      .withColumn("depth", explode(sequence(lit(0), lit(3))))
      .withColumn("bucket",
        pmod(Hashing.md5Long(concat(col("depth"), lit(":"), col("user_id"))), lit(256L)))
    probes.join(cells, Seq("depth", "bucket"))
      .groupBy("user_id", "exact_cnt")
      .agg(min("cnt").as("cm_estimate"))
      .orderBy("user_id")
  }

  private val countMinSql =
    """WITH cells AS (
      |  SELECT dd AS depth,
      |         ('0x' || substr(md5(dd || ':' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 256 AS bucket,
      |         count(*) AS cnt
      |  FROM events, (SELECT unnest(range(0, 4)) AS dd)
      |  GROUP BY depth, bucket),
      |probes AS (
      |  SELECT user_id, count(*) AS exact_cnt FROM events
      |  WHERE user_id < 3 GROUP BY user_id),
      |pb AS (
      |  SELECT user_id, exact_cnt, dd AS depth,
      |         ('0x' || substr(md5(dd || ':' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 256 AS bucket
      |  FROM probes, (SELECT unnest(range(0, 4)) AS dd))
      |SELECT pb.user_id, pb.exact_cnt, min(cells.cnt) AS cm_estimate
      |FROM pb JOIN cells ON pb.depth = cells.depth AND pb.bucket = cells.bucket
      |GROUP BY pb.user_id, pb.exact_cnt ORDER BY pb.user_id""".stripMargin

  /** Robust per-group outlier audit — median + MAD, the numeric-column
    * health check a training pipeline runs before trusting a feature:
    * unlike mean/stddev (`q_stats_agg`), the median/MAD pair doesn't let
    * the outliers it is hunting move the fence. Flag rule is the standard
    * |x − med| > 3σ-equivalent with σ ≈ 1.4826·MAD (the normal-consistency
    * constant), folded to one literal multiply so both engines compute the
    * identical double.
    *
    * Three passes by construction (median, MAD's inner median, flagging) —
    * MAD is two nested order statistics, so two sort-based aggregations is
    * the exact-arithmetic floor. Each pass is one shuffle by group; the
    * 5-row stats tables broadcast back for the map-side flag pass. At
    * extreme group cardinality the swap-in is `percentile_approx`, same
    * trade as `q_percentiles_approx`.
    */
  /** The trained fence (event_type, med, mad) — shared by the batch audit
    * below and the stream-side flagger ([[graft.stream.Quality]]), so the
    * "train the fence offline, apply it in flight" pair uses ONE
    * definition of the robust statistics.
    */
  private[graft] def madFence(ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val med = ev.groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("med"))
    ev.join(broadcast(med), "event_type")
      .groupBy("event_type")
      .agg(expr("percentile(abs(value - med), 0.5)").as("mad"))
      .join(broadcast(med), "event_type")
      .select("event_type", "med", "mad")
  }

  private val outlierMadQ: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("event_type"), col("value"))
    ev.join(broadcast(madFence(ev)), "event_type")
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        Num.round4(min("med")).as("med"),
        Num.round4(min("mad")).as("mad"),
        sum((abs(col("value") - col("med")) > lit(4.4478) * col("mad"))
          .cast("long")).as("n_outliers"))
      .withColumn("outlier_frac",
        Num.round4(col("n_outliers").cast("double") / col("n")))
      .orderBy("event_type")
  }

  private val outlierMadSql =
    """WITH med AS (
      |  SELECT event_type, quantile_cont(value, 0.5) AS med
      |  FROM events GROUP BY event_type),
      |mad AS (
      |  SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad
      |  FROM events e JOIN med m USING (event_type) GROUP BY e.event_type),
      |j AS (
      |  SELECT e.event_type, e.value, m.med, d.mad
      |  FROM events e JOIN med m USING (event_type)
      |                JOIN mad d ON e.event_type = d.event_type)
      |SELECT event_type, count(*) AS n,
      |       floor(min(med) * 10000.0 + 0.5) / 10000.0 AS med,
      |       floor(min(mad) * 10000.0 + 0.5) / 10000.0 AS mad,
      |       CAST(SUM(CASE WHEN abs(value - med) > 4.4478 * mad
      |            THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |       floor(CAST(SUM(CASE WHEN abs(value - med) > 4.4478 * mad
      |             THEN 1 ELSE 0 END) AS DOUBLE) / count(*) * 10000.0 + 0.5)
      |         / 10000.0 AS outlier_frac
      |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Two-sample Kolmogorov–Smirnov drift statistic between the `value`
    * distributions of two event types — the continuous-shape companion to
    * `q_drift_chi2`'s categorical test (a pipeline runs both before
    * admitting a new corpus slice: chi-squared catches mix shifts, KS
    * catches feature-distribution drift the mix test can't see).
    *
    * Exact in integer arithmetic: D = max|F₁−F₂| is evaluated as
    * max|cum₁·n₂ − cum₂·n₁| over the distinct-value grid — every grid
    * point is one exact long — so the sole float op is the final division
    * (single correctly-rounded IEEE op, identical cross-engine; the PMI
    * rational precedent). Grouping by value first also removes tie-order
    * ambiguity from the cumulative window.
    *
    * Scale shape: the heavy pass is the per-value conditional-count hash
    * aggregate (partial+final, map-side combined); the cumulative window
    * then runs over the compressed distinct-value domain, not the events.
    * For a truly continuous 100 TB column the swap-in is the implemented
    * binned twin [[driftKsBinnedQ]] (`q_drift_ks_binned`): floor-bucket
    * the value onto the shared histogram grid before grouping, capping
    * the ECDF domain at the bin count. The pair list below drives BOTH
    * engines, so the tested hypothesis cannot diverge between them.
    */
  private val ksPairs = Seq(("click", "view"), ("purchase", "error"))

  /** The KS pipeline over ANY (event_type, value) frame — package-visible
    * so the generative spec drives the PRODUCTION path, not a replica. */
  private[graft] def ksPairOf(ev: org.apache.spark.sql.DataFrame,
      a: String, b: String): org.apache.spark.sql.DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val perValue = ev
      .filter(col("event_type").isin(a, b))
      .groupBy("value")
      .agg(
        sum(when(col("event_type") === a, 1L).otherwise(0L)).as("ca"),
        sum(when(col("event_type") === b, 1L).otherwise(0L)).as("cb"))
    val cum = W.orderBy(asc("value"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val cums = perValue.select(
      sum("ca").over(cum).as("cuma"),
      sum("cb").over(cum).as("cumb"))
    cums
      .crossJoin(broadcast(cums.agg(max("cuma").as("n1"), max("cumb").as("n2"))))
      .groupBy("n1", "n2")
      .agg(max(abs(col("cuma") * col("n2") - col("cumb") * col("n1"))).as("ks_num"))
      .select(
        lit(a).as("side_a"), lit(b).as("side_b"),
        col("n1"), col("n2"), col("ks_num"),
        Num.round4(col("ks_num").cast("double") /
          (col("n1") * col("n2")).cast("double")).as("ks_d"))
  }

  private val driftKsQ: Q = (s, d) =>
    ksPairs.map { case (a, b) =>
      ksPairOf(Tables.events(s, d).select(col("event_type"), col("value")), a, b)
    }
      .reduce(_ unionByName _)
      .orderBy("side_a")

  /** Binned-ECDF KS — the 100 TB swap-in `q_drift_ks`'s scaladoc promises:
    * the value is floor-bucketed onto the SHARED [[Aggregates.binCol]]
    * histogram grid BEFORE the per-value aggregate, so the cumulative
    * window runs over ≤ 20 bin rows however continuous (or adversarially
    * high-cardinality) the column is — the single-partition ECDF pass is
    * now constant-size by construction, not by the data's grace. From the
    * bucket column on it is the IDENTICAL [[ksPairOf]] pipeline (exact
    * integer cross-multiplication on bin counts), and the grid constants
    * drive both engines through the one shared builder.
    *
    * Error contract (pinned by SplitDriftSpec on the fixture): the binned
    * ECDFs agree with the exact ECDFs at every bin edge, so
    * D_binned ≤ D_exact — coarsening can only miss a level crossing
    * inside a bin — and the miss is bounded by a single bin's mass:
    * D_exact ≤ D_binned + max_b max(p₁(b), p₂(b)). Tighten by adding
    * bins; the exact statistic is the width→0 limit.
    */
  private val driftKsBinnedQ: Q = (s, d) =>
    ksPairs.map { case (a, b) =>
      ksPairOf(Tables.events(s, d).select(col("event_type"),
        Aggregates.binCol(col("value")).as("value")), a, b)
    }
      .reduce(_ unionByName _)
      .orderBy("side_a")

  private def ksPairSql(a: String, b: String, rel: String = "events"): String =
    s"""SELECT '$a' AS side_a, '$b' AS side_b, n1, n2,
       |       CAST(max(abs(cuma*n2 - cumb*n1)) AS BIGINT) AS ks_num,
       |       floor(CAST(max(abs(cuma*n2 - cumb*n1)) AS DOUBLE)
       |             / CAST(n1*n2 AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS ks_d
       |FROM (
       |  -- CAST: DuckDB window SUM(BIGINT) yields HUGEINT → float64 in the
       |  -- pandas compare while Spark writes int64 (the r03/r04 dtype trap).
       |  SELECT CAST(SUM(ca) OVER (ORDER BY value
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cuma,
       |         CAST(SUM(cb) OVER (ORDER BY value
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumb
       |  FROM (SELECT value,
       |               CAST(SUM(CASE WHEN event_type = '$a' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
       |               CAST(SUM(CASE WHEN event_type = '$b' THEN 1 ELSE 0 END) AS BIGINT) AS cb
       |        FROM $rel WHERE event_type IN ('$a', '$b') GROUP BY value)),
       |     (SELECT CAST(count(*) AS BIGINT) AS n1 FROM events WHERE event_type = '$a'),
       |     (SELECT CAST(count(*) AS BIGINT) AS n2 FROM events WHERE event_type = '$b')
       |GROUP BY n1, n2""".stripMargin

  private val driftKsSql =
    ksPairs.map { case (a, b) => ksPairSql(a, b) }
      .mkString("", "\nUNION ALL\n", "\nORDER BY side_a")

  // n1/n2 stay raw-event totals — binning reshapes the domain, not the mass.
  private val driftKsBinnedSql =
    ksPairs.map { case (a, b) =>
      ksPairSql(a, b, rel = s"(SELECT event_type, ${Aggregates.binSql("value")}" +
        " AS value FROM events)")
    }
      .mkString("", "\nUNION ALL\n", "\nORDER BY side_a")

  /** Windowed categorical drift — the MONITOR form of ◆ `q_drift_chi2`:
    * the event-type mixture of each tumbling day window in the second
    * half of the observed span, scored against the first half as the
    * baseline, per (window, category): chi² contribution
    * (n_cur − e)²/e with e = n_base·tc/tb, and total-variation
    * contribution |n_cur/tc − n_base/tb| — the identical rational
    * arithmetic (floor-rounded at 10⁻⁶, no ln — the libm discipline).
    * A category absent from a window still scores ((0 − e)²/e) and a
    * category new to a window scores chi² = null (e = 0) with TV still
    * defined — both engines build the same (window × category) grid so
    * the row sets cannot diverge.
    *
    * The live twin is [[graft.stream.Drift.windowedChi2]]: identical
    * per-window rows emitted as the watermark closes each window —
    * StreamSpec proves live ≡ this query on the shared fixture.
    *
    * Scale shape: baseline and per-window counts are partial+final hash
    * aggregates over the scan; the grid is |windows|·|categories| rows
    * (days × event types — never data) with the |categories| baseline
    * and the 1-row total broadcast; per-window totals collapse from the
    * grid itself.
    */
  private val driftWindowedQ: Q = (s, d) => {
    val ev = Tables.events(s, d).select(
      expr("unix_micros(ts) div 86400000000").as("day"), col("event_type"))
    val bounds = ev.agg(min("day").as("lo"), max("day").as("hi"))
    val blEnd = col("lo") +
      call_function("div", col("hi") - col("lo") + lit(1L), lit(2L)) - lit(1L)
    val tagged = ev.crossJoin(broadcast(bounds))
      .withColumn("bl_end", blEnd)
    val base = tagged.filter(col("day") <= col("bl_end"))
      .groupBy("event_type").agg(count(lit(1)).as("n_base"))
    val cur = tagged.filter(col("day") > col("bl_end"))
      .groupBy("day", "event_type").agg(count(lit(1)).as("n_cur"))
    val cats = ev.select("event_type").distinct()
    val days = cur.select("day").distinct()
    val grid = days.crossJoin(broadcast(cats))
      .join(broadcast(base), Seq("event_type"), "left")
      .join(cur, Seq("day", "event_type"), "left")
      .na.fill(0L, Seq("n_base", "n_cur"))
    val tb = base.agg(sum("n_base").as("tb"))
    val tw = grid.groupBy("day").agg(sum("n_cur").as("tc"))
    val e = col("n_base").cast("double") * col("tc") / col("tb")
    grid.join(broadcast(tw), Seq("day")).crossJoin(broadcast(tb))
      .select(col("day"), col("event_type"), col("n_base"), col("n_cur"),
        when(col("n_base") === 0, lit(null).cast("double"))
          .otherwise(floor((col("n_cur") - e) * (col("n_cur") - e) / e
            * lit(1000000.0) + lit(0.5)) / lit(1000000.0))
          .as("chi2_c"),
        (floor(abs(col("n_cur").cast("double") / col("tc")
          - col("n_base").cast("double") / col("tb")) * lit(1000000.0)
          + lit(0.5)) / lit(1000000.0)).as("tv_c"))
      .orderBy("day", "event_type")
  }

  private val driftWindowedSql =
    """WITH ev AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day, event_type FROM events),
      |b AS (SELECT min(day) AS lo, max(day) AS hi FROM ev),
      |t AS (SELECT lo + (hi - lo + 1) // 2 - 1 AS bl_end FROM b),
      |base AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_base
      |         FROM ev, t WHERE day <= bl_end GROUP BY event_type),
      |cur AS (SELECT day, event_type, CAST(count(*) AS BIGINT) AS n_cur
      |        FROM ev, t WHERE day > bl_end GROUP BY day, event_type),
      |grid AS (
      |  SELECT d.day, c.event_type,
      |         coalesce(n_base, 0) AS n_base, coalesce(n_cur, 0) AS n_cur
      |  FROM (SELECT DISTINCT day FROM cur) d
      |  CROSS JOIN (SELECT DISTINCT event_type FROM ev) c
      |  LEFT JOIN base USING (event_type)
      |  LEFT JOIN cur USING (day, event_type)),
      |tb AS (SELECT CAST(SUM(n_base) AS BIGINT) AS tb FROM base),
      |tw AS (SELECT day, CAST(SUM(n_cur) AS BIGINT) AS tc FROM grid GROUP BY day),
      |je AS (
      |  SELECT day, event_type, n_base, n_cur, tb, tc,
      |         CAST(n_base AS DOUBLE) * tc / tb AS e
      |  FROM grid JOIN tw USING (day), tb)
      |SELECT day, event_type, n_base, n_cur,
      |       CASE WHEN n_base = 0 THEN NULL
      |            ELSE floor((n_cur - e) * (n_cur - e) / e * 1000000.0 + 0.5)
      |                 / 1000000.0 END AS chi2_c,
      |       floor(abs(CAST(n_cur AS DOUBLE) / tc - CAST(n_base AS DOUBLE) / tb)
      |             * 1000000.0 + 0.5) / 1000000.0 AS tv_c
      |FROM je ORDER BY day, event_type""".stripMargin

  /** Cohort retention — the engagement-decay matrix: customers grouped by
    * first-activity year (their cohort), counted in each later activity
    * year, with retention as the fraction of the cohort's size at offset
    * zero. The canonical "is the corpus/product keeping its contributors"
    * analysis; over a training corpus the same query tracks source/domain
    * survival across snapshot epochs.
    *
    * Scale shape: raw orders collapse to DISTINCT (customer, year)
    * map-side first (partial hash aggregate — the only pass that sees
    * the fact table); the cohort year is a per-customer window `min`, so
    * no self-join; the final matrix aggregate and the retention window
    * run over |customers×years| and |cohorts×offsets| rows respectively.
    * The retention division is one IEEE op, floor-rounded explicitly.
    */
  private val cohortQ: Q = (s, d) => {
    val W = org.apache.spark.sql.expressions.Window
    val act = Tables.orders(s, d)
      .select(col("o_custkey"), year(col("o_orderdate")).as("y"))
      .distinct()
    val cohSize = W.partitionBy("cy").orderBy(asc("yoff"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    act
      .withColumn("cy", min("y").over(W.partitionBy("o_custkey")))
      .groupBy(col("cy"), (col("y") - col("cy")).as("yoff"))
      .agg(count(lit(1)).as("n_cust"))
      .withColumn("retention",
        Num.round4(col("n_cust").cast("double") /
          first(col("n_cust")).over(cohSize)))
      .orderBy("cy", "yoff")
  }

  private val cohortSql =
    """WITH act AS (
      |  SELECT DISTINCT o_custkey, CAST(EXTRACT(year FROM o_orderdate) AS INT) AS y
      |  FROM orders),
      |c AS (SELECT o_custkey, y, min(y) OVER (PARTITION BY o_custkey) AS cy FROM act),
      |m AS (SELECT cy, y - cy AS yoff, CAST(count(*) AS BIGINT) AS n_cust
      |      FROM c GROUP BY cy, y - cy)
      |SELECT cy, yoff, n_cust,
      |       floor(CAST(n_cust AS DOUBLE)
      |             / first_value(n_cust) OVER (PARTITION BY cy ORDER BY yoff
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |             * 10000.0 + 0.5) / 10000.0 AS retention
      |FROM m ORDER BY cy, yoff""".stripMargin

  /** Pareto / concentration deciles — customers ranked by revenue, cut
    * into ntile(10) deciles, each reporting its head-count, exact-cent
    * revenue mass, and the cumulative share of total revenue: the
    * "how much of the mass comes from the top X%" audit. Over a corpus
    * the identical query on (source, char mass) is the concentration
    * check a curation policy reads before capping dominant sources.
    *
    * Scale shape: the fact collapses to one row per customer
    * (partial+final hash aggregate); the exact global rank (revenue DESC,
    * custkey ASC) is the running count of one [[graft.ops.Prefix]] pass,
    * whose bounds job also sums n and the total mass, and
    * [[graft.ops.Rank.ntileFromRank]] cuts it into deciles by ntile's own
    * fill rule — row-identical to the oracle's global `ntile(10)` with no
    * single-partition window near the |keys|-sized input. All mass
    * arithmetic is exact integer cents; the only division is the final
    * share, floor-rounded in both engines.
    */
  private val paretoQ: Q = (s, d) => {
    val W = org.apache.spark.sql.expressions.Window
    val rev = Tables.orders(s, d)
      .groupBy("o_custkey")
      .agg(sum(Num.cents(col("o_totalprice"))).as("rev_cents"))
    val cum = W.orderBy(asc("decile"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    Prefix.withCumSums(rev, "rev_cents", Seq("o_custkey"),
        Seq("rnk" -> lit(1L)), descending = true,
        totals = Seq("n" -> lit(1L), "tot_cents" -> col("rev_cents")))
      .withColumn("decile", Rank.ntileFromRank(col("rnk"), col("n"), 10))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_cust"), sum("rev_cents").as("dec_cents"),
        max("tot_cents").as("tot_cents"))
      .select(col("decile"), col("n_cust"),
        Num.dollars(col("dec_cents")).as("dec_rev"),
        Num.round4(sum("dec_cents").over(cum).cast("double") /
          col("tot_cents").cast("double")).as("cum_frac"))
      .orderBy("decile")
  }

  private val paretoSql =
    """WITH rev AS (
      |  SELECT o_custkey,
      |         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
      |  FROM orders GROUP BY o_custkey),
      |dec AS (
      |  SELECT rev_cents,
      |         ntile(10) OVER (ORDER BY rev_cents DESC, o_custkey) AS decile
      |  FROM rev),
      |g AS (
      |  SELECT decile, CAST(count(*) AS BIGINT) AS n_cust,
      |         CAST(SUM(rev_cents) AS BIGINT) AS dec_cents
      |  FROM dec GROUP BY decile),
      |t AS (SELECT CAST(SUM(rev_cents) AS BIGINT) AS tot_cents FROM rev)
      |SELECT decile, n_cust, CAST(dec_cents AS DOUBLE) / 100.0 AS dec_rev,
      |       floor(CAST(SUM(dec_cents) OVER (ORDER BY decile
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |             / CAST(tot_cents AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS cum_frac
      |FROM g, t ORDER BY decile""".stripMargin

  /** Exact GLOBAL order statistics by distributed selection:
    * percentiles over the whole table. `percentile(c, p)` (and the
    * ◆ `q_percentiles` per-group form) sorts each group inside one task —
    * fine when groups are bounded, fatal for ONE group of 10⁹ rows.
    * [[graft.ops.Prefix.selectAt]] never sorts the data globally: each
    * requested p maps to the type-1 lower order statistic at rank ⌈p·n⌉
    * (explicit rank math, identical in both engines), which lands in one
    * of ≤ 64 value buckets, and only those buckets rank locally.
    *
    * The oracle is the straight `row_number() OVER (ORDER BY c)` pick —
    * hash equality proves the selection is exact, not approximate. A
    * pathological bucket (all mass on one value) bounds the local pass by
    * the bucket, not n; the production refinement recurses the same
    * decomposition inside the hit bucket.
    */
  private val quantilePs = Seq(0.25, 0.5, 0.75, 0.9, 0.99)

  /** The type-1 rank ⌈p·n⌉ of each target row's `p` among `n` rows. */
  private val rankOfP: Column => Column = n => ceil(col("p") * n).cast("long")

  private val quantileGlobalQ: Q = (s, d) => {
    import s.implicits._
    val v = Tables.lineitem(s, d)
      .select(Num.cents(col("l_extendedprice")).as("c"))
    Prefix.selectAt(v, "c", quantilePs.toDF("p"), rankOfP)
      .select(col("p"), col("t").as("rnk"), col("c").as("value_cents"))
      .orderBy("p")
  }

  private val quantileGlobalSql =
    s"""WITH v AS (
       |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c
       |  FROM lineitem),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
       |ranks AS (
       |  SELECT CAST(p AS DOUBLE) AS p,
       |         CAST(ceil(CAST(p AS DOUBLE) * n) AS BIGINT) AS rnk
       |  FROM (VALUES ${quantilePs.map(p => s"($p)").mkString(",")}) t(p), n),
       |ord AS (SELECT c, row_number() OVER (ORDER BY c) AS rn FROM v)
       |SELECT p, rnk, c AS value_cents
       |FROM ranks JOIN ord ON rn = rnk ORDER BY p""".stripMargin

  /** Exact WEIGHTED global quantiles: the weighted p-quantile is the
    * smallest value whose cumulative WEIGHT reaches ⌈p·W⌉ (here weight =
    * quantity, so "the price below which p of all shipped units sell" —
    * and over a corpus, weight = token count turns the same query into
    * "the quality score below which p of the TOKENS sit", the number a
    * mixture rebalance actually needs; row quantiles answer a different,
    * row-centric question). One [[graft.ops.Prefix.selectAt]] over the
    * weight with target ⌈p_bp·W/10⁴⌉ in exact integer arithmetic
    * ((p·W + 9999) div 10⁴). No global sort; the ◆ oracle is the
    * definitional cumulative-weight window pick.
    */
  private val weightedPsBp = Seq(2500L, 5000L, 9000L, 9900L)

  private val weightedQuantileQ: Q = (s, d) => {
    import s.implicits._
    val v = Tables.lineitem(s, d)
      .select(Num.cents(col("l_extendedprice")).as("c"),
        col("l_quantity").cast("long").as("w"))
    Prefix.selectAt(v, "c", weightedPsBp.toDF("p_bp"),
        w => call_function("div", col("p_bp") * w + lit(9999L), lit(10000L)),
        weight = Some(col("w")))
      .select(col("p_bp"), col("t"), col("c").as("value_cents"))
      .orderBy("p_bp")
  }

  private val weightedQuantileSql =
    s"""WITH v AS (
       |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
       |         CAST(l_quantity AS BIGINT) AS w
       |  FROM lineitem),
       |tw AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM v),
       |targets AS (
       |  SELECT CAST(pb AS BIGINT) AS p_bp,
       |         (pb * tw + 9999) // 10000 AS t
       |  FROM (VALUES ${weightedPsBp.map(p => s"($p)").mkString(",")}) x(pb),
       |       tw),
       |vw AS (SELECT c, CAST(SUM(w) AS BIGINT) AS w FROM v GROUP BY c),
       |cw AS (SELECT c, CAST(SUM(w) OVER (ORDER BY c) AS BIGINT) AS cum
       |       FROM vw)
       |SELECT p_bp, t, CAST(MIN(c) AS BIGINT) AS value_cents
       |FROM cw, targets WHERE cum >= t
       |GROUP BY p_bp, t ORDER BY p_bp""".stripMargin

  /** Winsorized + trimmed means — ROBUST central tendency the plain mean
    * lacks (one fat-fingered 10⁹-cent order moves `avg()`; it moves a
    * 5%-winsorized mean by at most the clamp), computed exactly: the
    * p05/p95 cutoffs come from [[graft.ops.Prefix.selectAt]] (no global
    * sort), broadcast as a 1-row frame onto a second
    * scan whose single hash aggregate derives both estimators —
    * winsorized (outliers CLAMPED to the cutoffs) and trimmed (outliers
    * DROPPED) — as exact integer cent sums with floor-div means. The ◆
    * oracle recomputes the same ⌈p·n⌉ cutoffs from the definitional
    * `row_number` pick. Robust-mean reporting is the partner of the MAD
    * outlier audit (◆ `q_outlier_mad` flags rows; this reports metrics
    * that stay sane without flagging anything).
    */
  private val winsorizeQ: Q = (s, d) => {
    import s.implicits._
    val v = Tables.lineitem(s, d)
      .select(Num.cents(col("l_extendedprice")).as("c"))
    val cuts = Prefix.selectAt(v, "c", Seq(0.05, 0.95).toDF("p"), rankOfP)
      .agg(min(when(col("p") === 0.05, col("c"))).as("lo_cut"),
        min(when(col("p") === 0.95, col("c"))).as("hi_cut"))
    val inRange = col("c") >= col("lo_cut") && col("c") <= col("hi_cut")
    v.crossJoin(broadcast(cuts))
      .groupBy("lo_cut", "hi_cut")
      .agg(count(lit(1)).as("n"),
        sum(least(greatest(col("c"), col("lo_cut")), col("hi_cut")))
          .as("win_sum_cents"),
        sum(inRange.cast("long")).as("trim_n"),
        sum(when(inRange, col("c")).otherwise(lit(0L)))
          .as("trim_sum_cents"))
      .select(col("lo_cut"), col("hi_cut"), col("n"), col("win_sum_cents"),
        call_function("div", col("win_sum_cents"), col("n"))
          .as("win_mean_cents"),
        col("trim_n"), col("trim_sum_cents"),
        call_function("div", col("trim_sum_cents"), col("trim_n"))
          .as("trim_mean_cents"))
  }

  private val winsorizeSql =
    """WITH v AS (
      |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c
      |  FROM lineitem),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
      |ord AS (SELECT c, row_number() OVER (ORDER BY c) AS rn FROM v),
      |cuts AS (
      |  SELECT
      |    (SELECT c FROM ord, n WHERE rn = CAST(ceil(0.05 * n) AS BIGINT))
      |      AS lo_cut,
      |    (SELECT c FROM ord, n WHERE rn = CAST(ceil(0.95 * n) AS BIGINT))
      |      AS hi_cut)
      |SELECT lo_cut, hi_cut, n,
      |       CAST(SUM(LEAST(GREATEST(c, lo_cut), hi_cut)) AS BIGINT)
      |         AS win_sum_cents,
      |       CAST(SUM(LEAST(GREATEST(c, lo_cut), hi_cut)) AS BIGINT) // n
      |         AS win_mean_cents,
      |       CAST(SUM(CASE WHEN c BETWEEN lo_cut AND hi_cut THEN 1 ELSE 0 END)
      |            AS BIGINT) AS trim_n,
      |       CAST(SUM(CASE WHEN c BETWEEN lo_cut AND hi_cut THEN c ELSE 0 END)
      |            AS BIGINT) AS trim_sum_cents,
      |       CAST(SUM(CASE WHEN c BETWEEN lo_cut AND hi_cut THEN c ELSE 0 END)
      |            AS BIGINT) //
      |       CAST(SUM(CASE WHEN c BETWEEN lo_cut AND hi_cut THEN 1 ELSE 0 END)
      |            AS BIGINT) AS trim_mean_cents
      |FROM v, cuts, n GROUP BY lo_cut, hi_cut, n""".stripMargin

  /** Estimator-stability audit by DETERMINISTIC half-sampling — the
    * engine's libm-free stand-in for a bootstrap CI: 16 seeded
    * half-samples (row ∈ sample b iff md5(key#b) is even — the
    * [[graft.ops.Hashing]] oracle-reproducible uniform), each sample's
    * mean order value in exact cents, and the lo / lower-median / hi of
    * the 16 means next to the full mean. A wide spread says the mean is
    * resampling-unstable (heavy tail, small n) BEFORE anyone ships it —
    * the uncertainty signal a proper bootstrap gives, with none of its
    * RNG or float-quantile machinery (half-sampling is the B = 2 case
    * of the n-out-of-n-without-replacement subsampling estimator).
    * ALL 16 samples aggregate in ONE conditional pass over one scan
    * (32 CASE sums — no 16× row explosion); the order statistics of the
    * 16 means are an `array_sort` over one 16-element array in the
    * single result row. Everything integer; the ◆ oracle replicates the
    * md5 parity and sorts the same list.
    */
  private val subsampleB = 16

  private val subsampleStabilityQ: Q = (s, d) => {
    val keyed = Tables.orders(s, d).select(
      col("o_orderkey").cast("string").as("k"),
      Num.cents(col("o_totalprice")).as("cents"))
    def in(b: Int) =
      pmod(graft.ops.Hashing.md5Long(concat(col("k"), lit(s"#$b"))),
        lit(2L)) === 0L
    val aggs = (0 until subsampleB).flatMap { b =>
      Seq(sum(when(in(b), lit(1L)).otherwise(lit(0L))).as(s"n$b"),
        sum(when(in(b), col("cents")).otherwise(lit(0L))).as(s"s$b"))
    } ++ Seq(count(lit(1)).as("n"), sum("cents").as("s"))
    val g = keyed.agg(aggs.head, aggs.tail: _*)
    val means = array((0 until subsampleB).map(b =>
      call_function("div", col(s"s$b"), col(s"n$b"))): _*)
    g.select(col("n"),
        call_function("div", col("s"), col("n")).as("full_mean_cents"),
        array_sort(means).as("ms"))
      .select(col("n"), col("full_mean_cents"),
        element_at(col("ms"), 1).as("sub_mean_lo"),
        element_at(col("ms"), subsampleB / 2).as("sub_mean_med"),
        element_at(col("ms"), subsampleB).as("sub_mean_hi"),
        (element_at(col("ms"), subsampleB) - element_at(col("ms"), 1))
          .as("sub_spread"))
  }

  private val subsampleStabilitySql = {
    val cases = (0 until subsampleB).map { b =>
      s"""CAST(SUM(CASE WHEN ('0x' || substr(md5(k || '#$b'), 1, 8))::BIGINT
         |              % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n$b,
         |  CAST(SUM(CASE WHEN ('0x' || substr(md5(k || '#$b'), 1, 8))::BIGINT
         |              % 2 = 0 THEN cents ELSE 0 END) AS BIGINT) AS s$b"""
        .stripMargin
    }.mkString(",\n  ")
    val meanList = (0 until subsampleB).map(b => s"s$b // n$b").mkString(", ")
    s"""WITH v AS (
       |  SELECT CAST(o_orderkey AS VARCHAR) AS k,
       |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
       |  FROM orders),
       |g AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |         CAST(SUM(cents) AS BIGINT) AS s,
       |  $cases
       |  FROM v),
       |m AS (SELECT n, s // n AS full_mean_cents,
       |             list_sort([$meanList]) AS ms
       |      FROM g)
       |SELECT n, full_mean_cents,
       |       CAST(ms[1] AS BIGINT) AS sub_mean_lo,
       |       CAST(ms[${subsampleB / 2}] AS BIGINT) AS sub_mean_med,
       |       CAST(ms[$subsampleB] AS BIGINT) AS sub_mean_hi,
       |       CAST(ms[$subsampleB] - ms[1] AS BIGINT) AS sub_spread
       |FROM m""".stripMargin
  }

  /** Per-GROUP exact order statistics by the same selection, fully
    * partitioned — what replaces ◆ `q_percentiles`' per-group
    * `percentile()` sort when a single group is itself data-sized (one
    * language = 40% of a 100 TB corpus): [[graft.ops.Prefix.selectAt]]
    * with the group as `groups`, so the offsets are kept per group over
    * ≤ 64 rows each and only hit (group, bucket) cells rank locally.
    * Nothing anywhere depends on the largest group's size.
    */
  private val quantileGroupQ: Q = (s, d) => {
    import s.implicits._
    val v = Tables.events(s, d).select(col("event_type").as("g"),
      Num.cents(col("value")).as("c"))
    Prefix.selectAt(v, "c", quantilePs.toDF("p"), rankOfP, groups = Seq("g"))
      .select(col("g").as("event_type"), col("p"), col("t").as("rnk"),
        col("c").as("value_cents"))
      .orderBy("event_type", "p")
  }

  private val quantileGroupSql =
    s"""WITH v AS (
       |  SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS c
       |  FROM events),
       |n AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY g),
       |ranks AS (
       |  SELECT g, CAST(p AS DOUBLE) AS p,
       |         CAST(ceil(CAST(p AS DOUBLE) * n) AS BIGINT) AS rnk
       |  FROM (VALUES ${quantilePs.map(p => s"($p)").mkString(",")}) t(p), n),
       |ord AS (SELECT g, c,
       |          row_number() OVER (PARTITION BY g ORDER BY c) AS rn
       |        FROM v)
       |SELECT ranks.g AS event_type, p, rnk, c AS value_cents
       |FROM ranks JOIN ord ON ord.g = ranks.g AND rn = rnk
       |ORDER BY event_type, p""".stripMargin

  /** Equi-depth (quantile) feature binning — the numeric companion of
    * `ml_target_encode`'s categorical encoding: order value cut into 10
    * equal-count bins with per-bin (count, value bounds, target count,
    * target rate in integer basis points), the monotone-risk prep every
    * scorecard / calibration pipeline runs before fitting. Equal-COUNT
    * bins (not `q_histogram`'s equal-width) need each row's exact global
    * rank: the running count of one [[graft.ops.Prefix]] pass (n comes
    * from its bounds job), cut by
    * [[graft.ops.Rank.ntileFromRank]]'s integer fill rule — so the
    * ◆ oracle's literal `ntile(10)` matches bit-for-bit with no global
    * sort anywhere in the plan.
    */
  private val featureBinsQ: Q = (s, d) => {
    val o = Tables.orders(s, d).select(col("o_orderkey").as("k"),
      Num.cents(col("o_totalprice")).as("cents"),
      (col("o_orderstatus") === "F").cast("long").as("is_f"))
    Prefix.withCumSums(o, "cents", Seq("k"), Seq("rnk" -> lit(1L)),
        totals = Seq("n_all" -> lit(1L)))
      .withColumn("bin", Rank.ntileFromRank(col("rnk"), col("n_all"), 10))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), min("cents").as("lo_cents"),
        max("cents").as("hi_cents"), sum("is_f").as("n_f"))
      .withColumn("rate_bp",
        call_function("div", lit(10000L) * col("n_f"), col("n")))
      .orderBy("bin")
  }

  private val featureBinsSql =
    """WITH o AS (
      |  SELECT o_orderkey AS k,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |         CAST(o_orderstatus = 'F' AS BIGINT) AS is_f
      |  FROM orders),
      |dec AS (
      |  SELECT cents, is_f, ntile(10) OVER (ORDER BY cents, k) AS bin FROM o)
      |SELECT bin, CAST(count(*) AS BIGINT) AS n,
      |       MIN(cents) AS lo_cents, MAX(cents) AS hi_cents,
      |       CAST(SUM(is_f) AS BIGINT) AS n_f,
      |       (10000 * CAST(SUM(is_f) AS BIGINT)) // CAST(count(*) AS BIGINT)
      |         AS rate_bp
      |FROM dec GROUP BY bin ORDER BY bin""".stripMargin

  /** Skyline (Pareto-dominance) query — the parts no other part beats on
    * BOTH demand and price: b dominates a iff qty_b ≥ qty_a ∧ price_b ≤
    * price_a with at least one strict. The ◆ oracle is the definitional
    * O(n²) `NOT EXISTS` dominance scan; the engine computes the same set
    * in O(n log n) via the 2-D sweep — a part is dominated exactly when
    * `min(price) over strictly-higher qty ≤ price` or `min(price) within
    * its own qty < price` — with the strictly-before running min supplied
    * by [[graft.ops.Prefix.withCumMin]]'s exclusive mode over the
    * per-qty collapsed table (min is idempotent, so the bucket
    * decomposition is exact; the ≤64 bucket offsets fold on the driver).
    * Same claim shape as
    * `q_simjoin_prefix`/`q_table_diff`: oracle definitional, engine
    * shortcut, hash equality proves the shortcut lossless.
    *
    * Scale shape: the fact collapses to per-part aggregates, those to
    * per-qty rows; the sweep never sorts globally (bucket-partitioned
    * local passes), and the verdict join is per-qty equi-keyed. Skyline
    * membership at 100 TB costs two hash aggregates + the prefix-min
    * machinery over \|distinct qty\| rows.
    */
  private val skylineQ: Q = (s, d) => {
    val parts = Tables.lineitem(s, d)
      .groupBy(col("l_partkey").as("part_id"))
      .agg(sum(col("l_quantity").cast("long")).as("qty"),
        min(Num.cents(col("l_extendedprice"))).as("price_cents"))
    val perQ = parts.groupBy("qty").agg(min("price_cents").as("minp"))
      .withColumn("negq", -col("qty"))
    val strict = Prefix.withCumMin(
      perQ, "negq", Nil, "minp", "hi_min", inclusive = false)
    parts.join(strict.select("qty", "minp", "hi_min"), "qty")
      .filter(!(coalesce(col("hi_min") <= col("price_cents"), lit(false)) ||
        col("minp") < col("price_cents")))
      .select("part_id", "qty", "price_cents")
      .orderBy("part_id")
  }

  private val skylineSql =
    """WITH s AS (
      |  SELECT l_partkey AS part_id,
      |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
      |         MIN(CAST(round(l_extendedprice * 100) AS BIGINT)) AS price_cents
      |  FROM lineitem GROUP BY 1)
      |SELECT part_id, qty, price_cents FROM s a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM s b
      |  WHERE b.qty >= a.qty AND b.price_cents <= a.price_cents
      |    AND (b.qty > a.qty OR b.price_cents < a.price_cents))
      |ORDER BY part_id""".stripMargin

  /** RFM segmentation — recency / frequency / monetary quintiles per
    * customer, each an exact global rank fed through
    * [[graft.ops.Rank.ntileFromRank]]'s integer fill rule, so the
    * ◆ oracle's three literal `ntile(5)` windows match bit-for-bit.
    * Quintile 1 = best (most recent / most frequent / highest spend);
    * the segment rule is the standard champion / at-risk / new split.
    *
    * Scale shape: orders collapse once to \|customers\| state rows, which
    * unpivot to (customer, metric, value) and rank in ONE
    * [[graft.ops.Prefix]] pass grouped by metric (descending value,
    * ascending customer; n per metric from the bounds job). The
    * 3·|customers| rows cross each exchange once; nothing anywhere
    * depends on a global sort.
    */
  private val rfmQ: Q = (s, d) => {
    val cust = Tables.orders(s, d).groupBy(col("o_custkey"))
      .agg(max(expr("unix_micros(o_orderdate) div 86400000000"))
        .as("recency_day"),
        count(lit(1)).as("frequency"),
        sum(Num.cents(col("o_totalprice"))).as("monetary_cents"))
    val m = cust.select(col("o_custkey"), explode(array(
        struct(lit(0).as("mid"), col("recency_day").as("v")),
        struct(lit(1).as("mid"), col("frequency").as("v")),
        struct(lit(2).as("mid"), col("monetary_cents").as("v")))).as("x"))
      .select(col("o_custkey"), col("x.mid").as("mid"), col("x.v").as("v"))
    val q = Prefix.withCumSums(m, "v", Seq("o_custkey"),
        Seq("rank" -> lit(1L)), totals = Seq("n_total" -> lit(1L)),
        descending = true, groups = Seq("mid"))
      .select(col("o_custkey"), col("mid"),
        Rank.ntileFromRank(col("rank"), col("n_total"), 5).as("q"))
    q.groupBy("o_custkey")
      .agg(max(when(col("mid") === 0, col("q"))).as("r_q"),
        max(when(col("mid") === 1, col("q"))).as("f_q"),
        max(when(col("mid") === 2, col("q"))).as("m_q"))
      .withColumn("rfm",
        col("r_q") * 100 + col("f_q") * 10 + col("m_q"))
      .withColumn("segment",
        when(col("r_q") <= 2 && col("f_q") <= 2 && col("m_q") <= 2,
          lit("champion"))
          .when(col("r_q") >= 4 && col("f_q") <= 2, lit("at_risk"))
          .when(col("f_q") >= 4 && col("r_q") <= 2, lit("new"))
          .otherwise(lit("regular")))
      .orderBy("o_custkey")
  }

  private val rfmSql =
    """WITH c AS (
      |  SELECT o_custkey,
      |         MAX(epoch_us(o_orderdate) // 86400000000) AS recency_day,
      |         CAST(count(*) AS BIGINT) AS frequency,
      |         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |           AS monetary_cents
      |  FROM orders GROUP BY 1),
      |q AS (
      |  SELECT o_custkey,
      |         ntile(5) OVER (ORDER BY recency_day DESC, o_custkey) AS r_q,
      |         ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_q,
      |         ntile(5) OVER (ORDER BY monetary_cents DESC, o_custkey) AS m_q
      |  FROM c)
      |SELECT o_custkey, r_q, f_q, m_q,
      |       r_q * 100 + f_q * 10 + m_q AS rfm,
      |       CASE WHEN r_q <= 2 AND f_q <= 2 AND m_q <= 2 THEN 'champion'
      |            WHEN r_q >= 4 AND f_q <= 2 THEN 'at_risk'
      |            WHEN f_q >= 4 AND r_q <= 2 THEN 'new'
      |            ELSE 'regular' END AS segment
      |FROM q ORDER BY o_custkey""".stripMargin

  /** Gini coefficient of customer revenue — the inequality number a
    * marketplace health dashboard tracks (and the `q_pareto` 80/20 story
    * condensed to one figure), in the exact rank form
    *   G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx),   x ascending, i = 1..n
    * kept as an integer RATIONAL (numerator, denominator, and basis
    * points by integer division — the PMI/kappa discipline), so the
    * ◆ oracle's window-ranked form matches bit-for-bit. The rank comes
    * from [[graft.ops.Rank.withGlobalRank]] — no global sort; the
    * weighted sum is one hash aggregate over \|customers\| state rows.
    */
  private val giniQ: Q = (s, d) => {
    // r10 scale fix (caught by the sf0.1 oracle sweep, not the sf0.01
    // gate): 10000·gini_num reaches ~1.2e20 at sf0.1 — the num/den
    // algebra widens to decimal(38,0) ↔ HUGEINT on the single aggregate
    // row (the q_ols_fit rule) and the exact values ship as DECIMAL
    // STRINGS; gini_bp ∈ [0, 10000] folds back to int64.
    val dec = "decimal(38,0)"
    val rev = Tables.orders(s, d).groupBy(col("o_custkey"))
      .agg(sum(Num.cents(col("o_totalprice"))).as("cents"))
    val ranked = Rank.withGlobalRank(
      rev, "cents", Seq("o_custkey"), "i")
    ranked.agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
        sum(col("i") * col("cents")).as("wsum"))
      .withColumn("gini_num",
        lit(2L).cast(dec) * col("wsum").cast(dec) -
          (col("n") + 1).cast(dec) * col("sum_cents").cast(dec))
      .withColumn("gini_den", col("n").cast(dec) * col("sum_cents").cast(dec))
      .withColumn("gini_bp",
        floor(lit(10000L).cast(dec) * col("gini_num") / col("gini_den"))
          .cast("long"))
      .select(col("n"), col("sum_cents"),
        col("gini_num").cast("string").as("gini_num"),
        col("gini_den").cast("string").as("gini_den"), col("gini_bp"))
  }

  private val giniSql =
    """WITH rev AS (
      |  SELECT o_custkey,
      |         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |           AS cents
      |  FROM orders GROUP BY 1),
      |r AS (SELECT cents,
      |             CAST(row_number() OVER (ORDER BY cents, o_custkey) AS BIGINT)
      |               AS i
      |      FROM rev),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |             CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |             CAST(SUM(i * cents) AS BIGINT) AS wsum
      |      FROM r),
      |w AS (SELECT n, sum_cents,
      |             2 * CAST(wsum AS HUGEINT)
      |               - CAST(n + 1 AS HUGEINT) * sum_cents AS gini_num,
      |             CAST(n AS HUGEINT) * sum_cents AS gini_den
      |      FROM a)
      |SELECT n, sum_cents,
      |       CAST(gini_num AS VARCHAR) AS gini_num,
      |       CAST(gini_den AS VARCHAR) AS gini_den,
      |       CAST((10000 * gini_num) // gini_den AS BIGINT) AS gini_bp
      |FROM w""".stripMargin

  /** Benford first-digit audit — the fraud/synthetic-data screen: the
    * leading digit of every order amount (in cents), counted against the
    * 30.1%/17.6%/… expectation a naturally-spread magnitude distribution
    * follows. Digit extraction is string-based (`substr` of the decimal
    * rendering — identical on both engines, no float log10), shares in
    * integer basis points; the judgment against Benford's law is left to
    * the reader of the 9-row report (the expectation involves log10 —
    * the libm trap — so the engine reports measured shares, not a
    * p-value). One map-side digit projection + one 9-group aggregate.
    */
  private val benfordQ: Q = (s, d) =>
    Tables.orders(s, d)
      .select(substring(Num.cents(col("o_totalprice")).cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(Tables.orders(s, d).agg(
        count(lit(1)).as("total"))))
      .withColumn("share_bp",
        call_function("div", lit(10000L) * col("n"), col("total")))
      .select("digit", "n", "total", "share_bp")
      .orderBy("digit")

  private val benfordSql =
    """WITH d AS (
      |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
      |                          AS VARCHAR), 1, 1) AS INT) AS digit
      |  FROM orders),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM d)
      |SELECT digit, CAST(count(*) AS BIGINT) AS n, total,
      |       (10000 * CAST(count(*) AS BIGINT)) // total AS share_bp
      |FROM d, t GROUP BY digit, total ORDER BY digit""".stripMargin

  /** CUSUM changepoint localization — WHERE the level shift happened,
    * completing the drift family (`q_drift_chi2`/`q_drift_ks` decide IF
    * two snapshots differ; `q_drift_windowed` watches WHEN; this finds
    * the day). Over the daily revenue series x₁..xₙ the centered
    * cumulative sum at day k is n·(Σᵢ≤ₖ xᵢ) − k·(Σx) — integer cents-days
    * (the exact-rational discipline: no mean division, the n·/k· cross
    * multiplication keeps everything in ℤ) — and its extremum is the
    * classic CUSUM changepoint estimate. The day index k and the prefix
    * Σᵢ≤ₖ xᵢ are two running sums over the same day order (of 1 and of
    * x), so one [[graft.ops.Prefix.withCumSums]] pass yields both, and
    * its bounds job also sums n and Σx. The extremum is
    * `ORDER BY |cusum| DESC, day LIMIT 1`, which Spark runs as a
    * per-partition top-1 (TakeOrderedAndProject), not a global sort.
    * \|days\| state rows end to end; building the DataFrame runs no job.
    */
  private val changepointQ: Q = (s, d) => {
    val daily = Tables.orders(s, d)
      .groupBy(expr("unix_micros(o_orderdate) div 86400000000").as("day"))
      .agg(sum(Num.cents(col("o_totalprice"))).as("x"))
    Prefix.withCumSums(daily, "day", Nil,
        Seq("k" -> lit(1L), "cx" -> col("x")),
        totals = Seq("n" -> lit(1L), "sx" -> col("x")))
      .withColumn("cusum", col("n") * col("cx") - col("k") * col("sx"))
      .orderBy(abs(col("cusum")).desc, asc("day"))
      .limit(1)
      .select(col("day").as("cp_day"), col("cusum"), col("n").as("n_days"),
        col("sx").as("total_cents"))
  }

  private val changepointSql =
    """WITH daily AS (
      |  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
      |         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |           AS x
      |  FROM orders GROUP BY 1),
      |r AS (SELECT day, x,
      |             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k,
      |             CAST(SUM(x) OVER (ORDER BY day) AS BIGINT) AS cx
      |      FROM daily),
      |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |             CAST(SUM(x) AS BIGINT) AS sx FROM daily),
      |c AS (SELECT day, n * cx - k * sx AS cusum, n, sx FROM r, t)
      |SELECT day AS cp_day, cusum, n AS n_days, sx AS total_cents
      |FROM c ORDER BY abs(cusum) DESC, day LIMIT 1""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q_skyline", skylineQ, Some(skylineSql)),
    Entry("q_changepoint", changepointQ, Some(changepointSql)),
    Entry("q_gini", giniQ, Some(giniSql)),
    Entry("q_benford", benfordQ, Some(benfordSql)),
    Entry("q_rfm_segments", rfmQ, Some(rfmSql)),
    Entry("q_feature_bins", featureBinsQ, Some(featureBinsSql)),
    Entry("q_quantile_group", quantileGroupQ, Some(quantileGroupSql)),
    Entry("q_quantile_global", quantileGlobalQ, Some(quantileGlobalSql)),
    Entry("q_weighted_quantile", weightedQuantileQ, Some(weightedQuantileSql)),
    Entry("q_winsorize", winsorizeQ, Some(winsorizeSql)),
    Entry("q_subsample_stability", subsampleStabilityQ,
      Some(subsampleStabilitySql)),
    Entry("q_pareto", paretoQ, Some(paretoSql)),
    Entry("q_cohort_retention", cohortQ, Some(cohortSql)),
    Entry("q_drift_ks", driftKsQ, Some(driftKsSql)),
    Entry("q_drift_ks_binned", driftKsBinnedQ, Some(driftKsBinnedSql)),
    Entry("q_drift_windowed", driftWindowedQ, Some(driftWindowedSql)),
    Entry("q_outlier_mad", outlierMadQ, Some(outlierMadSql)),
    Entry("q_asof_join", asofJoinQ, Some(asofJoinSql)),
    Entry("q_profile", profileQ, Some(profileSql)),
    Entry("q_range_join", rangeJoinQ, Some(rangeJoinSql)),
    Entry("q_countmin", countMinQ, Some(countMinSql)),
    Entry("q_rollup", rollupQ, Some(rollupSql)),
    Entry("q_pivot_status", pivotQ, Some(pivotSql)),
    Entry("q_percentiles", percentilesQ, Some(percentilesSql)),
    Entry("q_percentiles_approx", percentilesApproxQ, None),
    Entry("q_stats_agg", statsAggQ, Some(statsAggSql)),
    Entry("q_json_extract", jsonExtractQ, Some(jsonExtractSql)),
    Entry("q_variant_extract", variantExtractQ, Some(variantExtractSql)),
    Entry("q_unpivot_roundtrip", unpivotRoundtripQ, Some(unpivotRoundtripSql)),
    Entry("q_rank_funcs", rankFuncsQ, Some(rankFuncsSql)),
    Entry("q_set_ops", setOpsQ, Some(setOpsSql)),
  )
}
