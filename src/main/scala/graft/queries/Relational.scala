package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}
import graft.ops.{Clean, Num}
import graft.tables.Tables
import Registry.{Entry, Q}

/** Relational core: scans, projections, cleaning, joins, set ops.
  *
  * Covers SURVEY.md §2.2 (P1-P9), §2.3 (J1-J7, A8-as-anti-join) and the
  * explode/list-parse scalar surface. Every query is a pure
  * `(SparkSession, sfDir) => DataFrame`, ends in a total ORDER BY
  * (tiebreakers included), and carries an exact DuckDB oracle twin.
  *
  * Scale notes: dimension joins (`nation`, keyword dims) are explicit
  * `broadcast()`; the containment match is a broadcast-nested-loop against a
  * deliberately tiny build side (the same constraint the reference's
  * substring emotion match has, src/data_processor.py:137-162); fact-fact
  * joins (lineitem⋈orders) shuffle on their join key and leave Catalyst/AQE
  * free to pick sort-merge vs shuffled-hash.
  */
object Relational {

  /** P1/P8 — projection + rename, pre-join conflict avoidance
    * (reference: src/spark/training.py:173-178).
    */
  private val scanProject: Q = (s, d) =>
    Tables.part(s, d)
      .select(
        col("p_partkey").as("part_id"),
        col("p_name").as("part_name"),
        col("p_retailprice").as("price"))
      .orderBy("part_id")

  private val scanProjectSql =
    """SELECT p_partkey AS part_id, p_name AS part_name, p_retailprice AS price
      |FROM part ORDER BY part_id""".stripMargin

  /** P4/P9 — conjunctive predicate + inequality filter
    * (reference: src/spark/training.py:301-316; src/app.py:280-281).
    */
  private val filterPred: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(
        Clean.allValid(Seq(col("l_quantity"), col("l_discount"))) &&
          col("l_returnflag") =!= lit("N") && col("l_discount") > lit(0.02))
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_returnflag")
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic testdata;
      // sort every output column for a total order.
      .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_returnflag")

  private val filterPredSql =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag
      |FROM lineitem
      |WHERE l_quantity IS NOT NULL AND NOT isnan(l_quantity)
      |  AND l_discount IS NOT NULL AND NOT isnan(l_discount)
      |  AND l_returnflag <> 'N' AND l_discount > 0.02
      |ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag""".stripMargin

  /** P3 — null/NaN/±Inf repair. The testdata is clean, so dirt is injected
    * deterministically first, then repaired exactly as the reference repairs
    * its feature columns (reference: src/spark/training.py:68-95).
    */
  private val nullRepair: Q = (s, d) => {
    val dirty = Tables.customer(s, d).select(
      col("c_custkey"),
      when(pmod(col("c_custkey"), lit(11)) === 0, lit(Double.NaN))
        .when(pmod(col("c_custkey"), lit(13)) === 0, lit(null).cast("double"))
        .when(pmod(col("c_custkey"), lit(17)) === 0, lit(Double.PositiveInfinity))
        .otherwise(col("c_acctbal")).as("b"))
    val bad = col("b").isNull || isnan(col("b")) ||
      col("b") === lit(Double.PositiveInfinity) || col("b") === lit(Double.NegativeInfinity)
    dirty.select(
      col("c_custkey"),
      Num.roundAt(Clean.repairNumeric(col("b"), 0.0), 2).as("bal"),
      when(bad, lit(1)).otherwise(lit(0)).as("repaired"))
      .orderBy("c_custkey")
  }

  private val nullRepairSql =
    """WITH dirty AS (
      |  SELECT c_custkey,
      |         CASE WHEN c_custkey % 11 = 0 THEN 'NaN'::DOUBLE
      |              WHEN c_custkey % 13 = 0 THEN NULL
      |              WHEN c_custkey % 17 = 0 THEN 'Infinity'::DOUBLE
      |              ELSE c_acctbal END AS b
      |  FROM customer)
      |SELECT c_custkey,
      |       floor((CASE WHEN b IS NULL OR isnan(b) OR b = 'Infinity'::DOUBLE
      |                        OR b = '-Infinity'::DOUBLE
      |                   THEN 0.0 ELSE b END) * 100 + 0.5) / 100.0 AS bal,
      |       CASE WHEN b IS NULL OR isnan(b) OR b = 'Infinity'::DOUBLE
      |                 OR b = '-Infinity'::DOUBLE
      |            THEN 1 ELSE 0 END AS repaired
      |FROM dirty ORDER BY c_custkey""".stripMargin

  /** P6/P7 — fillna with constants + dropna on key columns
    * (reference: src/data_processor.py:238-246).
    */
  private val fillnaDropna: Q = (s, d) => {
    val injected = Tables.customer(s, d).select(
      col("c_custkey"),
      when(pmod(col("c_custkey"), lit(19)) === 0, lit(null).cast("string"))
        .otherwise(col("c_name")).as("name"),
      when(pmod(col("c_custkey"), lit(7)) === 0, lit(null).cast("string"))
        .otherwise(col("c_mktsegment")).as("segment"))
    injected.na.fill(Map("segment" -> "UNKNOWN")).na.drop(Seq("name"))
      .orderBy("c_custkey")
  }

  private val fillnaDropnaSql =
    """SELECT c_custkey, name, coalesce(segment, 'UNKNOWN') AS segment
      |FROM (SELECT c_custkey,
      |             CASE WHEN c_custkey % 19 = 0 THEN NULL ELSE c_name END AS name,
      |             CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_mktsegment END AS segment
      |      FROM customer)
      |WHERE name IS NOT NULL ORDER BY c_custkey""".stripMargin

  /** J1/J2/J6 — multi-hop left equi-join enrichment: fact⋈fact shuffles on
    * the key, the nation dim is an explicit broadcast (small-dim lookup, same
    * shape as the reference's track⋈artist⋈album enrichment,
    * src/spark/training.py:180-206). Per-row revenue goes through exact cents
    * so output hashes are partition-order independent.
    */
  private val joinEnrich: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_orderstatus")
    val c = Tables.customer(s, d).select("c_custkey", "c_nationkey", "c_mktsegment")
    val n = Tables.nation(s, d).select(col("n_nationkey"), col("n_name").as("nation"))
    li.join(o, li("l_orderkey") === o("o_orderkey"), "left")
      .join(c, o("o_custkey") === c("c_custkey"), "left")
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left")
      .select(
        col("l_orderkey"), col("l_linenumber"), col("o_orderstatus"),
        col("c_mktsegment"), col("nation"),
        Num.cents(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue_cents"))
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic testdata;
      // revenue_cents completes the total order so hashes are stable.
      .orderBy("l_orderkey", "l_linenumber", "revenue_cents")
  }

  private val joinEnrichSql =
    """SELECT l_orderkey, l_linenumber, o_orderstatus, c_mktsegment,
      |       n_name AS nation,
      |       CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS revenue_cents
      |FROM lineitem
      |LEFT JOIN orders ON l_orderkey = o_orderkey
      |LEFT JOIN customer ON o_custkey = c_custkey
      |LEFT JOIN nation ON c_nationkey = n_nationkey
      |ORDER BY l_orderkey, l_linenumber, revenue_cents""".stripMargin

  /** J4/D1 — dedup the build side before joining, exactly as the reference
    * dedups dims before merge (reference: src/data_processor.py:87-114).
    * Full-row distinct is deterministic (unlike dropDuplicates on a key).
    */
  private val joinDedupDim: Q = (s, d) => {
    val part = Tables.part(s, d)
    val dim = part.unionAll(part).distinct()
    Tables.lineitem(s, d)
      .join(dim, col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(
        count(lit(1)).as("cnt"),
        Num.dollars(sum(Num.cents(col("l_quantity")))).as("sum_qty"))
      .orderBy("p_brand")
  }

  private val joinDedupDimSql =
    """WITH dim AS (SELECT DISTINCT * FROM (SELECT * FROM part UNION ALL SELECT * FROM part))
      |SELECT p_brand, count(*) AS cnt,
      |       CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty
      |FROM lineitem JOIN dim ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  /** J5(b) — containment theta-match against a tiny keyword dim: broadcast
    * nested loop, the only safe physical plan for a substring join (the
    * reference does the same O(n·m) scan over its small emotion table,
    * src/data_processor.py:137-162).
    */
  private val containmentWords: Q = (s, d) => {
    import s.implicits._
    val words = Seq("spark", "join", "filter", "window", "stream", "hash", "scan", "merge")
      .toDF("word")
    Tables.documents(s, d)
      .join(broadcast(words), col("text").contains(col("word")))
      .groupBy("word", "lang")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("word", "lang")
  }

  private val containmentWordsSql =
    """SELECT word, lang, count(*) AS cnt
      |FROM documents,
      |     (VALUES ('spark'),('join'),('filter'),('window'),('stream'),('hash'),('scan'),('merge')) w(word)
      |WHERE contains(text, word)
      |GROUP BY word, lang ORDER BY word, lang""".stripMargin

  /** J5 full — the reference's 3-tier fuzzy enrichment: exact key match,
    * else substring containment (min-category for determinism), else a
    * rule fallback, combined with coalesce in precedence order
    * (reference: src/data_processor.py:137-162 tiers at :146-159).
    */
  private val matchTiered: Q = (s, d) => {
    import s.implicits._
    val dim = Seq(
      ("widget", "GADGET"), ("bolt", "FASTENER"), ("cold widget", "COLD_EXACT"))
      .toDF("kw", "cat")
    val part = Tables.part(s, d)
    val exact = part.join(broadcast(dim), col("p_name") === col("kw"))
      .groupBy("p_partkey").agg(min("cat").as("cat_exact"))
    val fuzzy = part.join(broadcast(dim), col("p_name").contains(col("kw")))
      .groupBy("p_partkey").agg(min("cat").as("cat_fuzzy"))
    part
      .join(exact, Seq("p_partkey"), "left")
      .join(fuzzy, Seq("p_partkey"), "left")
      .select(
        col("p_partkey"), col("p_name"),
        coalesce(
          col("cat_exact"), col("cat_fuzzy"),
          when(col("p_size") > 20, lit("LARGE_MISC")).otherwise(lit("SMALL_MISC")))
          .as("category"))
      .orderBy("p_partkey")
  }

  private val matchTieredSql =
    """WITH dim(kw, cat) AS (VALUES ('widget','GADGET'),('bolt','FASTENER'),('cold widget','COLD_EXACT')),
      |exact AS (SELECT p_partkey, min(cat) AS cat_exact FROM part JOIN dim ON p_name = kw GROUP BY p_partkey),
      |fuzzy AS (SELECT p_partkey, min(cat) AS cat_fuzzy FROM part JOIN dim ON contains(p_name, kw) GROUP BY p_partkey)
      |SELECT p.p_partkey, p.p_name,
      |       coalesce(cat_exact, cat_fuzzy,
      |                CASE WHEN p_size > 20 THEN 'LARGE_MISC' ELSE 'SMALL_MISC' END) AS category
      |FROM part p
      |LEFT JOIN exact ON p.p_partkey = exact.p_partkey
      |LEFT JOIN fuzzy ON p.p_partkey = fuzzy.p_partkey
      |ORDER BY p.p_partkey""".stripMargin

  /** A8 — left-anti membership: orders that never shipped a line item
    * (the reference's pending = raw minus processed set difference,
    * src/training_service.py:305-341).
    */
  private val antiJoin: Q = (s, d) =>
    Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"), "left_anti")
      .select("o_orderkey", "o_custkey", "o_orderstatus")
      .orderBy("o_orderkey")

  private val antiJoinSql =
    """SELECT o_orderkey, o_custkey, o_orderstatus
      |FROM orders o
      |WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  /** Left-semi membership — customers with at least one finished order. */
  private val semiJoin: Q = (s, d) =>
    Tables.customer(s, d)
      .join(
        Tables.orders(s, d).filter(col("o_orderstatus") === lit("F")),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")

  private val semiJoinSql =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin

  /** J7 — hybrid weighted union: 70% from one ranked source + 30% from
    * another, concatenated (union-all, the reference keeps duplicates) and
    * presented in source-then-rank order
    * (reference: src/app_optimized.py:687-745, weights at :704,:717).
    */
  private val unionHybrid: Q = (s, d) => {
    val c = Tables.customer(s, d).select("c_custkey", "c_name", "c_acctbal")
    val collab = graft.ops.Rank.firstK(c, 7, desc("c_acctbal"), asc("c_custkey"))
      .select(col("c_custkey"), col("c_name"), lit("collab").as("source"),
        col("rn").as("rank"))
    val content = graft.ops.Rank.firstK(c, 3, asc("c_name"), asc("c_custkey"))
      .select(col("c_custkey"), col("c_name"), lit("content").as("source"),
        col("rn").as("rank"))
    collab.unionByName(content).orderBy("source", "rank")
  }

  private val unionHybridSql =
    """WITH collab AS (
      |  SELECT c_custkey, c_name, 'collab' AS source,
      |         row_number() OVER (ORDER BY c_acctbal DESC, c_custkey) AS rank
      |  FROM customer QUALIFY rank <= 7),
      |content AS (
      |  SELECT c_custkey, c_name, 'content' AS source,
      |         row_number() OVER (ORDER BY c_name, c_custkey) AS rank
      |  FROM customer QUALIFY rank <= 3)
      |SELECT * FROM collab UNION ALL SELECT * FROM content
      |ORDER BY source, rank""".stripMargin

  /** Explode — flatten text into tokens and count, the engine's twin of
    * flattening `interactions:array<struct>` from batch files
    * (SURVEY.md §2.7 UDF note; reference batch files at
    * src/streaming_service.py:320-344).
    */
  private val explodeTokens: Q = (s, d) =>
    Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("token"))
      .limit(20)

  private val explodeTokensSql =
    """SELECT token, count(*) AS cnt
      |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |GROUP BY token ORDER BY cnt DESC, token LIMIT 20""".stripMargin

  /** F9 — stringified-list parsing: the reference stores `artists_id` as a
    * Python-repr list `"['id1', ...]"` and ast.literal_eval's it
    * (reference: src/app_optimized.py:157-167). The engine builds the same
    * shape then parses with from_json after quote normalization.
    */
  private val listParse: Q = (s, d) =>
    Tables.part(s, d)
      .withColumn("synth", concat(lit("['"), col("p_brand"), lit("']")))
      .withColumn(
        "artist_id",
        from_json(translate(col("synth"), "'", "\""), ArrayType(StringType)).getItem(0))
      .select("p_partkey", "synth", "artist_id")
      .orderBy("p_partkey")

  private val listParseSql =
    """SELECT p_partkey,
      |       '[''' || p_brand || ''']' AS synth,
      |       regexp_extract('[''' || p_brand || ''']', '''([^'']+)''', 1) AS artist_id
      |FROM part ORDER BY p_partkey""".stripMargin

  /** MERGE / upsert — the delta-ingest state transition (the Delta
    * Lake / Iceberg `MERGE INTO` primitive) expressed as a pure relational
    * query with action accounting: a deterministic delta batch (updates,
    * tombstones, brand-new rows) is applied to the documents snapshot via
    * ONE full-outer join on the key, and each row is classified
    * insert / update / delete / unchanged exactly the way `WHEN [NOT]
    * MATCHED` clauses decide it — by target-side existence at join time,
    * not by a flag the delta producer guessed. The output is the audit
    * a production merge emits: row count and char mass per action
    * (delete reports the REMOVED rows' mass; the other three report
    * post-merge state).
    *
    * Scale shape: one shuffle of each side on the key — and since a real
    * ingest delta is orders of magnitude smaller than the snapshot, AQE
    * broadcasts it and the snapshot never moves. The file-level twin
    * (rewriting only files whose min/max envelopes intersect the delta —
    * copy-on-write) is the [[graft.sources.Layout]] domain; this query is
    * the engine-checked state math that rewrite must reproduce. The delta
    * recipe constants below drive BOTH engines.
    */
  private val mergeUpdEvery = 7
  private val mergeDelEvery = 13
  private val mergeInsBelow = 20
  private val mergeUpdBump = 1000L
  private val mergeInsBump = 5L

  private val mergeUpsert: Q = (s, d) => {
    val snap = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    // Insert keys offset by max(doc_id)+1, DERIVED from the snapshot in
    // both engines (ADVICE r8): a fixed constant would collide with real
    // doc_ids at a larger scale factor, silently fanning out the
    // full-outer join and reclassifying inserts as updates.
    val insBase = snap.agg((max("doc_id") + lit(1L)).as("ins_base"))
    val delta =
      snap.filter(col("doc_id") % mergeUpdEvery === 0 && col("doc_id") % mergeDelEvery =!= 0)
        .select(col("doc_id"), (col("n_chars") + mergeUpdBump).as("new_chars"),
          lit("upsert").as("op"))
        .unionByName(snap.filter(col("doc_id") % mergeDelEvery === 0)
          .select(col("doc_id"), lit(null).cast("long").as("new_chars"),
            lit("delete").as("op")))
        .unionByName(snap.filter(col("doc_id") < mergeInsBelow)
          .crossJoin(broadcast(insBase))
          .select((col("doc_id") + col("ins_base")).as("doc_id"),
            (col("n_chars") + mergeInsBump).as("new_chars"), lit("upsert").as("op")))
    snap.join(delta, Seq("doc_id"), "full_outer")
      .select(
        when(col("op") === "delete", lit("delete"))
          .when(col("op") === "upsert" && col("n_chars").isNotNull, lit("update"))
          .when(col("op") === "upsert", lit("insert"))
          .otherwise(lit("unchanged")).as("action"),
        when(col("op") === "upsert", col("new_chars"))
          .otherwise(col("n_chars")).as("chars"))
      .groupBy("action")
      .agg(count(lit(1)).as("n"), sum("chars").as("sum_chars"))
      .orderBy("action")
  }

  private val mergeUpsertSql =
    s"""WITH delta AS (
       |  SELECT doc_id, n_chars + $mergeUpdBump AS new_chars, 'upsert' AS op
       |  FROM documents
       |  WHERE doc_id % $mergeUpdEvery = 0 AND doc_id % $mergeDelEvery <> 0
       |  UNION ALL
       |  SELECT doc_id, CAST(NULL AS BIGINT), 'delete' FROM documents
       |  WHERE doc_id % $mergeDelEvery = 0
       |  UNION ALL
       |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents),
       |         n_chars + $mergeInsBump, 'upsert' FROM documents
       |  WHERE doc_id < $mergeInsBelow)
       |SELECT CASE WHEN op = 'delete' THEN 'delete'
       |            WHEN op = 'upsert' AND s.n_chars IS NOT NULL THEN 'update'
       |            WHEN op = 'upsert' THEN 'insert'
       |            ELSE 'unchanged' END AS action,
       |       count(*) AS n,
       |       CAST(SUM(CASE WHEN op = 'upsert' THEN new_chars
       |                     ELSE s.n_chars END) AS BIGINT) AS sum_chars
       |FROM (SELECT doc_id, n_chars FROM documents) s
       |FULL OUTER JOIN delta USING (doc_id)
       |GROUP BY action ORDER BY action""".stripMargin

  /** Declarative data-validation suite — the Deequ-shaped constraint
    * gate a 100 TB table passes before anyone trains on it: not-null,
    * uniqueness, referential integrity, range and enum-domain checks,
    * each reported as (check, rows checked, violations, passed). The
    * whole orders battery collapses into ONE single-scan aggregate
    * (conditional sums + a count-distinct) stacked into per-check rows;
    * the FK check is a broadcast anti-join counted, restricted to
    * non-null keys so null-ness is charged to the not-null check, not
    * double-counted (and so Spark's null-never-matches anti-join and
    * SQL's three-valued NOT IN agree); lineitem adds one more scan for
    * its own range check. No shuffle ever carries data — every exchange
    * moves 1-row aggregates.
    */
  private val constraintsQ: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val oAgg = o.agg(
      count(lit(1)).as("n"),
      sum(col("o_custkey").isNull.cast("long")).as("v_nn"),
      (count(lit(1)) - countDistinct("o_orderkey")).as("v_uq"),
      sum((col("o_totalprice").isNull || col("o_totalprice") <= 0)
        .cast("long")).as("v_rng"),
      sum((!col("o_orderstatus").isin("F", "O", "P")).cast("long")).as("v_enum"))
    val fk = o.filter(col("o_custkey").isNotNull)
      .join(broadcast(Tables.customer(s, d).select("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("v_fk"))
    val li = Tables.lineitem(s, d).agg(
      count(lit(1)).as("n_li"),
      sum((col("l_quantity").isNull || col("l_quantity") <= 0)
        .cast("long")).as("v_qty"))
    // the FK row checks exactly the non-null keys: n − v_nn, no re-scan
    oAgg.crossJoin(fk).crossJoin(li)
      .selectExpr(
        """stack(6,
          |  '01_not_null_o_custkey', n, v_nn,
          |  '02_unique_o_orderkey', n, v_uq,
          |  '03_fk_orders_customer', n - v_nn, v_fk,
          |  '04_range_o_totalprice_pos', n, v_rng,
          |  '05_enum_o_orderstatus', n, v_enum,
          |  '06_range_l_quantity_pos', n_li, v_qty)
          |  AS (check_name, n_checked, n_violations)""".stripMargin)
      .withColumn("passed", (col("n_violations") === 0).cast("long"))
      .orderBy("check_name")
  }

  private val constraintsSql =
    """WITH o AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |         CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_nn,
      |         CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS v_uq,
      |         CAST(SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS v_rng,
      |         CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P')
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS v_enum
      |  FROM orders),
      |fk AS (SELECT CAST(count(*) AS BIGINT) AS n_fk,
      |              CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_fk
      |       FROM (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL) o2
      |       LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
      |         ON o2.o_custkey = c.c_custkey),
      |li AS (SELECT CAST(count(*) AS BIGINT) AS n_li,
      |              CAST(SUM(CASE WHEN l_quantity IS NULL OR l_quantity <= 0
      |                            THEN 1 ELSE 0 END) AS BIGINT) AS v_qty
      |       FROM lineitem),
      |stacked AS (
      |  SELECT '01_not_null_o_custkey' AS check_name, n AS n_checked, v_nn AS n_violations FROM o
      |  UNION ALL SELECT '02_unique_o_orderkey', n, v_uq FROM o
      |  UNION ALL SELECT '03_fk_orders_customer', n_fk, v_fk FROM fk
      |  UNION ALL SELECT '04_range_o_totalprice_pos', n, v_rng FROM o
      |  UNION ALL SELECT '05_enum_o_orderstatus', n, v_enum FROM o
      |  UNION ALL SELECT '06_range_l_quantity_pos', n_li, v_qty FROM li)
      |SELECT check_name, n_checked, n_violations,
      |       CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS BIGINT) AS passed
      |FROM stacked ORDER BY check_name""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q_constraints", constraintsQ, Some(constraintsSql)),
    Entry("q_merge_upsert", mergeUpsert, Some(mergeUpsertSql)),
    Entry("q_scan_project", scanProject, Some(scanProjectSql)),
    Entry("q_filter_pred", filterPred, Some(filterPredSql)),
    Entry("q_null_repair", nullRepair, Some(nullRepairSql)),
    Entry("q_fillna_dropna", fillnaDropna, Some(fillnaDropnaSql)),
    Entry("q_join_enrich", joinEnrich, Some(joinEnrichSql)),
    Entry("q_join_dedup_dim", joinDedupDim, Some(joinDedupDimSql)),
    Entry("q_containment_words", containmentWords, Some(containmentWordsSql)),
    Entry("q_match_tiered", matchTiered, Some(matchTieredSql)),
    Entry("q_anti_join", antiJoin, Some(antiJoinSql)),
    Entry("q_semi_join", semiJoin, Some(semiJoinSql)),
    Entry("q_union_hybrid", unionHybrid, Some(unionHybridSql)),
    Entry("q_explode_tokens", explodeTokens, Some(explodeTokensSql)),
    Entry("q_list_parse", listParse, Some(listParseSql)),
  )
}
