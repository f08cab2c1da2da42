package graft

import org.apache.spark.sql.functions._
import graft.ops.{Num, Prefix, Salt}
import graft.tables.Tables

/** Scale-mitigation primitives: salted aggregation for key skew and
  * bucketed tables for shuffle-free co-located joins (the two techniques
  * SURVEY.md §4 reserves for when broadcast + AQE aren't enough).
  */
class ScaleOpsSpec extends SparkSpec {

  test("salted two-phase aggregation equals the direct groupBy exactly") {
    val ev = Tables.events(spark, sfDir)
    val direct = ev.groupBy(col("event_type").as("k"))
      .agg(count(lit(1)).as("cnt"), sum(Num.cents(col("value"))).as("sum_cents"))
      .orderBy("k").collect()
    val salted = Salt.saltedCountSum(
        ev, col("event_type"), Num.cents(col("value")), salts = 8)
      .orderBy("k").collect()
    assert(salted.toSeq === direct.toSeq,
      "salting must be a pure physical rewrite — identical results")
  }

  test("salted plan aggregates twice so no single reducer owns a hot key") {
    val ev = Tables.events(spark, sfDir)
    val plan = Salt.saltedCountSum(
        ev, col("event_type"), Num.cents(col("value")), salts = 8)
      .queryExecution.executedPlan.toString
    // two distinct shuffle keys: (k, __salt) then (k)
    assert("hashpartitioning\\(k".r.findAllMatchIn(plan).nonEmpty, plan)
    assert(plan.contains("__salt"), "first phase must shuffle by salted key")
  }

  test("salted join equals the direct join and shuffles the hot key across salts") {
    val big = spark.range(0, 20000).selectExpr(
      "CASE WHEN id % 10 < 8 THEN 0 ELSE id % 100 END AS k", "id AS v")
    val dim = spark.range(0, 100).selectExpr("id AS k", "id * 2 AS w")
    val direct = big.join(dim, Seq("k")).select("k", "v", "w")
      .orderBy("k", "v").collect()
    val salted = Salt.saltedJoin(big, dim, "k", 8).select("k", "v", "w")
      .orderBy("k", "v").collect()
    assert(salted.toSeq === direct.toSeq,
      "salting must be a pure physical rewrite — identical join results")
    // Structural: with broadcast off, the big side must shuffle on the
    // COMPOSITE (k, __salt) key — that is the guarantee that no single
    // reducer owns the hot key.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = Salt.saltedJoin(big, dim, "k", 8)
        .queryExecution.executedPlan.toString
      assert("hashpartitioning\\(k#\\d+L?, __salt".r.findFirstIn(p).isDefined,
        s"big side must partition on (k, __salt):\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("AQE splits a skewed join partition at runtime (the join half of q_skew_audit)") {
    // The runtime counterpart of Salt.saltedJoin: a key owning 80% of the
    // big side lands one oversized shuffle partition; with the skew-join
    // thresholds scaled to the fixture, AQE must split it from observed
    // map output sizes — pinned by the `skew=true` marker on the join in
    // the finalized adaptive plan (so the hot key no longer runs as one
    // task). Thresholds are restored whatever happens.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32768")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val big = spark.range(0, 100000).selectExpr(
        "CASE WHEN id % 10 < 8 THEN 0 ELSE id % 100 END AS k", "id AS v")
      val dim = spark.range(0, 100).selectExpr("id AS k", "id * 2 AS w")
      val j = big.join(dim, Seq("k"))
      j.collect() // finalize the adaptive plan
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE did not split the hot key's partition:\n$p")
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("distributed prefix sum equals the single-window cumsum exactly") {
    import org.apache.spark.sql.expressions.Window
    // Adversarial fixture: a clumped hot key (20% of rows at k=7),
    // duplicate keys everywhere (tiebreaker carries the order), and
    // negative values so partial sums genuinely cancel.
    val df = spark.range(0, 5000).selectExpr(
      "CASE WHEN id % 5 = 0 THEN 7L ELSE (id * 37) % 1000 END AS k",
      "id AS tie", "(id % 13) - 6 AS v")
    val w = Window.orderBy("k", "tie")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expect = df.withColumn("cum", sum("v").over(w))
      .orderBy("k", "tie").collect()
    val got = Prefix.withCumSum(df, "k", Seq("tie"), "v", "cum")
      .orderBy("k", "tie").collect()
    assert(got.toSeq === expect.toSeq,
      "the decomposition must be a pure physical rewrite — identical cumsums")
    // Degenerate domain: every key equal (lo == hi → one bucket) still
    // orders by the tiebreaker and cumulates exactly.
    val flat = spark.range(0, 100).selectExpr("42L AS k", "id AS tie", "id AS v")
    val flatGot = Prefix.withCumSum(flat, "k", Seq("tie"), "v", "cum")
      .orderBy("tie").collect()
    val flatExp = flat.withColumn("cum", sum("v").over(w)).orderBy("tie").collect()
    assert(flatGot.toSeq === flatExp.toSeq)
  }

  test("distributed prefix min equals the single-window form, inclusive and exclusive") {
    import org.apache.spark.sql.expressions.Window
    val df = spark.range(0, 5000).selectExpr(
      "CASE WHEN id % 5 = 0 THEN 7L ELSE (id * 37) % 1000 END AS k",
      "id AS tie", "(id * 101) % 997 - 300 AS v")
    val wIncl = Window.orderBy("k", "tie")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wExcl = Window.orderBy("k", "tie")
      .rowsBetween(Window.unboundedPreceding, -1)
    val expIncl = df.withColumn("m", min("v").over(wIncl))
      .orderBy("k", "tie").collect()
    val gotIncl = Prefix.withCumMin(df, "k", Seq("tie"), "v", "m")
      .orderBy("k", "tie").collect()
    assert(gotIncl.toSeq === expIncl.toSeq)
    // Exclusive mode: first row's NULL (no predecessor) must survive.
    val expExcl = df.withColumn("m", min("v").over(wExcl))
      .orderBy("k", "tie").collect()
    val gotExcl = Prefix.withCumMin(df, "k", Seq("tie"), "v", "m",
        inclusive = false)
      .orderBy("k", "tie").collect()
    assert(gotExcl.toSeq === expExcl.toSeq)
    assert(gotExcl.head.isNullAt(3), "first row has nothing before it")
  }

  test("distributed global rank equals the single-window row_number, asc and desc") {
    import org.apache.spark.sql.expressions.Window
    import graft.ops.Rank
    val df = spark.range(0, 5000).selectExpr(
      "CASE WHEN id % 5 = 0 THEN 7L ELSE (id * 37) % 1000 END AS k",
      "id AS tie")
    val wAsc = Window.orderBy(asc("k"), asc("tie"))
    val expAsc = df.withColumn("r", row_number().over(wAsc).cast("long"))
      .orderBy("k", "tie").collect()
    val gotAsc = Rank.withGlobalRank(df, "k", Seq("tie"), "r")
      .orderBy("k", "tie").collect()
    assert(gotAsc.toSeq === expAsc.toSeq)
    val wDesc = Window.orderBy(desc("k"), asc("tie"))
    val expDesc = df.withColumn("r", row_number().over(wDesc).cast("long"))
      .orderBy("k", "tie").collect()
    val gotDesc = Rank.withGlobalRank(df, "k", Seq("tie"), "r",
        descending = true)
      .orderBy("k", "tie").collect()
    assert(gotDesc.toSeq === expDesc.toSeq)
  }

  test("q_changepoint builds with no Spark job and ends in a top-1, not a sort") {
    // One fused rank + cumsum pass and an ORDER BY … LIMIT 1: no eager
    // checkpoint and no max/argmax probes run while the DataFrame is
    // built (the orders schema is warm, so the read runs none either).
    Tables.orders(spark, sfDir)
    val q = graft.queries.Registry.queries("q_changepoint")
    var df: org.apache.spark.sql.DataFrame = null
    val jobs = graft.ops.Measure.jobs(spark) { df = q(spark, sfDir) }
    assert(jobs === 0L, s"building q_changepoint ran $jobs job(s)")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"the changepoint pick must be a per-partition top-1:\n$plan")
    assert(df.collect().length === 1)
  }

  test("prefix-sum plan: the data-sized window partitions by the range bucket") {
    val df = spark.range(0, 5000).selectExpr("id AS k", "id AS tie", "id AS v")
    val p = Prefix.withCumSum(df, "k", Seq("tie"), "v", "cum")
      .queryExecution.executedPlan.toString
    // The row-level cumsum window must carry the bucket in its PARTITION
    // spec (three bracket groups: exprs, partition, order) …
    assert("Window \\[sum\\(v[^\\]]*\\], \\[__pfx_b#\\d+L?\\]".r
      .findFirstIn(p).isDefined,
      s"local cumsum must partition by the range bucket:\n$p")
    // … the rows shuffle once on the bucket key …
    assert(p.contains("Exchange hashpartitioning(__pfx_b#"),
      s"rows must shuffle on the bucket key:\n$p")
    // … and every single-partition exchange feeds a global aggregate
    // (the 1-row bounds — duplicated pre-AQE-reuse — or the ≤ buckets
    // offsets rows), never raw data: each one's child in the plan text
    // is a HashAggregate, not a Project/Scan.
    val lines = p.linesIterator.toVector
    for (i <- lines.indices if lines(i).contains("Exchange SinglePartition"))
      assert(i + 1 < lines.size && lines(i + 1).contains("HashAggregate"),
        s"single-partition exchange over non-aggregated data:\n$p")
  }

  test("bucketed tables join without a shuffle on either side") {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    assert(wh.contains("graft-warehouse"), s"test warehouse misconfigured: $wh")
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS o_bucketed")
    Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("li_bucketed")
    Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_orderstatus")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("o_bucketed")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_bucketed").join(
        spark.table("o_bucketed"),
        col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$plan")
      // and it still computes the same result as the plain join
      val expect = Tables.lineitem(spark, sfDir).join(
        Tables.orders(spark, sfDir),
        col("l_orderkey") === col("o_orderkey")).count()
      assert(joined.count() === expect)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("Catalyst injects a runtime bloom filter from the selective dim side") {
    // The optimizer-grown cousin of functions.BloomMightContain: when a
    // shuffle join's build side is filtered selectively, InjectRuntimeFilter
    // plants bloom_filter_might_contain on the probe side's scan, trimming
    // shuffle traffic before the join — semi-join reduction without any
    // query rewrite. Thresholds here only make the fixture big enough to
    // qualify; at 100 TB the defaults fire on their own. Pinned so a future
    // conf regression (the feature is config-gated) is caught.
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      withConf("spark.sql.optimizer.runtime.bloomFilter.enabled", "true") {
        withConf("spark.sql.optimizer.runtime.bloomFilter." +
          "applicationSideScanSizeThreshold", "0") {
          val li = Tables.lineitem(spark, sfDir)
            .select("l_partkey", "l_extendedprice")
          val dim = Tables.part(spark, sfDir).filter(col("p_size") === 1)
          val j = li.join(dim, col("l_partkey") === col("p_partkey"))
            .select("l_partkey", "p_size", "l_extendedprice")
          val plan = j.queryExecution.executedPlan.toString
          assert(plan.contains("might_contain"),
            s"runtime bloom filter must reach the probe side:\n$plan")
          val expect = Tables.lineitem(spark, sfDir)
            .join(Tables.part(spark, sfDir).filter(col("p_size") === 1),
              col("l_partkey") === col("p_partkey")).count()
          assert(j.count() === expect,
            "the injected filter is advisory — result must be unchanged")
        }
      }
    }
  }
}
