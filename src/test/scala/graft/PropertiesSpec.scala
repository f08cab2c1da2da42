package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.ops.Rank
import graft.tables.Tables

/** ScalaCheck properties promised by SURVEY.md §5.3: clamp bounds,
  * bucketization monotonicity, pagination partition property, top-k ⊆
  * full-sort prefix, dedup idempotence, and the custom Jaccard expression
  * against a reference-model implementation on arbitrary inputs.
  *
  * Each trial runs a real (small) Spark job, so trial counts are kept low —
  * the generators cover the edge ranges (±Inf, boundaries) explicitly.
  */
class PropertiesSpec extends SparkSpec {

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(5)

  private def check(p: Prop): Unit = {
    val r = SCTest.check(params, p)
    assert(r.passed, r.status.toString)
  }

  /** Order keys the ops.Prefix properties draw from: dense duplicates,
    * an overflow-hostile ±2⁶² span, and one hot key (a single bucket). */
  private val extremeKeys = Gen.oneOf(
    Gen.choose(-100L, 100L),
    Gen.choose(-(1L << 62), 1L << 62),
    Gen.const(7L))

  test("F10/A10: clamp is bounded and identity inside [1, 5]") {
    import spark.implicits._
    val gen = Gen.listOfN(50, Gen.oneOf(
      Gen.choose(-1e9, 1e9), Gen.oneOf(
        0.999999, 1.0, 5.0, 5.000001, Double.MaxValue, -0.0,
        Double.PositiveInfinity, Double.NegativeInfinity)))
    check(Prop.forAll(gen) { xs =>
      val out = xs.toDF("r")
        .select(col("r"), greatest(lit(1.0), least(lit(5.0), col("r"))).as("c"))
        .collect()
      out.forall { row =>
        val (r, c) = (row.getDouble(0), row.getDouble(1))
        c >= 1.0 && c <= 5.0 && (!(r >= 1.0 && r <= 5.0) || c == r)
      }
    })
  }

  test("F2: popularity bucketization is monotone non-decreasing") {
    import spark.implicits._
    val gen = Gen.listOfN(60, Gen.choose(0L, 100L))
    check(Prop.forAll(gen) { pops =>
      val rating = when(col("pop") > 70, 5.0).when(col("pop") > 50, 4.0)
        .when(col("pop") > 30, 3.0).when(col("pop") > 10, 2.0).otherwise(1.0)
      val rows = pops.toDF("pop").select(col("pop"), rating.as("r"))
        .orderBy("pop").collect()
      rows.sliding(2).forall {
        case Array(a, b) => a.getDouble(1) <= b.getDouble(1)
        case _           => true
      }
    })
  }

  test("W4: pages partition the sorted scan (concat of pages == prefix)") {
    val catalog = Tables.part(spark, sfDir).select("p_partkey").cache()
    val gen = for {
      limit  <- Gen.choose(1, 40)
      offset <- Gen.choose(0, 60)
    } yield (limit, offset)
    check(Prop.forAll(gen) { case (limit, offset) =>
      val page = Rank.firstK(catalog, offset + limit, asc("p_partkey"))
        .filter(col("rn") > offset)
        .select("p_partkey").collect().map(_.getLong(0)).toSeq
      val expect = catalog.orderBy("p_partkey").limit(offset + limit)
        .collect().map(_.getLong(0)).toSeq.drop(offset)
      page == expect
    })
  }

  test("W1: Rank.firstK rows equal the full-sort prefix with 1-based ranks") {
    val df = Tables.customer(spark, sfDir).select("c_custkey", "c_acctbal").cache()
    check(Prop.forAll(Gen.choose(1, 50)) { k =>
      val got = Rank.firstK(df, k, desc("c_acctbal"), asc("c_custkey"))
        .select("rn", "c_custkey").collect()
        .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1).toSeq
      val expect = df.orderBy(desc("c_acctbal"), asc("c_custkey")).limit(k)
        .collect().map(_.getLong(0)).zipWithIndex
        .map { case (id, i) => (i + 1, id) }.toSeq
      got == expect
    })
  }

  test("D1: dropDuplicates is idempotent and canonical under re-application") {
    import spark.implicits._
    val gen = Gen.listOfN(80, Gen.choose(0, 15))
    check(Prop.forAll(gen) { keys =>
      val df = keys.zipWithIndex.toDF("k", "seq")
      val once = df.dropDuplicates("k")
      val twice = once.dropDuplicates("k")
      once.count() == twice.count() &&
        once.select("k").collect().map(_.getInt(0)).sorted.toSeq ==
          keys.distinct.sorted
    })
  }

  test("JaccardSorted equals a set-model reference on arbitrary token arrays") {
    import spark.implicits._
    val tok = Gen.oneOf("a", "b", "c", "aa", "ab", "é", "zz", "0", "", " ")
    val arr = Gen.listOfN(8, tok)
    check(Prop.forAll(arr, arr) { (xs, ys) =>
      val expect = {
        val (sx, sy) = (xs.toSet, ys.toSet)
        val u = (sx ++ sy).size
        if (u == 0) 1.0 else (sx & sy).size.toDouble / u
      }
      val got = Seq((xs, ys)).toDF("x", "y")
        .select(graft.functions.JaccardSorted(
          sort_array(array_distinct(col("x"))),
          sort_array(array_distinct(col("y")))).as("j"))
        .collect().head.getDouble(0)
      got == expect
    })
  }

  test("partition-count invariance: results identical under different parallelism") {
    // The driver runs Verify/Bench with ITS OWN cpu count; every oracle
    // query must produce byte-identical rows regardless of
    // spark.sql.shuffle.partitions. Exercise the queries whose docs make
    // that claim load-bearing (hash-mod sampling, cumsum packing, cent-sum
    // aggregation, sessionization) under 3 vs 13 partitions.
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    def runAll(n: String): Map[String, Seq[String]] = {
      spark.conf.set(key, n)
      Seq("q_sample_strat", "q_pack_sequences", "q_count_distinct", "q_session_gap",
          "q_shard_assign", "q_unigram_lm", "q_vocab_pmi", "q_chunk_split",
          "q_dedup_pipeline", "q_salted_agg", "q_topk_heap", "q_bloom_dedup",
          "q_split_leakfree", "q_drift_chi2",
          "q_dedup_delta", "q_interval_join", "ml_kmeans_assign",
          "q_contam_embed", "q_mix_temperature",
          "q_containment_dup", "q_chunk_dedup", "q_ann_pq", "q_zorder_skip",
          "q_hilbert_skip", "q_range_window", "q_fuzzy_match", "q_value_funcs",
          "q_curve3_skip", "q_grouping_sets", "ml_cluster_serve", "ml_tfidf_counts",
          "q_sample_exact_k", "q_curve3_lang_skip", "q_drift_ks", "q_scd2_history",
          "q_scd2_asof", "q_histogram", "q_merge_upsert", "q_resample_ffill",
          "q_cohort_retention", "q_funnel_steps", "q_transitions", "q_rolling_dau",
          "q_pareto", "q_skew_audit")
        .map(q => q -> SparkEntry.queries(q)(spark, sfDir)
          .collect().map(_.toString).toSeq).toMap
    }
    try {
      val a = runAll("3")
      val b = runAll("13")
      for (q <- a.keySet)
        assert(a(q) === b(q), s"$q differs across partition counts")
    } finally spark.conf.set(key, before)
  }

  test("generative: KS pipeline equals brute force on arbitrary samples") {
    // Drives the PRODUCTION ksPairOf pipeline (not a replica) over random
    // integer-valued samples — heavy ties and lopsided sizes included,
    // which the real-data test can't systematically produce.
    import spark.implicits._
    val sample = Gen.chooseNum(1, 25).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0, 8).map(_.toDouble)))
    check(Prop.forAll(sample, sample) { (xs, ys) =>
      val ev = (xs.map(("a", _)) ++ ys.map(("b", _)))
        .toDF("event_type", "value")
      val r = graft.queries.Stats.ksPairOf(ev, "a", "b").collect().head
      val grid = (xs ++ ys).distinct
      val expect = grid
        .map(g => math.abs(xs.count(_ <= g).toLong * ys.length -
          ys.count(_ <= g).toLong * xs.length))
        .max
      r.getAs[Long]("n1") == xs.length.toLong &&
        r.getAs[Long]("n2") == ys.length.toLong &&
        r.getAs[Long]("ks_num") == expect
    })
  }

  test("q_scd2_history: versioned intervals match a plain-Scala changelog fold") {
    val openEnd = 253402300799000000L
    // Independent reference: replay every user's observations in order,
    // compress consecutive equal tiers, and tile validity intervals.
    val obs = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    def tier(v: Double) = if (v < 20) "low" else if (v < 60) "mid" else "high"
    val expect = obs.groupBy(_._1).toSeq.flatMap { case (uid, rs) =>
      val ordered = rs.sortBy(r => (r._3, r._2)).map(r => (r._3, tier(r._4)))
      val changes = ordered.foldLeft(Vector.empty[(Long, String)]) {
        case (acc, (us, t)) =>
          if (acc.nonEmpty && acc.last._2 == t) acc else acc :+ (us -> t)
      }
      changes.zipWithIndex.map { case ((us, t), i) =>
        val to = if (i + 1 < changes.length) changes(i + 1)._1 else openEnd
        (uid, i + 1, t, us, to, if (to == openEnd) 1 else 0)
      }
    }.sortBy(r => (r._1, r._2))
    val got = SparkEntry.queries("q_scd2_history")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getInt(5))).toSeq
    assert(got === expect, "SCD2 history diverges from the reference fold")
    // Structural invariants a consumer relies on: exactly one open row per
    // user, contiguous tiling, and no uncompressed (no-op) versions.
    for ((uid, rows) <- got.groupBy(_._1)) {
      assert(rows.count(_._6 == 1) === 1, s"user $uid open-row count")
      for (Seq(a, b) <- rows.sortBy(_._2).sliding(2).toSeq if rows.size > 1) {
        assert(a._5 === b._4, s"user $uid: interval gap between versions")
        assert(a._3 !== b._3, s"user $uid: consecutive versions share a tier")
      }
    }
  }

  test("q_scd2_asof: every event attributed to exactly one interval, correctly") {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("value"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(4)))
    def tier(v: Double) = if (v < 20) "low" else if (v < 60) "mid" else "high"
    // Reference: per user, the tier AT time t is the tier of the latest
    // change at-or-before t (interval lookup — robust even if two events
    // shared a micro-timestamp, which the tier(value)-of-the-row shortcut
    // would not be).
    val changes = ev.groupBy(_._1).view.mapValues { rs =>
      rs.sortBy(r => (r._3, r._2)).map(r => (r._3, r._2, tier(r._4)))
        .foldLeft(Vector.empty[(Long, Long, String)]) { case (acc, c) =>
          if (acc.nonEmpty && acc.last._3 == c._3) acc else acc :+ c
        }
    }.toMap
    val expect = ev
      .map { case (uid, _, us, v, tpe) =>
        val t = changes(uid).takeWhile(c => c._1 <= us).last._3
        ((t, tpe), math.round(v * 100))
      }
      .groupBy(_._1).view
      .mapValues(xs => (xs.length.toLong, xs.map(_._2).sum / 100.0)).toMap
    val got = SparkEntry.queries("q_scd2_asof")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n"), r.getAs[Double]("sum_value"))).toMap
    assert(got.values.map(_._1).sum === ev.length.toLong,
      "as-of join must attribute every event exactly once")
    assert(got === expect, "point-in-time attribution diverges from the reference")
  }

  test("q_histogram: bins match a plain-Scala clamp-and-count") {
    val vals = Tables.events(spark, sfDir).select(col("value")).collect()
      .map(_.getDouble(0))
    val expect = vals.map(v => math.min(19L, math.max(0L, math.floor(v / 25.0).toLong)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = SparkEntry.queries("q_histogram")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getAs[Long]("cnt"))).toMap
    assert(got.view.mapValues(_._3).toMap === expect)
    for ((bin, (lo, hi, _)) <- got) {
      assert(lo === bin * 25.0 && hi === (bin + 1) * 25.0, s"bin $bin edges")
    }
    assert(got.values.map(_._3).sum === vals.length.toLong)
  }

  test("q_merge_upsert: action accounting matches a plain-Scala merge replay") {
    val snap = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Independent replay of the delta recipe + MERGE decision table.
    // Insert offset derives from the data (max+1), like both engines —
    // collision-free at ANY scale factor by construction.
    val insBase = snap.keys.max + 1L
    val upserts = snap.collect {
      case (id, c) if id % 7 == 0 && id % 13 != 0 => id -> (c + 1000L)
    } ++ snap.collect { case (id, c) if id < 20 => (id + insBase) -> (c + 5L) }
    val deletes = snap.keySet.filter(_ % 13 == 0)
    val expect = Map(
      "delete" -> (deletes.size.toLong, deletes.toSeq.map(snap).sum),
      "update" -> {
        val u = upserts.filter { case (id, _) => snap.contains(id) }
        (u.size.toLong, u.values.sum)
      },
      "insert" -> {
        val i = upserts.filter { case (id, _) => !snap.contains(id) }
        (i.size.toLong, i.values.sum)
      },
      "unchanged" -> {
        val untouched = snap.view
          .filterKeys(id => !upserts.contains(id) && !deletes.contains(id))
        (untouched.size.toLong, untouched.values.sum)
      })
    val got = SparkEntry.queries("q_merge_upsert")(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n"), r.getAs[Long]("sum_chars"))).toMap
    assert(got === expect, "merge action accounting diverges from the replay")
    // Post-merge cardinality identity: |snap| - deletes + inserts.
    assert(got("unchanged")._1 + got("update")._1 ===
      snap.size.toLong - got("delete")._1,
      "surviving snapshot rows must be exactly the non-deleted ones")
  }

  test("q_resample_ffill: dense grid matches a plain-Scala resample") {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"),
        col("value"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
    val (lo, hi) = (ev.map(_._2).min, ev.map(_._2).max)
    val sub = ev.filter(_._1 < 10)
    val expect = sub.map(_._1).distinct.sorted.flatMap { uid =>
      var cum = 0L
      var seen = "none"
      (lo to hi).map { day =>
        val rows = sub.filter(r => r._1 == uid && r._2 == day)
        val cents = rows.map(r => math.round(r._3 * 100)).sum
        cum += cents
        if (rows.nonEmpty) seen = rows.map(_._4).max
        (uid, day, rows.length.toLong, cents / 100.0, cum / 100.0, seen)
      }
    }.toSeq
    val got = SparkEntry.queries("q_resample_ffill")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getString(5))).toSeq
    assert(got.length === expect.length, "grid must be |users| × |days|")
    assert(got === expect, "resampled grid diverges from the reference replay")
  }

  test("q_cohort_retention: matrix matches a plain-Scala cohort replay") {
    val act = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), year(col("o_orderdate")).as("y")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).distinct
    val cohort = act.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val expect = act.map { case (ck, y) => (cohort(ck), y - cohort(ck)) }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = SparkEntry.queries("q_cohort_retention")(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getAs[Long]("n_cust"), r.getAs[Double]("retention"))).toMap
    assert(got.view.mapValues(_._1).toMap === expect)
    for (((cy, yoff), (n, ret)) <- got) {
      if (yoff == 0) assert(ret === 1.0, s"cohort $cy must open at retention 1.0")
      val base = got((cy, 0))._1
      assert(math.abs(ret - math.floor(n.toDouble / base * 1e4 + 0.5) / 1e4) < 1e-12,
        s"cohort $cy offset $yoff retention")
    }
    // Every customer appears in exactly one cohort's offset-0 cell.
    assert(got.collect { case ((_, 0), (n, _)) => n }.sum === cohort.size.toLong)
  }

  test("q_funnel_steps / q_transitions: sequence analytics match event replays") {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    // Funnel: strictly-ordered min timestamps per user.
    val perUser = ev.groupBy(_._1).view.mapValues { rs =>
      def stepMin(tpe: String, after: Option[Long]): Option[Long] = {
        val c = rs.collect {
          case (_, _, t, us) if t == tpe && after.forall(us > _) => us
        }
        if (c.isEmpty) None else Some(c.min)
      }
      val t1 = stepMin("signup", None)
      val t2 = if (t1.isEmpty) None else stepMin("click", t1)
      val t3 = if (t2.isEmpty) None else stepMin("purchase", t2)
      (t1, t2, t3)
    }.toMap
    val f = SparkEntry.queries("q_funnel_steps")(spark, sfDir).collect().head
    assert(f.getAs[Long]("n_signup") === perUser.values.count(_._1.nonEmpty).toLong)
    assert(f.getAs[Long]("n_click_after") === perUser.values.count(_._2.nonEmpty).toLong)
    assert(f.getAs[Long]("n_purchase_after") === perUser.values.count(_._3.nonEmpty).toLong)
    assert(f.getAs[Long]("n_signup") >= f.getAs[Long]("n_click_after") &&
      f.getAs[Long]("n_click_after") >= f.getAs[Long]("n_purchase_after"),
      "funnel stages must be monotone non-increasing")
    // Transitions: lag-pair counts and row-stochastic probabilities.
    val pairs = ev.groupBy(_._1).values.flatMap { rs =>
      val types = rs.sortBy(r => (r._4, r._2)).map(_._3).toSeq
      types.zip(types.drop(1))
    }.toSeq.groupBy(x => x).view.mapValues(_.length.toLong).toMap
    val got = SparkEntry.queries("q_transitions")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n"), r.getAs[Double]("p"))).toMap
    assert(got.view.mapValues(_._1).toMap === pairs)
    for ((from, rows) <- got.groupBy(_._1._1)) {
      val mass = rows.values.map(_._2).sum
      assert(math.abs(mass - 1.0) < 1e-3 * rows.size,
        s"transition row $from must be ~stochastic, got $mass")
    }
  }

  test("q_rolling_dau: explode-contributions plan equals a brute-force window scan") {
    val daily = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).distinct
    val days = daily.map(_._2).distinct.sorted
    val expect = days.map { d =>
      d -> (daily.collect { case (u, dd) if dd == d => u }.distinct.length.toLong,
        daily.collect { case (u, dd) if dd >= d - 6 && dd <= d => u }
          .distinct.length.toLong)
    }.toMap
    val got = SparkEntry.queries("q_rolling_dau")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("dau"), r.getAs[Long]("dau7"))).toMap
    assert(got === expect, "rolling distinct actives diverge from the window scan")
    for (d <- days) assert(got(d)._2 >= got(d)._1,
      s"day $d: the 7-day window can never hold fewer actives than the day")
  }

  test("q_pareto: decile masses match a plain-Scala rank-and-cut") {
    val rev = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_totalprice")).collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1) * 100)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      .sortBy { case (ck, c) => (-c, ck) }
    // ntile semantics: first (n mod 10) tiles get the extra row.
    val n = rev.size
    val base = n / 10
    val extra = n % 10
    val sizes = (1 to 10).map(i => base + (if (i <= extra) 1 else 0))
    val cuts = sizes.scanLeft(0)(_ + _)
    val expect = (1 to 10).map { i =>
      val slice = rev.slice(cuts(i - 1), cuts(i))
      i -> (slice.size.toLong, slice.map(_._2).sum)
    }.toMap
    val got = SparkEntry.queries("q_pareto")(spark, sfDir).collect()
      .map(r => r.getInt(0) ->
        (r.getAs[Long]("n_cust"), math.round(r.getAs[Double]("dec_rev") * 100),
          r.getAs[Double]("cum_frac"))).toMap
    assert(got.view.mapValues(v => (v._1, v._2)).toMap === expect)
    val fracs = (1 to 10).map(got(_)._3)
    assert(fracs === fracs.sorted, "cumulative share must be monotone")
    assert(math.abs(fracs.last - 1.0) < 1e-9, "last decile must close at 1.0")
    assert(got(1)._3 > 0.1, "top decile must hold more than its uniform share")
  }

  test("q_skew_audit: distribution stats match a plain-Scala key census") {
    val sizes = Tables.events(spark, sfDir).select(col("user_id")).collect()
      .groupBy(_.getLong(0)).values.map(_.length.toLong).toSeq.sorted
    val r = SparkEntry.queries("q_skew_audit")(spark, sfDir).collect().head
    assert(r.getAs[Long]("n_keys") === sizes.size.toLong)
    assert(r.getAs[Long]("max_n") === sizes.max)
    val mean = sizes.sum.toDouble / sizes.size
    assert(math.abs(r.getAs[Double]("skew_ratio") -
      math.floor(sizes.max / mean * 1e4 + 0.5) / 1e4) < 1e-12)
    assert(r.getAs[Double]("skew_ratio") >= 1.0 - 1e-9,
      "max can never sit below the mean")
    assert(r.getAs[Double]("p50_n") <= r.getAs[Double]("p99_n"))
  }

  test("sketch twins stay within their error bounds vs the exact queries") {
    val byType = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(r => r.getString(0) -> r).toMap
    // percentile_approx (GK sketch) carries a RANK guarantee, not a value
    // guarantee: with accuracy 10000 >> group size the rank error is < 1,
    // so the result must be an order statistic adjacent to the quantile
    // position. A relative-value bound would be wrong — adjacent tail
    // samples at n≈200 sit up to 36% apart in this data.
    val approxP = byType(SparkEntry.queries("q_percentiles_approx")(spark, sfDir))
    val grouped = Tables.events(spark, sfDir)
      .select(col("event_type"), col("value")).collect()
      .groupBy(_.getString(0))
      .map { case (k, rs) => k -> rs.map(_.getDouble(1)).sorted }
    assert(approxP.keySet === grouped.keySet)
    for (k <- approxP.keySet; (c, p) <- Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99)) {
      val v = grouped(k)
      val pos = p * (v.length - 1)
      val window = v.slice(math.max(0, pos.toInt - 1),
        math.min(v.length, math.ceil(pos).toInt + 2))
        .map(x => math.floor(x * 1e4 + 0.5) / 1e4) // the query rounds to 4
      val a = approxP(k).getAs[Double](c)
      assert(window.exists(w => math.abs(w - a) < 1e-9),
        s"percentile_approx $k.$c=$a not an order statistic adjacent to " +
          s"rank ${pos} (window: ${window.mkString(",")})")
    }
    // approx_count_distinct at rsd=0.02: assert 10% relative — 5 sigma,
    // no flake risk, still tight enough to catch a wrong-column regression.
    val exactC = byType(SparkEntry.queries("q_count_distinct")(spark, sfDir))
    val approxC = byType(SparkEntry.queries("q_count_distinct_approx")(spark, sfDir))
    assert(exactC.keySet === approxC.keySet)
    for (k <- exactC.keySet) {
      val e = exactC(k).getAs[Long]("n_cust").toDouble
      val a = approxC(k).getAs[Long]("n_cust_approx").toDouble
      assert(math.abs(a - e) <= e * 0.10,
        s"approx_count_distinct $k: approx=$a exact=$e")
      assert(exactC(k).getAs[Long]("n_orders") === approxC(k).getAs[Long]("n_orders"))
    }
  }

  test("q_rolling_dau_approx tracks the exact rolling DAU within HLL error") {
    // DataSketches HLL at the default lgConfigK=12 has rsd ≈ 1.6%; assert
    // 10% per day (>5 sigma — no flake risk, catches a wrong-column or
    // wrong-window regression immediately). Day alignment must be exact:
    // the sketch twin may approximate counts, never the calendar.
    val byDay = (q: String) => SparkEntry.queries(q)(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.get(1).toString.toDouble, r.get(2).toString.toDouble))
      .toMap
    val exact = byDay("q_rolling_dau")
    val approx = byDay("q_rolling_dau_approx")
    assert(approx.keySet === exact.keySet, "sketch twin dropped/invented days")
    for ((day, (dau, dau7)) <- exact) {
      val (da, d7a) = approx(day)
      assert(math.abs(da - dau) <= dau * 0.10, s"day $day: dau approx=$da exact=$dau")
      assert(math.abs(d7a - dau7) <= dau7 * 0.10, s"day $day: dau7 approx=$d7a exact=$dau7")
      assert(d7a >= da * 0.90, s"day $day: a 7-day union cannot fall below its own day")
    }
  }

  test("Prefix.withCumSum matches the single-window cumsum on generated extreme domains") {
    // The primitive must hold wherever a caller points it: clumped keys,
    // a handful of rows, single-bucket degenerate domains, and key spans
    // wide enough (±2⁶²) that the naive (c−lo)·buckets bucket expression
    // would overflow a long — the width-division form must not.
    import spark.implicits._
    val rowGen = for {
      n  <- Gen.choose(1, 80)
      ks <- Gen.listOfN(n, extremeKeys)
      vs <- Gen.listOfN(n, Gen.choose(-50L, 50L))
    } yield ks.zip(vs)
    check(Prop.forAll(rowGen) { rows =>
      val df = rows.zipWithIndex
        .map { case ((k, v), i) => (k, i.toLong, v) }.toDF("k", "tie", "v")
      val w = org.apache.spark.sql.expressions.Window.orderBy("k", "tie")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val expect = df.withColumn("cum", sum("v").over(w))
        .orderBy("k", "tie").collect().toSeq
      val got = graft.ops.Prefix.withCumSum(df, "k", Seq("tie"), "v", "cum")
        .orderBy("k", "tie").collect().toSeq
      got == expect
    })
  }

  test("Prefix.withCumSums: one fused rank + cumsum pass equals the chained passes on generated extreme domains") {
    // q_changepoint and q_vocab_coverage ask one pass for a rank (the
    // running sum of 1) and a running sum over the same order; it must
    // give what the chained withGlobalRank → withCumSum gave, and what
    // the single-window row_number / sum give, ascending and descending,
    // on the same hostile domains (ties carried by the tiebreaker, one
    // bucket, ±2⁶² spans). With `groups` (q_rfm_segments, q_trending)
    // the reference windows are PARTITION BY g, a null g included.
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val groupGen = Gen.frequency(
      1 -> Gen.const(Option.empty[Int]), 4 -> Gen.choose(0, 2).map(Option(_)))
    val rowGen = for {
      n  <- Gen.choose(1, 80)
      ks <- Gen.listOfN(n, extremeKeys)
      vs <- Gen.listOfN(n, Gen.choose(-50L, 50L))
      gs <- Gen.listOfN(n, groupGen)
      desc <- Gen.oneOf(false, true)
      grouped <- Gen.oneOf(false, true)
    } yield (ks.zip(vs).zip(gs), desc, grouped)
    check(Prop.forAll(rowGen) { case (rows, descending, grouped) =>
      val df = rows.zipWithIndex
        .map { case (((k, v), g), i) => (g, k, i.toLong, v) }
        .toDF("g", "k", "tie", "v")
      val groups = if (grouped) Seq("g") else Nil
      val keyOrder = if (descending) col("k").desc else col("k").asc
      val w = Window.partitionBy(groups.map(col): _*)
        .orderBy(keyOrder, col("tie").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val expect = df
        .withColumn("r", row_number().over(w).cast("long"))
        .withColumn("cum", sum("v").over(w))
        .orderBy("k", "tie").collect().toSeq
      val fused = graft.ops.Prefix.withCumSums(df, "k", Seq("tie"),
          Seq("r" -> lit(1L), "cum" -> col("v")), descending = descending,
          groups = groups)
        .orderBy("k", "tie").collect().toSeq
      lazy val chained = graft.ops.Prefix.withCumSum(
          Rank.withGlobalRank(df, "k", Seq("tie"), "r",
            descending = descending),
          "r", Nil, "v", "cum")
        .orderBy("k", "tie").collect().toSeq
      fused == expect && (grouped || fused == chained)
    })
  }

  test("Prefix.selectAt picks the smallest value whose running weight reaches each target, per group") {
    // The definitional pick, in plain Scala: per group, the smallest
    // value v whose cumulative weight (all rows ≤ v) is ≥ t, with
    // t = ⌈p_bp·W/10⁴⌉ of the group's total weight W; no row where
    // t ≤ 0 or t > W. Weights 0..5 (zeros never answer), unit weights
    // (the row_number pick), ties, one-bucket and ±2⁶² key spans, with
    // and without groups.
    import spark.implicits._
    val rowGen = for {
      n  <- Gen.choose(1, 80)
      ks <- Gen.listOfN(n, extremeKeys)
      ws <- Gen.listOfN(n, Gen.choose(0L, 5L))
      gs <- Gen.listOfN(n, Gen.choose(0, 2))
      pRand <- Gen.choose(0L, 10000L)
      weighted <- Gen.oneOf(false, true)
      grouped <- Gen.oneOf(false, true)
    } yield (gs.zip(ks).zip(ws).map { case ((g, k), w) => (g, k, w) },
      Seq(0L, 1L, 2500L, 5000L, 9999L, 10000L, 10001L, pRand).distinct,
      weighted, grouped)
    check(Prop.forAll(rowGen) { case (rows, pBps, weighted, grouped) =>
      val got = graft.ops.Prefix.selectAt(rows.toDF("g", "k", "w"), "k",
          pBps.toDF("p_bp"),
          tw => call_function("div", col("p_bp") * tw + lit(9999L),
            lit(10000L)),
          weight = if (weighted) Some(col("w")) else None,
          groups = if (grouped) Seq("g") else Nil)
        .select((if (grouped) col("g") else lit(-1)).as("g"), col("p_bp"),
          col("t"), col("k"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      val byGroup = if (grouped) rows.groupBy(_._1) else Map(-1 -> rows)
      val expect = (for {
        (g, rs) <- byGroup.toSeq
        kw = rs.map { case (_, k, w) => (k, if (weighted) w else 1L) }
        total = kw.map(_._2).sum
        p <- pBps
        t = (p * total + 9999L) / 10000L
        if t > 0 && t <= total
        v <- kw.map(_._1).distinct.sorted
          .find(v => kw.filter(_._1 <= v).map(_._2).sum >= t)
      } yield (g, p, t, v)).toSet
      got == expect
    })
  }
}
