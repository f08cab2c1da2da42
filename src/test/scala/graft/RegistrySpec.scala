package graft

import graft.queries.Registry

/** Contract invariants the Verify/Bench driver depends on. */
class RegistrySpec extends SparkSpec {

  test("query names are unique") {
    val names = Registry.all.map(_.name)
    assert(names.distinct.size === names.size,
      s"duplicates: ${names.diff(names.distinct).distinct}")
  }

  test("every oracle key has a query") {
    assert(Registry.oracleSql.keySet.subsetOf(Registry.queries.keySet))
  }

  test("SparkEntry exposes the registry") {
    assert(SparkEntry.queries.keySet === Registry.queries.keySet)
    assert(SparkEntry.oracleSql === Registry.oracleSql)
  }

  test("entry returns rows (driver smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs at sf0.001 and returns rows (driver rows>0 contract)") {
    Registry.all.foreach { e =>
      val df = e.q(spark, sfDir)
      assert(df.columns.nonEmpty, s"${e.name} has no columns")
      assert(df.count() > 0, s"${e.name} returned no rows")
    }
  }

  test("unpartitioned windows appear only over provably bounded inputs (registry-wide sweep)") {
    // A window with an empty PARTITION BY funnels its entire input
    // through ONE task — the r8/r9 verdict cycle removed the last two
    // data-sized ones (q_pareto's global ntile, q_pack_sequences'
    // cumsum). This sweep pins the end state: the EXACT set of registry
    // queries carrying an unpartitioned window, each named with the
    // constant bound that makes it safe. A new query that trips this
    // must either partition the window (ops.Prefix / ops.Rank hold the
    // distributed decompositions) or claim its bound here.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val bounded = Map(
      "q_drift_ks" -> "distinct-value ECDF grid (scale path: q_drift_ks_binned)",
      "q_drift_ks_binned" -> "≤ histogram-grid bins by construction",
      "q_pareto" -> "≤ 64 bucket-offset rows (Prefix.withCumSums) + 10 decile rows",
      "q_feature_bins" -> "≤ 64 bucket-offset rows (Prefix.withCumSums)",
      "q_skyline" -> "≤ 64 bucket-offset rows (Prefix.withCumMin)",
      // q_rfm_segments', q_trending's and q_quantile_group's offsets
      // windows partition by their Prefix `groups` (metric, half, event
      // type) — no unpartitioned window remains in any of them
      "q_vocab_coverage" -> "≤ 64 bucket-offset rows",
      "q_gini" -> "≤ 64 bucket-offset rows (Rank.withGlobalRank)",
      "q_changepoint" -> "≤ 64 bucket-offset rows (fused rank + cumsum)",
      "q_pack_sequences" -> "≤ 64 bucket-offset rows",
      "q_resample_ffill" -> "|event types| dictionary rows",
      "q_acf" -> "|days| daily rollup rows (calendar-bounded)",
      "q_rank_test" -> "≤ 64 bucket-offset rows (Prefix.withCumSum)",
      "q_decile_lift" -> "≤ 64 bucket-offset rows + 10 decile rows",
      "q_rolling_corr" -> "|days| daily rollup rows (calendar-bounded)",
      "q_zscore_anomaly" -> "|days| daily rollup rows (calendar-bounded)",
      "q_growth_accounting" -> "|weeks| rollup rows (calendar-bounded)",
      "q_curate_funnel" -> "5 pipeline-stage rows",
      "q_distribution" -> "|event types| share-of-total over aggregate rows",
      "q_histogram" -> "≤ histogram-grid bins (share-of-total)",
      // Rank.firstK numbers a sort+limit prefix; its lit(0) partition
      // key is constant-folded out of partitionSpec, but the input is
      // ≤ k rows by construction (TakeOrderedAndProject first).
      "q_quantile_global" -> "≤ 64 bucket-offset rows (Prefix.selectAt)",
      "q_weighted_quantile" -> "≤ 64 bucket-offset rows (Prefix.selectAt)",
      "q_winsorize" -> "≤ 64 bucket-offset rows (Prefix.selectAt)",
      "q_phrase_search" -> "≤ 2 rows (top-2 query terms)",
      "q_churn_hazard" -> "|months| tenure rows (calendar-bounded)",
      // q_eval_ranking's popularity-rank window moved into the staged
      // LOO model build (r13, eagerly pinned before the inspected plan);
      // q_rec_coverage keeps its in-query exposure-rank window, the
      // popularity side now reads the same staged model.
      "q_rec_coverage" -> "≤ 64 bucket-offset rows (Prefix.withCumSum)",
      "q_bpe_pairs" -> "≤ 20 rows (Rank.firstK)",
      "q_pagination" -> "≤ 70 rows (Rank.firstK)",
      "q_rank_decay" -> "≤ 20 rows (Rank.firstK)",
      "q_union_hybrid" -> "≤ 7 + ≤ 3 rows (Rank.firstK per arm)")
    val actual = Registry.all.flatMap { e =>
      val unpart = e.q(spark, sfDir).queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      if (unpart.nonEmpty) Some(e.name) else None
    }.toSet
    val undeclared = actual -- bounded.keySet
    assert(undeclared.isEmpty,
      s"unpartitioned window(s) over a possibly data-sized input in: " +
        s"${undeclared.toSeq.sorted.mkString(", ")} — partition them " +
        "(ops.Prefix/ops.Rank) or declare the constant bound in this sweep")
    val stale = bounded.keySet -- actual
    assert(stale.isEmpty,
      s"whitelist entries no longer carrying an unpartitioned window " +
        s"(drop them): ${stale.toSeq.sorted.mkString(", ")}")
  }

  test("no query returns a column type the driver's hash compare can't sort") {
    // The driver sorts every output column with pandas before hashing —
    // array/map/struct cells raise TypeError there (round-3 lesson:
    // ml_feature_pipeline). Only atomic types may reach Verify output.
    import org.apache.spark.sql.types._
    Registry.all.foreach { e =>
      e.q(spark, sfDir).schema.fields.foreach { f =>
        assert(
          !f.dataType.isInstanceOf[ArrayType] &&
            !f.dataType.isInstanceOf[MapType] &&
            !f.dataType.isInstanceOf[StructType],
          s"${e.name}.${f.name} is ${f.dataType.simpleString} — unhashable by the driver")
      }
    }
  }
}
