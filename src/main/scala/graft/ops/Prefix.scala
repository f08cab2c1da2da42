package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed prefix (running) sums, ranks and order statistics — the
  * bucket → tiny-offsets → local-pass decomposition that replaces a
  * single-reducer `sum(...) OVER (ORDER BY …)` over a data-sized input.
  * Every distributed rank, running sum, ntile cut and order statistic in
  * the registry goes through this object; [[Rank.withGlobalRank]] is its
  * running count.
  *
  * `SUM(v) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)` with no PARTITION
  * BY drags every row through one task — fine at test scale, fatal at
  * 100 TB. The classic two-phase decomposition (the prefix-sum primitive
  * of the MapReduce algorithms survey, PAPERS.md):
  *
  *  1. broadcast the (lo, hi) bounds of the order column and derive an
  *     ORDER-PRESERVING range bucket by integer division — linear in the
  *     value, so a larger key never lands in an earlier bucket and equal
  *     keys share a bucket (composite order therefore never straddles a
  *     bucket boundary out of order);
  *  2. per-bucket totals collapse to ≤ 64 rows whose exclusive running
  *     sum — the ONLY single-partition window, constant-size by
  *     construction — gives each bucket's global offset;
  *  3. the rows shuffle ONCE on the bucket key, cumulate locally inside
  *     their own partition, and add the broadcast offset.
  *
  * `groups` runs the same pass once per group: the bounds aggregate
  * groups by them and joins back by key (null-safe, so a null key is its
  * own group, as under `PARTITION BY`), the offsets window partitions by
  * them and the local window by (groups, bucket). No window is then
  * unpartitioned and nothing depends on the largest group's size.
  *
  * [[selectAt]] is the selection form of the same pass: per-bucket
  * weights and offsets locate the one bucket each target weight lands in,
  * and only those buckets run the local window.
  *
  * Exactness: sums and weights must be integer-typed (long re-aggregation
  * is associative and order-independent), so the result is bit-identical
  * to the single-window form — the oracle twins of callers keep the plain
  * `OVER (ORDER BY …)` SQL. Value-linear buckets inherit the key
  * distribution's shape; a pathologically clumped key domain would
  * range-partition on sampled boundaries instead — same offsets-then-
  * local-pass math from step 2 on.
  */
object Prefix {

  /** Range buckets per group, so the offsets window holds ≤ 64 rows. */
  private val Buckets = 64L

  /** Adds `cumName` = running sum of long column `valueCol` over
    * ascending `(orderCol, tieCols…)` order (rows-unbounded-preceding
    * through current row, ties ordered by the tiebreakers). `orderCol`
    * must be integral and non-null with `max − min` representable as a
    * long (a mixed ±2⁶² domain is fine; a full ±2⁶³ span is not);
    * `df`'s columns must not collide with the `__pfx_` scratch
    * namespace.
    */
  def withCumSum(df: DataFrame, orderCol: String, tieCols: Seq[String],
      valueCol: String, cumName: String): DataFrame =
    withCumSums(df, orderCol, tieCols, Seq(cumName -> col(valueCol)))

  /** Several running sums in ONE bucket → offsets → local pass: adds a
    * column per `(name, value)` of `sums`, the running sum of the
    * integral `value` over `(orderCol, tieCols…)` order within each
    * `groups` key — ascending, or descending on `orderCol` with ascending
    * tiebreakers when `descending = true` (buckets then run on `hi − c`,
    * so the first row lands in bucket 0). One bounds aggregate, one
    * offsets window and one bucket-partitioned local window serve every
    * sum, so chaining a rank into a cumsum over the same order costs one
    * pass instead of two. A rank is the running sum of `lit(1L)`: under
    * the ROWS frame it counts the rows up to and including the current
    * one, the exact `row_number` of a total order.
    *
    * `totals` are per-group aggregates (`count(lit(1)).as("n")`, …)
    * computed in the same bounds aggregate and added to every row, so a
    * caller that also needs a grand total pays no extra probe. Same
    * domain contract as [[withCumSum]].
    */
  def withCumSums(df: DataFrame, orderCol: String, tieCols: Seq[String],
      sums: Seq[(String, Column)], totals: Seq[Column] = Nil,
      descending: Boolean = false, groups: Seq[String] = Nil): DataFrame = {
    val (bounds, bucketed) = bucketize(df, orderCol, groups, totals, descending)
    val keys = groups :+ "__pfx_b"
    val idx = sums.indices
    val bucketSums = idx.map(i => sum(sums(i)._2).as(s"__pfx_bs$i"))
    // The offsets rows also group by the totals (constant within a
    // group), so both branches read the same bound columns: pruned to
    // (lo, hi) here, the bounds aggregate would differ from the rows
    // branch's and AQE could not reuse its exchange.
    val totalCols = bounds.columns.drop(groups.size + 2).toSeq
    val offsets = bucketed.groupBy((keys ++ totalCols).map(col): _*)
      .agg(bucketSums.head, bucketSums.tail: _*)
      .select(keys.map(col) ++ idx.map(i => coalesce(
        sum(s"__pfx_bs$i").over(offsetW(groups)), lit(0L)).as(s"__pfx_off$i")): _*)
    val localOrder =
      (if (descending) desc(orderCol) else asc(orderCol)) +: tieCols.map(asc)
    val localW = Window.partitionBy(keys.map(col): _*).orderBy(localOrder: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    joinOn(bucketed, offsets, keys)
      .select(col("*") +: idx.map(i => (col(s"__pfx_off$i") +
        sum(sums(i)._2).over(localW)).as(sums(i)._1)): _*)
      .drop(("__pfx_b" +: idx.map(i => s"__pfx_off$i")): _*)
  }

  /** Order statistics by distributed selection: for every row of
    * `targets` (and every `groups` key), the smallest `orderCol` whose
    * running weight over ascending `orderCol` reaches
    * `target(total weight)`. `target` is a long expression over the
    * group's total weight and the targets' own columns, e.g. the type-1
    * rank ⌈p·n⌉. Returns `groups`, the targets' columns, `t` (the target
    * weight) and `orderCol` (the answer); a target ≤ 0 or above the total
    * has no answer and no row.
    *
    * `weight` is a non-negative long column; without one every row
    * weighs 1 and the answer is the row at rank `t`, picked by a
    * bucket-local `row_number`. The total weight is the sum of the
    * per-bucket weights, so the bounds aggregate stays (min, max) and
    * every branch reuses its exchange; the target lands in exactly one
    * bucket through the offsets, and only those hit buckets run the local
    * window. The answer is the row where the ROWS-frame running weight
    * crosses the target (`cum ≥ t` and `cum − w < t`): with weights ≥ 0
    * exactly one row does, its value is deterministic even where ties
    * make the row arbitrary, and zero-weight rows never cross. Same
    * domain contract as [[withCumSum]].
    */
  def selectAt(df: DataFrame, orderCol: String, targets: DataFrame,
      target: Column => Column, weight: Option[Column] = None,
      groups: Seq[String] = Nil): DataFrame = {
    val keys = groups :+ "__pfx_b"
    val v = df.select(groups.map(col) :+ col(orderCol) :+
      weight.getOrElse(lit(1L)).as("__pfx_w"): _*)
    val (_, bucketed) = bucketize(v, orderCol, groups, Nil, descending = false)
    // The total weight is the sum of the bucket weights, read off the
    // offsets rows: a `sum(weight)` in the bounds aggregate would be
    // pruned into a second bounds aggregate, with its own exchange.
    val offsets = bucketed.groupBy(keys.map(col): _*)
      .agg(sum("__pfx_w").as("__pfx_bw"))
      .withColumn("__pfx_off",
        coalesce(sum("__pfx_bw").over(offsetW(groups)), lit(0L)))
      .withColumn("__pfx_tw",
        sum("__pfx_bw").over(Window.partitionBy(groups.map(col): _*)))
    val hit = targets.crossJoin(broadcast(offsets))
      .withColumn("t", target(col("__pfx_tw")))
      .filter(col("t") > col("__pfx_off") &&
        col("t") <= col("__pfx_off") + col("__pfx_bw"))
      .select(keys.map(col) ++ targets.columns.map(col) :+ col("t") :+
        (col("t") - col("__pfx_off")).as("__pfx_lt"): _*)
    val localW = Window.partitionBy(keys.map(col): _*).orderBy(asc(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val running = weight.fold(row_number().over(localW).cast("long"))(
      _ => sum("__pfx_w").over(localW))
    val local = joinOn(bucketed,
        hit.select(keys.map(col): _*).distinct(), keys, "left_semi")
      .withColumn("__pfx_cum", running)
    joinOn(local, hit, keys)
      .filter(col("__pfx_cum") >= col("__pfx_lt") &&
        col("__pfx_cum") - col("__pfx_w") < col("__pfx_lt"))
      .select(groups.map(col) ++ targets.columns.map(col) :+ col("t") :+
        col(orderCol): _*)
  }

  /** Adds `cumName` = running MIN of long column `valueCol` over ascending
    * `(orderCol, tieCols…)` order — the min-monoid twin of [[withCumSum]]
    * (same bucket → tiny-offsets → local-pass decomposition; min is
    * associative and idempotent, so the split is exact). With
    * `inclusive = false` the frame is rows-unbounded-preceding through the
    * PREVIOUS row — the "best value strictly before me" shape dominance /
    * skyline scans need — and rows with no predecessor get NULL (min has
    * no identity element in long; callers fold the null as "nothing
    * before me"). Same domain contract as [[withCumSum]].
    */
  def withCumMin(df: DataFrame, orderCol: String, tieCols: Seq[String],
      valueCol: String, cumName: String,
      inclusive: Boolean = true): DataFrame = {
    val (_, bucketed) = bucketize(df, orderCol, Nil, Nil, descending = false)
    // exclusive per-bucket offsets: min over STRICTLY EARLIER buckets —
    // NULL for the first bucket (no identity), folded null-safely below.
    val offsets = bucketed.groupBy("__pfx_b")
      .agg(min(valueCol).as("__pfx_bm"))
      .select(col("__pfx_b"), min("__pfx_bm").over(offsetW(Nil)).as("__pfx_off"))
    val localEnd = if (inclusive) Window.currentRow else -1L
    val localW = Window.partitionBy("__pfx_b")
      .orderBy((orderCol +: tieCols).map(asc): _*)
      .rowsBetween(Window.unboundedPreceding, localEnd)
    val localMin = min(valueCol).over(localW)
    joinOn(bucketed, offsets, Seq("__pfx_b"))
      .withColumn(cumName,
        when(col("__pfx_off").isNull, localMin)
          .when(localMin.isNull, col("__pfx_off"))
          .otherwise(least(localMin, col("__pfx_off"))))
      .drop("__pfx_b", "__pfx_off")
  }

  /** Step 1 for every op: the per-group bounds aggregate (`__pfx_lo`,
    * `__pfx_hi`, then `totals`) and `df` joined to it by group, with the
    * totals kept and the order-preserving bucket in `__pfx_b`.
    */
  private def bucketize(df: DataFrame, orderCol: String, groups: Seq[String],
      totals: Seq[Column], descending: Boolean): (DataFrame, DataFrame) = {
    val bounds = df.groupBy(groups.map(col): _*).agg(
      min(orderCol).cast("long").as("__pfx_lo"),
      (max(orderCol).cast("long").as("__pfx_hi") +: totals): _*)
    // Integer div — no float boundary. Divide by a precomputed width
    // instead of multiplying by the bucket count: (c − lo) · 64 overflows
    // a long once the key span exceeds 2⁶³/64 (epoch-nanos keys cross
    // that); width = (hi − lo) div 64 + 1 keeps every intermediate within
    // the span itself and still lands b in [0, 64): monotone in c, equal
    // keys share a bucket.
    val width = call_function("div",
      col("__pfx_hi") - col("__pfx_lo"), lit(Buckets)) + lit(1L)
    val pos =
      if (descending) col("__pfx_hi") - col(orderCol).cast("long")
      else col(orderCol).cast("long") - col("__pfx_lo")
    val bucketed = joinOn(df, bounds, groups)
      .withColumn("__pfx_b", call_function("div", pos, width))
      .drop("__pfx_lo", "__pfx_hi")
    (bounds, bucketed)
  }

  /** Step 2's exclusive running window over the bucket rows of a group. */
  private def offsetW(groups: Seq[String]) =
    Window.partitionBy(groups.map(col): _*).orderBy(asc("__pfx_b"))
      .rowsBetween(Window.unboundedPreceding, -1)

  /** `left` joined (`how`) to the broadcast `right` on the null-safe
    * equality of `keys`, keeping `left`'s column order and dropping
    * `right`'s copies of the keys; an inner join on no keys is a broadcast
    * cross join.
    */
  private def joinOn(left: DataFrame, right: DataFrame, keys: Seq[String],
      how: String = "inner"): DataFrame =
    if (keys.isEmpty && how == "inner") left.crossJoin(broadcast(right))
    else {
      val r = keys.foldLeft(right)((d, k) =>
        d.withColumnRenamed(k, s"__pfx_key_$k"))
      left.join(broadcast(r),
          keys.map(k => col(k) <=> col(s"__pfx_key_$k")).reduce(_ && _), how)
        .drop(keys.map(k => s"__pfx_key_$k"): _*)
    }
}
