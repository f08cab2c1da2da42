package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed prefix (running) sum — the bucket → tiny-offsets →
  * local-pass decomposition that replaces a single-reducer
  * `sum(...) OVER (ORDER BY …)` over a data-sized input.
  *
  * `SUM(v) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)` with no PARTITION
  * BY drags every row through one task — fine at test scale, fatal at
  * 100 TB. The classic two-phase decomposition (the `q_pareto`
  * distributed-rank template, PLANS_r09.md, with `sum` in place of
  * `count`):
  *
  *  1. broadcast the (lo, hi) bounds of the order column and derive an
  *     ORDER-PRESERVING range bucket by integer division — linear in the
  *     value, so a larger key never lands in an earlier bucket and equal
  *     keys share a bucket (composite order therefore never straddles a
  *     bucket boundary out of order);
  *  2. per-bucket totals collapse to ≤ `buckets` rows whose exclusive
  *     running sum — the ONLY single-partition window, constant-size by
  *     construction — gives each bucket's global offset;
  *  3. the rows shuffle ONCE on the bucket key, cumulate locally inside
  *     their own partition, and add the broadcast offset.
  *
  * Exactness: the value column must be integer-typed (long re-aggregation
  * is associative and order-independent), so the result is bit-identical
  * to the single-window form — the oracle twins of callers keep the plain
  * `OVER (ORDER BY …)` SQL. Value-linear buckets inherit the key
  * distribution's shape; a pathologically clumped key domain would
  * range-partition on sampled boundaries instead — same offsets-then-
  * local-pass math from step 2 on.
  */
object Prefix {

  /** Adds `cumName` = running sum of long column `valueCol` over
    * ascending `(orderCol, tieCols…)` order (rows-unbounded-preceding
    * through current row, ties ordered by the tiebreakers). `orderCol`
    * must be integral and non-null with `max − min` representable as a
    * long (a mixed ±2⁶² domain is fine; a full ±2⁶³ span is not);
    * `df`'s columns must not collide with the `__pfx_` scratch
    * namespace.
    */
  def withCumSum(df: DataFrame, orderCol: String, tieCols: Seq[String],
      valueCol: String, cumName: String, buckets: Long = 64L): DataFrame =
    withCumSums(df, orderCol, tieCols, Seq(cumName -> col(valueCol)),
      buckets = buckets)

  /** Several running sums in ONE bucket → offsets → local pass: adds a
    * column per `(name, value)` of `sums`, the running sum of the
    * integral `value` over `(orderCol, tieCols…)` order — ascending, or
    * descending on `orderCol` with ascending tiebreakers when
    * `descending = true` (buckets then run on `hi − c`, so the first row
    * lands in bucket 0). One bounds aggregate, one ≤`buckets`-row
    * offsets window and one bucket-partitioned local window serve every
    * sum, so chaining a rank into a cumsum over the same order costs one
    * pass instead of two. A rank is the running sum of `lit(1L)`: under
    * the ROWS frame it counts the rows up to and including the current
    * one, the exact `row_number` of a total order.
    *
    * `totals` are whole-input aggregates (`count(lit(1)).as("n")`, …)
    * computed in the same bounds aggregate and added to every row, so a
    * caller that also needs a grand total pays no extra probe. Same
    * domain contract as [[withCumSum]].
    */
  def withCumSums(df: DataFrame, orderCol: String, tieCols: Seq[String],
      sums: Seq[(String, Column)], totals: Seq[Column] = Nil,
      buckets: Long = 64L, descending: Boolean = false): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val bounds = df.agg(
      min(orderCol).cast("long").as("__pfx_lo"),
      (max(orderCol).cast("long").as("__pfx_hi") +: totals): _*)
    // step 1: order-preserving bucket (integer div — no float boundary).
    // Divide by a precomputed width instead of multiplying by the bucket
    // count: (c − lo) · buckets overflows a long once the key span
    // exceeds 2⁶³/buckets (epoch-nanos keys cross that at 64 buckets);
    // width = (hi − lo) div buckets + 1 keeps every intermediate within
    // the span itself and still lands b in [0, buckets): monotone in c,
    // equal keys share a bucket.
    val width = call_function("div",
      col("__pfx_hi") - col("__pfx_lo"), lit(buckets)) + lit(1L)
    val pos =
      if (descending) col("__pfx_hi") - col(orderCol).cast("long")
      else col(orderCol).cast("long") - col("__pfx_lo")
    val bucketed = df.crossJoin(broadcast(bounds))
      .withColumn("__pfx_b", call_function("div", pos, width))
      .drop("__pfx_lo", "__pfx_hi")
    // step 2: exclusive per-bucket offsets over ≤ buckets rows, every
    // sum in the same window.
    val offW = Window.orderBy(asc("__pfx_b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val idx = sums.indices
    val bucketSums = idx.map(i => sum(sums(i)._2).as(s"__pfx_bs$i"))
    val offsets = bucketed.groupBy("__pfx_b")
      .agg(bucketSums.head, bucketSums.tail: _*)
      .select(col("__pfx_b") +: idx.map(i =>
        coalesce(sum(s"__pfx_bs$i").over(offW), lit(0L)).as(s"__pfx_off$i")): _*)
    // step 3: cumulate locally within each bucket's own partition.
    val localOrder =
      (if (descending) desc(orderCol) else asc(orderCol)) +: tieCols.map(asc)
    val localW = Window.partitionBy("__pfx_b").orderBy(localOrder: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed.join(broadcast(offsets), Seq("__pfx_b"))
      .select(col("*") +: idx.map(i => (col(s"__pfx_off$i") +
        sum(sums(i)._2).over(localW)).as(sums(i)._1)): _*)
      .drop(("__pfx_b" +: idx.map(i => s"__pfx_off$i")): _*)
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
      valueCol: String, cumName: String, buckets: Long = 64L,
      inclusive: Boolean = true): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val bounds = df.agg(
      min(orderCol).cast("long").as("__pfx_lo"),
      max(orderCol).cast("long").as("__pfx_hi"))
    val width = call_function("div",
      col("__pfx_hi") - col("__pfx_lo"), lit(buckets)) + lit(1L)
    val bucketed = df.crossJoin(broadcast(bounds))
      .withColumn("__pfx_b", call_function("div",
        col(orderCol).cast("long") - col("__pfx_lo"), width))
      .drop("__pfx_lo", "__pfx_hi")
    // exclusive per-bucket offsets: min over STRICTLY EARLIER buckets —
    // NULL for the first bucket (no identity), folded null-safely below.
    val offW = Window.orderBy(asc("__pfx_b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy("__pfx_b")
      .agg(min(valueCol).as("__pfx_bm"))
      .select(col("__pfx_b"), min("__pfx_bm").over(offW).as("__pfx_off"))
    val localEnd = if (inclusive) Window.currentRow else -1L
    val localW = Window.partitionBy("__pfx_b")
      .orderBy((orderCol +: tieCols).map(asc): _*)
      .rowsBetween(Window.unboundedPreceding, localEnd)
    val localMin = min(valueCol).over(localW)
    bucketed.join(broadcast(offsets), Seq("__pfx_b"))
      .withColumn(cumName,
        when(col("__pfx_off").isNull, localMin)
          .when(localMin.isNull, col("__pfx_off"))
          .otherwise(least(localMin, col("__pfx_off"))))
      .drop("__pfx_b", "__pfx_off")
  }
}
