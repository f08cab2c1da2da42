package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.ArrayType

import graft.plans.{PrefixFold, PrefixOffsets}

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
  * of the MapReduce algorithms survey, PAPERS.md), with steps 1-2 run as
  * the two driver jobs of one physical operator
  * ([[graft.plans.PrefixOffsets]], planned by the strategy
  * `GraftExtensions` injects):
  *
  *  1. the per-group (lo, hi) bounds of the order column (and any
  *     totals) give an ORDER-PRESERVING range bucket by integer division
  *     — linear in the value, so a larger key never lands in an earlier
  *     bucket and equal keys share a bucket (composite order therefore
  *     never straddles a bucket boundary out of order);
  *  2. per-bucket sums collapse to ≤ 64 rows a group on the driver, whose
  *     exclusive running sum gives each bucket's offset; the operator
  *     appends bucket, offsets and totals to every row;
  *  3. the rows shuffle ONCE on the bucket key, cumulate locally inside
  *     their own partition (Spark's own `Window`), and add the offset.
  *
  * The operator reads its input three times (both jobs, then the rows),
  * as the three branches of a bounds → offsets → join plan would: the
  * input must be deterministic.
  *
  * `groups` runs the same pass once per group: bounds and offsets are
  * kept per group key (null-safe, so a null key is its own group, as
  * under `PARTITION BY`), and the local window partitions by (groups,
  * bucket). No window is then unpartitioned and nothing depends on the
  * largest group's size.
  *
  * [[selectAt]] is the selection form of the same pass: each bucket's
  * weight range (offset, offset + weight] locates the one bucket each
  * target weight lands in, and only those buckets run the local window.
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
    * so the first row lands in bucket 0). One offsets operator and one
    * bucket-partitioned local window serve every sum, so chaining a rank
    * into a cumsum over the same order costs one pass instead of two. A
    * rank is the running sum of `lit(1L)`: under the ROWS frame it counts
    * the rows up to and including the current one, the exact
    * `row_number` of a total order.
    *
    * `totals` are per-group sums of integral values (`"n" -> lit(1L)` is
    * the row count), computed in the operator's bounds job and added to
    * every row under their names, so a caller that also needs a grand
    * total pays no extra probe. Same domain contract as [[withCumSum]].
    */
  def withCumSums(df: DataFrame, orderCol: String, tieCols: Seq[String],
      sums: Seq[(String, Column)], totals: Seq[(String, Column)] = Nil,
      descending: Boolean = false, groups: Seq[String] = Nil): DataFrame = {
    val idx = sums.indices
    val offs = idx.map(i => s"__pfx_off$i")
    val localOrder =
      (if (descending) desc(orderCol) else asc(orderCol)) +: tieCols.map(asc)
    val localW = Window.partitionBy((groups :+ "__pfx_b").map(col): _*)
      .orderBy(localOrder: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    offsets(df, orderCol, groups, descending,
        idx.map(i => (offs(i), PrefixFold.SumBefore, sums(i)._2)) ++
          totals.map { case (name, v) => (name, PrefixFold.Total, v) })
      .select(col("*") +: idx.map(i => (col(offs(i)) +
        sum(sums(i)._2).over(localW)).as(sums(i)._1)): _*)
      .drop(("__pfx_b" +: offs): _*)
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
    * `targets` is a short list: it is collected when the selection is
    * built (a local `Seq(…).toDF` runs no job) and rides every row as a
    * literal array, so no join, broadcast or exchange serves it.
    *
    * `weight` is a non-negative long column; without one every row
    * weighs 1 and the answer is the row at rank `t`, picked by a
    * bucket-local `row_number`. The offsets operator gives every row its
    * bucket's weight range (`__pfx_off`, `__pfx_end`] and the group's
    * total; a target lands in exactly one bucket's range, and only the
    * rows of those hit buckets shuffle into the local window, once per
    * target that hits them. The answer is the row where the ROWS-frame
    * running weight crosses the target (`cum ≥ t` and `cum − w < t`):
    * with weights ≥ 0 exactly one row does, its value is deterministic
    * even where ties make the row arbitrary, and zero-weight rows never
    * cross. Same domain contract as [[withCumSum]].
    */
  def selectAt(df: DataFrame, orderCol: String, targets: DataFrame,
      target: Column => Column, weight: Option[Column] = None,
      groups: Seq[String] = Nil): DataFrame = {
    val (w, t, cum) = (col("__pfx_w"), col("__pfx_t"), col("__pfx_cum"))
    val v = df.select(groups.map(col) :+ col(orderCol) :+
      weight.getOrElse(lit(1L)).as("__pfx_w"): _*)
    val targetRows = array(targets.collect().toSeq.map(r =>
        struct(r.toSeq.map(lit): _*)): _*)
      .cast(ArrayType(targets.schema))
    val localW = Window.partitionBy(
        (groups :+ "__pfx_b" :+ "__pfx_tpos").map(col): _*)
      .orderBy(asc(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val running = weight.fold(row_number().over(localW).cast("long"))(
      _ => sum(w).over(localW))
    offsets(v, orderCol, groups, descending = false, Seq(
        ("__pfx_off", PrefixFold.SumBefore, w),
        ("__pfx_end", PrefixFold.SumThrough, w),
        ("__pfx_tw", PrefixFold.Total, w)))
      .select(col("*"), posexplode(targetRows).as(Seq("__pfx_tpos", "__pfx_tg")))
      .select(col("*") +: targets.columns.toSeq.map(c =>
        col("__pfx_tg").getField(c).as(c)): _*)
      .withColumn("__pfx_t", target(col("__pfx_tw")))
      .filter(t > col("__pfx_off") && t <= col("__pfx_end"))
      .withColumn("__pfx_cum", col("__pfx_off") + running)
      .filter(cum >= t && cum - w < t)
      .select(groups.map(col) ++ targets.columns.map(col) :+ t.as("t") :+
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
    val localEnd = if (inclusive) Window.currentRow else -1L
    val localW = Window.partitionBy("__pfx_b")
      .orderBy((orderCol +: tieCols).map(asc): _*)
      .rowsBetween(Window.unboundedPreceding, localEnd)
    val localMin = min(valueCol).over(localW)
    // The offset is the min over STRICTLY EARLIER buckets — NULL for the
    // first bucket (no identity), folded null-safely.
    offsets(df, orderCol, Nil, descending = false,
        Seq(("__pfx_off", PrefixFold.MinBefore, col(valueCol))))
      .withColumn(cumName,
        when(col("__pfx_off").isNull, localMin)
          .when(localMin.isNull, col("__pfx_off"))
          .otherwise(least(localMin, col("__pfx_off"))))
      .drop("__pfx_b", "__pfx_off")
  }

  /** Steps 1-2 for every op: `df` with `__pfx_b` and one long column per
    * `(name, fold, value)` appended by the [[PrefixOffsets]] operator,
    * over `orderCol` (cast to long) within each `groups` key.
    */
  private def offsets(df: DataFrame, orderCol: String, groups: Seq[String],
      descending: Boolean,
      folds: Seq[(String, PrefixFold, Column)]): DataFrame = {
    // Resolve the order, group and value columns against df's plan.
    val probe = df.select((col(orderCol).cast("long") +: groups.map(col)) ++
      folds.map(_._3.cast("long")): _*).queryExecution.analyzed
    val (exprs, child) = probe match {
      case Project(list, c) => (list.map {
        case Alias(e, _) => e
        case e => e
      }, c)
      case other => throw new IllegalStateException(
        s"expected a projection over the prefix input, got:\n$other")
    }
    val (keys, values) = exprs.tail.splitAt(groups.size)
    val node = PrefixOffsets.over(child, exprs.head, keys, descending,
      folds.zip(values).map { case ((n, f, _), e) => (n, f, e) })
    // The appended columns leave through aliases, so a self-join of the
    // result renews their ids as it does any projected column's.
    ColumnBridge.ofRows(df.sparkSession, Project(child.output ++
      node.appended.map(a => Alias(a, a.name)()), node))
  }
}
