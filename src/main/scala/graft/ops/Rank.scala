package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Global "first k rows with positions" without a whole-dataset window.
  *
  * `row_number() OVER (ORDER BY …)` with no PARTITION BY drags every row
  * into a single partition — fine at test scale, fatal at 100 TB. The
  * scale-safe plan for any bounded page / top-k is: sort+limit FIRST (Spark
  * compiles it to TakeOrderedAndProject — per-partition top-k, then only
  * k·partitions rows reach one reducer), and number the ≤ k surviving rows
  * afterwards. The window below therefore runs on a bounded prefix: its
  * single partition holds k rows by construction, not the dataset.
  * (The constant partition key keeps the intent explicit and silences
  * Spark's single-partition WindowExec warning.)
  */
object Rank {

  /** Rows 1..k of `df` under `order`, with their global positions in `rn`. */
  def firstK(df: DataFrame, k: Int, order: Column*): DataFrame =
    df.orderBy(order: _*).limit(k)
      .withColumn("rn",
        row_number().over(Window.partitionBy(lit(0)).orderBy(order: _*)))

  /** Adds `rankName` = the EXACT 1-based global rank of every row under
    * `(orderCol, tieCols…)` — ascending, or descending on `orderCol` with
    * ascending tiebreakers when `descending = true` — without a global
    * sort: the `q_pareto` distributed-selection template as a library
    * primitive. A rank is the running count, so this is
    * [[graft.ops.Prefix.withCumSums]] over `lit(1L)` (order-preserving
    * ≤64-way range bucket, ≤64 offsets rows a group on the driver,
    * bucket-partitioned local pass); a caller that also needs a running sum over the same
    * order should ask `withCumSums` for both at once.
    * `orderCol` must be integral non-null with a long-representable span;
    * `df`'s columns must avoid the `__pfx_` scratch namespace.
    */
  def withGlobalRank(df: DataFrame, orderCol: String, tieCols: Seq[String],
      rankName: String, descending: Boolean = false): DataFrame =
    Prefix.withCumSums(df, orderCol, tieCols, Seq(rankName -> lit(1L)),
      descending = descending)

  /** ntile's fill rule applied to an exact global rank: with `n` total
    * rows, the first `n mod tiles` tiles hold `n div tiles + 1` rows.
    * Integer arithmetic only — bit-identical to the engine-native
    * `ntile(tiles) OVER (ORDER BY …)` on the same total order.
    */
  def ntileFromRank(rank: Column, n: Column, tiles: Long): Column = {
    val base = call_function("div", n, lit(tiles))
    val rem = n % lit(tiles)
    val head = (base + lit(1L)) * rem
    when(rank <= head,
      call_function("div", rank - 1, base + lit(1L)) + lit(1L))
      .otherwise(rem + call_function("div", rank - head - 1, base) + lit(1L))
      .cast("int")
  }
}
