package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted mergeable EXACT-aggregate state — the ◆ `q_incr_agg`
  * refresh algebra made durable, for aggregates whose merge is NOT
  * idempotent.
  *
  * The reference recomputes its per-user interaction aggregates from the
  * full accumulated history on every refresh (reference:
  * src/streaming_service.py:336); this store keeps the per-customer
  * (count, sum-cents, min, max, last-day) state on disk and ingests only
  * each new batch. The state algebra is the one the ◆ oracle proved
  * lossless: counts/sums add, min/max fold, serving metrics derive from
  * the merged state.
  *
  * Delivery contract — the OTHER corner from [[LatestStore]]: latest-
  * wins is idempotent, so that store blind-appends and shrugs at
  * redelivery; counts and sums double on replay, so each micro-batch's
  * partial state lands in a batchId-KEYED directory with an overwrite
  * write — a redelivered batch rewrites the same bytes to the same path
  * and changes no answer. AggStateSpec proves it by forced replay.
  *
  * Scale shape: each append is one partial+final hash aggregate over
  * the batch only (|batch-keys| output rows); serving merges
  * |keys| × |appends| stored state rows — never raw history — and
  * [[compact]] folds the appends back to one row per key (answer-
  * invariant, rename-swapped). At 100 TB the state table is co-bucketed
  * on the key ([[Bucketed]]) so the serve-side merge is exchange-free.
  *
  * STREAMING DELIVERY: a crash inside `foreachBatch` after this store's
  * write leaves the checkpoint commit unwritten, so the restart
  * REDELIVERS the batch under the same batchId and the overwrite
  * absorbs it (StoreComposeSpec injects exactly this crash). The same
  * holds for [[SnapshotStore.commitAs]] (batchId-keyed overwrite) and
  * [[LatestStore]] (idempotent merge), so one `foreachBatch` may commit
  * to any of them in any order; a non-idempotent side effect in the
  * same `foreachBatch` would double.
  */
class AggStateStore(spark: SparkSession, rootUri: String) {

  private val root = rootUri.stripSuffix("/") + "/cust_state"

  /** Batch → per-customer partial state (the q_incr_agg state columns). */
  def partialState(orders: DataFrame): DataFrame =
    orders.select(col("o_custkey"),
        expr("unix_micros(o_orderdate) div 86400000000").as("day"),
        graft.ops.Num.cents(col("o_totalprice")).as("cents"))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
        min("cents").as("min_cents"), max("cents").as("max_cents"),
        max("day").as("last_day"))

  /** Ingest one batch exactly-once: the partial state overwrites this
    * batch id's own directory, so at-least-once redelivery converges.
    */
  def appendBatch(orders: DataFrame, batchId: Long): Unit =
    partialState(orders).write.mode("overwrite")
      .parquet(s"$root/batch=$batchId")

  private def fs = new Path(root).getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  /** Every batch directory's partials, read by their listed paths: read
    * as the glob `batch=*`, Spark's streaming-sink metadata probe takes
    * the glob for a literal path and logs a WARN with a
    * FileNotFoundException stack on every read.
    */
  private def stored: DataFrame =
    spark.read.parquet(fs.listStatus(new Path(root)).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .map(_.getPath.toString).sorted: _*)

  /** One merged state row per key (merge-on-read across appends) —
    * the same null-free fold q_incr_agg's full-outer merge performs,
    * expressed as a grouped aggregate because every stored row already
    * carries the full state shape.
    */
  def mergedState: DataFrame =
    stored.groupBy("o_custkey")
      .agg(sum("n").as("n"), sum("sum_cents").as("sum_cents"),
        min("min_cents").as("min_cents"), max("max_cents").as("max_cents"),
        max("last_day").as("last_day"))

  /** Serving view — column-compatible with ◆ `q_incr_agg` (the spec
    * pins equality against it, which transitively pins it against the
    * DuckDB full recompute).
    */
  def serve(): DataFrame =
    mergedState.select(col("o_custkey"), col("n").as("n_orders"),
        col("sum_cents").as("revenue_cents"), col("min_cents"),
        col("max_cents"), col("last_day"))
      .withColumn("avg_cents",
        call_function("div", col("revenue_cents"), col("n_orders")))
      .orderBy("o_custkey")

  /** Continuous ingestion — one [[appendBatch]] per micro-batch, keyed
    * by the sink's own batchId so checkpoint-replayed batches rewrite
    * rather than double-count.
    */
  def appendStream(orders: DataFrame, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    orders.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .foreachBatch((batch: DataFrame, id: Long) => appendBatch(batch, id))
      .start()

  /** Fold all appended partials into a single snapshot directory and
    * drop the per-batch ones — answers are invariant (the merge is
    * associative); only the stored row count changes. Staged write +
    * rename swap so a crash leaves either the old or the new layout.
    */
  def compact(): Unit = {
    val staging = new Path(root + ".compacting")
    fs.delete(staging, true)
    mergedState.write.mode("overwrite").parquet(staging.toString)
    fs.delete(new Path(root), true)
    fs.mkdirs(new Path(root))
    fs.rename(staging, new Path(s"$root/batch=snapshot"))
  }
}
