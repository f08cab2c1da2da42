package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted latest-wins (SCD1) key state — the CDC-apply store. Two
  * delivery contracts, two stores:
  *
  *  - [[AggStateStore]]: count/sum merges DOUBLE on replay → batchId-
  *    keyed overwrite directories;
  *  - this store: latest-wins by (event-time, tiebreak) is idempotent
  *    AND commutative — re-applying any change set, in any order, any
  *    number of times, converges to the same snapshot → blind append,
  *    at-least-once is enough.
  *
  * The reference applies interaction updates by rescanning accumulated
  * history into a dict keyed by user (reference:
  * src/streaming_service.py:322-340); here each batch appends only its
  * own rows and the snapshot is merge-on-read: `max_by(payload,
  * (us, seq))` per key — one hash aggregate over stored changes, the
  * ◆ `q_max_by` argmax discipline with an explicit total tiebreak
  * (event-time, then change id) so concurrent same-micro updates
  * resolve identically on every read and every engine. [[compact]]
  * folds history to the snapshot when the change log outgrows it —
  * answer-invariant, rename-swapped.
  *
  * Scale shape: appends are O(batch); snapshots aggregate
  * |keys| + |changes-since-compact| rows, never raw history; at 100 TB
  * the store is co-bucketed on the key ([[Bucketed]]) so snapshot
  * GROUP BY and downstream key joins ride the layout exchange-free.
  */
class LatestStore(spark: SparkSession, rootUri: String) {

  private val root = rootUri.stripSuffix("/") + "/key_latest"

  /** Append one change batch: (user_id, us epoch-micros, seq change id,
    * event_type payload). Blind append — see the delivery contract.
    */
  def append(changes: DataFrame): Unit =
    changes.select("user_id", "us", "seq", "event_type")
      .write.mode("append").parquet(root)

  private def stored: DataFrame = spark.read.parquet(root)

  /** Latest state per key: argmax over (us, seq) — packed into a single
    * struct max so the whole argmax stays one codegen hash aggregate.
    */
  def snapshot(): DataFrame =
    stored.groupBy("user_id")
      .agg(max(struct(col("us"), col("seq"), col("event_type")))
        .as("__last"))
      .select(col("user_id"), col("__last.us").as("us"),
        col("__last.seq").as("seq"),
        col("__last.event_type").as("event_type"))
      .orderBy("user_id")

  /** Continuous CDC ingestion — blind [[append]] per micro-batch;
    * at-least-once delivery converges because latest-wins is
    * idempotent (LatestStoreSpec proves it by full replay).
    */
  def appendStream(changes: DataFrame, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .foreachBatch((batch: DataFrame, _: Long) => append(batch))
      .start()

  /** Fold the change log to the snapshot — answers invariant (argmax is
    * associative/commutative/idempotent over the change set), bytes
    * smaller. Staged write + rename swap, the [[AggStateStore]]
    * crash discipline.
    */
  def compact(): Unit = {
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val staging = new Path(root + ".compacting")
    fs.delete(staging, true)
    snapshot().write.mode("overwrite").parquet(staging.toString)
    fs.delete(new Path(root), true)
    fs.rename(staging, new Path(root))
  }
}
