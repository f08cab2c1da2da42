package graft.stream

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** T8/T9 — the retrain control loop over the batch-file directory.
  *
  * The reference polls the batch dir every 60 s and retrains once ≥ 3
  * unprocessed batch files exist, moving them pending → processed and
  * guarding re-entry with an `is_training` latch (reference:
  * src/training_service.py:119-135,305-341,363-383,490-507).
  *
  * Spark-native mapping: a file-source stream over the batch dir IS the
  * pending/processed ledger — the streaming checkpoint records exactly
  * which files have been consumed (T9; no rename choreography, and restart
  * resumes from the ledger). Each micro-batch delivers only NEW files;
  * batches accumulate in a driver-held buffer until the threshold is met,
  * then one retrain fires over the union. The buffer is the engine twin of
  * the reference's `pending_batches` list + `is_training` latch: app-level
  * state, deliberately NOT in the checkpoint — after a crash, unretrained
  * batches re-accumulate from the checkpoint's unconsumed files.
  *
  * Scale note: the "buffer" holds lazy DataFrames (file references), not
  * rows; the union-retrain is a distributed read of just those files.
  */
object Retrain {

  /** Interaction-record schema as written by [[Interactions.writeBatches]]
    * (file sources require an explicit schema — streaming inference is off
    * by default for good reason at scale), and the `value` schema of the
    * Kafka data topics ([[graft.sources.Kafka.readData]]).
    */
  val interactionSchema: StructType = StructType(Seq(
    StructField("seq", LongType),
    StructField("user_id", LongType),
    StructField("track_id", StringType),
    StructField("rating", DoubleType),
    StructField("action", StringType),
    StructField("play_duration_ms", LongType),
    StructField("ts", TimestampType),
    StructField("track_display", StructType(Seq(
      StructField("name", StringType),
      StructField("artist_name", StringType),
      StructField("emotion", StringType),
      StructField("popularity", LongType)))),
    StructField("context", StructType(Seq(
      StructField("device", StringType),
      StructField("time_of_day", IntegerType),
      StructField("day_of_week", IntegerType))))))

  /** Start the control loop. `train` is invoked with the unioned pending
    * interactions whenever ≥ `minPendingBatches` micro-batches have
    * accumulated; returns the running query. `pendingCount` exposes the
    * buffer depth for tests/monitoring.
    */
  /** Handle on the running loop; `pendingCount` = batch dirs buffered and
    * not yet retrained over (the reference's `len(pending_batches)`);
    * `totals` = (retrain runs, interaction rows consumed) accumulated
    * across retrains — A9, the reference's running `total_records`
    * counters (src/training_service.py:249-274). Callers persist them as
    * model metadata via [[graft.sources.ModelRegistry.publish]].
    */
  final class Control private[Retrain] (
      val query: StreamingQuery,
      pending: AtomicReference[Set[String]],
      accumulated: AtomicReference[(Long, Long)]) {
    def pendingCount: Int = pending.get().size
    def totals: (Long, Long) = accumulated.get()
  }

  def control(
      spark: SparkSession,
      batchDir: String,
      checkpointDir: String,
      minPendingBatches: Int = 3,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"))(
      train: DataFrame => Unit): Control = {
    val pending = new AtomicReference[Set[String]](Set.empty)
    val accumulated = new AtomicReference[(Long, Long)]((0L, 0L))
    val stream = spark.readStream
      .schema(interactionSchema)
      .option("pathGlobFilter", "*.json")
      .json(s"$batchDir/batch_*")
    val query = stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          // Buffer batch DIRECTORIES, not rows: the driver holds only path
          // strings, and the retrain below is a fresh distributed read of
          // exactly the pending dirs — nothing row-sized ever crosses to
          // the driver regardless of batch size. (Assumes writeBatches'
          // per-batch dirs are complete when first seen — true because
          // each dir is written before the next trigger can list it.)
          val dirs = batch.select(input_file_name().as("f"))
            .distinct().collect().map(_.getString(0))
            .map(f => f.substring(0, f.lastIndexOf('/'))).toSet
          val buf = pending.updateAndGet(_ ++ dirs)
          if (buf.size >= minPendingBatches) {
            // is_training latch: clear BEFORE training so a slow retrain
            // never double-consumes the same pending set.
            pending.set(Set.empty)
            val df = spark.read.schema(interactionSchema).json(buf.toSeq: _*)
            val n = df.count()
            train(df)
            accumulated.updateAndGet { case (r, t) => (r + 1, t + n) }
          }
        }
        ()
      }
      .start()
    new Control(query, pending, accumulated)
  }
}
