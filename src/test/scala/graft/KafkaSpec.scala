package graft

import org.apache.spark.sql.functions._
import graft.sources.Kafka
import graft.stream.{Interactions, Retrain}

/** S9/S10 — Kafka source wiring. The sandbox has no broker and no connector
  * jar, so these tests cover the full pure surface: subscribe/option
  * assembly matching the reference's consumer configs, and the wire-frame
  * decode (`from_json` value deserialization) on statically built frames
  * with the connector's output schema. `.load()` itself is a one-liner the
  * connector provides; [[Kafka.connectorAvailable]] gates it.
  */
class KafkaSpec extends SparkSpec {

  test("data-topic options mirror the reference consumer config") {
    val opts = Kafka.readerOptions("broker:9092", Kafka.dataTopics,
      Kafka.dataGroupId, "earliest", 100000L)
    assert(opts("kafka.bootstrap.servers") === "broker:9092")
    assert(opts("subscribe") ===
      "tracks-stream,artists-stream,albums-stream,emotion-stream")
    assert(opts("groupIdPrefix") === "recommendation-system")
    assert(opts("startingOffsets") === "earliest")
    assert(opts("maxOffsetsPerTrigger") === "100000")
    assert(opts("failOnDataLoss") === "false")
  }

  test("control-topic options mirror the retrain service config") {
    val opts = Kafka.readerOptions("broker:9092", Kafka.controlTopics,
      Kafka.controlGroupId, "latest", 10000L)
    assert(opts("subscribe") === "processed-batches,model-updates")
    assert(opts("groupIdPrefix") === "training-service")
    assert(opts("startingOffsets") === "latest",
      "training_service.py:160 auto_offset_reset=latest")
  }

  test("parseWire decodes interaction JSON values from the kafka frame") {
    // Synthesize records, wrap them in the connector's wire schema
    // (binary key/value + topic + timestamp), decode, and round-trip.
    val records = Interactions.synthesize(
      spark.range(20).select(
        expr("timestamp_micros(1704067200000000 + id * 1000000)").as("timestamp"),
        col("id").as("value")))
    val wire = records.select(
      col("seq").cast("string").cast("binary").as("key"),
      to_json(struct(records.columns.map(col).toIndexedSeq: _*))
        .cast("binary").as("value"),
      lit("tracks-stream").as("topic"),
      expr("timestamp_micros(1704067200000000)").as("timestamp"))
    val parsed = Kafka.parseWire(wire, Retrain.interactionSchema)
      .orderBy("seq")
    val back = parsed.collect()
    val orig = records.orderBy("seq").collect()
    assert(back.length === 20)
    assert(parsed.columns.contains("topic") && parsed.columns.contains("key"))
    assert(back.map(_.getAs[Long]("user_id")).toSeq ===
      orig.map(_.getAs[Long]("user_id")).toSeq)
    assert(back.map(_.getAs[Double]("rating")).toSeq ===
      orig.map(_.getAs[Double]("rating")).toSeq)
    assert(back.map(_.getAs[org.apache.spark.sql.Row]("track_display")
      .getAs[String]("emotion")).toSeq ===
      orig.map(_.getAs[org.apache.spark.sql.Row]("track_display")
        .getAs[String]("emotion")).toSeq)
    assert(back.forall(_.getAs[String]("topic") == "tracks-stream"))
  }

  test("parseWire decodes control signals; malformed values become nulls") {
    import spark.implicits._
    val wire = Seq(
      ("""{"batch_id":"b1","size":50,"model_version":"v000003"}""", "processed-batches"),
      ("""not-json""", "model-updates"))
      .toDF("raw", "topic")
      .select(lit(null).cast("binary").as("key"),
        col("raw").cast("binary").as("value"), col("topic"),
        expr("timestamp_micros(0)").as("timestamp"))
    val rows = Kafka.parseWire(wire, Kafka.controlSchema)
      .orderBy("topic").collect()
    assert(rows.length === 2)
    assert(rows(0).getAs[String]("topic") === "model-updates")
    assert(rows(0).isNullAt(rows(0).fieldIndex("batch_id")),
      "malformed JSON rows survive as nulls (PERMISSIVE), never kill the stream")
    assert(rows(1).getAs[String]("batch_id") === "b1")
    assert(rows(1).getAs[Long]("size") === 50L)
    assert(rows(1).getAs[String]("model_version") === "v000003")
  }

  test("decoded interactions flow into the per-batch analytics unchanged") {
    // the reference consumer's buffer→summary path (kafka_consumer.py:33-56)
    // as one composition: wire frame → parseWire → batchSummary
    val records = Interactions.synthesize(
      spark.range(50).select(
        expr("timestamp_micros(1704067200000000 + id * 1000000)").as("timestamp"),
        col("id").as("value")))
    val wire = records.select(
      col("seq").cast("string").cast("binary").as("key"),
      to_json(struct(records.columns.map(col).toIndexedSeq: _*))
        .cast("binary").as("value"),
      lit("tracks-stream").as("topic"),
      expr("timestamp_micros(1704067200000000)").as("timestamp"))
    val decoded = Kafka.parseWire(wire, Retrain.interactionSchema)
      .drop("topic", "kafka_ts", "key")
    val summary = Interactions.batchSummary(decoded).collect().head
    assert(summary.getAs[Long]("size") === 50L)
    val direct = Interactions.batchSummary(records).collect().head
    assert(summary.getAs[Double]("avg_rating") === direct.getAs[Double]("avg_rating"),
      "JSON round-trip must not perturb the analytics")
  }

  test("load() is gated: clear failure without the connector jar") {
    if (!Kafka.connectorAvailable) {
      val e = intercept[IllegalArgumentException] {
        Kafka.readData(spark, "broker:9092")
      }
      assert(e.getMessage.contains("spark-sql-kafka"))
    } else {
      // with the connector present the stream assembles lazily end-to-end
      assert(Kafka.readData(spark, "broker:9092").isStreaming)
    }
  }
}
