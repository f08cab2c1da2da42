package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamReader
import org.apache.spark.sql.types._
import graft.stream.Retrain

/** S9/S10 — Kafka source wiring.
  *
  * The reference's entire live ingest is Kafka: four data topics consumed
  * under one group id with a JSON value deserializer (reference:
  * src/streaming/kafka_consumer.py:9-28), and two control topics driving the
  * retrain loop with `auto_offset_reset=latest`
  * (src/training_service.py:150-167). The Spark-native twin is
  * `readStream.format("kafka")` with a `subscribe` list — ONE distributed
  * source per topic group instead of a driver-side consumer loop; the JSON
  * deserializer becomes `from_json` over the wire `value`, and the
  * reference's per-topic buffer fan-out becomes partition-by-topic routing
  * ([[graft.stream.Interactions.writeBatchesByTopic]]).
  *
  * The sandbox ships no `spark-sql-kafka` connector jar, so `.load()` is
  * gated behind [[connectorAvailable]]; everything up to it — option
  * assembly, subscribe lists, wire-schema parse — is pure and unit-tested
  * (KafkaSpec), so pointing the engine at a real broker is exactly
  * `dataReader(spark, bootstrap).load()` once the standard connector is on
  * the classpath.
  *
  * Scale note: one kafka source parallelizes by topic-partition; `maxOffsets
  * PerTrigger` bounds micro-batch size so a backlog replay cannot OOM the
  * cluster — the reference's 50-record Python buffer has no such guard.
  */
object Kafka {

  /** The reference's four data topics (kafka_consumer.py:11-14). */
  val dataTopics: Seq[String] =
    Seq("tracks-stream", "artists-stream", "albums-stream", "emotion-stream")

  /** Data-topic consumer group (kafka_consumer.py:18). */
  val dataGroupId = "recommendation-system"

  /** Retrain control topics (training_service.py:153-154). */
  val controlTopics: Seq[String] = Seq("processed-batches", "model-updates")

  /** Control-topic consumer group (training_service.py:157). */
  val controlGroupId = "training-service"

  /** `value` schema of the control messages the retrain loop reads
    * (training_service.py:171-180: `batch_id`, `size`; model-updates carry
    * the published version).
    */
  val controlSchema: StructType = StructType(Seq(
    StructField("batch_id", StringType),
    StructField("size", LongType),
    StructField("model_version", StringType)))

  /** Reader options for a topic group. `groupIdPrefix` (not a fixed
    * `kafka.group.id`) lets concurrent queries coexist, which is the Spark
    * idiom for the reference's static `group_id`.
    */
  def readerOptions(bootstrap: String, topics: Seq[String],
      groupIdPrefix: String, startingOffsets: String,
      maxOffsetsPerTrigger: Long): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrap,
    "subscribe" -> topics.mkString(","),
    "groupIdPrefix" -> groupIdPrefix,
    "startingOffsets" -> startingOffsets,
    "maxOffsetsPerTrigger" -> maxOffsetsPerTrigger.toString,
    "failOnDataLoss" -> "false")

  /** True when the standard `spark-sql-kafka-0-10` connector is on the
    * classpath (it is not in this sandbox).
    */
  def connectorAvailable: Boolean =
    try {
      Class.forName("org.apache.spark.sql.kafka010.KafkaSourceProvider")
      true
    } catch { case _: ClassNotFoundException => false }

  private def reader(spark: SparkSession, opts: Map[String, String]): DataStreamReader =
    spark.readStream.format("kafka").options(opts)

  /** S9 — data-topic reader: earliest offsets (the reference consumer starts
    * from the group's committed position; a fresh group reads the backlog).
    */
  def dataReader(spark: SparkSession, bootstrap: String,
      maxOffsetsPerTrigger: Long = 100000L): DataStreamReader =
    reader(spark, readerOptions(bootstrap, dataTopics, dataGroupId,
      "earliest", maxOffsetsPerTrigger))

  /** S10 — control-topic reader: latest offsets
    * (training_service.py:160 `auto_offset_reset='latest'`).
    */
  def controlReader(spark: SparkSession, bootstrap: String): DataStreamReader =
    reader(spark, readerOptions(bootstrap, controlTopics, controlGroupId,
      "latest", 10000L))

  /** Decode the Kafka wire frame (`key`/`value` binary, `topic`,
    * `timestamp`) into typed rows: the Spark twin of the reference's
    * `json.loads` value deserializer + utf-8 key deserializer
    * (kafka_consumer.py:16-17). Works on any DataFrame with the wire
    * columns, so it is unit-testable without a broker.
    */
  def parseWire(wire: DataFrame, valueSchema: StructType): DataFrame =
    wire.select(
      col("topic"),
      col("timestamp").as("kafka_ts"),
      col("key").cast("string").as("key"),
      from_json(col("value").cast("string"), valueSchema).as("v"))
      .select(col("topic"), col("kafka_ts"), col("key"), col("v.*"))

  /** End-to-end data-topic stream: wire → typed interaction records.
    * Requires the connector jar; fails fast with a clear message otherwise.
    */
  def readData(spark: SparkSession, bootstrap: String): DataFrame = {
    require(connectorAvailable,
      "spark-sql-kafka-0-10 connector not on classpath; add the standard " +
        "org.apache.spark:spark-sql-kafka-0-10_2.13 jar to use Kafka sources")
    parseWire(dataReader(spark, bootstrap).load(), Retrain.interactionSchema)
  }

  /** End-to-end control-topic stream: wire → retrain signals. */
  def readControl(spark: SparkSession, bootstrap: String): DataFrame = {
    require(connectorAvailable,
      "spark-sql-kafka-0-10 connector not on classpath; add the standard " +
        "org.apache.spark:spark-sql-kafka-0-10_2.13 jar to use Kafka sources")
    parseWire(controlReader(spark, bootstrap).load(), controlSchema)
  }
}
