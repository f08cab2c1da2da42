package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Multi-format ingest capability (SURVEY.md §2.1 S1-S7).
  *
  * The engine's primary storage is Parquet ([[graft.tables.Tables]] —
  * columnar, pruned, pushed-down); these readers reproduce the reference's
  * row-file ingest surface: CSV with explicit schema + sentinel coercion
  * (reference: src/spark/training.py:37-42), CSV with schema inference
  * (:113-116,130-133), JSON (:142-147), and the row-capped catalog read
  * (src/app_optimized.py:152-179).
  *
  * Scale notes: an explicit schema (S1) avoids the full inference pass over
  * the data — at 100 TB, `inferSchema=true` reads everything twice, so S2
  * exists as capability parity, not as the recommended path. The row cap
  * (S4) compiles to `CollectLimitExec` over a partitioned scan — early
  * termination, not a full read. CSV/JSON scans stay splittable as long as
  * files are uncompressed or use a splittable codec; multiline JSON is not
  * splittable and is deliberately not used here.
  */
object Ingest {

  /** S1 — CSV with explicit schema and the reference's null/NaN sentinels.
    * Values equal to `nullValue` ("" ) or `nanValue` ("NaN") arrive as
    * null/NaN and then flow through [[graft.ops.Clean]] repairs, mirroring
    * training.py's coercion chain.
    */
  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("header", "true")
      .option("nullValue", "")
      .option("nanValue", "NaN")
      .schema(schema)
      .csv(path)

  /** S2 — CSV with schema inference (artists/albums-style loads). */
  def csvInferred(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .csv(path)

  /** S3 — JSON scan (one object per line; splittable, unlike multiline). */
  def json(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** S4 — row-capped catalog read: `limit` is pushed into the scan
    * (CollectLimitExec), so a 10k-row cap never reads the full file set.
    */
  def csvCapped(spark: SparkSession, path: String, schema: StructType,
      maxRows: Int): DataFrame =
    csv(spark, path, schema).limit(maxRows)

  /** S7 — CSV sink (integrated-dataset export shape). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** S7 — JSON sink. */
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)
}
