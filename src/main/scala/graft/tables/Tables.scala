package graft.tables

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StructType, TimestampNTZType}

/** Readers for the driver's deterministic parquet testdata (TESTDATA.md).
  *
  * The reference loads CSV/JSON row files with per-column coercion
  * (reference: src/spark/training.py:37-57,113-116,130-133,145); the engine
  * standardizes on columnar Parquet scans so Catalyst gets column pruning and
  * predicate pushdown for free. CSV/JSON ingest is kept as a capability in
  * [[graft.sources.Ingest]].
  *
  * Role mapping onto the reference's domain (SURVEY.md §7.2):
  * part≈tracks, customer≈users, orders+lineitem≈interactions,
  * nation/region≈dimension enrichment, events≈interaction stream,
  * documents/embeddings≈LLM-pipeline extension fixtures.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")

  // One entry per resolved table path: the (path, length, mtime) stamp
  // of every file under it, and the schema inferred from those files.
  private type Stamp = Seq[(String, Long, Long)]
  // weak session keys, as ops.Ck holds its registries: a stopped
  // session's schemas never outlive it
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      ConcurrentHashMap[String, (Stamp, StructType)]]())

  /** Reads one fixture table.
    *
    * Schema: a parquet read without a schema runs one footer-reading
    * Spark job to infer it, on every read. `read` infers each table's
    * schema once per session and passes it to later reads with
    * `spark.read.schema(...)`, so a repeat read runs no job. The cache
    * entry is keyed by the resolved path and stamped with the path,
    * length and modification time of every file under it; a read whose
    * stamp differs (a rewritten or replaced table) infers the schema
    * again and replaces the entry. Entries live as long as their session.
    *
    * Timestamps: all fixture timestamps are stored without a
    * UTC-adjustment flag, so the Spark 4.1.2 reader surfaces them as
    * TIMESTAMP_NTZ (and nanos columns NTZ-truncated to micros). Cast
    * every NTZ column back to a plain session-UTC timestamp at the read
    * boundary: each engine session pins `spark.sql.session.timeZone=UTC`,
    * which makes the cast value-exact and keeps every downstream
    * `unix_micros(...)` — and the DuckDB oracle's `epoch_us(...)` —
    * meaning what it always meant. EventsSpec pins the nanos truncation
    * against DuckDB's own answers.
    */
  def read(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    val path = s"$sfDir/$table.parquet"
    val df = spark.read.schema(schemaOf(spark, path)).parquet(path)
    df.schema.fields
      .filter(_.dataType == TimestampNTZType)
      .foldLeft(df) { (d, f) =>
        d.withColumn(f.name,
          org.apache.spark.sql.functions.col(f.name).cast("timestamp"))
      }
  }

  /** The parquet schema of `path`, inferred at most once per file stamp
    * and session.
    */
  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val key = fs.makeQualified(p).toString
    // listStatus of a file is the file itself; of a directory, its entries
    val stamp: Stamp = fs.listStatus(p).toSeq
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
      .sortBy(_._1)
    val cache = schemas.synchronized {
      schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap())
    }
    Option(cache.get(key)).filter(_._1 == stamp).map(_._2).getOrElse {
      val schema = spark.read.parquet(path).schema
      cache.put(key, (stamp, schema))
      schema
    }
  }

  def region(s: SparkSession, d: String): DataFrame = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = read(s, d, "lineitem")
  /** `events.parquet` stores TIMESTAMP(NANOS). The Spark 4.1.2 parquet
    * reader surfaces it natively as TIMESTAMP_NTZ with the nanos floor-
    * truncated to micros — the exact truncation DuckDB applies when it
    * reads the same file, so event-time queries stay oracle-comparable.
    * (Earlier 4.1 jars instead needed the since-removed
    * `spark.sql.legacy.parquet.nanosAsLong` raw-long detour; EventsSpec
    * pins the current reader's truncation against raw `epoch_ns` values.)
    * The NTZ wall-clock is cast to a plain session-UTC timestamp so every
    * downstream `unix_micros(ts)` keeps its meaning — all engine sessions
    * pin `spark.sql.session.timeZone=UTC`, making the cast value-exact.
    */
  def events(s: SparkSession, d: String): DataFrame = read(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")
}
