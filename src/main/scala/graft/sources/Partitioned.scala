package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hive-style partitioned parquet layout (`o_month=YYYY-MM/` directories) —
  * the third leg of the layout story: [[Layout]]'s curves cluster for range
  * scans, [[Bucketed]] hash-clusters for joins, and directory partitioning
  * makes a FILTER on the partition column skip whole directories without
  * reading a footer. Its payoff query is dynamic partition pruning: when the
  * filter lives on a joined dimension rather than the fact, Catalyst plants
  * a runtime subquery on the fact scan's `PartitionFilters` that waits for
  * the dim's broadcast, so the fact reads only the partitions the dim
  * actually selects — the canonical star-schema scan pattern at 100 TB
  * (WarehouseSpec pins the `dynamicpruning` expression in the scan and the
  * result's equality with the unpartitioned twin).
  *
  * The reference re-reads its full interaction CSVs per run (reference:
  * src/spark/training.py:113-116); a date-partitioned layout is what makes
  * "this quarter's" queries pay for this quarter only.
  */
object Partitioned {

  /** Root for this session's partitioned layouts, keyed by the source dir so
    * sf0.001 spec runs and sf0.01/0.1 driver runs never collide.
    */
  def layoutDir(sfDir: String, table: String): String = {
    // full sanitized path, not its hashCode — two datasets must never
    // share a layout dir (r10 ADVICE); cross-SESSION reuse stays
    // intentional (_SUCCESS-guarded, no catalog entry to go stale).
    val tag = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    s"${System.getProperty("java.io.tmpdir")}/graft-partitioned-$tag/$table"
  }

  /** Write `df` (which must carry the `o_month` column) as a month-
    * partitioned parquet layout at `dir`.
    */
  def writeByMonth(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite").partitionBy("o_month").parquet(dir)

  /** Idempotent partition backfill — dynamic partition overwrite: rewrite
    * ONLY the partitions present in `corrected` (an `o_month`-carrying
    * frame), leaving every other partition's files untouched on disk. This
    * is the re-run story for a daily/monthly batch at 100 TB: a corrected
    * upstream drop replaces its own month atomically-per-partition without
    * rewriting (or even listing) the other 119 months, and running the
    * same backfill twice converges (WarehouseSpec pins untouched-partition
    * files byte-identical by path+length and replay convergence).
    *
    * `partitionOverwriteMode=dynamic` is what scopes the `overwrite` to
    * the partitions in the data — the static default would truncate the
    * whole table first.
    */
  def backfillMonths(corrected: DataFrame, dir: String): Unit = {
    val s = corrected.sparkSession
    val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try corrected.write.mode("overwrite").partitionBy("o_month").parquet(dir)
    finally prev match {
      case Some(p) => s.conf.set("spark.sql.sources.partitionOverwriteMode", p)
      case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** Ensure orders exists partitioned by order month (`o_month=YYYY-MM/`),
    * returning a scan that carries the partition columns. Idempotent per
    * (session, sfDir): the write happens once, later calls just read.
    *
    * Partition-count discipline: months are a BOUNDED domain (a few dozen
    * directories at any scale) — safe to partition by. Partitioning by a
    * high-cardinality key would produce the small-files explosion that
    * [[Bucketed]] exists to avoid.
    */
  def ordersByMonth(s: SparkSession, sfDir: String): DataFrame = {
    val dir = layoutDir(sfDir, "orders_by_month")
    if (!new java.io.File(dir, "_SUCCESS").isFile)
      writeByMonth(graft.tables.Tables.orders(s, sfDir)
        .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM")), dir)
    s.read.parquet(dir)
  }
}
