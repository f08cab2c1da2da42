package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Bench's session: the DuckDB hash gate verifies the plans the
    // bench measures
    val spark = Bench.openSession()
    // Same loud env probe as Bench (r13): a JVM missing Spark's
    // --add-opens makes MLlib-fit queries fail per-query and silently
    // VANISH from the dump (each is caught and skipped below) — name
    // the cause up front instead of leaving a shrunken dump to explain
    // itself.
    val closedOpens = graft.ops.JvmEnv.closedOpens
    if (closedOpens.nonEmpty)
      System.err.println("[verify] WARNING: JVM is missing --add-opens " +
        closedOpens.mkString(", ") + " — MLlib-backed queries will " +
        "fail and be skipped; the dump will be incomplete")
    new java.io.File(outDir).mkdirs()
    // Optional SPARK_GRAFT_ONLY subset for local iteration (mirrors Bench);
    // unknown names fail loudly (SparkEntry.selectedQueries) instead of
    // silently shrinking the dump.
    val selected = SparkEntry.selectedQueries()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // The result is fully written (or the query failed) — release this
      // query's tracked checkpoint blocks plus any third-party leftovers
      // (MLlib caches) so a 241-query dump doesn't accumulate storage.
      graft.ops.Ck.drain(spark)
      graft.ops.Ck.sweep(spark)
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => Bench.jsonStr(k) + ": " + Bench.jsonStr(v) }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
