package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.TimestampNTZType
import graft.ops.Measure
import graft.tables.Tables

/** The fixture reader's per-session schema cache: a cached read types
  * every table exactly as an uncached read does, a repeat read runs no
  * Spark job, and a rewritten file is inferred again.
  */
class TablesSpec extends SparkSpec {

  /** What `Tables.read` returned before the cache: schema inference on
    * every read, then the NTZ → session timestamp cast.
    */
  private def uncached(path: String) = {
    val df = spark.read.parquet(path)
    df.schema.fields.filter(_.dataType == TimestampNTZType)
      .foldLeft(df)((d, f) => d.withColumn(f.name, col(f.name).cast("timestamp")))
  }

  test("a cached read types every table as an uncached read does") {
    val fresh = spark.newSession() // empty cache: first read infers
    for (t <- Tables.names) {
      val want = uncached(s"$sfDir/$t.parquet").schema
      assert(Tables.read(fresh, sfDir, t).schema === want, s"$t, first read")
      assert(Tables.read(fresh, sfDir, t).schema === want, s"$t, cached read")
    }
  }

  test("a repeat read of the same file submits no Spark job") {
    val fresh = spark.newSession()
    val first = Measure.jobs(spark)(Tables.read(fresh, sfDir, "orders"))
    assert(first >= 1, "the first read infers the schema with a job")
    val again = Measure.jobs(spark)(Tables.read(fresh, sfDir, "orders"))
    assert(again === 0L, s"a cached read ran $again job(s)")
  }

  test("a table rewritten at the same path is inferred again") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tables").toString
    try {
      // one parquet file at <dir>/t.parquet, the fixtures' shape
      def writeTable(df: org.apache.spark.sql.DataFrame): Unit = {
        val stage = s"$dir/stage"
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        val part = Files.list(Paths.get(stage)).filter(
          _.getFileName.toString.endsWith(".parquet")).findFirst().get
        Files.move(part, Paths.get(s"$dir/t.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
      }
      writeTable(Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
      assert(Tables.read(spark, dir, "t").columns.toSeq === Seq("id", "name"))
      writeTable(Seq((3.5, 7), (4.5, 8), (5.5, 9)).toDF("score", "rank"))
      val again = Tables.read(spark, dir, "t")
      assert(again.columns.toSeq === Seq("score", "rank"))
      assert(again.orderBy("rank").as[(Double, Int)].collect().toSeq ===
        Seq((3.5, 7), (4.5, 8), (5.5, 9)))
    } finally deleteRecursively(dir)
  }
}
