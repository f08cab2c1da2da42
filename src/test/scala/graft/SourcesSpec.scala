package graft

import java.nio.file.Files

import org.apache.spark.ml.feature.StringIndexer
import org.apache.spark.ml.feature.StringIndexerModel
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.Clean
import graft.sources.{Ingest, ModelRegistry}
import graft.tables.Tables

/** Ingest + model-registry capability (SURVEY.md §2.1 S1-S4, S7, S12-S13):
  * CSV/JSON scans with the reference's sentinel semantics, sinks, MLlib
  * save/load round-trip, versioning and keep-last GC.
  */
class SourcesSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private val trackSchema = StructType(Seq(
    StructField("id", StringType),
    StructField("name", StringType),
    StructField("popularity", DoubleType),
    StructField("energy", DoubleType)))

  test("S1: explicit-schema CSV scan coerces sentinels; Clean repairs them") {
    val dir = tmp("graft-csv")
    Files.writeString(java.nio.file.Paths.get(dir, "tracks.csv"),
      """id,name,popularity,energy
        |t1,Song One,50.0,0.5
        |t2,,NaN,0.7
        |t3,NULL,30.0,
        |""".stripMargin)
    val raw = Ingest.csv(spark, dir, trackSchema)
    assert(raw.count() === 3)
    // "" → null (nullValue), "NaN" → NaN (nanValue) at scan time
    assert(raw.filter(col("name").isNull).count() === 1)
    assert(raw.filter(isnan(col("popularity"))).count() === 1)
    val repaired = raw.select(
      col("id"),
      Clean.repairString(col("name"), "Unknown").as("name"),
      Clean.repairNumeric(col("popularity"), 0.0).as("popularity"),
      Clean.repairNumeric(col("energy"), 0.5).as("energy"))
    val rows = repaired.orderBy("id").collect()
    assert(rows.map(_.getAs[String]("name")).toSeq ===
      Seq("Song One", "Unknown", "Unknown"))
    assert(rows.map(_.getAs[Double]("popularity")).toSeq === Seq(50.0, 0.0, 30.0))
    assert(rows.map(_.getAs[Double]("energy")).toSeq === Seq(0.5, 0.7, 0.5))
  }

  test("S2/S4: inferred-schema scan types columns; row cap limits the scan") {
    val dir = tmp("graft-csv2")
    Files.writeString(java.nio.file.Paths.get(dir, "artists.csv"),
      (Seq("id,followers") ++ (0 until 100).map(i => s"a$i,${i * 10}")).mkString("\n"))
    val inferred = Ingest.csvInferred(spark, dir)
    assert(inferred.schema("followers").dataType === IntegerType)
    assert(Ingest.csvCapped(spark, dir, StructType(Seq(
      StructField("id", StringType), StructField("followers", LongType))), 10).count() === 10)
  }

  test("S3/S7: JSON sink → JSON scan round-trips exactly") {
    val dir = tmp("graft-json")
    val out = Tables.part(spark, sfDir)
      .select("p_partkey", "p_name", "p_retailprice").orderBy("p_partkey")
    Ingest.writeJson(out, dir)
    val back = Ingest.json(spark, dir, out.schema).orderBy("p_partkey")
    assert(back.collect().toSeq === out.collect().toSeq)
  }

  test("S7: CSV sink round-trips through the explicit-schema scan") {
    val dir = tmp("graft-csvsink")
    val out = Tables.nation(spark, sfDir)
      .select("n_nationkey", "n_name").orderBy("n_nationkey")
    Ingest.writeCsv(out, dir)
    val schema = StructType(Seq(
      StructField("n_nationkey", LongType), StructField("n_name", StringType)))
    assert(Ingest.csv(spark, dir, schema).orderBy("n_nationkey")
      .collect().toSeq === out.collect().toSeq)
  }

  test("S12/S13: registry publishes, loads, advances BEST, keeps last 5") {
    // file:// URI root: all registry IO must flow through the Hadoop
    // FileSystem API (the S11 s3a-ready contract) — a java.nio regression
    // cannot resolve this root and would fail here.
    val reg = new ModelRegistry("file://" + tmp("graft-models"), keepLast = 5)
    val fit = new StringIndexer().setInputCol("c_mktsegment").setOutputCol("idx")
      .fit(Tables.customer(spark, sfDir))
    val versions = (0 until 7).map { i =>
      reg.publish("indexer", fit, s"""{"run":$i}""", markBest = i == 2)
    }
    assert(versions === (0 until 7).map(i => f"v$i%06d"))
    assert(reg.latest("indexer") === Some("v000006"))
    assert(reg.best("indexer") === Some("v000002"))
    // 7 published, keepLast=5 → oldest pruned, but BEST survives GC
    val fs = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    val kept = versions.filter(v =>
      fs.exists(new org.apache.hadoop.fs.Path(reg.modelPath("indexer", v)).getParent))
    assert(kept === Seq("v000002", "v000003", "v000004", "v000005", "v000006"))
    assert(reg.metadata("indexer", "v000002") === """{"run":2}""")
    val loaded = StringIndexerModel.load(reg.modelPath("indexer", "v000002"))
    assert(loaded.labelsArray.head.toSeq === fit.labelsArray.head.toSeq)
  }

  test("S13: best() during publishes never reads an empty or missing pointer") {
    val reg = new ModelRegistry("file://" + tmp("graft-best-race"), keepLast = 3)
    val fit = new StringIndexer().setInputCol("c_mktsegment").setOutputCol("idx")
      .fit(Tables.customer(spark, sfDir))
    reg.publish("indexer", fit, "{}")
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reads = new java.util.concurrent.atomic.AtomicLong(0L)
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val poller = new Thread(() => while (!done.get) {
      val got = try reg.best("indexer").toString catch { case e: Exception => e.toString }
      if (got.matches("Some\\(v\\d{6}\\)")) reads.incrementAndGet()
      else if (bad.size < 10) bad.add(got)
    })
    poller.start()
    try (1 to 20).foreach(i => reg.publish("indexer", fit, s"""{"run":$i}"""))
    finally { done.set(true); poller.join() }
    assert(bad.isEmpty, s"reads during a publish: $bad")
    assert(reads.get > 20L, "the poller must read throughout the publishes")
    assert(reg.best("indexer") === Some("v000020"))
  }
}
