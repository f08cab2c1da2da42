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

  test("ORC sink → ORC scan round-trips with schema intact") {
    val dir = tmp("graft-orc")
    val out = Tables.supplier(spark, sfDir)
      .select("s_suppkey", "s_name", "s_acctbal").orderBy("s_suppkey")
    Ingest.writeOrc(out, dir)
    val back = Ingest.orc(spark, dir).orderBy("s_suppkey")
    assert(back.schema === out.schema)
    assert(back.collect().toSeq === out.collect().toSeq)
  }

  test("text-line and whole-file corpus scans read raw dumps; lines stay splittable") {
    val dir = tmp("graft-textsrc")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.txt"),
      "doc one line one\ndoc one line two\n".getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "b.txt"),
      "doc two\n".getBytes("UTF-8"))
    val lines = Ingest.textLines(spark, dir)
    assert(lines.columns.toSeq === Seq("value"))
    assert(lines.count() === 3)
    val whole = Ingest.textLines(spark, dir, wholeFilePerRow = true)
    assert(whole.count() === 2, "wholetext must yield one row per file")
    assert(whole.collect().map(_.getString(0)).exists(_.contains("line two")),
      "file content must arrive intact")
  }

  test("binary-file scan feeds the multimodal decode stage unchanged") {
    import org.apache.spark.sql.functions._
    val dir = tmp("graft-binsrc")
    val payload = Array.tabulate[Byte](300)(i => (i % 251).toByte)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "img0.bin"), payload)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "skip.txt"),
      "not media".getBytes("UTF-8"))
    val bins = graft.sources.Ingest.binaryFiles(spark, dir, glob = "*.bin")
    assert(bins.count() === 1, "pathGlobFilter must exclude the .txt")
    val row = bins.select("length", "content").collect().head
    assert(row.getLong(0) === 300L)
    // The content column rides straight into the multimodal decode stub.
    val feats = graft.llm.Multimodal.decodeFeatures(spark,
      bins.select(lit(0L).as("doc_id"), col("content").as("payload"))).collect().head
    assert(feats.getAs[Long]("n_bytes") === 300L)
    assert(feats.getAs[Long]("head_sum") ===
      payload.take(8).map(b => (b & 0xff).toLong).sum)
  }

  test("Export.writeSharded: partition-dir layout matches q_shard_assign; manifest audits the files") {
    import graft.sources.Export
    import graft.ops.Hashing
    val docs = Tables.documents(spark, sfDir)
      .withColumn("shard", pmod(
        Hashing.md5Long(concat(col("doc_id").cast("string"), lit("#shard"))),
        lit(16L)))
    val dir = java.nio.file.Files.createTempDirectory("graft-export").toString
    try {
      Export.writeSharded(docs, "shard", dir)
      val man = Export.manifest(spark, dir, "shard").collect()
      // The manifest audits what LANDED: per-shard rows equal the
      // oracle-checked q_shard_assign occupancy report, every shard is
      // one file, and byte counts are real file lengths.
      val expected = SparkEntry.queries("q_shard_assign")(spark, sfDir)
        .collect().map(r => r.getAs[Long]("shard") -> r.getAs[Long]("n_docs")).toMap
      assert(man.map(r => r.getAs[Long]("shard") -> r.getAs[Long]("rows")).toMap
        === expected)
      man.foreach { r =>
        assert(r.getAs[Long]("n_files") === 1L)
        assert(r.getAs[Long]("bytes") > 0L)
      }
      // A dataloader training on one shard opens ONE directory — and the
      // shard column itself survives as the partition value.
      val one = spark.read.parquet(dir).filter(col("shard") === 3)
      assert(one.count() === expected(3L))
      assert(one.queryExecution.executedPlan.toString.contains("PartitionFilters"))
    } finally deleteRecursively(dir)
  }

  test("schema evolution: mergeSchema unions generations, old files null-fill new columns") {
    import org.apache.spark.sql.functions._
    val dir = tmp("graft-evolve")
    // generation 1: (doc_id, text); generation 2 adds lang
    Tables.documents(spark, sfDir).filter(col("doc_id") < 100)
      .select("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    Tables.documents(spark, sfDir).filter(col("doc_id") >= 100)
      .select("doc_id", "text", "lang")
      .write.mode("append").parquet(dir)
    val df = graft.sources.Ingest.parquetEvolved(spark, dir)
    assert(df.columns.toSet === Set("doc_id", "text", "lang"))
    val total = Tables.documents(spark, sfDir).count()
    assert(df.count() === total)
    // old-generation rows surface the new column as NULL, new rows keep it
    assert(df.filter(col("doc_id") < 100 && col("lang").isNull).count() ===
      Tables.documents(spark, sfDir).filter(col("doc_id") < 100).count())
    assert(df.filter(col("doc_id") >= 100).filter(col("lang").isNull).count() === 0)
    // the schema-stable single-footer read would NOT see the late column
    // when it samples an old footer — the evolved reader is the contract
    deleteRecursively(dir)
  }

  test("malformed-JSON quarantine: good rows flow, bad lines preserved verbatim, nothing lost") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val dir = tmp("graft-quarantine")
    val lines = Seq(
      """{"id": 1, "name": "a"}""",
      "not json at all",
      """{"id": 2, "name": "b"}""",
      """{"id": broken""")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "feed.json"),
      lines.mkString("\n").getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType)))
    // Spark disallows pruning a raw-file read down to ONLY the corrupt
    // column (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — materialize the parse
    // once, as the scaladoc's split-and-persist pattern prescribes.
    val rows = graft.sources.Ingest.jsonQuarantine(spark, dir, schema)
      .collect()
    val good = rows.filter(_.isNullAt(2))
    val bad = rows.filterNot(_.isNullAt(2))
    assert(good.length === 2 && bad.length === 2,
      "conservation: good + quarantined = input lines")
    assert(good.map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((1L, "a"), (2L, "b")))
    assert(bad.map(_.getString(2)).toSet ===
      Set("not json at all", """{"id": broken"""),
      "quarantined lines must be byte-for-byte the offending input")
    assert(graft.sources.Ingest.jsonDropMalformed(spark, dir, schema)
      .count() === 2L, "DROPMALFORMED keeps only parseable rows")
    deleteRecursively(dir)
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
