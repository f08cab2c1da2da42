package graft

import java.nio.file.Files

import org.apache.spark.ml.recommendation.ALSModel
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.api.Serving
import graft.ops.{Measure, Num}
import graft.queries.MLQueries
import graft.sources.ModelRegistry
import graft.tables.Tables

/** Serving surface (SURVEY.md §2.9): train-once/publish/serve-many over the
  * model registry — the reference's API lifecycle as library calls.
  */
class ServingSpec extends SparkSpec {

  private lazy val registry =
    new ModelRegistry(Files.createTempDirectory("graft-serving").toString)
  private lazy val serving = new Serving(spark, registry)
  private lazy val ratings = MLQueries.interactions(spark, sfDir)
  private lazy val content = Tables.part(spark, sfDir)
    .select(col("p_partkey").as("item_id"), (col("p_retailprice") / 1000.0).as("score"))

  /** The reference answer: `version` loaded afresh, its top-k per user
    * exploded to (user_id, rank, item_id, score) and sorted by (user, rank).
    */
  private def freshAnswer(reg: ModelRegistry, version: String, users: Seq[Int],
      k: Int): Seq[Row] = {
    import spark.implicits._
    ALSModel.load(reg.modelPath("als", version))
      .recommendForUserSubset(users.toDF("user_id"), k)
      .select(col("user_id"), posexplode(col("recommendations")).as(Seq("pos", "rec")))
      .select(col("user_id"), (col("pos") + 1).as("rank"), col("rec.item_id").as("item_id"),
        Num.roundAt(col("rec.rating").cast("double"), 4).as("score"))
      .collect().toSeq.sortBy(r => (r.getInt(0), r.getInt(1)))
  }

  private def answer(df: DataFrame): Seq[Row] =
    df.select("user_id", "rank", "item_id", "score").collect().toSeq

  test("train publishes a registry version with metadata") {
    val v = serving.trainCollaborative(ratings)
    assert(v === "v000000")
    assert(registry.best("als") === Some(v))
    assert(registry.metadata("als", v).contains("\"algo\":\"als\""))
  }

  test("collaborative serves per-user top-k from the PERSISTED model") {
    serving.trainCollaborative(ratings)
    val recs = serving.collaborative(Seq(1, 2, 3), 5).collect()
    assert(recs.length === 15)
    assert(recs.map(_.getAs[Int]("user_id")).distinct.sorted.toSeq === Seq(1, 2, 3))
    recs.groupBy(_.getAs[Int]("user_id")).values.foreach { rows =>
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq === (1 to 5))
      val scores = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("score"))
      assert(scores.toSeq === scores.sortBy(-_).toSeq, "ranked by score desc")
    }
  }

  test("hybrid blends ceil(0.7k) collaborative with content rows") {
    serving.trainCollaborative(ratings)
    val out = serving.hybrid(1, content, 10).collect()
    assert(out.length === 10)
    assert(out.count(_.getAs[String]("source") == "collab") === 7)
    assert(out.count(_.getAs[String]("source") == "content") === 3)
  }

  test("catalog pagination pages partition the sorted scan") {
    val catalog = Tables.part(spark, sfDir)
      .select("p_partkey", "p_name", "p_retailprice")
    val p1 = serving.catalogPage(catalog, "p_partkey", 10, 0)
      .select("p_partkey").collect().map(_.getLong(0))
    val p2 = serving.catalogPage(catalog, "p_partkey", 10, 10)
      .select("p_partkey").collect().map(_.getLong(0))
    val full = catalog.orderBy("p_partkey").limit(20)
      .select("p_partkey").collect().map(_.getLong(0))
    assert((p1 ++ p2).toSeq === full.toSeq,
      "concat of pages == prefix of the full sorted scan")
  }

  test("models info reflects best and latest versions") {
    serving.trainCollaborative(ratings) // publish at least one
    serving.trainCollaborative(ratings, markBest = false)
    val info = serving.modelsInfo().collect().head
    assert(info.getAs[String]("best_version") < info.getAs[String]("latest_version"))
  }

  test("tiered serving: each fallback tier engages when the better one is absent") {
    // reference: src/app_optimized.py:516-540 — trained model preferred,
    // hash-synthesized fallback when none is loaded.
    val catalog = Tables.part(spark, sfDir)
      .select(col("p_partkey").cast("int").as("item_id")).limit(100)

    // Tier 3: empty registry → synthetic, deterministic per user.
    val reg = new ModelRegistry(
      "file://" + Files.createTempDirectory("graft-tiers").toString)
    val sv = new Serving(spark, reg)
    val t3 = sv.collaborativeTiered(Seq(7, 8), 5, catalog).collect()
    assert(t3.length === 10)
    assert(t3.forall(_.getAs[String]("tier") == "synthetic"))
    assert(t3.forall { r =>
      val s = r.getAs[Double]("score"); s >= 1.0 && s <= 5.0
    })
    val t3again = sv.collaborativeTiered(Seq(7, 8), 5, catalog).collect()
    assert(t3.map(_.toString).toSeq === t3again.map(_.toString).toSeq,
      "synthetic tier is deterministic per user (seeded-shuffle contract)")

    // Tier 4: empty registry AND empty catalog → the hardcoded builtin
    // catalog serves (the reference's SAMPLE_SONGS bottom tier).
    val t4 = sv.collaborativeTiered(Seq(3), 4, catalog.limit(0)).collect()
    assert(t4.length === 4)
    assert(t4.forall(_.getAs[String]("tier") == "builtin"))
    assert(t4.forall(r => (1L to 10L).contains(r.getAs[Long]("item_id"))))

    // Tier 2: a published version but no BEST pointer → trained-latest.
    sv.trainCollaborative(ratings, markBest = false)
    val t2 = sv.collaborativeTiered(Seq(1, 2), 3, catalog).collect()
    assert(t2.nonEmpty && t2.forall(_.getAs[String]("tier") == "trained-latest"))

    // Tier 1: BEST present → trained-best wins.
    sv.trainCollaborative(ratings, markBest = true)
    val t1 = sv.collaborativeTiered(Seq(1, 2), 3, catalog).collect()
    assert(t1.nonEmpty && t1.forall(_.getAs[String]("tier") == "trained-best"))
  }

  test("end-to-end: streaming retrain loop publishes servable model versions") {
    // the reference's full lifecycle: interaction batches land on disk →
    // the control loop crosses the pending threshold → a retrain publishes
    // a new registry version → serving answers from the persisted model.
    import graft.stream.{Interactions, Retrain}
    val batchDir = Files.createTempDirectory("graft-e2e-batches").toString
    val reg = new ModelRegistry(Files.createTempDirectory("graft-e2e-models").toString)
    val sv = new Serving(spark, reg)
    (0 until 3).foreach { i =>
      Interactions.synthesize(
          spark.range(200).select(
            expr(s"timestamp_micros(1704067200000000 + id * 1000000)").as("timestamp"),
            (col("id") + lit(i * 10000L)).as("value")))
        .write.mode("overwrite").json(f"$batchDir/batch_$i%06d")
    }
    val c = Retrain.control(spark, batchDir,
      Files.createTempDirectory("graft-e2e-ckpt").toString,
      minPendingBatches = 3,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)) { df =>
      val r = df.select(
        col("user_id").cast("int").as("user_id"),
        substring(col("track_id"), 2, 5).cast("int").as("item_id"),
        col("rating"))
      sv.trainCollaborative(r)
      ()
    }
    try c.query.processAllAvailable() finally c.query.stop()
    assert(c.totals._1 === 1L && c.totals._2 === 600L)
    assert(reg.best("als").isDefined, "retrain must publish a BEST version")
    // serve users that exist in the trained interaction set (cold-start
    // users are dropped by design, reference coldStartStrategy="drop")
    val present = spark.read.schema(Retrain.interactionSchema)
      .json(s"$batchDir/batch_*")
      .select(col("user_id").cast("int")).distinct()
      .limit(2).collect().map(_.getInt(0)).toSeq
    val recs = sv.collaborative(present, 3).collect()
    assert(recs.length === 6, "persisted model must serve recommendations")
  }

  test("served answers equal a freshly loaded BEST version's rows, in (user, rank) order") {
    serving.trainCollaborative(ratings)
    val best = registry.best("als").get
    val users = Seq(1, 2, 3)
    val want = freshAnswer(registry, best, users, 5)
    assert(want.length === 15)
    assert(answer(serving.collaborative(users, 5)) === want)
    assert(answer(serving.collaborativeTiered(users, 5, serving.builtinCatalog)) === want)
    users.foreach { u =>
      val collab = serving.hybrid(u, content, 10).collect().toSeq
        .filter(_.getAs[String]("source") == "collab")
        .map(r => Row(u, r.getAs[Int]("rank"), r.getAs[Int]("item_id"), r.getAs[Double]("score")))
      assert(collab === freshAnswer(registry, best, Seq(u), 7), s"hybrid collab rows, user $u")
    }
  }

  test("a BEST publish is served from the next request; a non-BEST publish is not") {
    val reg = new ModelRegistry(Files.createTempDirectory("graft-serving-flip").toString)
    val sv = new Serving(spark, reg)
    val users = Seq(1, 2, 3)
    val v0 = sv.trainCollaborative(ratings)
    val first = answer(sv.collaborative(users, 5))
    assert(first === freshAnswer(reg, v0, users, 5))
    // reversed preferences: a model whose answers differ from v0's
    val v1 = sv.trainCollaborative(ratings.withColumn("rating", lit(6.0) - col("rating")))
    val flipped = answer(sv.collaborative(users, 5))
    assert(flipped === freshAnswer(reg, v1, users, 5))
    assert(flipped !== first)
    sv.trainCollaborative(ratings, markBest = false)
    assert(answer(sv.collaborative(users, 5)) === flipped)
  }

  test("with a version held, building a request's DataFrame submits no Spark job") {
    serving.trainCollaborative(ratings)
    serving.collaborative(Seq(1), 3).collect() // loads the new BEST version
    val jobs = Measure.jobs(spark) {
      serving.collaborative(Seq(1, 2), 5)
      serving.collaborativeTiered(Seq(1, 2), 5, serving.builtinCatalog)
      serving.hybrid(1, content, 10)
    }
    assert(jobs === 0L)
  }

  test("with a version held, collecting a model-backed request submits at most one Spark job") {
    serving.trainCollaborative(ratings)
    serving.collaborative(Seq(1), 3).collect() // opens the new BEST version
    val requests = Seq[(String, () => DataFrame)](
      "collaborative" -> (() => serving.collaborative(Seq(1, 2), 5)),
      "collaborativeTiered" ->
        (() => serving.collaborativeTiered(Seq(1, 2), 5, serving.builtinCatalog)),
      "hybrid" -> (() => serving.hybrid(1, content, 10)))
    // the answer index serves the collaborative rows; hybrid's content half is one job
    val limit = Map("collaborative" -> 0L, "collaborativeTiered" -> 0L, "hybrid" -> 1L)
    requests.foreach { case (name, req) =>
      req().collect() // warm the content scan's schema once
      val jobs = Measure.jobs(spark)(req().collect())
      assert(jobs <= limit(name), s"$name submitted $jobs jobs")
    }
  }

  test("opening a new BEST version runs exactly one Spark job (the index load)") {
    serving.trainCollaborative(ratings)
    assert(Measure.jobs(spark)(serving.collaborative(Seq(1), 3).collect()) === 1L)
    assert(Measure.jobs(spark)(serving.collaborative(Seq(2), 3).collect()) === 0L)
  }

  test("duplicated and absent users: each present user once, in (user, rank) order") {
    serving.trainCollaborative(ratings)
    val best = registry.best("als").get
    val users = Seq(2, 2, 999999, 1)
    val want = freshAnswer(registry, best, users, 5)
    assert(want.map(_.getInt(0)).distinct === Seq(1, 2))
    val table = answer(spark.read.parquet(registry.answersPath("als", best))
      .filter(col("user_id").isin(users: _*) && col("rank") <= 5)
      .orderBy("user_id", "rank"))
    assert(table === want)
    assert(answer(serving.collaborative(users, 5)) === want)
    assert(answer(serving.collaborativeTiered(users, 5, serving.builtinCatalog)) === want)
  }

  test("a request past KMax still equals a freshly loaded model's block top-k rows") {
    serving.trainCollaborative(ratings)
    val best = registry.best("als").get
    val users = Seq(1, 2, 3)
    val k = Serving.KMax + 5
    val want = freshAnswer(registry, best, users, k)
    assert(want.length > users.size * Serving.KMax, "the model must have more than KMax items")
    assert(answer(serving.collaborative(users, k)) === want)
  }

  test("a published version holds its answer table; keep-last GC prunes it with the version") {
    val reg = new ModelRegistry(Files.createTempDirectory("graft-answers").toString, keepLast = 2)
    val sv = new Serving(spark, reg)
    def tableFiles(v: String) =
      Option(new java.io.File(reg.answersPath("als", v)).list()).toSeq.flatten
        .filter(_.endsWith(".parquet"))
    val v0 = sv.trainCollaborative(ratings)
    assert(tableFiles(v0).nonEmpty, s"$v0 has no answer table")
    val table = spark.read.parquet(reg.answersPath("als", v0))
    assert(table.columns.toSeq === Seq("user_id", "rank", "item_id", "score"))
    assert(table.agg(max("rank")).head().getInt(0) === Serving.KMax)
    sv.trainCollaborative(ratings)
    val v2 = sv.trainCollaborative(ratings)
    assert(!new java.io.File(reg.answersPath("als", v0)).getParentFile.exists(),
      s"$v0 should be pruned")
    assert(tableFiles(v2).nonEmpty)
  }

  test("a BEST version without its answer table fails the request, naming the table's path") {
    val reg = new ModelRegistry(Files.createTempDirectory("graft-no-answers").toString)
    val sv = new Serving(spark, reg)
    val v = sv.trainCollaborative(ratings)
    sv.collaborative(Seq(1), 3).collect()
    val path = reg.answersPath("als", v)
    deleteRecursively(path)
    val held = intercept[IllegalStateException](sv.collaborative(Seq(1), 3).collect())
    assert(held.getMessage.contains(path), held.getMessage)
    val fresh = intercept[IllegalStateException](
      new Serving(spark, reg).collaborative(Seq(1), 3).collect())
    assert(fresh.getMessage.contains(path), fresh.getMessage)
  }

  test("requests racing five BEST publishes each return one published version's full answer") {
    val reg = new ModelRegistry(Files.createTempDirectory("graft-race").toString, keepLast = 10)
    val sv = new Serving(spark, reg)
    val users = Seq(1, 2, 3)
    val v0 = sv.trainCollaborative(ratings)
    val served = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Row]]()
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val clients = Seq[() => DataFrame](
      () => sv.collaborative(users, 5),
      () => sv.collaborativeTiered(users, 5, sv.builtinCatalog)).map { req =>
      val t = new Thread(() =>
        try while (!done.get) served.add(answer(req()))
        catch { case e: Throwable => failures.add(e) })
      t.start(); t
    }
    val later =
      try (1 to 5).map { i =>
        // shifted preferences, so each version answers differently
        sv.trainCollaborative(
          ratings.withColumn("rating", pmod(col("rating") + lit(i.toFloat), lit(5.0f)) + lit(1.0f)))
      } finally { done.set(true); clients.foreach(_.join()) }
    assert(failures.isEmpty, s"a request failed: ${failures.peek()}")
    val published = (v0 +: later).map(v => answer(spark.read.parquet(reg.answersPath("als", v))
      .filter(col("user_id").isin(users: _*) && col("rank") <= 5)
      .orderBy("user_id", "rank")))
    assert(published.distinct.size > 1, "published versions must answer differently")
    assert(served.size >= 2)
    served.forEach { got =>
      assert(published.contains(got), s"answer matches no published version: $got")
    }
  }
}
