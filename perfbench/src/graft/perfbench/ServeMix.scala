package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.api.Serving
import graft.sources.ModelRegistry
import graft.stream.{Interactions, Retrain}

/** Shared by the serving workloads: the request body and its checks. */
object Requests {
  val k = 10
  val catalogSize = 2000

  /** Ratings from synthesized interactions, as the retrain loop trains them. */
  def ratings(interactions: DataFrame): DataFrame = interactions.select(
    col("user_id").cast("int").as("user_id"),
    substring(col("track_id"), 2, 5).cast("int").as("item_id"),
    col("rating"))

  /** A top-k answer: ranks 1..n in order, distinct catalog items, scores
    * not increasing. Returns the failure, or "".
    */
  def checkTopK(answer: Seq[Row], n: Int, rankCol: String): String = {
    val rows = answer.sortBy(_.getAs[Number](rankCol).longValue)
    val ranks = rows.map(r => r.getAs[Number](rankCol).longValue)
    val items = rows.map(r => r.getAs[Number]("item_id").longValue)
    val scores = rows.map(r => r.getAs[Number]("score").doubleValue)
    if (rows.size != n) s"${rows.size} rows, want $n"
    else if (ranks != (1L to n.toLong)) s"ranks $ranks"
    else if (items.distinct.size != n || items.exists(i => i < 0 || i >= catalogSize))
      s"items $items"
    else if (scores.zip(scores.drop(1)).exists { case (a, b) => b > a }) s"scores $scores"
    else ""
  }

  /** Digest of a recommendation answer without its tier column. */
  def recDigest(rows: Seq[Row]): String = Digest.of(Seq("user_id", "rank", "item_id", "score"),
    rows.map(r => Seq(r.getAs[Any]("user_id"), r.getAs[Any]("rank"),
      r.getAs[Any]("item_id"), r.getAs[Any]("score"))))
}

/** One retrain as the train callback saw it. */
final case class Retrained(version: String, rows: Long, newestEventMs: Double,
    startMs: Double, endMs: Double)

/** Closed loop, two clients sharing one seeded request sequence: a deck
  * of one request per endpoint (collaborative, hybrid, collaborativeTiered,
  * contentSimilar, catalogPage), reshuffled per deck, users from a seeded
  * Zipf(1.1) over the generator's 500-user pool. No traffic record backs
  * any endpoint share, so the deck claims none. A window deals whole decks
  * until at least `seconds` have elapsed, so every run serves the same mix.
  * Requests are small (a registry lookup, a model load and a few tiny
  * jobs): this weighs per-job planning, scheduling and the model registry,
  * not scans or shuffles.
  *
  * Setup synthesizes 100k interactions over a seeded range and publishes
  * one model from them through the generator's batch sink and the retrain
  * control loop, which times the streaming and retrain layers once per
  * run. It then caches a 2,000-item catalog and a content-score table and
  * sends one untimed request per endpoint. Nothing publishes while the
  * window runs.
  */
final class ServeMix(ctx: Ctx) extends Workload {
  import ctx.spark
  import Requests._

  private val clients = 2
  // request positions of the untimed warm-up requests, apart from the window's
  private val warmFrom = 1L << 40
  private val deck = Harness.LayerNames.endpoints
  private val users = ctx.rng.shuffle((0 until 500).toVector)
  private val zipfCdf = {
    val w = (1 to users.size).map(r => 1.0 / math.pow(r, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
  }
  private val probe = users.head
  private var serving: Serving = _
  private var catalog: DataFrame = _
  private var content: DataFrame = _
  private var probeDigest = ""
  private val opSeq = new java.util.concurrent.atomic.AtomicLong()
  private var setupLayer = Map.empty[String, Double]

  private def dir(name: String) = new java.io.File(ctx.work, name).getPath

  def setup(): Unit = {
    serving = new Serving(spark, new ModelRegistry(dir("models")))
    val r = publishFromStream()
    val first = serving.collaborative(Seq(probe), k).collect().toSeq
    val servedMs = Clock.nowMs
    Clock.note("model published and served")
    probeDigest = recDigest(first)
    catalog = spark.range(catalogSize).select(col("id").as("item_id")).cache()
    content = ratings(spark.read.schema(Retrain.interactionSchema).json(dir("batches") + "/batch_*"))
      .groupBy("item_id").agg(graft.ops.Num.roundAt(avg("rating"), 4).as("score")).cache()
    catalog.count(); content.count()
    deck.zipWithIndex.foreach { case (e, i) => request(e, warmFrom + i, None) }
    setupLayer ++= Map(
      "retrain.wait_s" -> (r.startMs - r.newestEventMs) / 1000,
      "retrain.train_s" -> (r.endMs - r.startMs) / 1000,
      "retrain.rows" -> r.rows.toDouble,
      "lifecycle.freshness_s" -> (servedMs - r.newestEventMs) / 1000,
      "lifecycle.pickup_ms" -> (servedMs - r.endMs))
  }

  /** 100k interactions synthesized over a seeded range reach the batch
    * sink as one micro-batch; the control loop then trains and publishes
    * from that pending batch.
    */
  private def publishFromStream(): Retrained = {
    val src = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", 100000L).option("numPartitions", Harness.cpus.toLong)
      .option("startTimestamp", System.currentTimeMillis()).load()
      .select((col("value") + lit(ctx.seed * 1000000L)).as("value"), col("timestamp"))
    val gen = Interactions.writeBatches(Interactions.synthesize(src), dir("batches"),
      dir("gen-ckpt"), Trigger.ProcessingTime("250 milliseconds"))
    try {
      while (!gen.recentProgress.exists(_.numInputRows > 0) && gen.exception.isEmpty)
        Thread.sleep(10)
    } finally gen.stop()
    gen.exception.foreach(e => throw e)
    // a batch the stop cut short is not part of the input
    new java.io.File(dir("batches")).listFiles().filter(_.getName.startsWith("batch_"))
      .sortBy(_.getName).drop(1).foreach(org.apache.commons.io.FileUtils.deleteDirectory)
    val progress = gen.recentProgress.filter(_.numInputRows > 0).take(1).toSeq
    setupLayer = Map(
      "stream.batches" -> progress.size.toDouble,
      "stream.trigger_ms" -> Stats.median(progress.map(
        _.durationMs.getOrDefault("triggerExecution", 0L).doubleValue)),
      "stream.processed_rows_per_s" -> Stats.median(progress.map(_.processedRowsPerSecond)))
    Clock.note("batches written")
    val published = new java.util.concurrent.atomic.AtomicReference[Retrained]()
    val control = Retrain.control(spark, dir("batches"), dir("ctl-ckpt"), 1,
      Trigger.ProcessingTime("250 milliseconds")) { df =>
      published.set(ServeMix.retrain(serving, 10)(df))
    }
    try {
      while (published.get == null && control.query.exception.isEmpty) Thread.sleep(10)
    } finally control.query.stop()
    control.query.exception.foreach(e => throw e)
    val r = published.get
    require(r.rows == 100000L, s"the first retrain read ${r.rows} interactions, not 100000")
    r
  }

  /** Request `p` of the run's seeded sequence. */
  private def request(endpoint: String, p: Long, tr: Option[Tracer]): (Op, String) = {
    val rng = new scala.util.Random(ctx.seed * 1000003L + p)
    val user = users(math.min(zipfCdf.search(rng.nextDouble()).insertionPoint, users.size - 1))
    val id = s"req${opSeq.incrementAndGet()}"
    tr.foreach(_ => spark.sparkContext.setJobGroup(id, endpoint, interruptOnCancel = false))
    var check: Seq[Row] => String = null
    val res = try Op.measure(endpoint) {
      val (df, chk) = endpoint match {
        case "collaborative" =>
          (serving.collaborative(Seq(user), k), (rows: Seq[Row]) =>
            probeCheck(user, rows, checkTopK(rows, k, "rank")))
        case "collaborativeTiered" =>
          (serving.collaborativeTiered(Seq(user), k, catalog), (rows: Seq[Row]) =>
            if (rows.exists(_.getAs[String]("tier") != "trained-best"))
              "tier " + rows.map(_.getAs[String]("tier")).distinct
            else probeCheck(user, rows, checkTopK(rows, k, "rank")))
        case "hybrid" =>
          (serving.hybrid(user, content, k), (rows: Seq[Row]) => {
            val (c, o) = rows.partition(_.getAs[String]("source") == "collab")
            val nc = math.ceil(k * 0.7).toInt
            Seq(checkTopK(c, nc, "rank"), checkTopK(o, k - nc, "rank"))
              .find(_.nonEmpty).getOrElse("")
          })
        case "contentSimilar" =>
          val seedItem = rng.nextInt(catalogSize).toLong
          (serving.contentSimilar(content, seedItem, k), (rows: Seq[Row]) =>
            if (rows.exists(_.getAs[Number]("item_id").longValue == seedItem)) "seed item served"
            else checkTopK(rows, k, "rank"))
        case "catalogPage" =>
          val offset = rng.nextInt(catalogSize / k) * k
          (serving.catalogPage(catalog, "item_id", k, offset), (rows: Seq[Row]) => {
            val got = rows.map(r => (r.getAs[Number]("item_id").longValue,
              r.getAs[Number]("rn").longValue)).sortBy(_._2)
            val want = (offset until offset + k).map(i => (i.toLong, i + 1L))
            if (got == want) "" else s"page $got"
          })
      }
      check = chk
      tr.fold(df.collect())(_.timed(id, "collect", "op")(df.collect())).toSeq
    }(rows => check(rows))
    finally tr.foreach(_ => spark.sparkContext.clearJobGroup())
    tr.foreach(_.span(id, res.name, "", res.startMs, res.endMs))
    (res, id)
  }

  private def probeCheck(user: Int, rows: Seq[Row], base: String): String =
    if (base.nonEmpty || user != probe) base
    else if (recDigest(rows) != probeDigest) "probe user answer changed"
    else ""

  /** Deal whole decks until `seconds` have passed: at least one deck,
    * stopping at the first deck boundary past the deadline.
    */
  def window(tr: Option[Tracer]): Window = {
    val ops = new java.util.concurrent.ConcurrentLinkedQueue[(Op, String)]()
    val gauge = tr.map(_ => new CacheGauge(spark))
    val start = Clock.nowMs
    val deadline = start + ctx.seconds * 1000.0
    var next = 0L
    var stopped = false
    def deal(): Option[Long] = synchronized {
      if (stopped || (next > 0 && next % deck.size == 0 && Clock.nowMs >= deadline)) {
        stopped = true; None
      }
      else { next += 1; Some(next - 1) }
    }
    val threads = (0 until clients).map { _ =>
      val t = new Thread(() => {
        var p = deal()
        while (p.isDefined) {
          val d = p.get
          val order = new scala.util.Random(ctx.seed * 7919L + d / deck.size).shuffle(deck)
          ops.add(request(order((d % deck.size).toInt), d, tr))
          p = deal()
        }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    val end = Clock.nowMs
    val cachedMb = gauge.fold(0.0)(_.stop())
    val all = ops.toArray(Array.empty[(Op, String)]).toSeq.sortBy(_._1.startMs)
    Window(all.map(_._1), all.map(_._2), start, end, cachedMb,
      setupLayer ++ tr.fold(Map.empty[String, Double])(t => ServeMix.layer(all, t, end - start)))
  }

  def close(): Unit = ()
}

object ServeMix {
  /** The train callback handed to Retrain.control: one job for the row
    * count and the newest event time, then fit and publish.
    */
  def retrain(serving: Serving, rank: Int)(df: DataFrame): Retrained = {
    val t0 = Clock.nowMs
    val agg = df.agg(count(lit(1)), max(col("ts"))).head()
    val version = serving.trainCollaborative(Requests.ratings(df), rank)
    Retrained(version, agg.getLong(0), agg.getTimestamp(1).getTime.toDouble, t0, Clock.nowMs)
  }

  /** Per-endpoint latency and job counts, model-load job time and the
    * requests' self time (span minus its Spark jobs), from a traced window
    * of `windowMs`. A failed request ranks slower than every success, as in
    * the end-to-end median.
    */
  def layer(ops: Seq[(Op, String)], tr: Tracer, windowMs: Double): Map[String, Double] = {
    val jobSpans = tr.allSpans.filter(_.name == "spark.job").groupBy(_.group)
    val perEndpoint = ops.groupBy(_._1.name).flatMap { case (e, xs) =>
      Seq(s"api.serving.$e.p50_ms" -> Stats.p50(xs.map(_._1), windowMs),
        s"api.serving.$e.jobs" -> xs.map(x => tr.countsFor(x._2).jobs).sum.toDouble / xs.size)
    }
    val self = ops.map { case (o, id) =>
      Stats.selfTime(o.startMs, o.endMs,
        jobSpans.getOrElse(id, Nil).map(s => (s.startMs, s.endMs)))
    }
    perEndpoint ++ Map(
      "sources.model_registry.load_ms" ->
        ops.map(x => tr.countsFor(x._2).loadJobMs).sum / math.max(1, ops.size),
      "api.serving.self_ms" -> Stats.median(self))
  }
}
