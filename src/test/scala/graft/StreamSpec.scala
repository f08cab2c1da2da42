package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.stream.{EventTimeWindows, Interactions, Retrain}
import graft.tables.Tables

/** Live Structured Streaming path (SURVEY.md §2.8, T1-T10): deterministic
  * interaction synthesis, foreachBatch batch-file sink, retrain control
  * loop, and event-time windows with real watermark semantics.
  */
object StreamSpec {
  final case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  final case class Ev2(ts: Timestamp, user_id: Long)
  final case class DocEv(doc_id: Long, text: String, lang: String, ts: Timestamp)
  final case class Trig(user_id: Long, lts: Timestamp)
  final case class Resp(user_id: Long, rts: Timestamp, value: Double)
  final case class IEv(user_id: Long, event_id: Long, ts: Timestamp)
}

class StreamSpec extends SparkSpec {
  import StreamSpec.{Ev, Ev2, DocEv, Trig, Resp, IEv}

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def rateLike(n: Long): DataFrame = {
    // Batch stand-in for the rate source's (timestamp, value) contract —
    // synthesize() is expression-only, so batch and streaming agree exactly.
    spark.range(n).select(
      expr("timestamp_micros(1704067200000000 + id * 2000000)").as("timestamp"),
      col("id").as("value"))
  }

  test("T1: interaction synthesis is deterministic, bounded, and nested") {
    val a = Interactions.synthesize(rateLike(200)).collect()
    val b = Interactions.synthesize(rateLike(200)).collect()
    assert(a.toSeq === b.toSeq, "same offsets must replay identically")
    a.foreach { r =>
      val rating = r.getAs[Double]("rating")
      assert(rating >= 1.0 && rating <= 5.0)
      assert(r.getAs[Long]("user_id") >= 0 && r.getAs[Long]("user_id") < 500)
      assert(Set("play", "like", "skip").contains(r.getAs[String]("action")))
      assert(r.getAs[org.apache.spark.sql.Row]("track_display").getAs[String]("name").startsWith("Track T"))
    }
  }

  test("T1: fromRate wires the rate source into a streaming interaction frame") {
    val df = Interactions.fromRate(spark, 10)
    assert(df.isStreaming, "rate-source path must be a streaming DataFrame")
    assert(df.schema.fieldNames.toSet === Set("seq", "user_id", "track_id",
      "rating", "action", "play_duration_ms", "ts", "track_display", "context"))
  }

  test("T4: per-batch analytics summary matches direct aggregation") {
    val batch = Interactions.synthesize(rateLike(300))
    val s = Interactions.batchSummary(batch).collect().head
    assert(s.getAs[Long]("size") === 300L)
    assert(s.getAs[Long]("unique_users") ===
      batch.select("user_id").distinct().count())
    val expectedAvg = batch.agg(round(avg("rating"), 4)).collect().head.getDouble(0)
    assert(s.getAs[Double]("avg_rating") === expectedAvg)
    val dist = s.getAs[Map[String, Long]]("action_distribution")
    assert(dist.values.sum === 300L)
    val featured = s.getAs[collection.Seq[org.apache.spark.sql.Row]]("featured_tracks")
    assert(featured.size === 5)
    val ratings = featured.map(_.getAs[Double]("rating"))
    assert(ratings === ratings.sortBy(-_), "featured must be rating-desc")
  }

  test("T2/T5/S8: foreachBatch sink writes sequenced batch dirs + summaries") {
    import spark.implicits._
    val out = tmp("graft-batches")
    val ms = MemoryStream[(Timestamp, Long)](
      implicitly[Encoder[(Timestamp, Long)]], spark.sqlContext)
    val interactions = Interactions.synthesize(
      ms.toDF().toDF("timestamp", "value"))
    val q = Interactions.writeBatches(
      interactions, out, tmp("graft-ckpt"),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      // two count-shaped flushes of 50 (the reference's batch size)
      ms.addData((0L until 50L).map(i => (new Timestamp(1704067200000L + i * 1000), i)))
      q.processAllAvailable()
      ms.addData((50L until 100L).map(i => (new Timestamp(1704067200000L + i * 1000), i)))
      q.processAllAvailable()
    } finally q.stop()
    val dirs = new java.io.File(out).listFiles().map(_.getName).sorted
    val batchDirs = dirs.filter(_.startsWith("batch_"))
    assert(batchDirs.length >= 2, s"expected >=2 batch dirs, got ${dirs.toSeq}")
    assert(batchDirs.head === "batch_000000", "T5 batch-id sequencing")
    // every batch dir must round-trip through the declared schema
    val back = spark.read.schema(Retrain.interactionSchema).json(s"$out/batch_*")
    assert(back.count() === 100)
    assert(back.select("user_id").where(col("user_id").isNull).count() === 0)
    val summaries = dirs.filter(_.startsWith("summary_"))
    assert(summaries.length === batchDirs.length, "one T4 summary per batch")
  }

  test("T8/T9: retrain fires at >=3 pending batch dirs, ledger survives restart") {
    val batchDir = tmp("graft-retrain")
    val ckpt = tmp("graft-retrain-ckpt")
    def writeBatch(id: Int, n: Long, seed: Long): Unit =
      Interactions.synthesize(rateLike(n).withColumn("value", col("value") + lit(seed)))
        .write.mode("overwrite").json(f"$batchDir/batch_$id%06d")
    (0 until 4).foreach(i => writeBatch(i, 50, i * 1000L))

    val trained = new ConcurrentLinkedQueue[Long]()
    val c1 = Retrain.control(spark, batchDir, ckpt,
      minPendingBatches = 3,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)) {
      df => trained.add(df.count()); ()
    }
    try c1.query.processAllAvailable() finally c1.query.stop()
    assert(trained.size === 1, "4 pending dirs >= 3 → exactly one retrain")
    assert(trained.peek() === 200L, "retrain sees the union of all pending batches")
    assert(c1.pendingCount === 0)
    assert(c1.totals === ((1L, 200L)),
      "A9: running totals accumulate (retrains, records) across retrains")

    // restart: the checkpoint is the processed-ledger (T9) — old dirs are
    // NOT redelivered; 2 new dirs stay below the threshold.
    (4 until 6).foreach(i => writeBatch(i, 50, i * 1000L))
    val c2 = Retrain.control(spark, batchDir, ckpt,
      minPendingBatches = 3,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)) {
      df => trained.add(df.count()); ()
    }
    try c2.query.processAllAvailable() finally c2.query.stop()
    assert(trained.size === 1, "2 new pending dirs < 3 → no second retrain")
    assert(c2.pendingCount === 2, "new dirs buffered, old dirs not replayed")
  }

  test("T7: topic-multiplexed sink partitions each batch by routing column") {
    import spark.implicits._
    val out = tmp("graft-topics")
    val ms = MemoryStream[(Timestamp, Long)](
      implicitly[Encoder[(Timestamp, Long)]], spark.sqlContext)
    val q = Interactions.writeBatchesByTopic(
      Interactions.synthesize(ms.toDF().toDF("timestamp", "value")),
      "action", out, tmp("graft-topics-ckpt"),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      ms.addData((0L until 100L).map(i => (new Timestamp(1704067200000L + i * 1000), i)))
      q.processAllAvailable()
    } finally q.stop()
    val topicDirs = new java.io.File(s"$out/batch_000000").listFiles()
      .map(_.getName).filter(_.startsWith("action=")).sorted
    assert(topicDirs.toSeq === Seq("action=like", "action=play", "action=skip"),
      "one partition dir per topic under a single checkpointed sink")
    // partition pruning: reading one topic must not scan the others
    val plays = spark.read.schema(Retrain.interactionSchema)
      .json(s"$out/batch_000000/action=play")
    assert(plays.count() > 0)
  }

  test("T10: streaming tumbling windows equal the batch oracle query") {
    import spark.implicits._
    val rows = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev].collect().toSeq
    val ms = MemoryStream[Ev](implicitly[Encoder[Ev]], spark.sqlContext)
    val sink = s"tumbling_stream_${System.identityHashCode(this)}"
    val q = EventTimeWindows.tumblingDaily(ms.toDF())
      .writeStream.outputMode("complete").format("memory").queryName(sink).start()
    try {
      val (h, t) = rows.splitAt(rows.size / 2)
      ms.addData(h); q.processAllAvailable()
      ms.addData(t); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table(sink)
      .orderBy("day", "event_type").collect().toSeq
    val batch = EventTimeWindows.tumblingDaily(Tables.events(spark, sfDir))
      .orderBy("day", "event_type").collect().toSeq
    assert(streamed === batch)
  }

  test("windowed top-k: live bounded-heap stream equals the q_window_topk batch twin") {
    import spark.implicits._
    val rows = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev].collect().toSeq
    val ms = MemoryStream[Ev](implicitly[Encoder[Ev]], spark.sqlContext)
    val sink = s"window_topk_${System.identityHashCode(this)}"
    val q = graft.stream.TopK.dailyTopK(ms.toDF(), 3)
      .writeStream.outputMode("complete").format("memory").queryName(sink).start()
    try {
      // Two deliveries so per-window state merges across micro-batches —
      // the heap's merge path, not just reduce.
      val (h, t) = rows.splitAt(rows.size / 2)
      ms.addData(h); q.processAllAvailable()
      ms.addData(t); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table(sink)
      .orderBy("day", "event_type", "rn").collect().toSeq
    val batch = SparkEntry.queries("q_window_topk")(spark, sfDir).collect().toSeq
    assert(streamed === batch)
  }

  test("streaming dedup drops re-deliveries within the watermark horizon") {
    import spark.implicits._
    import graft.stream.Dedup
    val base = 1704067200000L
    def ev(id: Long, minute: Long): Ev =
      Ev(id, new Timestamp(base + minute * 60000L), id % 5, "play", 1.0)
    val ms = MemoryStream[Ev](implicitly[Encoder[Ev]], spark.sqlContext)
    val sink = s"stream_dedup_${System.identityHashCode(this)}"
    val q = Dedup.exactWithinWatermark(
        ms.toDF(), Seq("event_id"), "ts", "30 minutes")
      .writeStream.outputMode("append").format("memory").queryName(sink).start()
    try {
      ms.addData(Seq(ev(1, 0), ev(2, 1), ev(3, 2)))
      q.processAllAvailable()
      // a later micro-batch re-delivers id 2 inside the horizon and adds 4
      ms.addData(Seq(ev(2, 3), ev(4, 4)))
      q.processAllAvailable()
      val ids = spark.table(sink).select("event_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids === Seq(1L, 2L, 3L, 4L), "replayed id must appear exactly once")
    } finally q.stop()
  }

  test("streaming curation composes: length filter → content dedup, exactly once") {
    // The batch curation predicates are mode-agnostic expressions, so the
    // same stages run on a live stream: length floor, then content-keyed
    // dedup bounded by the watermark. Re-delivered docs AND same-text
    // copies under new ids must both collapse.
    import spark.implicits._
    import graft.stream.Dedup
    val base = 1704067200000L
    val real = Tables.documents(spark, sfDir).select("doc_id", "text", "lang")
      .collect().take(10)
      .zipWithIndex.map { case (r, i) =>
        DocEv(r.getLong(0), r.getString(1), r.getString(2),
          new Timestamp(base + i * 60000L))
      }.toSeq
    val ms = MemoryStream[DocEv](implicitly[Encoder[DocEv]], spark.sqlContext)
    val sink = s"stream_curate_${System.identityHashCode(this)}"
    val curated = Dedup.byContentWithinWatermark(
      ms.toDF().filter(size(split(col("text"), " ")) >= 20),
      "text", "ts", "30 minutes")
    val q = curated.writeStream.outputMode("append")
      .format("memory").queryName(sink).start()
    try {
      ms.addData(real.take(6))
      q.processAllAvailable()
      // re-deliver two verbatim + two same-text copies under fresh ids + new docs
      ms.addData(real.slice(4, 6) ++
        real.slice(0, 2).map(d => d.copy(doc_id = d.doc_id + 50000L)) ++
        real.drop(6))
      q.processAllAvailable()
      val out = spark.table(sink).select("text").collect().map(_.getString(0))
      val expect = real.map(_.text).distinct
        .filter(_.split(" ", -1).length >= 20)
      assert(out.sorted.toSeq === expect.sorted.toSeq,
        "each surviving text exactly once despite re-delivery and copies")
    } finally q.stop()
  }

  test("stream-static enrichment joins a live stream against a batch dim") {
    // The batch dim tables compose with streams as-is: a static DataFrame
    // on the build side of a streaming join needs no watermark and no
    // state — each micro-batch hash-joins against the (broadcastable) dim.
    import spark.implicits._
    val dim = Tables.nation(spark, sfDir)
      .select(col("n_nationkey"), col("n_name"))
    val ms = MemoryStream[Ev2](implicitly[Encoder[Ev2]], spark.sqlContext)
    val enriched = ms.toDF()
      .withColumn("n_nationkey", pmod(col("user_id"), lit(25L)))
      .join(broadcast(dim), "n_nationkey")
    val sink = s"stream_static_${System.identityHashCode(this)}"
    val q = enriched.writeStream.outputMode("append")
      .format("memory").queryName(sink).start()
    try {
      val base = 1704067200000L
      ms.addData((1L to 6L).map(i => Ev2(new Timestamp(base + i * 1000L), i * 5L)))
      q.processAllAvailable()
      val out = spark.table(sink).select("user_id", "n_name").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val expect = Tables.nation(spark, sfDir)
        .selectExpr("cast(n_nationkey as long)", "n_name").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(out.keySet === (1L to 6L).map(_ * 5L).toSet)
      out.foreach { case (uid, name) =>
        assert(name === expect(uid % 25), s"user $uid joined wrong nation row")
      }
    } finally q.stop()
  }

  test("stream-stream interval join matches within the bound, drops outside it") {
    import spark.implicits._
    import graft.stream.Joins
    val base = 1704067200000L
    def ts(min: Long): Timestamp = new Timestamp(base + min * 60000L)
    val lms = MemoryStream[Trig](implicitly[Encoder[Trig]], spark.sqlContext)
    val rms = MemoryStream[Resp](implicitly[Encoder[Resp]], spark.sqlContext)
    val joined = Joins.intervalJoin(
      lms.toDF(), "lts", rms.toDF(), "rts", "user_id", "10 minutes", "10 minutes")
    val sink = s"stream_joins_${System.identityHashCode(this)}"
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName(sink).start()
    try {
      lms.addData(Trig(1, ts(0)), Trig(2, ts(0)))
      // user 1: one response inside [t0, t0+10'], one outside;
      // user 3: response with no trigger at all
      rms.addData(Resp(1, ts(5), 1.5), Resp(1, ts(20), 2.5), Resp(3, ts(5), 9.9))
      q.processAllAvailable()
      val out = spark.table(sink)
        .select("user_id", "lts", "rts", "value").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getDouble(3)))
      assert(out.toSeq === Seq((1L, ts(0), ts(5), 1.5)),
        "exactly the in-interval pair must match; out-of-interval and " +
          s"triggerless responses must not: ${out.toSeq}")
    } finally q.stop()
  }

  test("left-outer interval join null-completes unmatched triggers only after the watermark closes their interval") {
    import spark.implicits._
    import graft.stream.Joins
    val base = 1704067200000L
    def ts(min: Long): Timestamp = new Timestamp(base + min * 60000L)
    val lms = MemoryStream[Trig](implicitly[Encoder[Trig]], spark.sqlContext)
    val rms = MemoryStream[Resp](implicitly[Encoder[Resp]], spark.sqlContext)
    val joined = Joins.leftOuterIntervalJoin(
      lms.toDF(), "lts", rms.toDF(), "rts", "user_id", "10 minutes", "10 minutes")
    val sink = s"stream_ojoins_${System.identityHashCode(this)}"
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName(sink).start()
    try {
      // user 1 gets an in-interval response; user 2 never gets one
      lms.addData(Trig(1, ts(0)), Trig(2, ts(0)))
      rms.addData(Resp(1, ts(5), 1.5))
      q.processAllAvailable()
      val early = spark.table(sink).collect()
      assert(early.map(_.getLong(0)).toSet === Set(1L),
        "the unmatched trigger must NOT surface before its interval closes")
      // advance BOTH watermarks (the query watermark is the min across
      // inputs) far past user 2's interval end
      lms.addData(Trig(9, ts(120))); rms.addData(Resp(9, ts(120), 0.0))
      q.processAllAvailable()
      val out = spark.table(sink).filter(col("user_id") < 9)
        .select("user_id", "lts", "rts", "value").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1),
          Option(r.getTimestamp(2)), if (r.isNullAt(3)) None else Some(r.getDouble(3))))
        .toSet
      assert(out === Set(
        (1L, ts(0), Some(ts(5)), Some(1.5)),
        (2L, ts(0), None, None)),
        s"matched row + watermark-closed null completion expected: $out")
    } finally q.stop()
  }

  test("stream-stream interval join: live run equals the q_interval_join batch twin") {
    // The SAME events, the SAME Joins.intervalJoin definition, once through
    // real streaming state (MemoryStream, append mode) and once through the
    // oracle-checked batch twin — the pair sets must be identical, so the
    // driver's DuckDB hash on q_interval_join transitively checks the
    // streaming join semantics.
    import spark.implicits._
    import graft.stream.Joins
    val ev = Tables.events(spark, sfDir)
    def side(t: String): Seq[IEv] = ev.filter(col("event_type") === lit(t))
      .select(col("user_id"), col("event_id"), col("ts")).collect()
      .map(r => IEv(r.getLong(0), r.getLong(1), r.getTimestamp(2))).toSeq
    val lms = MemoryStream[IEv](implicitly[Encoder[IEv]], spark.sqlContext)
    val rms = MemoryStream[IEv](implicitly[Encoder[IEv]], spark.sqlContext)
    val joined = Joins.intervalJoin(
      lms.toDF().select(col("user_id"),
        col("event_id").as("trigger_id"), col("ts").as("lts")), "lts",
      rms.toDF().select(col("user_id"),
        col("event_id").as("response_id"), col("ts").as("rts")), "rts",
      "user_id", "1 hour", "2 hours")
    val sink = s"interval_twin_${System.identityHashCode(this)}"
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName(sink).start()
    try {
      lms.addData(side("view"))
      rms.addData(side("purchase"))
      q.processAllAvailable()
      val streamed = spark.table(sink).select("trigger_id", "response_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = graft.queries.Registry.queries("q_interval_join")(spark, sfDir)
        .select("trigger_id", "response_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batch.nonEmpty, "fixture must produce at least one joined pair")
      assert(streamed === batch,
        s"stream/batch divergence: only-stream=${streamed -- batch}, " +
          s"only-batch=${batch -- streamed}")
    } finally q.stop()
  }

  test("streaming curation equals the batch funnel's final stage; replays add nothing") {
    // The SAME documents through graft.stream.Curate (filters + watermark
    // dedup, real streaming state) must emit exactly as many docs as the
    // oracle-checked batch funnel's 04_exact_dedup stage counts — and a
    // second delivery of the whole corpus must emit zero more.
    import spark.implicits._
    val base = 1704067200000L
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang").collect()
      .map(r => DocEv(r.getLong(0), r.getString(1), r.getString(2),
        new Timestamp(base + r.getLong(0) * 1000L))).toSeq
    val funnel = graft.queries.Registry.queries("q_curate_funnel")(spark, sfDir)
      .collect().map(r => r.getAs[String]("stage") -> r.getAs[Long]("n_docs")).toMap
    val ms = MemoryStream[DocEv](implicitly[Encoder[DocEv]], spark.sqlContext)
    val sink = s"curate_stream_${System.identityHashCode(this)}"
    val q = graft.stream.Curate.stream(ms.toDF(), "ts", "1 hour")
      .writeStream.outputMode("append").format("memory").queryName(sink).start()
    try {
      ms.addData(docs)
      q.processAllAvailable()
      assert(spark.table(sink).count() === funnel("04_exact_dedup"),
        "curated stream must equal the batch funnel's post-dedup count")
      // full re-delivery (at-least-once source): all fingerprints are in
      // state within the horizon -> every replay drops
      ms.addData(docs)
      q.processAllAvailable()
      assert(spark.table(sink).count() === funnel("04_exact_dedup"),
        "re-delivered corpus must add zero curated docs")
      // a genuinely novel doc passing every filter still flows through
      ms.addData(Seq(DocEv(999999L,
        (1 to 25).map(i => s"novel$i").mkString(" "), "en",
        new Timestamp(base + 300 * 1000L))))
      q.processAllAvailable()
      assert(spark.table(sink).count() === funnel("04_exact_dedup") + 1,
        "novel doc must survive curation")
    } finally q.stop()
  }

  test("streaming delta-dedup vs the standing catalog equals the batch exact stage") {
    // Live twin of q_dedup_delta's exact stage: the catalog bloom gates
    // each micro-batch map-side, positives resolve via the broadcast
    // fingerprint join, re-deliveries drop in watermark state. The
    // per-doc verdicts must equal the plain batch left join, and a full
    // re-delivery must add nothing.
    import spark.implicits._
    import graft.stream.Dedup
    val docs = Tables.documents(spark, sfDir)
    val catalog = docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0)
      .select(md5(col("text")).as("fp"), col("doc_id").as("catalog_id"))
    val bf = catalog.stat.bloomFilter("fp", 10000L, 0.03)
    val base = 1704067200000L
    def evs(df: DataFrame, shift: Long): Seq[DocEv] =
      df.select("doc_id", "text").collect().map(r => DocEv(r.getLong(0) + shift,
        r.getString(1), "en", new Timestamp(base + (r.getLong(0) % 600) * 1000L))).toSeq
    val delta = evs(docs.filter(pmod(col("doc_id"), lit(5L)) === 0), 0L) ++
      evs(docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0)
        .filter(col("doc_id") < 50), 50000L)
    val ms = MemoryStream[DocEv](implicitly[Encoder[DocEv]], spark.sqlContext)
    val sink = s"delta_dedup_${System.identityHashCode(this)}"
    val q = Dedup.againstCatalog(ms.toDF(), catalog, bf, "text", "ts", "1 hour")
      .writeStream.outputMode("append").format("memory").queryName(sink).start()
    try {
      ms.addData(delta)
      q.processAllAvailable()
      val got = spark.table(sink).select("doc_id", "catalog_id", "is_dup")
        .collect()
        .map(r => r.getLong(0) ->
          ((if (r.isNullAt(1)) None else Some(r.getLong(1))), r.getInt(2))).toMap
      // batch reference: the same delta through the plain fingerprint join
      val expect = delta.toDF()
        .withColumn("fp", md5(col("text")))
        .join(catalog.groupBy("fp").agg(min("catalog_id").as("catalog_id")),
          Seq("fp"), "left")
        .collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((Option(r.getAs[java.lang.Long]("catalog_id")).map(_.longValue()),
            if (r.isNullAt(r.fieldIndex("catalog_id"))) 0 else 1))).toMap
      assert(got === expect, "streaming verdicts must equal the batch join")
      assert(got.count(_._2._2 == 1) === 40, "all 40 planted catalog dups flagged")
      // at-least-once: replay the whole delta — watermark state drops it all
      ms.addData(delta)
      q.processAllAvailable()
      assert(spark.table(sink).count() === delta.size.toLong,
        "re-delivered delta must add zero verdict rows")
    } finally q.stop()
  }

  test("T10: watermark admits append output and drops late data") {
    import spark.implicits._
    val base = 1704067200000L // 2024-01-01T00:00Z
    val ms = MemoryStream[Ev2](implicitly[Encoder[Ev2]], spark.sqlContext)
    val sink = s"sessions_stream_${System.identityHashCode(this)}"
    val q = EventTimeWindows.userSessions(
        ms.toDF().withColumn("ts", col("ts")))
      .writeStream.outputMode("append").format("memory").queryName(sink).start()
    try {
      // one 3-event session for user 7, then a sentinel 10 days later that
      // advances the watermark (2-day delay) far past the session's close.
      ms.addData(Seq(
        Ev2(new Timestamp(base), 7L),
        Ev2(new Timestamp(base + 10 * 60 * 1000), 7L),
        Ev2(new Timestamp(base + 20 * 60 * 1000), 7L)))
      q.processAllAvailable()
      ms.addData(Seq(Ev2(new Timestamp(base + 10L * 86400 * 1000), 99L)))
      q.processAllAvailable()
      val emitted = spark.table(sink).collect()
      assert(emitted.length === 1, "closed session emitted once watermark passed")
      assert(emitted.head.getAs[Long]("user_id") === 7L)
      assert(emitted.head.getAs[Long]("n_events") === 3L)
      // a late event behind the watermark must be dropped, not re-open state
      ms.addData(Seq(Ev2(new Timestamp(base + 5 * 60 * 1000), 7L)))
      q.processAllAvailable()
      assert(spark.table(sink).count() === 1, "late event dropped by watermark")
    } finally q.stop()
  }

  test("live transition pairs equal the batch Markov matrix (one-row-per-user state)") {
    import spark.implicits._
    import graft.stream.Transitions
    import graft.stream.Transitions.TEvent
    // Global (ts, event_id) sort → a split preserves per-user time order
    // ACROSS batches; each batch is then seeded-shuffled so the spec
    // also proves the state machine re-sorts WITHIN a batch.
    val rows = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us")).as[TEvent]
      .collect().toSeq.sortBy(e => (e.us, e.event_id))
    val (h, t) = rows.splitAt(rows.size / 2)
    val rnd = new scala.util.Random(7)
    val ms = MemoryStream[TEvent](implicitly[Encoder[TEvent]], spark.sqlContext)
    val sink = s"transitions_${System.identityHashCode(this)}"
    val q = Transitions.pairs(ms.toDS())
      .writeStream.outputMode("append").format("memory").queryName(sink).start()
    try {
      ms.addData(rnd.shuffle(h)); q.processAllAvailable()
      ms.addData(rnd.shuffle(t)); q.processAllAvailable()
    } finally q.stop()
    val live = spark.table(sink)
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n")).toMap
    val batch = SparkEntry.queries("q_transitions")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n")).toMap
    assert(live === batch,
      "streaming transition counts must equal the oracle-checked batch matrix")
    // Cardinality: every event except each user's first contributes one pair.
    val nUsers = rows.map(_.user_id).distinct.size.toLong
    assert(live.values.sum === rows.size.toLong - nUsers,
      "one pair per event beyond each user's first")
  }

  test("O(1) transitions pair cross-batch late arrivals in arrival order — the pinned tradeoff") {
    // ADVICE r8: the documented divergence mode of the one-row-per-user
    // state machine was never itself exercised. Pin it: user 1 sees A@1s
    // and C@3s in batch 1, then B@2s arrives LATE in batch 2. Event-time
    // order would give A→B, B→C; the O(1) machine pairs B in arrival
    // order: A→C, then C→B. If this assertion ever flips, the O(1)
    // contract changed — update the scaladoc with it.
    import spark.implicits._
    import graft.stream.Transitions
    import graft.stream.Transitions.TEvent
    val ms = MemoryStream[TEvent](implicitly[Encoder[TEvent]], spark.sqlContext)
    val sink = s"transitions_arrival_${System.identityHashCode(this)}"
    val q = Transitions.pairs(ms.toDS())
      .writeStream.outputMode("append").format("memory").queryName(sink).start()
    try {
      ms.addData(Seq(TEvent(1L, 1L, "A", 1000000L), TEvent(1L, 3L, "C", 3000000L)))
      q.processAllAvailable()
      ms.addData(Seq(TEvent(1L, 2L, "B", 2000000L)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(sink).collect()
      .map(r => r.getString(1) -> r.getString(2)).toSeq.sorted
    assert(got === Seq("A" -> "C", "C" -> "B").sorted,
      "arrival-order pairing is the documented O(1) contract")
  }

  test("exact-mode transitions re-sort cross-batch disorder: live equals batch under ANY split") {
    import spark.implicits._
    import graft.stream.Transitions
    import graft.stream.Transitions.TExact
    val base = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("ts"))
      .as[TExact].collect().toSeq
    // Fully adversarial split: a seeded shuffle IGNORING time order, cut
    // in half — massive cross-batch event-time disorder (the split the
    // O(1) mode cannot survive). The watermark delay exceeds the data
    // span, so no event is ever late-dropped and nothing finalizes until
    // the sentinel pushes the watermark past the whole corpus.
    val rnd = new scala.util.Random(13)
    val (h, t) = rnd.shuffle(base).splitAt(base.size / 2)
    val maxUs = base.map(_.us).max
    val delayS = (maxUs - base.map(_.us).min) / 1000000L + 3600L
    def sentinel(id: Long, us: Long) =
      TExact(999999L, id, "flush", us, new java.sql.Timestamp(us / 1000L))
    val s1 = sentinel(1L, maxUs + (delayS + 3600L) * 1000000L)
    val ms = MemoryStream[TExact](implicitly[Encoder[TExact]], spark.sqlContext)
    val sink = s"transitions_exact_${System.identityHashCode(this)}"
    val q = Transitions.pairsExact(
        ms.toDS().withWatermark("ts", s"$delayS seconds"))
      .writeStream.outputMode("append").format("memory").queryName(sink).start()
    try {
      ms.addData(h); q.processAllAvailable()
      ms.addData(t); q.processAllAvailable()
      ms.addData(Seq(s1)); q.processAllAvailable() // advances the watermark…
      ms.addData(Seq(sentinel(2L, s1.us + 1000000L))) // …and this batch SEES it
      q.processAllAvailable()
    } finally q.stop()
    val live = spark.table(sink)
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n")).toMap
    val batch = SparkEntry.queries("q_transitions")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n")).toMap
    assert(live === batch,
      "exact mode must reproduce the batch matrix under arbitrary cross-batch disorder")
    val nUsers = base.map(_.user_id).distinct.size.toLong
    assert(live.values.sum === base.size.toLong - nUsers,
      "one pair per event beyond each user's first; the sentinel user emits none")
  }

  test("live binned KS equals the batch q_drift_ks_binned row and a windowed replay under disorder") {
    import spark.implicits._
    import graft.stream.Drift
    import graft.stream.Drift.KEvent
    // events pre-binned with the SAME shared grid expression the batch
    // query uses, sides = the registry pair (click, view)
    val ev = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_type").as("side"),
        graft.queries.Aggregates.binCol(col("value")).as("bin"),
        unix_micros(col("ts")).as("us"), col("ts")).as[KEvent]
      .collect().toSeq
    val rnd = new scala.util.Random(23)
    val shuffled = rnd.shuffle(ev)
    val (b1, b2) = shuffled.splitAt(shuffled.size / 2)
    val maxUs = ev.map(_.us).max
    // watermark delay spans the whole fixture so the seeded shuffle's
    // cross-batch disorder is admissible; sentinels beyond maxUs + delay
    // then close every real window (first advances the watermark, the
    // second fires the timers)
    val delayS = (maxUs - ev.map(_.us).min) / 1000000L + 2L * 86400L
    def sentinel(offS: Long) = {
      val us = maxUs + (delayS + offS) * 1000000L
      KEvent("zz", 0L, us, new java.sql.Timestamp(us / 1000L))
    }

    // --- part 1: one giant window over the whole corpus ≡ the ◆ row ---
    val bigWinUs = maxUs + 1000000L
    val ms1 = MemoryStream[KEvent](implicitly[Encoder[KEvent]], spark.sqlContext)
    val sink1 = s"ksb_all_${System.identityHashCode(this)}"
    val q1 = Drift.windowedKsBinned(
        ms1.toDS().withWatermark("ts", s"$delayS seconds"),
        bigWinUs, "click", "view")
      .writeStream.outputMode("append").format("memory").queryName(sink1).start()
    try {
      ms1.addData(b1); q1.processAllAvailable()
      ms1.addData(b2); q1.processAllAvailable()
      ms1.addData(Seq(sentinel(3600L))); q1.processAllAvailable()
      ms1.addData(Seq(sentinel(7200L))); q1.processAllAvailable()
    } finally q1.stop()
    val liveAll = spark.table(sink1).filter(col("win_start_us") === 0L)
      .collect()
    assert(liveAll.length === 1, "exactly one closed whole-corpus window")
    val l = liveAll(0)
    val batchRow = SparkEntry.queries("q_drift_ks_binned")(spark, sfDir)
      .filter(col("side_a") === "click").collect()(0)
    assert((l.getLong(3), l.getLong(4), l.getLong(5), l.getDouble(6)) ===
      ((batchRow.getLong(2), batchRow.getLong(3), batchRow.getLong(4),
        batchRow.getDouble(5))),
      "the closed window must reproduce the ◆ batch KS row bit-for-bit")

    // --- part 2: daily windows under cross-batch disorder ≡ a plain
    // replay of the same integer arithmetic per window ---
    val dayUs = 86400000000L
    val ms2 = MemoryStream[KEvent](implicitly[Encoder[KEvent]], spark.sqlContext)
    val sink2 = s"ksb_day_${System.identityHashCode(this)}"
    val q2 = Drift.windowedKsBinned(
        ms2.toDS().withWatermark("ts", s"$delayS seconds"),
        dayUs, "click", "view")
      .writeStream.outputMode("append").format("memory").queryName(sink2).start()
    try {
      ms2.addData(b1); q2.processAllAvailable()
      ms2.addData(b2); q2.processAllAvailable()
      ms2.addData(Seq(sentinel(3600L))); q2.processAllAvailable()
      ms2.addData(Seq(sentinel(7200L))); q2.processAllAvailable()
    } finally q2.stop()
    val live = spark.table(sink2)
      .filter(col("win_start_us") < maxUs)
      .collect().map { r =>
        r.getLong(0) -> ((r.getLong(3), r.getLong(4), r.getLong(5),
          if (r.isNullAt(6)) None else Some(r.getDouble(6))))
      }.toMap
    val expect = ev.groupBy(_.us / dayUs).map { case (win, es) =>
      val byBin = es.groupBy(_.bin).toSeq.sortBy(_._1)
      val n1 = es.count(_.side == "click").toLong
      val n2 = es.count(_.side == "view").toLong
      var cuma = 0L; var cumb = 0L; var num = 0L
      byBin.foreach { case (_, bs) =>
        cuma += bs.count(_.side == "click")
        cumb += bs.count(_.side == "view")
        num = math.max(num, math.abs(cuma * n2 - cumb * n1))
      }
      val d = if (n1 == 0L || n2 == 0L) None
        else Some(math.floor(num.toDouble / (n1 * n2).toDouble
          * 10000.0 + 0.5) / 10000.0)
      (win * dayUs) -> ((n1, n2, num, d))
    }
    assert(live === expect,
      "every closed day's KS row must equal the sequential replay")
    assert(live.size > 1, "the fixture must span multiple windows")
  }

  test("live windowed drift equals the batch monitor under arbitrary cross-batch disorder") {
    import spark.implicits._
    import graft.stream.Drift
    val dayUs = 86400000000L
    val ev = Tables.events(spark, sfDir)
      .select(expr("unix_micros(ts) div 86400000000").as("day"),
        col("event_type"), col("ts"))
    val b = ev.agg(min("day"), max("day")).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val blEnd = lo + (hi - lo + 1) / 2 - 1
    val baseline = ev.filter(col("day") <= blEnd)
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val allCats = ev.select("event_type").distinct()
      .collect().map(_.getString(0)).toSeq
    val cur = ev.filter(col("day") > blEnd)
      .select(col("ts"), col("event_type")).collect()
      .map(r => (r.getTimestamp(0), r.getString(1))).toSeq
    // Seeded shuffle cut in thirds: cross-batch event-time disorder that
    // only the big watermark delay makes admissible; the double sentinel
    // then closes every real window (first advances the watermark, the
    // second batch fires the timers).
    val rnd = new scala.util.Random(29)
    val shuffled = rnd.shuffle(cur)
    val (b1, rest) = shuffled.splitAt(cur.size / 3)
    val (b2, b3) = rest.splitAt(rest.size / 2)
    val maxUs = cur.map(_._1.getTime).max * 1000L
    val delayS = (hi - lo + 2) * 86400L
    def sent(off: Long) =
      (new java.sql.Timestamp((maxUs + (delayS + off) * 1000000L) / 1000L), "zzz_flush")
    val ms = MemoryStream[(java.sql.Timestamp, String)](
      implicitly[Encoder[(java.sql.Timestamp, String)]], spark.sqlContext)
    val sink = s"drift_live_${System.identityHashCode(this)}"
    val q = Drift.windowedChi2(
        ms.toDF().toDF("ts", "cat").withWatermark("ts", s"$delayS seconds")
          .select(col("cat"), unix_micros(col("ts")).as("us"), col("ts"))
          .as[Drift.DEvent],
        baseline, dayUs, allCats)
      .writeStream.outputMode("append").format("memory").queryName(sink).start()
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
      ms.addData(b3); q.processAllAvailable()
      ms.addData(Seq(sent(3600L))); q.processAllAvailable()
      ms.addData(Seq(sent(7200L))); q.processAllAvailable()
    } finally q.stop()
    def key(day: Long, cat: String) = s"$day/$cat"
    val live = spark.table(sink).collect().map { r =>
      key(r.getLong(0) / dayUs, r.getString(1)) ->
        ((r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)), r.getDouble(5)))
    }.toMap
    val batch = SparkEntry.queries("q_drift_windowed")(spark, sfDir).collect().map { r =>
      key(r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)), r.getDouble(5)))
    }.toMap
    assert(live === batch,
      "every closed window's drift rows must be bit-identical to the batch monitor")
  }

  test("windowed drift drops stragglers into closed windows — no second emission") {
    import spark.implicits._
    import graft.stream.Drift
    val winUs = 60000000L // 1-minute windows
    val t0 = 1704067200000L
    def ev(offSec: Long, cat: String) =
      (new java.sql.Timestamp(t0 + offSec * 1000L), cat)
    val ms = MemoryStream[(java.sql.Timestamp, String)](
      implicitly[Encoder[(java.sql.Timestamp, String)]], spark.sqlContext)
    val sink = s"drift_late_${System.identityHashCode(this)}"
    val q = Drift.windowedChi2(
        ms.toDF().toDF("ts", "cat").withWatermark("ts", "0 seconds")
          .select(col("cat"), unix_micros(col("ts")).as("us"), col("ts"))
          .as[Drift.DEvent],
        Map("a" -> 3L, "b" -> 1L), winUs, Seq("a", "b"))
      .writeStream.outputMode("append").format("memory").queryName(sink).start()
    try {
      // window 0: two 'a'; the +10 min event pushes the watermark far past
      // its end on the NEXT batch's timers
      ms.addData(Seq(ev(1, "a"), ev(2, "a"), ev(600, "a")))
      q.processAllAvailable()
      ms.addData(Seq(ev(601, "a"))); q.processAllAvailable() // fires window-0 close
      val afterClose = spark.table(sink)
        .filter(col("win_start_us") === t0 * 1000L).collect()
      assert(afterClose.map(_.getString(1)).sorted.toSeq === Seq("a", "b"),
        "window 0 must emit its full category grid exactly once")
      assert(afterClose.find(_.getString(1) == "a").get.getLong(3) === 2L)
      // a straggler into the CLOSED window 0 must be dropped, not resurrect it
      ms.addData(Seq(ev(3, "a"))); q.processAllAvailable()
      ms.addData(Seq(ev(660, "a"))); q.processAllAvailable()
      val after = spark.table(sink)
        .filter(col("win_start_us") === t0 * 1000L).collect()
      assert(after.length === 2,
        s"closed window re-emitted: ${after.mkString(", ")}")
    } finally q.stop()
  }

  test("live funnel milestones equal the batch conditional-minimum funnel") {
    import spark.implicits._
    import graft.stream.Funnel
    import graft.stream.Funnel.FEvent
    val rows = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us")).as[FEvent]
      .collect().toSeq.sortBy(e => (e.us, e.event_id))
    val (h, t) = rows.splitAt(rows.size / 2)
    val rnd = new scala.util.Random(11)
    val ms = MemoryStream[FEvent](implicitly[Encoder[FEvent]], spark.sqlContext)
    val sink = s"funnel_${System.identityHashCode(this)}"
    val q = Funnel.milestones(ms.toDS())
      .writeStream.outputMode("append").format("memory").queryName(sink).start()
    try {
      ms.addData(rnd.shuffle(h)); q.processAllAvailable()
      ms.addData(rnd.shuffle(t)); q.processAllAvailable()
    } finally q.stop()
    val live = spark.table(sink).groupBy("stage")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getAs[Int]("stage") -> r.getAs[Long]("n")).toMap
    val b = SparkEntry.queries("q_funnel_steps")(spark, sfDir).collect().head
    assert(live.getOrElse(1, 0L) === b.getAs[Long]("n_signup"))
    assert(live.getOrElse(2, 0L) === b.getAs[Long]("n_click_after"))
    assert(live.getOrElse(3, 0L) === b.getAs[Long]("n_purchase_after"))
    // Exactly-once milestones: no (user, stage) pair may be emitted twice.
    val dup = spark.table(sink).groupBy("user_id", "stage")
      .agg(count(lit(1)).as("c")).filter(col("c") > 1).count()
    assert(dup === 0L, "a funnel milestone was emitted more than once")
  }

  test("live MAD outlier flags equal the batch audit's counts (train offline, apply in flight)") {
    import spark.implicits._
    import graft.stream.Quality
    val ev = Tables.events(spark, sfDir)
    val fence = Quality.trainFence(ev).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .toSeq.toDF("event_type", "med", "mad") // pin the trained fence
    val rows = ev.select("event_id", "ts", "user_id", "event_type", "value")
      .as[Ev].collect().toSeq
    val ms = MemoryStream[Ev](implicitly[Encoder[Ev]], spark.sqlContext)
    val sink = s"mad_stream_${System.identityHashCode(this)}"
    val q = Quality.flagOutliers(ms.toDF(), fence)
      .writeStream.outputMode("append").format("memory").queryName(sink).start()
    try {
      val (h, t) = rows.splitAt(rows.size / 2)
      ms.addData(h); q.processAllAvailable()
      ms.addData(t); q.processAllAvailable()
    } finally q.stop()
    val live = spark.table(sink)
      .groupBy("event_type")
      .agg(sum("is_outlier").as("n_outliers"), count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_outliers"), r.getAs[Long]("n")))
      .toMap
    // The oracle-checked batch audit over the same events must agree
    // per group on both the outlier count and the row count.
    val batch = SparkEntry.queries("q_outlier_mad")(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_outliers"), r.getAs[Long]("n")))
      .toMap
    assert(live === batch)
    assert(live.values.map(_._1).sum > 0, "fixture should contain outliers")
  }

  test("windowed top-k in APPEND mode: watermark closes a window, emits once, drops late data") {
    import spark.implicits._
    val base = 1704067200000L // 2024-01-01T00:00Z
    def ev(id: Long, hour: Long, tpe: String, v: Double): Ev =
      Ev(id, new Timestamp(base + hour * 3600000L), 1L, tpe, v)
    val ms = MemoryStream[Ev](implicitly[Encoder[Ev]], spark.sqlContext)
    val sink = s"window_topk_append_${System.identityHashCode(this)}"
    val q = graft.stream.TopK.dailyTopK(ms.toDF(), 2)
      .writeStream.outputMode("append").format("memory").queryName(sink).start()
    try {
      // Day-1 plays, including one beyond k that must never surface.
      ms.addData(Seq(ev(1, 1, "play", 5.0), ev(2, 2, "play", 9.0),
        ev(3, 3, "play", 7.0)))
      q.processAllAvailable()
      assert(spark.table(sink).count() === 0,
        "append emits nothing while the window can still receive data")
      // A sentinel 5 days out pushes the watermark (2-day delay) past
      // day-1's close: the finished top-2 must appear exactly once.
      ms.addData(Seq(ev(99, 5 * 24, "view", 1.0)))
      q.processAllAvailable()
      val rows = spark.table(sink).filter(col("event_type") === "play")
        .orderBy("rn").collect()
      assert(rows.map(r => (r.getAs[Int]("rn"), r.getAs[Long]("event_id"),
        r.getAs[Double]("value"))).toSeq === Seq((1, 2L, 9.0), (2, 3L, 7.0)))
      // Late day-1 play with the highest value of all: behind the
      // watermark, so the CLOSED result must not change or re-emit.
      ms.addData(Seq(ev(4, 4, "play", 99.0)))
      q.processAllAvailable()
      assert(spark.table(sink).filter(col("event_type") === "play").count() === 2,
        "late event dropped; closed window not re-emitted")
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains the backlog, stops, then resumes from the checkpoint") {
    // The operational backfill mode: run the streaming pipeline as a bounded
    // job over everything already on disk (exactly-once through the same
    // checkpoint as the live job), let it terminate on its own, and have a
    // later run pick up ONLY the delta. Without this, catching up a 100 TB
    // backlog means either an unbounded always-on job or a hand-written
    // batch twin that can drift from the streaming logic.
    val src = tmp("graft-backlog")
    val ckpt = tmp("graft-backlog-ckpt")
    val out = tmp("graft-backlog-out")
    val backlog = Interactions.synthesize(rateLike(120))
    backlog.write.mode("append").json(src)

    // Exactly-once resume needs a fault-tolerant sink (the memory sink
    // refuses checkpoint recovery by design) — a parquet file sink is the
    // production shape.
    def drain(): Long = {
      val q = spark.readStream.schema(Retrain.interactionSchema).json(src)
        .select("seq", "user_id", "track_id", "rating", "action")
        .writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000),
        "AvailableNow query must self-terminate once the backlog is drained")
      assert(!q.isActive)
      spark.read.parquet(out).count()
    }

    assert(drain() === 120L, "first run must process the whole backlog")
    // New files land after the job stopped; a restart over the SAME
    // checkpoint must process exactly the delta, not re-read the backlog.
    Interactions.synthesize(rateLike(150)).where(col("seq") >= 120)
      .write.mode("append").json(src)
    assert(drain() === 150L,
      "restart must append exactly the 30-row delta, not re-read the backlog")
  }

  test("live experiment deltas equal q_ab_lift under disorder AND a replayed batch") {
    import spark.implicits._
    import graft.stream.Experiment
    import graft.stream.Experiment.XEvent
    val rows = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("value")).collect()
      .map(r => XEvent(r.getLong(0), (r.getLong(0) % 2).toInt,
        r.getString(1) == "purchase" && r.getDouble(2) >= 145.0)).toSeq
    val rnd = new scala.util.Random(31)
    val shuffled = rnd.shuffle(rows)
    val (b1, rest) = shuffled.splitAt(rows.size / 3)
    val (b2, b3) = rest.splitAt(rest.size / 2)
    val ms = MemoryStream[XEvent](implicitly[Encoder[XEvent]], spark.sqlContext)
    val sink = s"experiment_${System.identityHashCode(this)}"
    val q = Experiment.deltas(ms.toDS())
      .writeStream.outputMode("update").format("memory").queryName(sink).start()
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable() // at-least-once redelivery
      ms.addData(b3); q.processAllAvailable()
    } finally q.stop()
    val live = spark.table(sink).groupBy("arm")
      .agg(sum("d_users").as("n"), sum("d_conv").as("k")).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val batch = SparkEntry.queries("q_ab_lift")(spark, sfDir).collect().head
    assert(live(0) === ((batch.getLong(0), batch.getLong(1))),
      "arm-0 running totals must equal the batch (n_a, k_a)")
    assert(live(1) === ((batch.getLong(2), batch.getLong(3))),
      "arm-1 running totals must equal the batch (n_b, k_b)")
    // The derived readout is the batch expression tree on those longs —
    // recompose rate/lift with the same ⌊x·10⁴+½⌋ rounding and compare.
    def round4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val (na, ka) = live(0); val (nb, kb) = live(1)
    assert(round4(ka.toDouble / na) === batch.getDouble(4))
    assert(round4(kb.toDouble / nb) === batch.getDouble(5))
    assert(round4((kb * na - ka * nb).toDouble / (ka * nb)) === batch.getDouble(6))
  }

  test("live growth accounting equals the batch rollup under disorder and redelivery") {
    import spark.implicits._
    import graft.stream.GrowthAccounting
    import graft.stream.GrowthAccounting.GEvent
    val rows = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")), col("ts")).collect()
      .map(r => GEvent(r.getLong(0), r.getLong(1), r.getTimestamp(2))).toSeq
    val rnd = new scala.util.Random(37)
    val shuffled = rnd.shuffle(rows)
    val (b1, rest) = shuffled.splitAt(rows.size / 3)
    val (b2, b3) = rest.splitAt(rest.size / 2)
    val maxUs = rows.map(_.us).max
    val delayS = 60L * 86400L // admits full-corpus disorder
    def sent(off: Long) = {
      val us = maxUs + (delayS + off) * 1000000L
      GEvent(-1L, us, new Timestamp(us / 1000L))
    }
    val ms = MemoryStream[GEvent](implicitly[Encoder[GEvent]], spark.sqlContext)
    val sink = s"growth_${System.identityHashCode(this)}"
    val q = GrowthAccounting.weekClasses(
        ms.toDS().withWatermark("ts", s"$delayS seconds"))
      .writeStream.outputMode("append").format("memory").queryName(sink).start()
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable() // at-least-once redelivery
      ms.addData(b3); q.processAllAvailable()
      // the final fixture week is PARTIAL: the watermark must pass its
      // calendar END (up to 7 days past the last event), not just maxUs
      ms.addData(Seq(sent(8L * 86400L))); q.processAllAvailable()
      ms.addData(Seq(sent(9L * 86400L))); q.processAllAvailable()
    } finally q.stop()
    val live = spark.table(sink).filter(col("user") =!= -1L)
      .groupBy("wk").agg(
        count(lit(1)).as("n_active"),
        sum(when(col("kind") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("kind") === "retained", 1L).otherwise(0L)).as("n_ret"),
        sum(when(col("kind") === "resurrected", 1L).otherwise(0L)).as("n_res"))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val batch = SparkEntry.queries("q_growth_accounting")(spark, sfDir)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(live === batch,
      "per-week class counts must equal the batch growth accounting")
  }

  test("live z-score anomaly rows are bit-identical to the batch monitor") {
    import spark.implicits._
    import graft.stream.Anomaly
    import graft.stream.Anomaly.MEvent
    val rows = Tables.events(spark, sfDir)
      .select(unix_micros(col("ts")), col("ts")).collect()
      .map(r => MEvent("events", r.getLong(0), r.getTimestamp(1))).toSeq
    val rnd = new scala.util.Random(41)
    val shuffled = rnd.shuffle(rows)
    val (b1, rest) = shuffled.splitAt(rows.size / 3)
    val (b2, b3) = rest.splitAt(rest.size / 2)
    val maxUs = rows.map(_.us).max
    val delayS = 60L * 86400L
    def sent(off: Long) = {
      val us = maxUs + (delayS + off) * 1000000L
      MEvent("zzz_flush", us, new Timestamp(us / 1000L))
    }
    val ms = MemoryStream[MEvent](implicitly[Encoder[MEvent]], spark.sqlContext)
    val sink = s"anomaly_${System.identityHashCode(this)}"
    val q = Anomaly.dailyZ(
        ms.toDS().withWatermark("ts", s"$delayS seconds"))
      .writeStream.outputMode("append").format("memory").queryName(sink).start()
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
      ms.addData(b3); q.processAllAvailable()
      ms.addData(Seq(sent(2L * 86400L))); q.processAllAvailable()
      ms.addData(Seq(sent(3L * 86400L))); q.processAllAvailable()
    } finally q.stop()
    val live = spark.table(sink).filter(col("metric") === "events")
      .collect()
      .map(r => r.getLong(1) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          if (r.isNullAt(6)) None else Some(r.getDouble(6))))).toMap
    val epoch = java.time.LocalDate.of(1970, 1, 1)
    val batch = SparkEntry.queries("q_zscore_anomaly")(spark, sfDir)
      .collect()
      .map { r =>
        val day = java.time.temporal.ChronoUnit.DAYS.between(
          epoch, r.getDate(0).toLocalDate)
        day -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) None else Some(r.getDouble(5))))
      }.toMap
    assert(live === batch,
      "every closed day's anomaly row must equal the batch monitor")
  }

  test("timed funnel milestones equal the q_funnel_window batch counts") {
    import spark.implicits._
    import graft.stream.Funnel
    import graft.stream.Funnel.FEvent
    val rows = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us")).as[FEvent]
      .collect().toSeq.sortBy(e => (e.us, e.event_id))
    val (h, t) = rows.splitAt(rows.size / 2)
    val rnd = new scala.util.Random(29)
    val ms = MemoryStream[FEvent](implicitly[Encoder[FEvent]], spark.sqlContext)
    val sink = s"funnelw_${System.identityHashCode(this)}"
    val W = 48L * 3600L * 1000000L
    val q = Funnel.milestonesTimed(ms.toDS(), W)
      .writeStream.outputMode("append").format("memory").queryName(sink).start()
    try {
      ms.addData(rnd.shuffle(h)); q.processAllAvailable()
      ms.addData(rnd.shuffle(t)); q.processAllAvailable()
    } finally q.stop()
    val live = spark.table(sink).groupBy("stage").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val batch = SparkEntry.queries("q_funnel_window")(spark, sfDir)
      .collect().head
    assert(live.getOrElse(1, 0L) === batch.getAs[Long]("n_signup"))
    assert(live.getOrElse(2, 0L) === batch.getAs[Long]("n_click_w"))
    assert(live.getOrElse(3, 0L) === batch.getAs[Long]("n_purchase_w"))
  }

  test("live trigram paths equal the batch 3-step path counts") {
    import spark.implicits._
    import graft.stream.Paths
    import graft.stream.Paths.PEvent
    // Global (us, event_id) sort → the split preserves per-user time
    // order ACROSS batches; each batch is seeded-shuffled so the spec
    // also proves the two-slot state machine re-sorts WITHIN a batch
    // (the Transitions.pairs discipline, one slot wider).
    val rows = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us")).as[PEvent]
      .collect().toSeq.sortBy(e => (e.us, e.event_id))
    val (h, t) = rows.splitAt(rows.size / 2)
    val rnd = new scala.util.Random(11)
    val ms = MemoryStream[PEvent](implicitly[Encoder[PEvent]], spark.sqlContext)
    val sink = s"paths_${System.identityHashCode(this)}"
    val q = Paths.trigrams(ms.toDS())
      .writeStream.outputMode("append").format("memory").queryName(sink).start()
    try {
      ms.addData(rnd.shuffle(h)); q.processAllAvailable()
      ms.addData(rnd.shuffle(t)); q.processAllAvailable()
    } finally q.stop()
    val live = spark.table(sink)
      .groupBy("e1", "e2", "e3").agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        r.getAs[Long]("n")).toMap
    // full batch trigram table (q_top_paths truncates to 10 — recompute
    // the whole table with the same lag logic for a total comparison)
    val batch = rows.groupBy(_.user_id).values.flatMap { es =>
      es.sortBy(e => (e.us, e.event_id)).map(_.event_type)
        .sliding(3).filter(_.size == 3).map(t3 => (t3(0), t3(1), t3(2)))
    }.toSeq.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(live === batch,
      "streaming trigram counts must equal the batch path table")
    // and the top-10 of the live table equals the oracle-checked query
    val liveTop = live.toSeq
      .sortBy { case ((a, b, c), n) => (-n, a, b, c) }.take(10)
      .map { case ((a, b, c), n) => (a, b, c, n) }
    val topBatch = SparkEntry.queries("q_top_paths")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    assert(liveTop === topBatch)
  }

  test("live streak summaries equal the batch gaps-and-islands rollup") {
    import spark.implicits._
    import graft.stream.Streaks
    import graft.stream.Streaks.SEvent
    val rows = Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")), col("ts")).collect()
      .map(r => SEvent(r.getLong(0), r.getLong(1), r.getTimestamp(2))).toSeq
    val rnd = new scala.util.Random(23)
    val shuffled = rnd.shuffle(rows)
    val (b1, rest) = shuffled.splitAt(rows.size / 3)
    val (b2, b3) = rest.splitAt(rest.size / 2)
    val maxUs = rows.map(_.us).max
    val delayS = 60L * 86400L // admits full-corpus disorder
    def sent(off: Long) = {
      val us = maxUs + (delayS + off) * 1000000L
      SEvent(-1L, us, new Timestamp(us / 1000L))
    }
    val ms = MemoryStream[SEvent](implicitly[Encoder[SEvent]], spark.sqlContext)
    val sink = s"streaks_${System.identityHashCode(this)}"
    val q = Streaks.summaries(
        ms.toDS().withWatermark("ts", s"$delayS seconds"))
      .writeStream.outputMode("append").format("memory").queryName(sink).start()
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable() // at-least-once redelivery
      ms.addData(b3); q.processAllAvailable()
      // flush: the watermark must pass the END of the last active day
      ms.addData(Seq(sent(2L * 86400L))); q.processAllAvailable()
      ms.addData(Seq(sent(3L * 86400L))); q.processAllAvailable()
    } finally q.stop()
    // a user's emissions carry strictly increasing n_active_days: the
    // max row per user IS the current summary
    val live = spark.table(sink).filter(col("user") =!= -1L)
      .groupBy("user").agg(max(struct(col("n_active_days"),
        col("longest_streak"), col("n_streaks"))).as("m"))
      .select(col("user"), col("m.longest_streak"), col("m.n_streaks"),
        col("m.n_active_days"))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val batch = SparkEntry.queries("q_streaks")(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(live === batch,
      "final live summaries must equal the batch streaks query")
  }
}
