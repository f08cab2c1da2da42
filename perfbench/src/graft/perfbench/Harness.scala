package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Inputs of one run, all made by `run.py` from the seed. */
final case class Ctx(spark: SparkSession, data: String, seed: Long,
    seconds: Int, work: java.io.File, expect: Map[String, String]) {
  val rng = new scala.util.Random(seed)
}

/** What one timed window measured. `layer` holds the workload's own
  * per-layer readings; `groups` are the op ids (Spark job groups);
  * `cachedMb` is read in traced windows only and is 0 elsewhere.
  */
final case class Window(ops: Seq[Op], groups: Seq[String], startMs: Double,
    endMs: Double, cachedMb: Double, layer: Map[String, Double]) {
  def seconds: Double = (endMs - startMs) / 1000
  def okOps: Int = ops.count(_.ok)
  def opsPerS: Double = okOps / seconds
  def p50: Double = Stats.typedP50(ops, endMs - startMs)
}

trait Workload {
  /** Everything before the first timed op. */
  def setup(): Unit
  /** One timed window; in a traced window `tr` records spans and counts. */
  def window(tr: Option[Tracer]): Window
  def close(): Unit
}

/** Samples the block manager's RDD storage (memory + disk: Ck
  * checkpoints and pins, caches) every 50 ms while a traced window runs;
  * `stop()` returns the mean reading in MB. A mean over whole passes is
  * steady where a peak or an end reading is not: the slice drains its
  * checkpoints after every query. Untraced windows run without it, so the
  * gated end-to-end figures do not carry the sampler.
  */
final class CacheGauge(spark: SparkSession) {
  @volatile private var running = true
  private var sum = 0.0
  private var n = 0
  private val thread = new Thread(() =>
    while (running) {
      sum += spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      n += 1
      Thread.sleep(50)
    })
  thread.setDaemon(true)
  thread.start()
  def stop(): Double = { running = false; thread.join(); sum / math.max(1, n) / 1048576.0 }
}

object Harness {
  val cpus = 4

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val trace = a("trace") == "1"
    val out = java.nio.file.Paths.get(a("out"))
    val work = new java.io.File(a("work"))
    val expect = a.get("expect").map(p => readExpect(java.nio.file.Paths.get(p)))
      .getOrElse(Map.empty)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = graft.Bench.openSession()
    Clock.note("session")
    val ctx = Ctx(spark, a("data"), a("seed").toLong, a("seconds").toInt, work, expect)
    val w: Workload = workload match {
      case "olap_slice" => new OlapSlice(ctx)
      case "serve_mix" => new ServeMix(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val env = fingerprint()
    try {
      w.setup()
      Clock.note("setup done")
      val setupS = (Clock.nowMs - jvmStartMs) / 1000
      val plain = w.window(None)
      val (metrics, windows) = if (!trace) (endToEnd(plain, setupS), Seq(plain))
      else {
        val tr = new Tracer(spark)
        val (gc0, cpu0) = (graft.ops.JvmEnv.gcTotals._1, graft.ops.JvmEnv.processCpuNanos)
        tr.start()
        val traced = try w.window(Some(tr)) finally tr.stop()
        val jvm = Map(
          "jvm.gc_s" -> (graft.ops.JvmEnv.gcTotals._1 - gc0) / 1000.0,
          "jvm.cpu_s" -> (graft.ops.JvmEnv.processCpuNanos - cpu0) / 1e9)
        tr.write(work.toPath.resolve("spans.jsonl"))
        // untraced windows on both sides, so warm-up drift cancels out of
        // the tracing overhead
        val after = w.window(None)
        (perLayer(traced, Seq(plain, after), tr, jvm, spark), Seq(plain, traced, after))
      }
      val unread = metrics.collect { case (k, (v, _)) if v.isNaN => k }
      require(unread.isEmpty, "no reading for " + unread.mkString(", "))
      val ops = windows.flatMap(_.ops)
      val failed = ops.count(!_.ok)
      ops.filterNot(_.ok).take(5).foreach(o =>
        System.err.println(s"[perfbench] FAILED ${o.name}: ${o.error}"))
      val result = Json.obj(Seq(
        "correct" -> (failed == 0).toString,
        "attempted" -> ops.size.toString,
        "failed" -> failed.toString,
        "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
          k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
        }),
        "env" -> env))
      java.nio.file.Files.writeString(out, result)
    } finally {
      w.close()
      spark.stop()
    }
  }

  /** Every run's e2e numbers. `ok_ratio` stands for failed_ratio: it is
    * 1 - failed_ratio, a fraction that is never 0 on a working system.
    * The window's storage reading is per-layer.
    */
  def endToEnd(w: Window, setupS: Double): Seq[(String, (Double, String))] = Seq(
    "setup_s" -> (setupS, "s"),
    "ops_per_s" -> (w.opsPerS, "1/s"),
    "p50_ms" -> (w.p50, "ms"),
    "ok_ratio" -> (w.okOps.toDouble / math.max(1, w.ops.size), "fraction"))

  /** Every per-layer metric, for every workload: a layer this workload does
    * not exercise reads 0. A layer it does exercise but that gave no reading
    * is NaN, which fails the run rather than passing for the best value.
    * Names and units match BENCHMARK.json.
    */
  def perLayer(t: Window, plain: Seq[Window], tr: Tracer, jvm: Map[String, Double],
      spark: SparkSession): Seq[(String, (Double, String))] = {
    def mean(f: Window => Double) = plain.map(f).sum / plain.size
    val n = math.max(1, t.ops.size).toDouble
    val k = tr.total(t.groups)
    val spans = tr.allSpans.filter(s => t.groups.contains(s.group))
    def phase(name: String) = spans.filter(_.name == name).map(s => s.endMs - s.startMs).sum / n
    val mb = 1048576.0
    val fixed = Seq(
      "spark.jobs_per_op" -> (k.jobs / n, "count"),
      "spark.stages_per_op" -> (k.stages / n, "count"),
      "spark.single_task_stage_frac" -> (k.singleTaskStages / math.max(1.0, k.stages.toDouble), "fraction"),
      "spark.task_busy_s" -> (k.taskRunMs / 1000 / n, "s"),
      "spark.max_task_s" -> (k.maxTaskMs / 1000, "s"),
      "spark.busy_core_frac" -> (k.taskRunMs / 1000 / (t.seconds * cpus), "fraction"),
      "spark.sched_wait_ms" -> (k.schedWaitMs / n, "ms"),
      "scan.input_mb" -> (k.inputBytes / mb / n, "MB"),
      "scan.tasks" -> (k.inputTasks / n, "count"),
      "shuffle.write_mb" -> (k.shuffleWrite / mb / n, "MB"),
      "shuffle.read_mb" -> (k.shuffleRead / mb / n, "MB"),
      "shuffle.spill_mb" -> (k.spill / mb / n, "MB"),
      "queries.build_ms" -> (phase("build"), "ms"),
      "queries.plan_ms" -> (phase("plan"), "ms"),
      "queries.exec_ms" -> (phase("action"), "ms"),
      "jvm.gc_s" -> (jvm("jvm.gc_s"), "s"),
      "jvm.cpu_s" -> (jvm("jvm.cpu_s"), "s"),
      "ops.ck.pinned_mb" -> (graft.ops.Ck.pinnedReport(spark)._2 / mb, "MB"),
      "storage.cached_mb" -> (t.cachedMb, "MB"),
      "trace.overhead_p50_frac" -> (t.p50 / mean(_.p50) - 1, "fraction"),
      "trace.overhead_ops_frac" -> (1 - t.opsPerS / mean(_.opsPerS), "fraction"),
      "trace.spans" -> (spans.size.toDouble, "count"))
    val own = LayerNames.all.map { case (name, unit) =>
      name -> (t.layer.getOrElse(name, 0.0), unit)
    }
    fixed ++ own
  }

  /** The workload-specific per-layer names, so every traced run emits
    * all of them.
    */
  object LayerNames {
    val endpoints = Seq("collaborative", "hybrid", "collaborativeTiered",
      "contentSimilar", "catalogPage")
    val all: Seq[(String, String)] =
      OlapSlice.queries.map(q => s"q.${q}_s" -> "s") ++
      endpoints.flatMap(e => Seq(s"api.serving.$e.p50_ms" -> "ms",
        s"api.serving.$e.jobs" -> "count")) ++ Seq(
      "sources.model_registry.load_ms" -> "ms",
      "api.serving.self_ms" -> "ms",
      "stream.trigger_ms" -> "ms",
      "stream.batches" -> "count",
      "stream.processed_rows_per_s" -> "rows/s",
      "retrain.wait_s" -> "s",
      "retrain.train_s" -> "s",
      "retrain.rows" -> "count",
      "lifecycle.freshness_s" -> "s",
      "lifecycle.pickup_ms" -> "ms",
      "ops.ck.swept" -> "count")
  }

  /** Environment fingerprint carried in every output: it lets a slow or
    * mis-launched box name itself. Not a metric.
    */
  def fingerprint(): String = Json.obj(Seq(
    "cpus" -> cpus.toString,
    "host_cpus" -> Runtime.getRuntime.availableProcessors.toString,
    "heap_gb" -> Json.num(graft.ops.JvmEnv.heapMaxBytes / 1073741824.0),
    "closed_opens" -> graft.ops.JvmEnv.closedOpens.map(Json.str).mkString("[", ",", "]"),
    "calib_cpu_s" -> Json.num(calibCpu()),
    "java" -> Json.str(System.getProperty("java.version"))))

  /** Fixed-work single-thread CPU reading (the same mix chain as the
    * engine bench's calibration): it moves only with the box's core speed.
    */
  def calibCpu(): Double = {
    def pass(n: Int): Long = {
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < n) {
        x ^= x >>> 30; x *= 0xBF58476D1CE4E5B9L
        x ^= x >>> 27; x *= 0x94D049BB133111EBL
        x ^= x >>> 31
        i += 1
      }
      x
    }
    val warm = pass(2000000)
    val t0 = System.nanoTime()
    val sink = pass(200000000)
    val dt = (System.nanoTime() - t0) / 1e9
    if ((sink ^ warm) == 42L) System.err.print("")
    dt
  }

  /** `name<TAB>digest` lines, written by oracle.py. */
  def readExpect(p: java.nio.file.Path): Map[String, String] =
    java.nio.file.Files.readAllLines(p).toArray(Array.empty[String]).toSeq
      .filter(_.contains("\t")).map { l =>
        val Array(k, v) = l.split("\t", 2); k -> v
      }.toMap
}
