package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = openSession()
    val probe = warmUp(spark, sfDir)
    // Staged-family pre-warm (r13 verdict #4): every session-staged
    // artifact — incl. since r15 the full-graph standing layout, whose
    // three cuts CHAIN through the maintenance algebra inside the graph
    // family's builder — is built HERE, outside any sample's timing,
    // with its cost printed as its own `staged-build:` tail line.
    // Medians then measure the steady-state serving path the staging
    // was built to deliver, and the build cost stays visible in the
    // artifact instead of vanishing. Skipped under SPARK_GRAFT_ONLY —
    // local subset iteration should not pay every family's build; the
    // subset's first sample of each staged-family query then absorbs
    // its family's WHOLE build (the full-graph standing layout and
    // standingRanks included), which lands in that query's max: its
    // median of three reads the later, served samples.
    if (sys.env.get("SPARK_GRAFT_ONLY").isEmpty) runStagedBuilds(spark, sfDir)
    graft.ops.Ck.drain(spark); graft.ops.Ck.sweep(spark)
    benchBody(spark, sfDir, probe)
  }

  /** The bench protocol's SparkSession — the ONE session builder of
    * every main ([[Verify]], [[PlanDump]], [[Prewarm]], [[Demo]]): a
    * copy-pasted config would silently diverge what those mains verify,
    * audit or demo from what the bench measures the moment either
    * gained a setting (review r15 II).
    */
  private[graft] def openSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.ops.Logs.quietBoundedWindowWarning()
    spark
  }

  /** The bench environment fingerprint, carried in the env JSON: heap,
    * module-opens, and the two fixed-work ambient calibration readings
    * (r15 verdict #2 — the r15 board's 53% swing was adjudicated by a
    * builder-side A/B narrative; these put the adjudication IN the
    * artifact).
    */
  private[graft] final case class EnvProbe(heapGB: Double,
      closedOpens: Seq[String], calibCpu: Double, calibIo: Double)

  /** JSON number rendering for the bench artifacts: fixed decimal places
    * (Locale.ROOT — a comma-decimal default locale would emit invalid
    * JSON) with the FRACTIONAL part's trailing zeros stripped to keep
    * the line inside the driver's bounded tail capture. A dot-less
    * integer rendering passes through untouched: the earlier
    * unconditional trim turned cpuSec 1180 into "118" in a board of
    * record (only `places=0` values ending in 0 were exposed).
    * BenchFmtSpec gates both regimes.
    */
  private[graft] def jsonNum(v: Double, places: Int): String = {
    val s = String.format(java.util.Locale.ROOT, s"%.${places}f", Double.box(v))
    if (!s.contains('.')) s
    else {
      val t = s.reverse.dropWhile(_ == '0').reverse
      if (t.endsWith(".")) t + "0" else t
    }
  }

  /** Fixed-work single-thread CPU probe: a deterministic splitmix64-
    * style mix chain, identical work every run, so the reading moves
    * ONLY with the host's effective single-core speed (steal, thermal
    * or cgroup throttling, SMT contention) — the "is 197 s the code or
    * the box?" question decided by a number every board carries. A
    * small untimed pass first so JIT compilation is excluded; the
    * result feeds a side-effect guard so the loop cannot be eliminated.
    */
  private def calibCpuProbe(): Double = {
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
    val warmSink = pass(2000000)
    val t0 = System.nanoTime()
    val sink = pass(200000000)
    val dt = (System.nanoTime() - t0) / 1e9
    if ((sink ^ warmSink) == 42L) System.err.print("") // consume: no DCE
    dt
  }

  /** Fixed-work IO/scan probe: one full-column parquet aggregate over
    * the dataset's lineitem (footer metadata already warmed by the
    * table pass, so this times steady-state decode + scheduling — the
    * same path every query's scans ride). Comparable across boards at
    * the same SF, which is all driver rounds (sf0.1).
    */
  private def calibIoProbe(spark: SparkSession, sfDir: String): Double = {
    import org.apache.spark.sql.functions.{col, sum}
    val t0 = System.nanoTime()
    // A failed probe must NOT masquerade as a fast box: the elapsed
    // time of an immediately-throwing read (~0.01 s) would actively
    // mis-adjudicate a board swing. cpuSec's -1 "unavailable" sentinel
    // applies here too; the env line then shows calibIo=-1.00s loudly.
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .agg(sum(col("l_extendedprice"))).head()
      (System.nanoTime() - t0) / 1e9
    } catch { case scala.util.control.NonFatal(_) => -1.0 }
  }

  /** JVM fingerprint warnings + flagship/table warm-up + the two
    * fixed-work calibration probes — shared with [[Prewarm]] so its
    * ledger lines are comparable to the bench's. Returns the
    * [[EnvProbe]] for the env line.
    */
  private[graft] def warmUp(spark: SparkSession,
      sfDir: String): EnvProbe = {
    // Self-adjudicating artifact (r12 verdict #1): fingerprint the JVM
    // up front — heap and module-opens are the two variables the r12
    // heap experiment measured as controlling a 43% driver-total swing
    // (8 g fork: 187-212 s; raw java -Xmx100g: 334-385 s; missing
    // java.nio opens: MLlib KMeans' Kryo path silently ~3× degraded).
    // A defective environment is named LOUDLY at startup and carried in
    // the JSON line, so the next driver-vs-builder gap is adjudicated
    // by reading the artifact, not by forensics.
    val closedOpens = graft.ops.JvmEnv.closedOpens
    if (closedOpens.nonEmpty)
      System.err.println("[bench] WARNING: JVM is missing --add-opens " +
        closedOpens.mkString(", ") + " — Spark's reflective paths " +
        "(MLlib KMeans Kryo instrumentation among them) silently " +
        "degrade; ml_kmeans_clusters/ml_cluster_recs/ml_ann_trained " +
        "timings are NOT comparable to a correctly-launched JVM")
    val heapGB = graft.ops.JvmEnv.heapMaxBytes / 1073741824.0
    // Out-of-band heap escalates like missing opens do (r13 verdict #3):
    // the fingerprint already REPORTS heapGB, but a heap far above the
    // measured 8 g optimum deserves the same loud stderr treatment at
    // launch — G1 on a huge lazily-committed heap defers collection
    // until multi-second pauses land on whichever query is running.
    // Measured on these binaries: r12 experiment 334-385 s raw
    // -Xmx100g vs 187-212 s at 8 g; r13 driver round 244.5 s at 89 g
    // vs 131.5-153.0 s same-code at 8 g (~1.8x, wall and CPU scaling
    // together). 2x the build.sbt default is the threshold.
    if (heapGB > 16.0)
      System.err.println(f"[bench] WARNING: JVM heap is $heapGB%.1f GiB — " +
        "far above the 8 GiB this suite is tuned for. Measured penalty on " +
        "identical code: 334-385 s at -Xmx100g vs 187-212 s at 8 g (r12); " +
        "244.5 s at 89 g vs 131.5-153.0 s at 8 g (r13). Big-heap G1 " +
        "couples GC pressure into the MLlib fit family " +
        "(ml_ann_pq_trained, ml_als_recommend ~3x). Launch via " +
        "`sbt \"runMain graft.Bench\"` (build.sbt forks -Xmx8g) or set " +
        "SPARK_DRIVER_MEM=8g; timings from this run are NOT comparable " +
        "to an 8 g board.")
    // Warm-up: one flagship pass plus one footer-read per table pays the
    // one-time JVM/codegen/parquet-metadata costs so per-query timings
    // measure the queries (steady state), not whichever query happens to
    // touch a table first.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    for (t <- graft.tables.Tables.names)
      try {
        // events needs the NTZ-normalizing reader; everything else is a
        // plain scan.
        if (t == "events") graft.tables.Tables.events(spark, sfDir).count()
        else graft.tables.Tables.read(spark, sfDir, t).count()
      } catch { case _: Throwable => () }
    // Ambient calibration AFTER the table warm-up (metadata warm, JIT
    // warm) so both probes read steady state. Printed here AND carried
    // in the env JSON: a slow-host board names itself at startup.
    val calibCpu = calibCpuProbe()
    val calibIo = calibIoProbe(spark, sfDir)
    System.err.println(
      f"[bench] calib: cpu=$calibCpu%.2fs io=$calibIo%.2fs")
    EnvProbe(heapGB, closedOpens, calibCpu, calibIo)
  }

  /** The staged-family pre-warm list — every session-staged artifact the
    * registry serves from, built outside any sample's timing, each cost
    * printed as its own `staged-build:` tail line. Shared with
    * [[Prewarm]] (the warm-up breakdown without the bench).
    */
  private[graft] def runStagedBuilds(spark: SparkSession,
      sfDir: String): Unit = {
      val stagedBuilds: Seq[(String, () => Unit)] = Seq(
        "graph" ->
          (() => graft.queries.GraphQueries.prewarmStaged(spark, sfDir)),
        "llm.dedup" ->
          (() => graft.queries.LlmQueries.prewarmStaged(spark, sfDir)),
        "ml.fitInputs" ->
          (() => graft.queries.MLQueries.prewarmStaged(spark, sfDir)),
        // r15 (verdict #1): the ALS fit family and the MLlib PQ codebook
        // fit once per (session, dataset) and are SERVED by the queries
        // (loaded saved models / published codebook) — the fit cost is
        // the refresh job's, visible here, and the medians measure
        // transform/evaluate/recommendForUserSubset serving.
        "ml.alsFit" ->
          (() => { graft.queries.MLQueries.alsFits(spark, sfDir); () }),
        // r16 (verdict #1): the three remaining in-sample MLlib fits —
        // the parts-KMeans pipeline (ml_kmeans_clusters), the k=8
        // embeddings KMeans (ml_cluster_recs, the r15 board's worst
        // code-attributable line), and the TF-IDF pipeline
        // (ml_tfidf_similar) — join the alsFits fit→save→load staging;
        // their queries serve the LOADED models.
        "ml.kmPartsFit" ->
          (() => { graft.queries.MLQueries.kmPartsFit(spark, sfDir); () }),
        "ml.kmEmbedFit" ->
          (() => { graft.queries.MLQueries.kmEmbedFit(spark, sfDir); () }),
        "ml.tfidfFit" ->
          (() => { graft.queries.MLQueries.tfidfFit(spark, sfDir); () }),
        // ...and the transformed corpus index the similarity query
        // scores against (the reference's precomputed tf-idf matrix)
        "ml.tfidfVecs" ->
          (() => { graft.queries.MLQueries.tfidfVecs(spark, sfDir); () }),
        // r16 (optimization round): the det twins' exact term-frequency
        // index — the corpus tokenize/explode/count pass
        // ml_tfidf_counts and q_tfidf_topk_trained re-ran per sample
        "ml.tfidfTf" ->
          (() => { graft.queries.MLQueries.tfidfTf(spark, sfDir); () }),
        "ml.pqMllib" ->
          (() => { graft.queries.ScaleQueries.pqMllibCodebook(spark, sfDir); () }),
        "rec.loo" ->
          (() => graft.queries.RecQueries.prewarmStaged(spark, sfDir)),
        "ivf.trainedDet" -> (() =>
          { graft.sources.IvfStore.trainedDet(spark, sfDir,
              graft.sources.IvfStore.DetK,
              graft.sources.IvfStore.DetIters, 1); () }),
        "ivf.trainedDetSampled" -> (() =>
          { graft.sources.IvfStore.trainedDet(spark, sfDir,
              graft.sources.IvfStore.DetK, graft.sources.IvfStore.DetIters,
              graft.sources.IvfStore.SampleEvery); () }),
        "ivf.trainedPq" -> (() =>
          { graft.sources.IvfStore.trainedPq(spark, sfDir); () }),
        "ivf.trainedPqSampled" -> (() =>
          { graft.sources.IvfStore.trainedPq(spark, sfDir,
              fitEvery = graft.sources.IvfStore.SampleEvery); () }),
        // the sweep's remaining operating points (1 and SampleEvery hit
        // the two caches above) — q_pq_sample_sweep then times four
        // serving stacks, not two staged builds
        "ivf.trainedPqSweep" -> (() =>
          graft.sources.IvfStore.PqSweepRates.foreach { f =>
            graft.sources.IvfStore.trainedPq(spark, sfDir, fitEvery = f); ()
          }),
        // r16 (optimization round): the exact-truth eval artifacts —
        // the integer-d² pair table and its top-5 answer key — that six
        // recall audits each re-checkpointed every sample
        "ivf.exactTruth" -> (() =>
          { graft.sources.IvfStore.exactTruth(spark, sfDir); () }),
        // ...and the composed index's routing table (q_id, vec_id, pr)
        // that the three IVF serving queries re-joined every sample
        "ivf.pairPr" -> (() =>
          { graft.queries.ScaleQueries.ivfPairPr(spark, sfDir); () }),
        "ivf.lists" -> (() =>
          { graft.sources.IvfStore.lists(spark, sfDir); () }),
        "ivf.trainedMllib" -> (() =>
          { graft.sources.IvfStore.trained(spark, sfDir, 16); () }),
        "postings" -> (() =>
          { graft.sources.PostingsStore.postings(spark, sfDir); () }),
        "warehouse.stores" ->
          (() => graft.queries.Warehouse.prewarmStaged(spark, sfDir)))
      for ((label, build) <- stagedBuilds) {
        val t0 = System.nanoTime()
        // cost line only on success (review r14): a FAILED build must
        // not also emit a success-format near-zero cost line
        try {
          build()
          val dt = (System.nanoTime() - t0) / 1e9
          System.err.println(f"[bench] staged-build: $label $dt%.2f s")
        } catch { case e: Throwable =>
          System.err.println(s"[bench] staged-build: $label FAILED: $e") }
      }
  }

  /** The spread file's default path: a LOWER-core rerun must not
    * overwrite a higher-core board of record (r16 verdict #4: the
    * driver's 8-core scaling rerun silently replaced the committed
    * 32-core BENCH_SPREAD.json, leaving the round's one weak mark
    * unadjudicable — only the env cpuSec betrayed the swap). If the
    * standing file exists and its env header declares MORE cores than
    * this run, divert to its sibling `BENCH_SPREAD_c<cpus>.json`;
    * equal-or-higher core reruns keep refreshing the standing name, and
    * an explicit SPARK_GRAFT_SPREAD_OUT always wins (callers bypass
    * this). A pre-`cpus`-stamp legacy file (no "cpus" key in its env
    * header) is treated as overwritable — the stamp is what makes the
    * guard enforceable — and so is a missing, unreadable or truncated
    * one: the guard must never abort the bench before it writes.
    */
  private[graft] def spreadDefaultPath(cpus: Int, standing: String): String = {
    val p = java.nio.file.Paths.get(standing)
    val existingCpus = scala.util.Try {
      """"env":\{[^{}]*"cpus":(\d+)""".r
        .findFirstMatchIn(java.nio.file.Files.readString(p))
        .map(_.group(1).toInt)
    }.toOption.flatten
    if (existingCpus.exists(_ > cpus)) {
      val diverted = p.resolveSibling(s"BENCH_SPREAD_c$cpus.json").toString
      System.err.println(s"[bench] spread: standing $standing is a " +
        s"${existingCpus.get}-core board; this $cpus-core run writes " +
        diverted + " instead")
      diverted
    } else standing
  }

  /** JSON string literal of `s`, with backslash, quote and ALL control
    * chars (< 0x20) escaped: a tab in oracle SQL or an error must not
    * make a JSON reader fail. */
  private[graft] def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Samples per query; each query reports its (min, med, max). */
  private val Samples = 3

  /** A timed board: each ok query's (min, med, max) seconds over its
    * [[Samples]] runs, and each failed query with its error. */
  private[graft] final case class Board(
      rows: Seq[(String, (Double, Double, Double))],
      failed: Seq[(String, Throwable)])

  /** Times [[Samples]] runs of every query, calling `after(name)` after
    * each run (failed or not), and reports each query's (min, med, max):
    * one sample may catch a GC pause or an ambient-steal burst, and the
    * median of three settles it without a per-query rule. A query that
    * throws in ANY sample is named on stderr with its error, listed in
    * `failed`, and left out of the rows: the time spent before a throw
    * measures nothing, and its remaining samples are skipped.
    */
  private[graft] def timeBoard(queries: Seq[(String, () => Unit)],
      after: String => Unit): Board = {
    val rows = Seq.newBuilder[(String, (Double, Double, Double))]
    val failed = Seq.newBuilder[(String, Throwable)]
    queries.foreach { case (name, run) =>
      val runs = Seq.newBuilder[Double]
      var error: Option[Throwable] = None
      var i = 0
      while (i < Samples && error.isEmpty) {
        val t0 = System.nanoTime()
        try { run(); runs += (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable => error = Some(e) }
        after(name)
        i += 1
      }
      error match {
        case Some(e) =>
          System.err.println(s"[bench] $name FAILED: $e")
          failed += name -> e
        case None =>
          val rs = runs.result().sorted
          rows += name -> (rs.head, rs(rs.size / 2), rs.last)
      }
    }
    Board(rows.result(), failed.result())
  }

  /** The spread file's body: the registry and failure counts, each failed
    * query's error (class and message), the env and pin headers, and
    * every ok query's (min, med, max) — ok rows plus failures cover the
    * `registry` queries run.
    */
  private[graft] def spreadJson(board: Board, registry: Int, envJson: String,
      pinsJson: String): String = {
    val failures = board.failed.map { case (k, e) =>
      jsonStr(k) + ":" + jsonStr(e.toString) }.mkString("{", ",", "}")
    board.rows.map { case (k, (lo, med, hi)) =>
      jsonStr(k) + ":{\"min\":" + jsonNum(lo, 2) + ",\"med\":" +
        jsonNum(med, 2) + ",\"max\":" + jsonNum(hi, 2) + "}"
    }.mkString("{\"registry\":" + registry + ",\"failed\":" +
      board.failed.size + ",\"failures\":" + failures + ",\"env\":" +
      envJson + ",\"pins\":" + pinsJson + ",\"spread\":{", ",", "}}")
  }

  private def benchBody(spark: SparkSession, sfDir: String,
      probe: EnvProbe): Unit = {
    val EnvProbe(heapGB, closedOpens, calibCpu, calibIo) = probe
    // Optional SPARK_GRAFT_ONLY subset for local iteration; unknown names
    // fail loudly (SparkEntry.selectedQueries) instead of silently
    // shrinking the run.
    val selected = SparkEntry.selectedQueries()
    // Leak loudness (r10 lesson): every query's tracked checkpoints are
    // drained after its timed count, and sweep() evicts anything else
    // left persisted (MLlib fit caches). A query that leaves blocks
    // behind is reported on stderr — the block-manager accumulation that
    // silently degraded the r10 session can't recur silently.
    var sweptTotal = 0
    val leakers = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    // GC-bean baseline AFTER warm-up: the delta over the timed window is
    // the pause budget the per-query numbers absorbed.
    val (gcMs0, gcN0) = graft.ops.JvmEnv.gcTotals
    val cpuNs0 = graft.ops.JvmEnv.processCpuNanos
    val board = timeBoard(
      selected.toSeq.map { case (name, fn) =>
        name -> (() => { fn(spark, sfDir).count(); () }) },
      name => {
        graft.ops.Ck.drain(spark)
        val swept = graft.ops.Ck.sweep(spark)
        if (swept > 0) {
          sweptTotal += swept
          leakers(name) = leakers.getOrElse(name, 0) + swept
        }
      })
    if (sweptTotal > 0)
      System.err.println(s"[bench] swept $sweptTotal un-owned persistent " +
        s"RDDs: " + leakers.map { case (k, v) => s"$k=$v" }.mkString(", "))
    val (gcMs1, gcN1) = graft.ops.JvmEnv.gcTotals
    val gcSec = (gcMs1 - gcMs0) / 1000.0
    // Process CPU over the timed window: wall inflation with flat cpuSec
    // is external descheduling; wall+cpu inflating together is real work
    val cpuNs1 = graft.ops.JvmEnv.processCpuNanos
    val cpuSec =
      if (cpuNs0 < 0 || cpuNs1 < 0) -1.0 else (cpuNs1 - cpuNs0) / 1e9
    // Pinned-state report (r12 verdict #4): the session's standing pins
    // (staged novel-edge batch, post-append graph, mfRatings, the
    // dup-closure fixture) as a measured number beside the leaker line.
    val (pinBlocks, pinBytes) = graft.ops.Ck.pinnedReport(spark)
    val pinMB = pinBytes / 1048576.0
    // Per-owner breakdown (r13): "which pin grew?" answerable from the
    // artifact — the dirDst staging question took an A/B bench run that
    // this line would have settled on its face.
    val pinsByLabel = graft.ops.Ck.pinnedByLabel(spark)
    System.err.println(f"[bench] env: heap=$heapGB%.1fg opens=" +
      (if (closedOpens.isEmpty) "ok" else s"MISSING(${closedOpens.size})") +
      f" gc=$gcSec%.1fs/${gcN1 - gcN0} cpu=$cpuSec%.0fs" +
      f" calibCpu=$calibCpu%.2fs calibIo=$calibIo%.2fs" +
      f" pinned=$pinMB%.1fMB/$pinBlocks blocks" +
      // per-owner MB breakdown; omit entirely when nothing is pinned
      // (a subset run would otherwise print a stray " (MB)") and keep
      // the unit OFF the last value (review r13)
      (if (pinsByLabel.isEmpty) ""
       else pinsByLabel.map { case (l, mb) => f"$l=$mb%.0f" }
         .mkString(" (", " ", " MB)")))
    // Centisecond per-query precision (total keeps milliseconds) keeps the
    // JSON line well inside the driver's bounded 2000-char tail capture
    // (r04's full-precision line was truncated mid-record and parsed as
    // null); rendering rules live in jsonNum.
    def fmt(v: Double, places: Int): String = jsonNum(v, places)
    // Self-limiting: if the per-query map would push the line past the
    // capture window, fold the FASTEST entries into one "other" bucket —
    // the slow queries (the ones worth reading) always survive verbatim.
    val medians = board.rows.map { case (k, (_, med, _)) => k -> med }
    val total = medians.map(_._2).sum
    val bySlowest = medians.sortBy { case (k, v) => (-v, k) }
    // The machine-readable environment fingerprint, carried in BOTH the
    // driver-captured JSON line and the spread-file header: heap GiB,
    // module-opens state ("ok" or the missing packages), GC pause
    // seconds + collections over the timed window, the two fixed-work
    // ambient calibration probes (r16: a board's slow-host question is
    // decided by the artifact — same-code boards with calibCpu apart
    // by >20% are different boxes, not different code), pinned MB +
    // blocks.
    // The session's core count, stamped into BOTH the bench line and the
    // spread header (r16 verdict #4: the committed 32-core BENCH_SPREAD
    // board of record was silently replaced by the driver's subsequent
    // 8-core rerun, and only the env cpuSec betrayed it — the artifact
    // now names its core count).
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val envJson = "{\"heapGB\":" + fmt(heapGB, 1) + ",\"opens\":\"" +
      (if (closedOpens.isEmpty) "ok"
       else "MISSING:" + closedOpens.map(_.split("/").last).mkString("+")) +
      "\",\"cpus\":" + cpus +
      ",\"gcSec\":" + fmt(gcSec, 1) + ",\"gcN\":" + (gcN1 - gcN0) +
      ",\"cpuSec\":" + fmt(cpuSec, 0) +
      ",\"calibCpu\":" + fmt(calibCpu, 2) + ",\"calibIo\":" + fmt(calibIo, 2) +
      ",\"pinMB\":" + fmt(pinMB, 1) + ",\"pinBlocks\":" + pinBlocks + "}"
    def line(shown: Int): String = {
      val head = bySlowest.take(shown)
      val rest = bySlowest.drop(shown)
      val entries = head.map { case (k, v) => "\"" + k + "\":" + fmt(v, 2) } ++
        (if (rest.isEmpty) Nil
         else Seq("\"other_" + rest.size + "q\":" + fmt(rest.map(_._2).sum, 2)))
      val qs = entries.mkString("{", ",", "}")
      // "registry" is COMPUTED from the registry the run actually
      // executed (r11 verdict item 4: two retros in a row hand-typed an
      // off-by-one count — the artifact now carries the true number).
      s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec","registry":${selected.size},"failed":${board.failed.size},"env":$envJson,"queries":$qs,"sf":"$sfDir"}"""
    }
    var shown = bySlowest.size
    while (line(shown).length > 1850 && shown > 0) shown -= 1
    println(line(shown))
    // Every query's (min, med, max) and every failure's error —
    // ALWAYS written (r11 verdict item 1: the driver-vs-builder gap on
    // q_item_rank was unadjudicable without driver-side error bars).
    // SPARK_GRAFT_SPREAD_OUT overrides the default path beside the
    // bench output (repo cwd → BENCH_SPREAD.json).
    // A SPARK_GRAFT_ONLY subset run defaults to its own file (review
    // r15): a local-iteration artifact silently OVERWROTE the committed
    // board of record — 2-query pins/spreads in place of the full
    // board. Full runs keep the standing name.
    val spreadPath = sys.env.getOrElse("SPARK_GRAFT_SPREAD_OUT",
      if (sys.env.contains("SPARK_GRAFT_ONLY")) "BENCH_SPREAD_subset.json"
      else spreadDefaultPath(cpus, "BENCH_SPREAD.json"))
    // The spread header also carries the per-owner pin breakdown — the
    // bench LINE stays compact (driver tail capture is bounded), the
    // spread file is where adjudication detail lives.
    val pinsJson = pinsByLabel.map { case (l, mb) =>
      "\"" + l + "\":" + fmt(mb, 1)
    }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(spreadPath),
      spreadJson(board, selected.size, envJson, pinsJson))
    spark.stop()
  }
}
