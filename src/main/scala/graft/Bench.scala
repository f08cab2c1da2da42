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
    // its family's WHOLE build (since r15 that includes the full-graph
    // standing layout and standingRanks, which used to build
    // unconditionally in warm-up — ADVICE r15: subset graph numbers
    // are NOT comparable to full-board medians; adjudicate subset runs
    // on their later samples, or run without SPARK_GRAFT_ONLY).
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
        // tripled recall audits each re-checkpointed every sample
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

  /** A timed board: each timed query's median seconds, the (min, med,
    * max) of every multi-sample query, and the queries that failed. */
  private[graft] final case class Board(results: Seq[(String, Double)],
      spreads: Seq[(String, (Double, Double, Double))], failed: Seq[String])

  /** Times `samples(name)` runs of every query, calling `after(name)`
    * after each run (failed or not). A multi-sample query reports its
    * median and its (min, med, max) spread. A query that throws in ANY
    * sample is named on stderr with its error, counted in `failed`, and
    * left out of the results and spreads: the time spent before a
    * throw measures nothing, and its remaining samples are skipped.
    */
  private[graft] def timeBoard(queries: Seq[(String, () => Unit)],
      samples: String => Int, after: String => Unit): Board = {
    val results = Seq.newBuilder[(String, Double)]
    val spreads = Seq.newBuilder[(String, (Double, Double, Double))]
    val failed = Seq.newBuilder[String]
    queries.foreach { case (name, run) =>
      val runs = Seq.newBuilder[Double]
      var error: Option[Throwable] = None
      var i = 0
      while (i < samples(name) && error.isEmpty) {
        val t0 = System.nanoTime()
        try { run(); runs += (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable => error = Some(e) }
        after(name)
        i += 1
      }
      error match {
        case Some(e) =>
          System.err.println(s"[bench] $name FAILED: $e")
          failed += name
        case None =>
          val rs = runs.result().sorted
          val med = rs(rs.size / 2)
          results += name -> med
          if (rs.size > 1) spreads += name -> (rs.head, med, rs.last)
      }
    }
    Board(results.result(), spreads.result(), failed.result())
  }

  private def benchBody(spark: SparkSession, sfDir: String,
      probe: EnvProbe): Unit = {
    val EnvProbe(heapGB, closedOpens, calibCpu, calibIo) = probe
    // Optional SPARK_GRAFT_ONLY subset for local iteration; unknown names
    // fail loudly (SparkEntry.selectedQueries) instead of silently
    // shrinking the run.
    val selected = SparkEntry.selectedQueries()
    // ML-family fits have measured run-to-run variance (ml_als_rmse spanned
    // 2.6-13.0 s across otherwise-identical driver rounds), so a single
    // sample is unadjudicable: ml_* queries run 3x and report the MEDIAN,
    // everything else stays single-shot (relational plans are stable and
    // 3x-ing 110 queries would triple the bench for no signal). The dedup
    // trio joined the median set after r8/r9: their driver times swung
    // 50-107% with zero code change twice (r8 up, r9 session back down,
    // plans byte-identical both times) — single samples of these three
    // keep triggering adjudications a median settles up front. Set
    // SPARK_GRAFT_SPREAD_OUT=<path> to also dump per-query (min, med, max)
    // as JSON — the error bars the retro's envelope table quotes.
    // q_quantile_group joined after its first bench sample read 37.6 s in
    // an ambient-steal burst vs 3.7 s isolated minutes later (10×, plan
    // identical) — the same single-sample-unadjudicable shape as the trio.
    // The iterative graph queries joined for the same reason: q_bfs_hops
    // read 10.5 s in-suite vs 5.4 s isolated on the same binaries (their
    // per-round localCheckpoint jobs amplify session contention).
    // q_kcore_fixpoint joined in r10 (per-round localCheckpoint loop,
    // same contention-amplified shape as the rest of the graph family);
    // the store-serve pair joined because their first sample pays the
    // one-time standing-layout build the later samples read — the
    // median IS the serving path, which is what the query measures.
    // The store-reading retrieval queries joined in r11: their first
    // sample pays the one-time PostingsStore/IvfStore build, the median
    // measures the serving path (the same discipline as the store-serve
    // pair). The r10 single-shot suspects (q_countmin, q_cramers_v,
    // q_changepoint, q_cohort_retention) joined after regressing 2-4× on
    // unchanged code and single samples — the documented ambient-steal
    // shape a median settles.
    // r12 verdict #2: EVERY query that has ever read >3 s in a driver
    // round carries error bars — the r12 board's top four inflations
    // (q_contam_ngram 15.48 s, q_window_topk 8.62, q_constraints 8.11,
    // q_decile_lift 4.51, all in files untouched since r11, all
    // single-shot) contributed ~38 s of a +76 s driver swing that the
    // medians would have absorbed. Joined: the four above plus
    // q_json_extract, q_vocab_coverage, q_dedup_eval, q_simjoin_prefix,
    // q_assoc_rules (3.2-4.4 s r12 singles) and the >3 s-in-any-round
    // sweep of BENCH_r05-r12 (q_dedup_jaccard, q_dup_components,
    // q_minhash_dedup, q_degree_dist, q_trending).
    val tripled = Set("q_chunk_dedup", "q_dedup_delta", "q_containment_dup",
      "q_contam_ngram", "q_window_topk", "q_constraints", "q_decile_lift",
      "q_json_extract", "q_vocab_coverage", "q_dedup_eval",
      "q_simjoin_prefix", "q_assoc_rules", "q_dedup_jaccard",
      "q_dup_components", "q_minhash_dedup", "q_degree_dist", "q_trending",
      "q_quantile_group", "q_bfs_hops", "q_triangles", "q_item_rank",
      "q_label_prop", "q_kcore", "q_tie_strength", "q_incr_graph",
      "q_incr_triangles", "q_incr_ties", "q_incr_ranks",
      "q_dedup_survivorship",
      "q_kcore_fixpoint",
      "q_agg_state_serve", "q_latest_serve", "q_time_travel",
      "q_version_diff", "q_phrase_search", "q_inverted_index",
      "q_bm25_topk", "q_ann_ivf", "q_countmin", "q_cramers_v",
      "q_changepoint", "q_cohort_retention",
      // r11 in-session adjudication: q_dpp_prune read 2.75 s in-suite vs
      // 1.13 s isolated minutes later (plan unchanged — ambient), and
      // q_rec_coverage's single samples have crept 4.65 → 4.99 → 6.2 s
      // across three rounds of unchanged code; both join the median set.
      "q_dpp_prune", "q_rec_coverage",
      // the trained-recall pair each read their own trainedDet layout
      // (different fitEvery cache keys; since r14 both builds run in the
      // staged-build warm-up) — medians measure the serving-side audit;
      // the trained cluster-rec twin (r14) reads the same layout
      "q_ann_recall_trained", "q_ann_recall_sampled",
      "q_cluster_recs_trained",
      // det-MF training pair: fit-shaped (solve aggregations + staged
      // ratings) — joins the ml_-family median discipline
      "q_mf_trained", "q_mf_implicit_trained",
      // k-fold CV + learning curve + hyperparameter sweep (r13):
      // fit-shaped, first sample pays the staged mfRatings build —
      // same discipline as the det-MF pair
      "q_cv_popularity", "q_learning_curve", "q_hyperparam_sweep",
      // det TF-IDF retrieval twin (r13): fit-shaped (weight training +
      // checkpointed tf index) — same discipline as the det-MF pair
      "q_tfidf_topk_trained",
      // r13: the planted-corpus dedup family stages its discovery pairs,
      // exact ground truth, and component closure once per session
      // (LlmQueries.minhashVerified/plantedExactPairs/minhashComponents);
      // whichever consumer runs first pays the build — the median is the
      // serving path (the PostingsStore/IvfStore discipline)
      "q_dedup_pipeline", "q_split_leakfree",
      // r13 in-session sweep: the one single-shot line that read >3 s in
      // any of the round's three full boards (4.5 s in one run, 1.8 s in
      // the next — the ambient-capture shape the median settles)
      "q_seq_pairs",
      // r13: the threshold sweep runs the prefix-filtered discovery join
      // at τ=0.29 (heavier than the 0.8 family default) — discovery-
      // shaped, same error-bar discipline as q_simjoin_prefix
      "q_dedup_threshold_sweep",
      // r13: det-PQ training twin — 3 Lloyd rounds × 8 subspaces are
      // fit-shaped work; same discipline as q_ann_recall_trained. The
      // r14 sampled-fit variant reads its own staged layout, same story.
      "q_pq_recall_trained", "q_pq_recall_sampled",
      // r15: the fitEvery curve reads FOUR staged layouts and runs four
      // serving stacks — fit-family-shaped, same discipline as the pair
      "q_pq_sample_sweep",
      // r15: the composed IVF-PQ audit reads both trained layouts —
      // same discipline as its two parents
      "q_ann_ivfpq",
      // r16: the composed grid reads the trained-IVF layout and all
      // four staged PQ layouts (16 serving cells) — same discipline
      "q_ivfpq_grid",
      // r15: the routing-knob curve reads the trained layout four
      // times — same discipline as the trained-recall pair
      "q_ivf_probe_sweep",
      // r14 (the standing >3 s-in-any-driver-round rule, verdict #3):
      // the r13 driver board's five single-shot lines above 3 s —
      // q_doc_keywords 5.35, q_curate_funnel 4.84, q_rfm_segments 4.78,
      // q_eval_langid 4.71, q_outlier_mad 3.35 — all join, so every
      // line the driver detail list can show carries (min, med, max).
      // (Their one-time staged upstreams now build in warm-up, so these
      // medians — and everyone else's — measure serving only.)
      "q_doc_keywords", "q_curate_funnel", "q_rfm_segments",
      "q_eval_langid", "q_outlier_mad",
      // r15 (verdict #3): the RELATIVE clause joins the standing ">3 s
      // in any driver round" rule — any line that regresses >1.5× its
      // prior driver-round reading joins the median set, so the next
      // such swing carries (min, med, max) in BENCH_SPREAD and noise vs
      // real is adjudicable from the artifact. Motivating case:
      // q_feature_bins 0.96 → 1.45 s (r13 → r14, +51%), the r14 board's
      // only real regression, single-shot with no spread entry.
      "q_feature_bins",
      // r15 boards: the relative clause's first application — these four
      // read >1.5× their r14 driver values on BOTH closing boards
      // (q_weighted_quantile 1.41 → 2.23/2.35, q_join_dedup_dim 0.72 →
      // 1.29/1.34, q_resample_ffill 0.58 → 0.95/0.90, q_top_paths 0.57
      // → 0.90/0.96) amid a broad ambient elevation (32 lines up >20%,
      // untouched files included, cpuSec near-flat) — the median set is
      // exactly where noise-vs-real gets adjudicated next round.
      "q_weighted_quantile", "q_join_dedup_dim", "q_resample_ffill",
      "q_top_paths",
      // r16 (verdict #3): the r15 DRIVER board's five >1.5× regressed
      // lines carried no spread entries — the relative clause had been
      // applied only to the builder's closing boards, leaving exactly
      // the driver-round blind spot it was written to close. All five
      // live in files r15 never touched (Warehouse/StreamingQueries/
      // Stats/LlmQueries) amid the board-wide ambient elevation;
      // their (min, med, max) adjudicates noise vs real next round:
      // q_incr_join 1.17→3.53, q_table_diff 1.31→3.26, q_set_ops
      // →2.90, q_session_window 0.71→2.65, q_tokenizer_fertility
      // 0.57→2.66.
      "q_incr_join", "q_table_diff", "q_set_ops", "q_session_window",
      "q_tokenizer_fertility",
      // r16: the banding-knob sweep joins at birth — sweep-shaped like
      // q_pq_sample_sweep/q_ivf_probe_sweep, same median discipline
      "q_lsh_band_sweep",
      // r16 optimization round (the standing >1.5× relative clause):
      // three single-shot lines read >1.5× their prior same-session
      // reading on an ambient-hot board (q_count_distinct →2.77,
      // q_drift_ks 0.76→2.43, q_ann_pq 0.86→2.16, all in untouched
      // files while cpuSec FELL 1038→957) — they join the median set so
      // the next swing carries (min, med, max)
      "q_count_distinct", "q_drift_ks", "q_ann_pq",
      // r17 (r16 verdict #3): the r16 DRIVER board's three spread-less
      // >1.5× regressions — q_bpe_pairs 0.93→1.89, q_table_health
      // 0.91→1.52, q_containment_words 0.90→1.49, all in files r16
      // never touched — join per the standing relative clause so the
      // next swing carries (min, med, max)
      "q_bpe_pairs", "q_table_health", "q_containment_words",
      // r17 (r16 verdict #6): the persistent >1 s single-shot stats
      // lines (q_winsorize 1.23, q_pareto 1.16, q_simhash 1.12,
      // q_quantile_global 1.06 on the r16 driver board) — their plans
      // re-read r16/r17 show the intended multi-pass selection shapes
      // with no structural waste, so the open question is ambient vs
      // floor; the median set is where that adjudicates
      "q_winsorize", "q_pareto", "q_simhash", "q_quantile_global")
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
    val Board(results, spreads, failed) = timeBoard(
      selected.toSeq.map { case (name, fn) =>
        name -> (() => { fn(spark, sfDir).count(); () }) },
      name => if (name.startsWith("ml_") || tripled(name)) 3 else 1,
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
    val total = results.map(_._2).sum
    val bySlowest = results.sortBy { case (k, v) => (-v, k) }
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
      s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec","registry":${selected.size},"failed":${failed.size},"env":$envJson,"queries":$qs,"sf":"$sfDir"}"""
    }
    var shown = bySlowest.size
    while (line(shown).length > 1850 && shown > 0) shown -= 1
    println(line(shown))
    // Per-query (min, med, max) spread for every multi-sampled query —
    // ALWAYS written (r11 verdict item 1: the driver-vs-builder gap on
    // q_item_rank was unadjudicable without driver-side error bars).
    // SPARK_GRAFT_SPREAD_OUT overrides the default path beside the
    // bench output (repo cwd → BENCH_SPREAD.json).
    // A SPARK_GRAFT_ONLY subset run defaults to its own file (review
    // r15): a local-iteration artifact silently OVERWROTE the committed
    // board of record — 2-query pins/spreads in place of the full
    // board — breaking the very prior-reading chain the >1.5× relative
    // clause adjudicates against. Full runs keep the standing name.
    val spreadPath = sys.env.getOrElse("SPARK_GRAFT_SPREAD_OUT",
      if (sys.env.contains("SPARK_GRAFT_ONLY")) "BENCH_SPREAD_subset.json"
      else spreadDefaultPath(cpus, "BENCH_SPREAD.json"))
    // The spread header also carries the per-owner pin breakdown — the
    // bench LINE stays compact (driver tail capture is bounded), the
    // spread file is where adjudication detail lives.
    val pinsJson = pinsByLabel.map { case (l, mb) =>
      "\"" + l + "\":" + fmt(mb, 1)
    }.mkString("{", ",", "}")
    val spreadBody = spreads.map { case (k, (lo, med, hi)) =>
      "\"" + k + "\":{\"min\":" + fmt(lo, 2) + ",\"med\":" + fmt(med, 2) +
        ",\"max\":" + fmt(hi, 2) + "}"
    }.mkString("{\"registry\":" + selected.size + ",\"failed\":" +
      failed.size + ",\"env\":" + envJson +
      ",\"pins\":" + pinsJson + ",\"spread\":{", ",", "}}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(spreadPath), spreadBody)
    spark.stop()
  }
}
