package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Ck.CkOps
import graft.ops.Hashing
import graft.tables.Tables
import Registry.{Entry, Q}

/** Scale-engineering operators rounding out the LLM-pipeline surface
  * ([[LlmQueries]]): asymmetric containment dedup, C4-style repeated-chunk
  * removal, product-quantization ANN, and a Z-order layout/data-skipping
  * audit. Like the rest of the registry, every query is deterministic,
  * ends in a total ORDER BY, and carries a DuckDB oracle twin built from
  * the same md5 / fixed-point arithmetic.
  */
object ScaleQueries {

  import graft.ops.Vec.{cosine, dot, round3 => r3}

  // ---------------------------------------------------------------- containment

  /** Asymmetric containment detection — the quote/excerpt dedup mode the
    * SYMMETRIC Jaccard family structurally misses: a 20-token excerpt inside
    * a 500-token document has Jaccard ≈ 0.04 but containment |Q∩D|/|Q| = 1.
    * The operational shape is decontamination-like: a SMALL query set (here
    * 10% of docs contribute a first-20-token excerpt, the "quote list")
    * broadcasts against the corpus scan, so scoring is map-side with no
    * shuffle on the corpus — the same 100 TB plan as `q_decontaminate`,
    * and the reason there is no length-ratio prune here: containment is
    * one-sided, so the candidate space is bounded by keeping the QUERY side
    * small, not by pruning pairs. Blocking by lang cuts the pair space 5×.
    *
    * Token sets are the dedup family's 60-bit md5 fingerprints; the
    * intersection size is an exact integer in both engines, so the score is
    * fully oracle-checkable (no sketch, no tolerance).
    */
  private val containmentDup: Q = (s, d) => {
    def tokset(c: Column): Column =
      sort_array(array_distinct(transform(c, w => Hashing.md5Long60(w))))
    val docs = Tables.documents(s, d)
    val corpus = docs.select(col("doc_id"), col("lang"),
      tokset(split(col("text"), " ")).as("dtoks"))
    val quotes = docs.filter(col("doc_id") % 10 === 3)
      .select((col("doc_id") + lit(20000L)).as("quote_id"), col("lang"),
        tokset(slice(split(col("text"), " "), 1, 20)).as("qtoks"))
      .withColumn("n_quote_toks", size(col("qtoks")))
    corpus.join(broadcast(quotes), "lang")
      .withColumn("n_inter", size(array_intersect(col("qtoks"), col("dtoks"))))
      .withColumn("containment",
        floor(col("n_inter").cast("double") / col("n_quote_toks") * lit(10000.0)
          + lit(0.5)) / lit(10000.0))
      .filter(col("containment") >= 0.9)
      .select(col("quote_id"), col("doc_id"),
        (col("doc_id") === col("quote_id") - lit(20000L)).cast("int").as("is_source"),
        col("n_quote_toks"), col("n_inter"), col("containment"))
      .orderBy("quote_id", "doc_id")
  }

  private val containmentDupSql =
    """WITH t AS (
      |  SELECT doc_id, lang,
      |         list_sort(list_distinct(list_transform(string_split(text, ' '),
      |           w -> ('0x' || substr(md5(w), 1, 15))::BIGINT))) AS dtoks
      |  FROM documents),
      |q AS (
      |  SELECT doc_id + 20000 AS quote_id, lang,
      |         list_sort(list_distinct(list_transform(string_split(text, ' ')[1:20],
      |           w -> ('0x' || substr(md5(w), 1, 15))::BIGINT))) AS qtoks
      |  FROM documents WHERE doc_id % 10 = 3),
      |p AS (
      |  SELECT q.quote_id, t.doc_id,
      |         CAST(len(q.qtoks) AS INT) AS n_quote_toks,
      |         CAST(len(list_intersect(q.qtoks, t.dtoks)) AS INT) AS n_inter
      |  FROM q JOIN t ON q.lang = t.lang)
      |SELECT quote_id, doc_id,
      |       CAST(doc_id = quote_id - 20000 AS INT) AS is_source,
      |       n_quote_toks, n_inter,
      |       floor(CAST(n_inter AS DOUBLE) / n_quote_toks * 10000.0 + 0.5)
      |         / 10000.0 AS containment
      |FROM p
      |WHERE floor(CAST(n_inter AS DOUBLE) / n_quote_toks * 10000.0 + 0.5)
      |        / 10000.0 >= 0.9
      |ORDER BY quote_id, doc_id""".stripMargin

  // ---------------------------------------------------------------- chunk dedup

  /** C4-style repeated-chunk removal: every non-overlapping 16-token chunk
    * is fingerprinted, chunks whose fingerprint occurs ≥2 times anywhere in
    * the corpus are removed, and each doc reports its retained fraction.
    * This is the paragraph/line-dedup policy (C4 removed any 3-sentence
    * span seen before) adapted to the token-stream fixtures — including
    * C4's known sharp edge, faithfully reproduced: removal guts the
    * ORIGINAL too, not just the copy (both sides of a planted duplicate
    * retain 0.0). Trailing partial chunks (< 16 tokens) are never removed
    * and don't count toward the denominator.
    *
    * Scale shape: chunks shuffle once as 60-bit fingerprints (16 bytes a
    * row, uniform keys) for the corpus-wide frequency count; the verdict
    * joins back on the same key and re-aggregates by doc. No text ever
    * shuffles — same contract as `q_dup_spans`, but emitting the REMOVAL
    * decision rather than the coverage diagnostic.
    */
  private val chunkDedup: Q = (s, d) => {
    val k = 16
    LlmQueries.requirePlantHeadroom(s, d, "chunkDedup")
    val docs = Tables.documents(s, d)
    val all = docs.select(col("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") < 40)
        .select((col("doc_id") + lit(30000L)).as("doc_id"), col("text")))
    val base = all.withColumn("ws", split(col("text"), " "))
      .withColumn("n", size(col("ws")))
    // sequence(0, n div 16 - 1) DESCENDS when n < 16 (Spark generates
    // start-to-stop in either direction) — guard to an empty array instead.
    // localCheckpoint: ch feeds the frequency aggregate AND the verdict
    // join — one tokenize+chunk+hash pass instead of two (the jaccardPairs
    // precedent); the final per-doc join below reads only doc_id.
    val ch = base
      .withColumn("chunks", when(col("n") >= k, expr(
        s"transform(sequence(0, size(ws) div $k - 1), " +
          s"i -> concat_ws(' ', slice(ws, i * $k + 1, $k)))"))
        .otherwise(expr("array()").cast("array<string>")))
      .select(col("doc_id"), explode(col("chunks")).as("chunk"))
      .select(col("doc_id"), Hashing.md5Long60(col("chunk")).as("h"))
      .ckpt()
    val freq = ch.groupBy("h").agg(count(lit(1)).as("c"))
    val per = ch.join(freq, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum((col("c") >= 2).cast("long")).as("n_dropped"))
    all.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        when(col("n_chunks").isNull, lit(1.0))
          .otherwise(floor((col("n_chunks") - col("n_dropped")).cast("double")
            / col("n_chunks") * lit(10000.0) + lit(0.5)) / lit(10000.0))
          .as("retained_frac"))
      .orderBy("doc_id")
  }

  private val chunkDedupSql =
    """WITH all_docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 30000 AS doc_id, text FROM documents WHERE doc_id < 40),
      |base AS (SELECT doc_id, string_split(text, ' ') AS ws FROM all_docs),
      |ch AS (
      |  SELECT doc_id,
      |         ('0x' || substr(md5(array_to_string(ws[i*16+1 : i*16+16], ' ')),
      |          1, 15))::BIGINT AS h
      |  FROM (SELECT doc_id, ws, unnest(range(0, len(ws) // 16)) AS i FROM base)),
      |freq AS (SELECT h, count(*) AS c FROM ch GROUP BY h),
      |per AS (
      |  SELECT ch.doc_id, count(*) AS n_chunks,
      |         CAST(SUM(CASE WHEN freq.c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
      |  FROM ch JOIN freq USING (h) GROUP BY ch.doc_id)
      |SELECT b.doc_id,
      |       COALESCE(per.n_chunks, 0) AS n_chunks,
      |       COALESCE(per.n_dropped, 0) AS n_dropped,
      |       CASE WHEN per.n_chunks IS NULL THEN 1.0
      |            ELSE floor(CAST(per.n_chunks - per.n_dropped AS DOUBLE)
      |                 / per.n_chunks * 10000.0 + 0.5) / 10000.0 END AS retained_frac
      |FROM base b LEFT JOIN per ON b.doc_id = per.doc_id
      |ORDER BY b.doc_id""".stripMargin

  // ---------------------------------------------------------------- fuzzy

  /** Fuzzy entity matching by edit distance — the entity-resolution member
    * of the dedup family (exact/Jaccard/MinHash/SimHash/embedding/
    * containment handle DOCUMENTS; this handles NAMES, where a dropped
    * character defeats every token-level mode). Deterministic typo
    * variants (4th character dropped) of the part-name dictionary are
    * matched back by `levenshtein ≤ 2`; every variant must rediscover its
    * source at distance 1 and any additional dictionary entries within
    * the bound surface as the ambiguity report.
    *
    * Scale shape: entity dictionaries are small by nature — the variant
    * side broadcasts and distance runs map-side (the containment-dedup
    * contract). A corpus-scale fuzzy JOIN would block first (length
    * bucket + prefix, since lev ≤ k bounds the length gap by k and
    * preserves a shared prefix-or-edit window) — the same
    * discovery-vs-verify split as MinHash→Jaccard.
    */
  private val fuzzyMatch: Q = (s, d) => {
    val names = Tables.part(s, d)
      .groupBy(col("p_name").as("name"))
      .agg(min("p_partkey").as("name_id"))
    val variants = names
      .select((col("name_id") + lit(50000L)).as("variant_id"),
        concat(substring(col("name"), 1, 3), substring(col("name"), 5, 1000))
          .as("variant"),
        col("name").as("src_name"))
    names.crossJoin(broadcast(variants))
      .withColumn("dist", levenshtein(col("variant"), col("name")))
      .filter(col("dist") <= 2)
      .select(col("variant_id"), col("variant"), col("name_id"),
        col("name").as("matched_name"), col("dist"),
        (col("name") === col("src_name")).cast("int").as("is_source"))
      .orderBy("variant_id", "name_id")
  }

  private val fuzzyMatchSql =
    """WITH names AS (
      |  SELECT p_name AS name, min(p_partkey) AS name_id
      |  FROM part GROUP BY p_name),
      |variants AS (
      |  SELECT name_id + 50000 AS variant_id,
      |         substr(name, 1, 3) || substr(name, 5) AS variant,
      |         name AS src_name
      |  FROM names)
      |SELECT v.variant_id, v.variant, n.name_id, n.name AS matched_name,
      |       levenshtein(v.variant, n.name) AS dist,
      |       CAST(n.name = v.src_name AS INT) AS is_source
      |FROM names n CROSS JOIN variants v
      |WHERE levenshtein(v.variant, n.name) <= 2
      |ORDER BY variant_id, name_id""".stripMargin

  // ---------------------------------------------------------------- PQ ANN

  /** Product-quantization ANN (IVF-PQ's compression half) — completing the
    * engine's ANN trio: `q_ann_ivf`/`ml_ann_trained` compress the SEARCH
    * (route to buckets), `q_ann_binary` compresses vectors to 64 sign bits,
    * and this compresses vectors to subspace CODES scored by asymmetric
    * distance (ADC), the FAISS-style memory story: 64 doubles (512 B) become
    * 8 × 3-bit codes, and query-time distance is 8 table lookups + adds.
    *
    * The 64-dim vectors split into 8 subspaces of 8 dims; each subspace's
    * codebook is pinned to the sub-vectors of vec_id 0..7 (a trained
    * codebook is `ml_ann_trained`'s job — pinning makes the ENCODING and
    * ADC arithmetic exactly reproducible in SQL, so the quantizer itself
    * is under the hash gate, not a property test). Distances are
    * fixed-pointed to micro-units BEFORE the argmin/sum so assignment
    * ties and the ADC total are bit-identical in both engines.
    *
    * Scale shape: the codebook (64 rows) and the per-query lookup table
    * (queries × 64 entries) broadcast; encoding is one map-side argmin per
    * (vector, subspace); ADC scoring joins codes to the LUT map-side and
    * partially aggregates the 8-term sums — the only corpus-sized shuffle
    * is the final (q_id, vec_id) sum, k·n rows of longs. The top-32 ADC
    * candidates are exactly reranked by true cosine (the standard
    * PQ-then-rerank deployment), emitting top-3. Measured recall@3 vs
    * brute force: 0.60 at sf0.001 and 0.43 at sf0.01 (1.6% candidate
    * coverage) on the uniform-random fixture — the ScaleQueriesSpec floor
    * is 0.4; on clustered real embeddings PQ does far better, but like
    * `ml_ann_trained`'s scaladoc notes, no quantizer beats coverage on
    * uniform vectors.
    */
  /** The PQ encode→ADC→rerank machinery, parameterized by the codebook
    * (cid, s, cv) so the oracle-checked pinned path ([[annPq]]) and the
    * KMeans-trained path ([[annPqTrained]]) share one definition. cid must
    * stay < 16: the argmin packs (d2u, cid) into one long — d2u is
    * non-negative, so the packed order IS the (d2u, cid) lexicographic
    * order, and a primitive long min plans as a codegen HashAggregate
    * where min(struct(...)) falls back to SortAggregate.
    */
  private def pqSearch(e: org.apache.spark.sql.DataFrame,
      cent: org.apache.spark.sql.DataFrame, numQueries: Int,
      shortlist: Int, topK: Int): org.apache.spark.sql.DataFrame = {
    val m = 8 // subspaces
    val sub = e.select(col("vec_id"),
        explode(sequence(lit(0), lit(m - 1))).as("s"), col("v"))
      .withColumn("sv", expr("slice(v, s * 8 + 1, 8)"))
      .drop("v")
    def d2u(a: Column, b: Column): Column =
      floor((dot(a, a) - lit(2) * dot(a, b) + dot(b, b)) * lit(1000000.0)
        + lit(0.5)).cast("long")
    val codes = sub.join(broadcast(cent), "s")
      .withColumn("packed", d2u(col("sv"), col("cv")) * lit(16L) + col("cid"))
      .groupBy("vec_id", "s")
      .agg(min("packed").as("best"))
      .select(col("vec_id"), col("s"), (col("best") % 16).cast("int").as("cid"))
    val lut = sub.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("s"), col("sv").as("qsv"))
      .join(broadcast(cent), "s")
      .select(col("q_id"), col("s"), col("cid"),
        d2u(col("qsv"), col("cv")).as("d2u"))
    val adc = codes.join(broadcast(lut), Seq("s", "cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id")
      .agg(sum("d2u").as("adc_us"))
    val cand = adc
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(asc("adc_us"), asc("vec_id"))))
      .filter(col("rn") <= shortlist)
    cand
      .join(e.select(col("vec_id"), col("v")), "vec_id")
      // broadcast ONLY the query rows — broadcasting unfiltered e would
      // collect the whole corpus to the driver for a numQueries-row join
      .join(broadcast(e.filter(col("vec_id") < numQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))), "q_id")
      .withColumn("cos", r3(cosine(col("qv"), col("v"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos"), asc("vec_id"))))
      .filter(col("rank") <= topK)
      .select("q_id", "rank", "vec_id", "adc_us", "cos")
      .orderBy("q_id", "rank")
  }

  private val annPq: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cent = e.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cid"),
        explode(sequence(lit(0), lit(7))).as("s"), col("v"))
      .withColumn("cv", expr("slice(v, s * 8 + 1, 8)"))
      .select("cid", "s", "cv")
    pqSearch(e, cent, numQueries = 10, shortlist = 32, topK = 3)
  }

  /** Trained-codebook PQ — the production form of [[annPq]], mirroring how
    * `ml_ann_trained` upgrades `q_ann_ivf`: each subspace gets a KMeans
    * codebook (k = 16, seed 42+s) fit on the corpus's OWN sub-vectors, so
    * cells track the data distribution instead of being pinned to sample
    * rows. Eight 8-dimensional fits — at 100 TB each fits on a sample and
    * the codebook is still 128 rows, broadcast by construction; encode/
    * ADC/rerank are the shared [[pqSearch]] plan. Not SQL-expressible
    * (iterative fits), so driver-checked rows-only; the REAL gate is
    * recall@3 vs brute force in ScaleQueriesSpec (floor 0.5 at sf0.001).
    * Training pays for itself where cells matter: measured recall@3 at
    * sf0.01 is 0.70 trained vs 0.43 pinned at the same 32-candidate
    * shortlist (at sf0.001 the shortlist is 6.4% of the corpus and both
    * sit near 0.6 — coverage dominates there).
    */
  private val pqMllibCache = new graft.sources.LayoutCache.SessionCache[
    String, org.apache.spark.sql.DataFrame]()

  /** The MLlib-trained PQ codebook (8 subspaces × 16 cells), staged once
    * per (session, dataset) — the r14 verdict's fit-staging treatment
    * applied to the last MLlib fit that re-ran inside every bench
    * sample: the 8 concurrent KMeans fits are the nightly codebook
    * job's cost, and `ml_ann_pq_trained` then times encode → ADC →
    * rerank against the PUBLISHED codebook (the [[pqSearch]] serving
    * plan), which is what a deployment executes per refresh. The
    * codebook is 128 LOCAL rows (a toDF of collected centers) — no
    * block-manager residency, nothing for the bench sweeper to evict.
    */
  private[graft] def pqMllibCodebook(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    pqMllibCache.getOrBuild(s, d) {
      import s.implicits._
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      // The cache serves the EIGHT FITS (each iterates the data several
      // times) and is released once the collected centers are local.
      // The fits are independent and overhead-dominated at test scale
      // (instance conversion + a handful of Lloyd jobs), so they submit
      // CONCURRENTLY — wall time is the slowest fit, not the sum. Random
      // init, not kmeans||: the parallel init alone schedules several
      // extra jobs per subspace; on 8-dim subvectors with k=16, seeded
      // random init plus Lloyd iterations reaches the same recall
      // (re-measured).
      val cached = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .cache()
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      try {
        val fits = (0 until 8).map { si => Future {
          val feats = cached
            .select(expr(s"slice(v, ${si * 8 + 1}, 8)").as("sv"))
            .withColumn("features", array_to_vector(col("sv")))
          val km = new KMeans().setK(16).setSeed(42L + si).setMaxIter(8)
            .setInitMode("random").setFeaturesCol("features").fit(feats)
          km.clusterCenters.toSeq.zipWithIndex.map { case (c, i) =>
            (i, si, c.toArray.toSeq)
          }
        } }
        Await.result(Future.sequence(fits), Duration.Inf)
          .flatten.toDF("cid", "s", "cv")
      } finally cached.unpersist(blocking = false)
    }

  def annPqTrained(s: org.apache.spark.sql.SparkSession, d: String,
      numQueries: Int = 10, shortlist: Int = 32,
      topK: Int = 3): org.apache.spark.sql.DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    pqSearch(e, pqMllibCodebook(s, d), numQueries, shortlist, topK)
  }

  private val annPqTrainedQ: Q = (s, d) => annPqTrained(s, d)

  private val annPqSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |sub AS (
      |  SELECT vec_id, s, v[s*8+1 : s*8+8] AS sv
      |  FROM (SELECT vec_id, v, unnest(range(0, 8)) AS s FROM e)),
      |cent AS (SELECT CAST(vec_id AS INT) AS cid, s, sv AS cv
      |         FROM sub WHERE vec_id < 8),
      |asg AS (
      |  SELECT sub.vec_id, sub.s, cent.cid,
      |         CAST(floor((list_dot_product(sv, sv) - 2 * list_dot_product(sv, cv)
      |              + list_dot_product(cv, cv)) * 1000000.0 + 0.5) AS BIGINT) AS d2u
      |  FROM sub JOIN cent ON sub.s = cent.s),
      |code AS (
      |  SELECT vec_id, s, cid FROM (
      |    SELECT vec_id, s, cid,
      |           row_number() OVER (PARTITION BY vec_id, s ORDER BY d2u, cid) AS rn
      |    FROM asg) WHERE rn = 1),
      |lut AS (
      |  SELECT q.vec_id AS q_id, c.s, c.cid,
      |         CAST(floor((list_dot_product(q.sv, q.sv) - 2 * list_dot_product(q.sv, c.cv)
      |              + list_dot_product(c.cv, c.cv)) * 1000000.0 + 0.5) AS BIGINT) AS d2u
      |  FROM sub q JOIN cent c ON q.s = c.s WHERE q.vec_id < 10),
      |adc AS (
      |  SELECT l.q_id, c.vec_id, CAST(SUM(l.d2u) AS BIGINT) AS adc_us
      |  FROM code c JOIN lut l ON l.s = c.s AND l.cid = c.cid
      |  WHERE c.vec_id <> l.q_id
      |  GROUP BY l.q_id, c.vec_id),
      |cand AS (
      |  SELECT q_id, vec_id, adc_us FROM (
      |    SELECT q_id, vec_id, adc_us,
      |           row_number() OVER (PARTITION BY q_id ORDER BY adc_us, vec_id) AS rn
      |    FROM adc) WHERE rn <= 32),
      |rer AS (
      |  SELECT cand.q_id, cand.vec_id, cand.adc_us,
      |         floor(list_cosine_similarity(qe.v, ce.v) * 1000 + 0.5) / 1000.0 AS cos
      |  FROM cand JOIN e ce ON ce.vec_id = cand.vec_id
      |            JOIN e qe ON qe.vec_id = cand.q_id)
      |SELECT q_id, rank, vec_id, adc_us, cos
      |FROM (SELECT q_id, vec_id, adc_us, cos,
      |             row_number() OVER (PARTITION BY q_id
      |                                ORDER BY cos DESC, vec_id) AS rank
      |      FROM rer)
      |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  // ------------------------------------------------- space-filling layouts

  /** One layout-audit dimension: the raw value column plus the short tag
    * naming its bounds (`<tag>min`/`<tag>max`) and box (`lo_<tag>`/
    * `hi_<tag>`) columns. The 2-D and 3-D audits differ ONLY in this list
    * and in their curve columns — the box derivation, the envelope/hit
    * predicate, and the scan_frac rounding live in the shared builders
    * below (for Spark AND for the SQL twins), so they cannot diverge
    * between arities; same invariant the 2-D pair already kept between
    * its two queries.
    */
  private final case class AuditDim(valCol: String, tag: String)

  private val dims2 = Seq(AuditDim("user_id", "u"), AuditDim("day", "d"))
  private val dims3 = dims2 :+ AuditDim("vmil", "v")

  /** Query box per dimension (eighths `box._1/8 .. box._2/8` of each span;
    * default = the middle eighth) + the row-level `in_box` flag; expects
    * `<tag>min`/`<tag>max` bounds columns already joined in. The box
    * fraction is a parameter because a LOW-CARDINALITY dimension (5
    * languages) makes the default eighth empty — the lang audit widens to
    * a quarter so the box selects exactly one language.
    */
  private def withAuditBox(g0: org.apache.spark.sql.DataFrame,
      dims: Seq[AuditDim],
      box: (Int, Int) = (2, 3)): org.apache.spark.sql.DataFrame = {
    val g = dims.foldLeft(g0) { case (df, AuditDim(_, t)) =>
      df.withColumn(s"lo_$t",
          expr(s"${t}min + ((${t}max - ${t}min + 1) * ${box._1}) div 8"))
        .withColumn(s"hi_$t",
          expr(s"${t}min + ((${t}max - ${t}min + 1) * ${box._2}) div 8 - 1"))
    }
    g.withColumn("in_box",
      dims.map { case AuditDim(c, t) =>
        col(c).between(col(s"lo_$t"), col(s"hi_$t"))
      }.reduce(_ && _).cast("long"))
  }

  /** Totals + per-layout file envelopes + overlap-hit + scan_frac — the
    * audit's entire aggregation half, shared by every arity. Per file
    * (= fixed curve range): min/max of each raw dimension; a file is
    * scanned iff its envelope overlaps the box in EVERY dimension.
    */
  private def auditSummary(g: org.apache.spark.sql.DataFrame,
      dims: Seq[AuditDim],
      layouts: Seq[(String, String)]): org.apache.spark.sql.DataFrame = {
    val totals = g.agg(count(lit(1)).as("total_rows"),
      sum("in_box").as("rows_matched"))
    def layout(fileCol: String, name: String) = {
      val aggs = dims.flatMap { case AuditDim(c, t) =>
        Seq(min(col(c)).as(s"f_$t"), max(col(c)).as(s"x_$t"))
      } ++ dims.flatMap { case AuditDim(_, t) =>
        Seq(first(col(s"lo_$t")).as(s"lo_$t"), first(col(s"hi_$t")).as(s"hi_$t"))
      }
      val hit = dims.map { case AuditDim(_, t) =>
        col(s"f_$t") <= col(s"hi_$t") && col(s"x_$t") >= col(s"lo_$t")
      }.reduce(_ && _)
      g.groupBy(col(fileCol).as("f"))
        .agg(count(lit(1)).as("rows"), aggs: _*)
        .withColumn("hit", hit.cast("long"))
        .agg(count(lit(1)).as("n_files"),
          sum("hit").as("files_scanned"),
          sum(col("hit") * col("rows")).as("rows_scanned"))
        .withColumn("layout", lit(name))
    }
    layouts.map { case (c, n) => layout(c, n) }.reduce(_ unionByName _)
      .crossJoin(broadcast(totals))
      .select(col("layout"), col("n_files"), col("files_scanned"),
        col("rows_scanned"), col("rows_matched"),
        (floor(col("rows_scanned").cast("double") / col("total_rows")
          * lit(10000.0) + lit(0.5)) / lit(10000.0)).as("scan_frac"))
      .orderBy("layout")
  }

  /** Shared layout-skipping audit — the WRITE-side decision that
    * determines read-side data skipping at 100 TB. Events are mapped to
    * an 8-bit (user, day) grid; "files" are fixed ranges of a layout key
    * (curve >> 10 / xg >> 2 — space decomposition, deliberately NOT a
    * global row_number, so the layout needs only a shuffle-by-key,
    * exactly like `DataFrameWriter.bucketBy` or a repartitionByRange
    * write would at scale). The audit replays Parquet row-group pruning:
    * per file, min/max of both raw dimensions; a 2-D query box (middle
    * eighth of each dimension, bounds derived from the data so the query
    * is sf-independent) scans a file iff its [min,max] envelope overlaps.
    * Every number is integer arithmetic on md5-free deterministic grids,
    * so the audits are hash-checked end to end — the box/hit/rounding
    * machinery is ONE definition per engine ([[withAuditBox]] /
    * [[auditSummary]] / [[auditSqlTail]]) shared with the 3-D audit.
    */
  private def skipAudit(s: org.apache.spark.sql.SparkSession, d: String,
      layouts: Seq[(String, String)]): org.apache.spark.sql.DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
    val bounds = ev.agg(min("user_id").as("umin"), max("user_id").as("umax"),
      min("day").as("dmin"), max("day").as("dmax"))
    val g = withAuditBox(
      ev.crossJoin(broadcast(bounds))
        .withColumn("xg", graft.ops.Zorder.grid8(col("user_id"), col("umin"), col("umax")))
        .withColumn("yg", graft.ops.Zorder.grid8(col("day"), col("dmin"), col("dmax")))
        .withColumn("f_h",
          shiftright(graft.functions.HilbertIndex(col("xg"), col("yg")), 10))
        .withColumn("f_z",
          shiftright(graft.ops.Zorder.zvalue(col("xg"), col("yg")), 10))
        .withColumn("f_lin", shiftright(col("xg"), 2)),
      dims2)
      .ckpt() // feeds every layout aggregation + the totals probe
    auditSummary(g, dims2, layouts)
  }

  /** Z-order vs 1-D sort: the 1-D layout prunes only on user (~1/8 of
    * files for an eighth-of-users box), the Z-layout prunes on both
    * dimensions — the measured scan_frac gap IS the justification for
    * Z-ordering a table whose queries constrain two dimensions.
    */
  private val zorderSkip: Q = (s, d) =>
    skipAudit(s, d, Seq("f_z" -> "zorder", "f_lin" -> "linear_user"))

  /** Three-way shoot-out adding the Hilbert curve — the custom codegen
    * expression ([[graft.functions.HilbertIndex]]): consecutive Hilbert
    * cells are always grid-adjacent (ZorderSpec walks all 65536 steps)
    * where the Z-curve jumps at power-of-two boundaries, so contiguous
    * Hilbert ranges cut files with envelopes at least as tight — the
    * reason lakehouse clustering moved from ZORDER to Hilbert. The oracle
    * unrolls the same eight rotation rounds in SQL, so the curve mapping
    * itself is under the hash gate.
    */
  private val hilbertSkip: Q = (s, d) =>
    skipAudit(s, d,
      Seq("f_h" -> "hilbert", "f_z" -> "zorder", "f_lin" -> "linear_user"))

  /** 3-D layout shoot-out — the audit that justifies the THIRD curve
    * dimension ([[graft.sources.Layout.writeHilbert3Ordered]] /
    * `writeMorton3Ordered`): events mapped to an 8-bit³ (user, day,
    * magnitude) grid, "files" are fixed 2¹⁸-cell ranges of each 24-bit
    * curve (64 files for every layout, so the comparison is file-count
    * fair), and the query box is the middle eighth of ALL THREE
    * dimensions. A 2-D layout cannot prune the third dimension — its
    * per-file magnitude envelope is the full range — so the measured
    * scan_frac gap between `zorder2d` and the 3-D curves IS the case for
    * the extra dimension, exactly as `q_zorder_skip` made the 1-D → 2-D
    * case. The Hilbert-3D mapping (Skilling transform,
    * [[graft.functions.Hilbert3Index]]) is unrolled round-for-round in
    * the DuckDB twin, so the full curve math sits under the hash gate;
    * magnitude enters as an exact integer (`floor(value·1000)`) in both
    * engines. Same scale shape as the 2-D audit — the box/hit/rounding
    * half IS the 2-D audit's ([[withAuditBox]]/[[auditSummary]], one
    * extra [[AuditDim]]): one scan, grid math map-side, per-layout hash
    * aggregates over ≤ 64 file keys.
    */
  private val curve3Layouts =
    Seq("f_h3" -> "hilbert3", "f_m3" -> "morton3",
      "f_z2" -> "zorder2d", "f_lin" -> "linear_user")

  private val curve3Skip: Q = (s, d) => {
    val ev = Tables.events(s, d).select(
      col("event_id"), col("user_id"),
      expr("unix_micros(ts) div 86400000000").as("day"),
      floor(col("value") * lit(1000.0)).cast("long").as("vmil"))
    val bounds = ev.agg(
      min("user_id").as("umin"), max("user_id").as("umax"),
      min("day").as("dmin"), max("day").as("dmax"),
      min("vmil").as("vmin"), max("vmil").as("vmax"))
    val g = withAuditBox(
      ev.crossJoin(broadcast(bounds))
        .withColumn("xg", graft.ops.Zorder.grid8(col("user_id"), col("umin"), col("umax")))
        .withColumn("yg", graft.ops.Zorder.grid8(col("day"), col("dmin"), col("dmax")))
        .withColumn("zg", graft.ops.Zorder.grid8(col("vmil"), col("vmin"), col("vmax")))
        .withColumn("f_h3",
          shiftright(graft.functions.Hilbert3Index(col("xg"), col("yg"), col("zg")), 18))
        .withColumn("f_m3",
          shiftright(graft.ops.Zorder.zvalue3(col("xg"), col("yg"), col("zg")), 18))
        .withColumn("f_z2",
          shiftright(graft.ops.Zorder.zvalue(col("xg"), col("yg")), 10))
        .withColumn("f_lin", shiftright(col("xg"), 2)),
      dims3)
      .ckpt() // feeds all four layout aggregations + totals
    auditSummary(g, dims3, curve3Layouts)
  }

  // --- the SQL twins' shared text (one builder per shared concern) ---

  /** `lo_<t>`/`hi_<t>` select-list fragment — SQL twin of [[withAuditBox]]'s
    * box derivation (`//` floors like Spark's `div` on the non-negative
    * spans here), same box-fraction parameter.
    */
  private def boxBoundsSql(dims: Seq[AuditDim], box: (Int, Int) = (2, 3)): String =
    dims.map { case AuditDim(_, t) =>
      s"""${t}min + ((${t}max - ${t}min + 1) * ${box._1}) // 8 AS lo_$t,
         |         ${t}min + ((${t}max - ${t}min + 1) * ${box._2}) // 8 - 1 AS hi_$t""".stripMargin
    }.mkString(",\n         ")

  /** One grid-normalization fragment — SQL twin of [[graft.ops.Zorder.grid8]]
    * (`//` floors like `div`; bounds are data-derived so the clamp is an
    * exact no-op, per grid8's scaladoc) — ONE definition for every twin's
    * grid CTE.
    */
  private def gridSql(valCol: String, tag: String, out: String): String =
    s"(($valCol - ${tag}min) * 256) // (${tag}max - ${tag}min + 1) AS $out"

  /** Row-in-box predicate — SQL twin of [[withAuditBox]]'s flag. */
  private def inBoxSql(dims: Seq[AuditDim]): String =
    dims.map { case AuditDim(c, t) => s"$c BETWEEN lo_$t AND hi_$t" }
      .mkString("\n               AND ")

  /** Totals + per-layout file/summary CTEs + scan_frac — SQL twin of
    * [[auditSummary]], appended after a CTE `z` carrying the dimension
    * values, `lo_*`/`hi_*`, `in_box`, and one file column per layout.
    */
  private def auditSqlTail(dims: Seq[AuditDim],
      layouts: Seq[(String, String)]): String = {
    def fileCte(tag: String, fileCol: String) = {
      val env = dims.map { case AuditDim(c, t) =>
        s"min($c) f_$t, max($c) x_$t" }.mkString(", ")
      val box = dims.map { case AuditDim(_, t) =>
        s"min(lo_$t) lo_$t, min(hi_$t) hi_$t" }.mkString(", ")
      s"""f$tag AS (
         |  SELECT $fileCol AS f, count(*) AS rows, $env,
         |         $box
         |  FROM z GROUP BY $fileCol)""".stripMargin
    }
    val hitPred = dims.map { case AuditDim(_, t) =>
      s"f_$t <= hi_$t AND x_$t >= lo_$t" }.mkString(" AND ")
    def summaryCte(tag: String, name: String) =
      s"""m$tag AS (
         |  SELECT '$name' AS layout, count(*) AS n_files,
         |         CAST(SUM(CASE WHEN $hitPred
         |              THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
         |         CAST(SUM(CASE WHEN $hitPred
         |              THEN rows ELSE 0 END) AS BIGINT) AS rows_scanned
         |  FROM f$tag)""".stripMargin
    val tagged = layouts.zipWithIndex.map { case ((c, n), i) => (s"$i", c, n) }
    val body = tagged.map { case (t, c, _) => fileCte(t, c) } ++
      tagged.map { case (t, _, n) => summaryCte(t, n) }
    val union = tagged.map { case (t, _, _) => s"SELECT * FROM m$t" }
      .mkString(" UNION ALL ")
    s"""t AS (SELECT count(*) AS total_rows,
       |             CAST(SUM(in_box) AS BIGINT) AS rows_matched FROM z),
       |${body.mkString(",\n")}
       |SELECT layout, n_files, files_scanned, rows_scanned, rows_matched,
       |       floor(CAST(rows_scanned AS DOUBLE) / total_rows * 10000.0 + 0.5)
       |         / 10000.0 AS scan_frac
       |FROM ($union), t
       |ORDER BY layout""".stripMargin
  }

  /** One unrolled 2-D Hilbert rotation round at stage size `s` (SQL). */
  private def hilbertStageSql(s: Int): String = {
    val ss = s * s
    s"""SELECT user_id, day, lo_u, hi_u, lo_d, hi_d, f_z, f_lin, in_box,
       |  hd + $ss * xor(3 * (CASE WHEN (hx & $s) <> 0 THEN 1 ELSE 0 END),
       |                 (CASE WHEN (hy & $s) <> 0 THEN 1 ELSE 0 END)) AS hd,
       |  CASE WHEN (hy & $s) = 0 THEN (CASE WHEN (hx & $s) <> 0 THEN 255 - hy ELSE hy END) ELSE hx END AS hx,
       |  CASE WHEN (hy & $s) = 0 THEN (CASE WHEN (hx & $s) <> 0 THEN 255 - hx ELSE hx END) ELSE hy END AS hy""".stripMargin
  }

  private val hilbertChainSql: String = {
    val stages = Seq(128, 64, 32, 16, 8, 4, 2, 1)
    val named = stages.zipWithIndex.map { case (s, i) =>
      val from = if (i == 0) "hbase" else s"h${stages(i - 1)}"
      s"h$s AS (${hilbertStageSql(s)}\n  FROM $from)"
    }
    named.mkString(",\n")
  }

  /** The SQL twin of [[skipAudit]], built once for any layout subset;
    * box/in-box/summary text from the shared builders.
    */
  private def skipAuditSql(layouts: Seq[(String, String)]): String =
    s"""WITH ev AS (
       |  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
       |b AS (SELECT min(user_id) AS umin, max(user_id) AS umax,
       |             min(day) AS dmin, max(day) AS dmax FROM ev),
       |grid AS (
       |  SELECT user_id, day,
       |         ${gridSql("user_id", "u", "xg")},
       |         ${gridSql("day", "d", "yg")},
       |         ${boxBoundsSql(dims2)}
       |  FROM ev, b),
       |sx1 AS (SELECT *, (xg | (xg << 4)) & 3855 AS xa, (yg | (yg << 4)) & 3855 AS ya FROM grid),
       |sx2 AS (SELECT *, (xa | (xa << 2)) & 13107 AS xb, (ya | (ya << 2)) & 13107 AS yb FROM sx1),
       |sx3 AS (SELECT *, (xb | (xb << 1)) & 21845 AS xc, (yb | (yb << 1)) & 21845 AS yc FROM sx2),
       |hbase AS (
       |  SELECT user_id, day, lo_u, hi_u, lo_d, hi_d,
       |         (xc | (yc << 1)) >> 10 AS f_z, xg >> 2 AS f_lin,
       |         CASE WHEN ${inBoxSql(dims2)} THEN 1 ELSE 0 END AS in_box,
       |         xg AS hx, yg AS hy, CAST(0 AS BIGINT) AS hd
       |  FROM sx3),
       |$hilbertChainSql,
       |z AS (SELECT user_id, day, lo_u, hi_u, lo_d, hi_d, f_z, f_lin, in_box,
       |             hd >> 10 AS f_h FROM h1),
       |${auditSqlTail(dims2, layouts)}""".stripMargin

  /** The SQL twin of [[curve3Skip]]: the Skilling transform unrolled as
    * one CTE per (stage, axis) step — 7 stages × 3 axes of conditional
    * invert/exchange — then the Gray encode, the parity correction, and
    * the stride-3 interleave with the same masks as
    * [[graft.ops.Zorder.spread3_8]]; box/in-box/summary text from the
    * same shared builders as the 2-D twin.
    */
  // --- 3-D Hilbert (Skilling) SQL machinery, shared by both 3-D audits ---

  private def sqlSpread3(c: String): String = {
    val s1 = s"(($c | ($c << 8)) & 61455)"
    val s2 = s"(($s1 | ($s1 << 4)) & 798915)"
    s"(($s2 | ($s2 << 2)) & 2396745)"
  }

  private def sqlSpread2(c: String): String = {
    val s1 = s"(($c | ($c << 4)) & 3855)"
    val s2 = s"(($s1 | ($s1 << 2)) & 13107)"
    s"(($s2 | ($s2 << 1)) & 21845)"
  }

  /** The Skilling transform unrolled as one CTE per (stage, axis) step —
    * 7 stages x 3 axes of conditional invert/exchange — then the Gray
    * encode, the parity correction, and the stride-3 interleave with the
    * same masks as [[graft.ops.Zorder.spread3_8]]. Text runs from an
    * `hb($pk, x0, x1, x2)` CTE to `h3($pk, f_h3)` (curve index >> 18);
    * `pk` keys the re-join so ONE chain serves both 3-D audits.
    */
  private def skilling3Sql(pk: String): String = {
    def step(q: Int, i: Int): String = {
      val p = q - 1
      if (i == 0)
        s"SELECT $pk, CASE WHEN (x0 & $q) <> 0 THEN xor(x0, $p) ELSE x0 END AS x0, x1, x2"
      else {
        val xi = s"x$i"
        val others = Seq("x1", "x2").map { c =>
          if (c == xi)
            s"CASE WHEN ($xi & $q) <> 0 THEN $xi ELSE xor($xi, xor(x0, $xi) & $p) END AS $c"
          else c
        }.mkString(", ")
        s"SELECT $pk, CASE WHEN ($xi & $q) <> 0 THEN xor(x0, $p) " +
          s"ELSE xor(x0, xor(x0, $xi) & $p) END AS x0, " + others
      }
    }
    val stages = Seq(128, 64, 32, 16, 8, 4, 2)
    var prev = "hb"
    val chain = (for (q <- stages; i <- 0 to 2) yield {
      val name = s"s${q}_$i"
      val cte = s"$name AS (${step(q, i)} FROM $prev)"
      prev = name
      cte
    }).mkString(",\n")
    val tExpr = stages.foldLeft("0") { (acc, q) =>
      s"xor($acc, CASE WHEN (x2 & $q) <> 0 THEN ${q - 1} ELSE 0 END)"
    }
    s"""$chain,
       |gray AS (SELECT $pk, x0, xor(x1, x0) AS x1, x2 FROM $prev),
       |gray2 AS (SELECT $pk, x0, x1, xor(x2, x1) AS x2 FROM gray),
       |fin AS (SELECT $pk, xor(x0, $tExpr) AS x0, xor(x1, $tExpr) AS x1,
       |               xor(x2, $tExpr) AS x2 FROM gray2),
       |h3 AS (SELECT $pk,
       |              ((${sqlSpread3("x0")} << 2) | (${sqlSpread3("x1")} << 1) | ${sqlSpread3("x2")}) >> 18 AS f_h3
       |       FROM fin)""".stripMargin
  }

  /** The SQL twin of [[curve3Skip]]; grid text is query-specific, the
    * Skilling chain and box/in-box/summary text come from the shared
    * builders.
    */
  private val curve3SkipSql: String =
    s"""WITH ev AS (
       |  SELECT event_id, user_id, epoch_us(ts) // 86400000000 AS day,
       |         CAST(floor(value * 1000) AS BIGINT) AS vmil
       |  FROM events),
       |b AS (SELECT min(user_id) AS umin, max(user_id) AS umax,
       |             min(day) AS dmin, max(day) AS dmax,
       |             min(vmil) AS vmin, max(vmil) AS vmax FROM ev),
       |grid AS (
       |  SELECT event_id, user_id, day, vmil,
       |         ${gridSql("user_id", "u", "xg")},
       |         ${gridSql("day", "d", "yg")},
       |         ${gridSql("vmil", "v", "zg")},
       |         ${boxBoundsSql(dims3)}
       |  FROM ev, b),
       |hb AS (SELECT event_id, xg AS x0, yg AS x1, zg AS x2 FROM grid),
       |${skilling3Sql("event_id")},
       |z AS (
       |  SELECT g.user_id, g.day, g.vmil,
       |         g.lo_u, g.hi_u, g.lo_d, g.hi_d, g.lo_v, g.hi_v,
       |         h3.f_h3,
       |         (${sqlSpread3("xg")} | (${sqlSpread3("yg")} << 1) | (${sqlSpread3("zg")} << 2)) >> 18 AS f_m3,
       |         (${sqlSpread2("xg")} | (${sqlSpread2("yg")} << 1)) >> 10 AS f_z2,
       |         xg >> 2 AS f_lin,
       |         CASE WHEN ${inBoxSql(dims3)} THEN 1 ELSE 0 END AS in_box
       |  FROM grid g JOIN h3 USING (event_id)),
       |${auditSqlTail(dims3, curve3Layouts)}""".stripMargin

  /** The brief's named layout use case — (lang x time x length) document
    * clustering — as a second instance of the SAME audit machinery, with
    * the wrinkle the events audit cannot show: a CATEGORICAL dimension.
    * lang enters the curve through a dictionary index (alphabetical rank
    * over the 5-row distinct-lang dim, broadcast back — at 100 TB the
    * dictionary stays dimension-sized, never a corpus sort). doc_id
    * stands in for ingestion time, n_chars is the length. Box: the
    * middle QUARTER of each span (with 5 languages the default eighth is
    * EMPTY; the quarter selects exactly one language — the per-language
    * consumer's selective read). Layouts: 3-D Hilbert vs the
    * "ignore lang" 2-D time x length Z-order vs time-sorted 1-D
    * (ingestion order — the layout a table has when nobody does layout
    * work). The 2-D layout cannot prune the language dimension at all,
    * so every language-selective read scans ~5x the rows it needs.
    */
  private val curve3LangDims =
    Seq(AuditDim("lidx", "l"), AuditDim("doc_id", "t"), AuditDim("n_chars", "c"))

  private val curve3LangLayouts =
    Seq("f_h3" -> "hilbert3", "f_z2" -> "zorder2d_tc", "f_lin" -> "linear_time")

  private val curve3LangSkip: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // dense_rank like the SQL twin (both rank a DISTINCT projection, so
    // the functions agree; same function on both sides keeps it that way)
    val langIdx = docs.select("lang").distinct()
      .withColumn("lidx",
        (dense_rank().over(Window.orderBy("lang")) - 1).cast("long"))
    val ev = docs.join(broadcast(langIdx), "lang")
      .select(col("doc_id"), col("lidx"), col("n_chars"))
    val bounds = ev.agg(
      min("lidx").as("lmin"), max("lidx").as("lmax"),
      min("doc_id").as("tmin"), max("doc_id").as("tmax"),
      min("n_chars").as("cmin"), max("n_chars").as("cmax"))
    val g = withAuditBox(
      ev.crossJoin(broadcast(bounds))
        .withColumn("xg", graft.ops.Zorder.grid8(col("lidx"), col("lmin"), col("lmax")))
        .withColumn("yg", graft.ops.Zorder.grid8(col("doc_id"), col("tmin"), col("tmax")))
        .withColumn("zg", graft.ops.Zorder.grid8(col("n_chars"), col("cmin"), col("cmax")))
        .withColumn("f_h3",
          shiftright(graft.functions.Hilbert3Index(col("xg"), col("yg"), col("zg")), 18))
        .withColumn("f_z2",
          shiftright(graft.ops.Zorder.zvalue(col("yg"), col("zg")), 10))
        .withColumn("f_lin", shiftright(col("yg"), 2)),
      curve3LangDims, box = (2, 4))
      .ckpt()
    auditSummary(g, curve3LangDims, curve3LangLayouts)
  }

  private val curve3LangSkipSql: String =
    s"""WITH lx AS (
       |  SELECT lang, CAST(dense_rank() OVER (ORDER BY lang) - 1 AS BIGINT) AS lidx
       |  FROM (SELECT DISTINCT lang FROM documents)),
       |ev AS (SELECT d.doc_id, lx.lidx, d.n_chars
       |       FROM documents d JOIN lx USING (lang)),
       |b AS (SELECT min(lidx) AS lmin, max(lidx) AS lmax,
       |             min(doc_id) AS tmin, max(doc_id) AS tmax,
       |             min(n_chars) AS cmin, max(n_chars) AS cmax FROM ev),
       |grid AS (
       |  SELECT doc_id, lidx, n_chars,
       |         ${gridSql("lidx", "l", "xg")},
       |         ${gridSql("doc_id", "t", "yg")},
       |         ${gridSql("n_chars", "c", "zg")},
       |         ${boxBoundsSql(curve3LangDims, (2, 4))}
       |  FROM ev, b),
       |hb AS (SELECT doc_id, xg AS x0, yg AS x1, zg AS x2 FROM grid),
       |${skilling3Sql("doc_id")},
       |z AS (
       |  SELECT g.lidx, g.doc_id, g.n_chars,
       |         g.lo_l, g.hi_l, g.lo_t, g.hi_t, g.lo_c, g.hi_c,
       |         h3.f_h3,
       |         (${sqlSpread2("yg")} | (${sqlSpread2("zg")} << 1)) >> 10 AS f_z2,
       |         yg >> 2 AS f_lin,
       |         CASE WHEN ${inBoxSql(curve3LangDims)} THEN 1 ELSE 0 END AS in_box
       |  FROM grid g JOIN h3 USING (doc_id)),
       |${auditSqlTail(curve3LangDims, curve3LangLayouts)}""".stripMargin

  private val zorderSkipSql =
    skipAuditSql(Seq("f_z" -> "zorder", "f_lin" -> "linear_user"))

  private val hilbertSkipSql = skipAuditSql(
    Seq("f_h" -> "hilbert", "f_z" -> "zorder", "f_lin" -> "linear_user"))

  // ------------------------------------------------------------- rolling actives

  /** Rolling 7-day distinct actives (DAU / DAU7) — deliberately NOT the
    * textbook range join. `spine ⋈ daily ON day BETWEEN d-6 AND d` tests
    * every (user, day) row against every spine day — O(|daily|·|days|),
    * a broadcast-nested-loop that dies at a decade of days over billions
    * of user-days. The linear plan: each DISTINCT (user, day) row
    * CONTRIBUTES to exactly 7 window days, so explode it into
    * `sequence(day, day+6)` map-side and hash-aggregate
    * `count(DISTINCT user)` per window day — O(7·|daily|), no joins on
    * the big side at all (the semi join that trims phantom trailing days
    * broadcasts the tiny day spine). At the next scale step the exact
    * distinct swaps for an HLL sketch union per day — sketches merge, so
    * the same explode-contributions shape holds (`q_count_distinct_approx`
    * is the engine's sketch precedent), now implemented as
    * [[rollingDauApprox]] — and with mergeable sketches the rolling pass
    * improves further: the union runs over per-DAY sketch rows, not
    * exploded user-days.
    */
  private val rollingDau: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val days = daily.select("day").distinct()
    val dau = daily.groupBy("day").agg(countDistinct("user_id").as("dau"))
    val dau7 = daily
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + 6)).as("day"))
      .join(broadcast(days), Seq("day"), "left_semi")
      .groupBy("day").agg(countDistinct("user_id").as("dau7"))
    dau.join(dau7, Seq("day")).orderBy("day")
  }

  /** HLL twin of [[rollingDau]] — the constant-memory shape the exact
    * query's scaladoc promises for the next scale step, and structurally
    * BETTER than exact-with-explode: DataSketches HLL sketches are
    * mergeable, so the per-day `hll_sketch_agg(user_id)` (map-side
    * combined, one bounded sketch per day — dedup happens inside the
    * sketch, no (user, day) distinct shuffle at all) collapses the stream
    * to |days| sketch rows FIRST, and the 7-day rolling union then
    * explodes and re-aggregates |days|×7 sketch rows — independent of
    * user count, where the exact plan explodes |user-days|×7. Estimates
    * aren't cross-engine comparable (rows-only driver check); the gate is
    * PropertiesSpec's relative-error bound against ◆ `q_rolling_dau`
    * per day, the `q_count_distinct_approx` pattern.
    */
  private val rollingDauApprox: Q = (s, d) => {
    val daySketch = Tables.events(s, d)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy("day").agg(hll_sketch_agg(col("user_id")).as("sk"))
    val dau = daySketch.select(col("day"),
      hll_sketch_estimate(col("sk")).as("dau_approx"))
    val days = daySketch.select("day")
    val dau7 = daySketch
      .select(explode(sequence(col("day"), col("day") + 6)).as("day"), col("sk"))
      .join(broadcast(days), Seq("day"), "left_semi")
      .groupBy("day").agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("dau7_approx"))
    dau.join(dau7, Seq("day")).orderBy("day")
  }

  private val rollingDauSql =
    """WITH daily AS (
      |  SELECT DISTINCT user_id, (epoch_ns(ts) // 1000) // 86400000000 AS day
      |  FROM events),
      |days AS (SELECT DISTINCT day FROM daily),
      |expanded AS (
      |  SELECT d.user_id, d.day + o.off AS day
      |  FROM daily d, (SELECT unnest(generate_series(0, 6)) AS off) o),
      |r AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau7
      |      FROM expanded WHERE day IN (SELECT day FROM days) GROUP BY day),
      |s AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
      |      FROM daily GROUP BY day)
      |SELECT s.day, s.dau, r.dau7 FROM s JOIN r USING (day) ORDER BY day""".stripMargin

  /** ◆ `q_pq_recall_trained` — PQ codebook TRAINING under the hash gate,
    * completing the ANN family's trained-twin story (`ml_ann_pq_trained`
    * is the MLlib row; IVF got its deterministic twin in
    * ◆ `q_ann_recall_trained`): per-subspace quantized-Lloyd codebooks
    * (8 subspaces × 16 cells) with the [[graft.sources.IvfStore]]
    * integer discipline — micro-unit +1e6-shift quantization, 16-lowest-
    * vec_id init (cell = rank order), 3 Lloyd rounds of exact int64
    * assignment (ties → lowest cell) and per-dimension floor-means —
    * then the full PQ serving stack measured against EXACT integer-d²
    * truth: encode every vector, ADC via the 8×16-cell integer LUT,
    * shortlist 32, exact rerank, recall@5 of BOTH the raw ADC ranking
    * and the reranked shortlist. No doubles anywhere (d² ≤ 16·8·(2.2e6)²
    * ≪ 2⁶³), so the DuckDB oracle replays training → encode → ADC →
    * rerank → recall end to end. The measured gap IS the result: raw
    * ADC recall 16–28% vs 54–64% reranked at the same 32-candidate
    * shortlist — the "PQ shortlists, exact reranks" deployment rule as a
    * hash-gated number (ScaleQueriesSpec gates the discrimination).
    *
    * Scale shape: all 8 subspace fits ride ONE (vec_id, s)-keyed plan —
    * per round, assign is a broadcast of the 128-row codebook + a
    * packed-long min aggregate (d2·16 + cell keeps the argmin inside
    * codegen, the [[pqSearch]] trick), update is a (s, cell, spos)
    * aggregate; encode/LUT/ADC are the [[pqSearch]] shapes; the only
    * query-sized joins broadcast the 10-query side. At 100 TB the fit
    * runs on a bounded sample exactly like `q_ann_recall_sampled`.
    *
    * r14 (the r13 verdict's weak mark): training + encoding moved into
    * the session-staged [[graft.sources.IvfStore.trainedPq]] artifact —
    * the `trainedBpe` / staged-dedup discipline, applied to the one
    * trained artifact of r13 that wasn't. The query TIMES the serving
    * stack (LUT, ADC off the bucketed code table, shortlist, exact
    * rerank, recall vs exact truth); the codebooks and codes are built
    * once per (session, corpus), and the unchanged oracle still replays
    * training → serving definitionally, so the staged content stays
    * under the hash gate every round. The ADC aggregate is
    * exchange-free off the vec_id-bucketed codes.
    *
    * ◆ `q_pq_recall_trained` is the full fit; ◆ `q_pq_recall_sampled`
    * (r14) trains on the deterministic
    * `vec_id % `[[graft.sources.IvfStore.SampleEvery]]` = 0` subset
    * and encodes the full corpus — the bounded-sample fit the scale
    * paragraph above names as the 100 TB path, now an artifact of its
    * own (the `q_ann_recall_sampled` treatment applied to PQ). The
    * sample predicate is pure SQL, so the oracle replays the SAMPLED
    * training end to end — fit economics change, the gate does not.
    * The knob is interpolated into the Spark call AND the oracle SQL
    * from the ONE constant (review r14: two re-stated literals could
    * silently train different codebooks per engine).
    */
  /** The 10 query vectors' integer ADC lookup table against a published
    * PQ codebook — query-sized, rebuilt per run (a serving job receives
    * its queries; codebook + codes are the maintained artifacts).
    * Subspace slicing is [[graft.sources.IvfStore.pqSubspaces]], the
    * ONE positional-layout definition (review r15 II: three hand-rolled
    * slice copies in this file could drift from the staged codes'
    * geometry on a Pq* constant change).
    */
  private[graft] def pqQueryLut(s: org.apache.spark.sql.SparkSession, d: String,
      codebook: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    graft.sources.IvfStore.pqSubspaces(
        Tables.embeddings(s, d)
          .filter(col("vec_id") < graft.sources.IvfStore.NQueries))
      .select(col("vec_id").as("q_id"), col("s"), col("sq"))
      .join(broadcast(codebook), "s")
      .select(col("q_id"), col("s"), col("cell"),
        graft.sources.IvfStore.qdist2(col("sq"), col("cq")).as("d2l"))

  private val pqRecallTrained: Q = pqRecallTrainedWith(1)
  private val pqRecallSampled: Q =
    pqRecallTrainedWith(graft.sources.IvfStore.SampleEvery)

  private def pqRecallTrainedWith(fitEvery: Int): Q = (s, d) => {
    val tp = graft.sources.IvfStore.trainedPq(s, d, fitEvery = fitEvery)
    val cent = tp.codebook
    val codes = tp.codes
    val lut = pqQueryLut(s, d, cent)
    val adc = codes.join(broadcast(lut), Seq("s", "cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id")
      .agg(sum("d2l").as("adc_d2"))
    val short = adc.withColumn("rn", row_number().over(
      Window.partitionBy("q_id").orderBy(asc("adc_d2"), asc("vec_id"))))
      .filter(col("rn") <= 32)
    // the ONE exact-truth definition every recall audit shares
    // (review r15 III)
    val x = graft.sources.IvfStore.exactPairs(s, d)
    def top5(cands: org.apache.spark.sql.DataFrame) =
      graft.sources.IvfStore.top5Exact(cands)
    val truth = graft.sources.IvfStore.exactTruth(s, d)
    val adc5 = short.filter(col("rn") <= 5).select("q_id", "vec_id")
    val rr5 = top5(short.join(x, Seq("q_id", "vec_id")))
    truth
      .join(adc5.withColumn("ha", lit(1L)), Seq("q_id", "vec_id"), "left")
      .join(rr5.withColumn("hr", lit(1L)), Seq("q_id", "vec_id"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("ha"), lit(0L))).as("hit_adc"),
        sum(coalesce(col("hr"), lit(0L))).as("hit_rerank"))
      .select(col("q_id"), col("n_truth"), col("hit_adc"), col("hit_rerank"),
        call_function("div", lit(10000L) * col("hit_adc"), col("n_truth"))
          .as("recall_adc_bp"),
        call_function("div", lit(10000L) * col("hit_rerank"), col("n_truth"))
          .as("recall_rr_bp"))
      .orderBy("q_id")
  }

  /** ◆ `q_pq_sample_sweep` — the `fitEvery` knob as a MEASURED curve
    * (r14 verdict #2, the ◆ `q_dedup_threshold_sweep` treatment applied
    * to the ANN family's 100 TB cost lever): recall@5 of the raw ADC
    * ranking AND the exact-reranked shortlist at every operating point
    * in [[graft.sources.IvfStore.PqSweepRates]] (1 = full fit,
    * [[graft.sources.IvfStore.SampleEvery]] = the gated sampled twin,
    * then 10 and 30), each served off its own session-staged
    * [[graft.sources.IvfStore.trainedPq]] layout. One row per rate —
    * the curve a deployment reads to pick how much of the corpus the
    * nightly Lloyd fit actually needs.
    *
    * Scale shape: the exact-truth pair table `x` and the truth top-5
    * are RATE-INDEPENDENT, built once (checkpointed) and shared by all
    * four rates' rerank/recall assemblies; each rate's serving side is
    * the ◆ `q_pq_recall_trained` plan — broadcast LUT, exchange-free
    * ADC aggregate off the vec_id-bucketed codes, 32-candidate
    * shortlist, exact rerank. The oracle replays all four SAMPLED
    * trainings end to end through the shared CTE generator (one
    * training definition, N rates — the detTrainCtesSql discipline),
    * so every point of the curve sits under the hash gate.
    *
    * Measured (sf0.01): reranked recall holds 58–64% for fits on the
    * full corpus down to a third, and degrades gracefully at 1/30th
    * (38%) while raw ADC recall is low and NON-monotone everywhere
    * (12–26% — sampled codebooks are coarser exactly where ADC ranks);
    * the exact rerank is what recovers the curve, which IS the
    * deployment story. ScaleQueriesSpec gates rerank ≥ ADC per row and
    * full-fit rerank > 1/30th-fit rerank.
    */
  private val pqSampleSweep: Q = (s, d) => {
    // rate-independent exact truth — the ONE shared definition
    // (review r15 III), checkpointed once for all rates
    val x = graft.sources.IvfStore.exactPairs(s, d)
    def top5(cands: org.apache.spark.sql.DataFrame) =
      graft.sources.IvfStore.top5Exact(cands)
    // the session-pinned answer key (r16) — was Ck'd per sample
    val truth = graft.sources.IvfStore.exactTruth(s, d)
    val perRate = graft.sources.IvfStore.PqSweepRates.map { f =>
      val tp = graft.sources.IvfStore.trainedPq(s, d, fitEvery = f)
      val lut = pqQueryLut(s, d, tp.codebook)
      val short = tp.codes.join(broadcast(lut), Seq("s", "cell"))
        .filter(col("vec_id") =!= col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(sum("d2l").as("adc_d2"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("q_id").orderBy(asc("adc_d2"), asc("vec_id"))))
        .filter(col("rn") <= 32)
      val adc5 = short.filter(col("rn") <= 5).select("q_id", "vec_id")
      val rr5 = top5(short.join(x, Seq("q_id", "vec_id")))
      truth
        .join(adc5.withColumn("ha", lit(1L)), Seq("q_id", "vec_id"), "left")
        .join(rr5.withColumn("hr", lit(1L)), Seq("q_id", "vec_id"), "left")
        .agg(count(lit(1)).as("n_truth"),
          sum(coalesce(col("ha"), lit(0L))).as("hit_adc"),
          sum(coalesce(col("hr"), lit(0L))).as("hit_rerank"))
        .select(lit(f).as("fit_every"), col("n_truth"), col("hit_adc"),
          col("hit_rerank"),
          call_function("div", lit(10000L) * col("hit_adc"), col("n_truth"))
            .as("recall_adc_bp"),
          call_function("div", lit(10000L) * col("hit_rerank"), col("n_truth"))
            .as("recall_rr_bp"))
    }
    perRate.reduce(_.union(_)).orderBy("fit_every")
  }

  /** The rate-independent oracle prologue — quantized vectors, their
    * positional subspace rows, the exact integer-d² pair table `x`, and
    * the truth top-5 — shared by the trained/sampled recall audits and
    * every sweep rate (review r15: ONE definition; a re-stated copy
    * could silently drift).
    */
  private def pqProloguesSql: String = {
    val subDim = graft.sources.IvfStore.PqSubDim
    val nq = graft.sources.IvfStore.NQueries
    s"""qv AS (
       |  SELECT vec_id,
       |         list_transform(CAST(embedding AS DOUBLE[]),
       |           x -> CAST(floor(x * 1000000.0) AS BIGINT) + 1000000) AS q
       |  FROM embeddings),
       |qp AS (
       |  SELECT vec_id, CAST((pos - 1) // $subDim AS INT) AS s,
       |         CAST((pos - 1) % $subDim AS INT) AS spos, val
       |  FROM (SELECT vec_id, unnest(range(1, len(q) + 1)) AS pos,
       |               unnest(q) AS val FROM qv)),
       |x AS (
       |  SELECT a.vec_id AS q_id, b.vec_id,
       |         CAST(SUM((a.val - b.val) * (a.val - b.val)) AS BIGINT) AS d2x
       |  FROM (SELECT * FROM qp WHERE vec_id < $nq) a
       |  JOIN qp b ON a.s = b.s AND a.spos = b.spos AND b.vec_id <> a.vec_id
       |  GROUP BY 1, 2),
       |truth AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |           row_number() OVER (PARTITION BY q_id
       |                              ORDER BY d2x, vec_id) AS rank
       |    FROM x) WHERE rank <= 5)""".stripMargin
  }

  /** One fit's training + serving + hit CTEs over the shared prologue,
    * every name suffixed `sfx` — THE one definition of the oracle's
    * quantized-Lloyd training and ADC/shortlist/rerank serving (review
    * r15: the trained/sampled audits use suffix "" and the sweep one
    * suffix per rate, so an edit to the Lloyd text can never diverge
    * the sweep's rate-[[graft.sources.IvfStore.SampleEvery]] row from
    * ◆ `q_pq_recall_sampled`). Geometry interpolated from the Pq*
    * constants (ADVICE r14); PqM needs no literal — `s = (pos-1) //
    * PqSubDim` spans 0..PqM-1 by the dim = PqM·PqSubDim layout
    * contract. `qpName` names the positional-subspace source CTE —
    * "qp" in the PQ-family queries, "pqp" when the composed
    * ◆ `q_ann_ivfpq` oracle re-keys the IVF chain's positional rows
    * to subspaces so BOTH trainings replay off one explode.
    */
  private def pqRateCtesSql(sfx: String, fitPred: String,
      qpName: String = "qp"): String = {
    val ksub = graft.sources.IvfStore.PqKsub
    val iters = graft.sources.IvfStore.PqIters
    val nq = graft.sources.IvfStore.NQueries
    val rounds = (1 to iters).map { i =>
      s"""d$i$sfx AS (
         |  SELECT qp.vec_id, qp.s, cp.cell,
         |         SUM((qp.val - cp.cval) * (qp.val - cp.cval)) AS d2
         |  FROM qpf$sfx qp JOIN cp${i - 1}$sfx cp USING (s, spos)
         |  GROUP BY 1, 2, 3),
         |a$i$sfx AS (
         |  SELECT vec_id, s, cell FROM (
         |    SELECT vec_id, s, cell,
         |           row_number() OVER (PARTITION BY vec_id, s
         |                              ORDER BY d2, cell) AS rn
         |    FROM d$i$sfx) WHERE rn = 1),
         |cp$i$sfx AS (
         |  SELECT a.s, a.cell, qp.spos,
         |         CAST(SUM(qp.val) // COUNT(*) AS BIGINT) AS cval
         |  FROM a$i$sfx a JOIN qpf$sfx qp USING (vec_id, s)
         |  GROUP BY 1, 2, 3)""".stripMargin
    }.mkString(",\n")
    s"""qpf$sfx AS (SELECT * FROM $qpName WHERE $fitPred),
       |init$sfx AS (SELECT vec_id,
       |              CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
       |                AS cell
       |       FROM (SELECT vec_id FROM qv WHERE $fitPred
       |             ORDER BY vec_id LIMIT $ksub)),
       |cp0$sfx AS (SELECT qp.s, i.cell, qp.spos, qp.val AS cval
       |        FROM init$sfx i JOIN $qpName qp USING (vec_id)),
       |$rounds,
       |codes$sfx AS (
       |  SELECT vec_id, s, cell FROM (
       |    SELECT qp.vec_id, qp.s, cp.cell,
       |           row_number() OVER (PARTITION BY qp.vec_id, qp.s
       |                              ORDER BY SUM((qp.val - cp.cval) *
       |                                           (qp.val - cp.cval)),
       |                                       cp.cell) AS rn
       |    FROM $qpName qp JOIN cp$iters$sfx cp USING (s, spos)
       |    GROUP BY qp.vec_id, qp.s, cp.cell) WHERE rn = 1),
       |lut$sfx AS (
       |  SELECT qp.vec_id AS q_id, qp.s, cp.cell,
       |         SUM((qp.val - cp.cval) * (qp.val - cp.cval)) AS d2l
       |  FROM $qpName qp JOIN cp$iters$sfx cp USING (s, spos)
       |  WHERE qp.vec_id < $nq GROUP BY 1, 2, 3),
       |adc$sfx AS (
       |  SELECT l.q_id, c.vec_id, CAST(SUM(l.d2l) AS BIGINT) AS adc_d2
       |  FROM codes$sfx c JOIN lut$sfx l USING (s, cell)
       |  WHERE c.vec_id <> l.q_id
       |  GROUP BY 1, 2),
       |short$sfx AS (
       |  SELECT q_id, vec_id, adc_d2,
       |         row_number() OVER (PARTITION BY q_id
       |                            ORDER BY adc_d2, vec_id) AS rn
       |  FROM adc$sfx),
       |adc5$sfx AS (SELECT q_id, vec_id FROM short$sfx WHERE rn <= 5),
       |rr5$sfx AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT s.q_id, s.vec_id,
       |           row_number() OVER (PARTITION BY s.q_id
       |                              ORDER BY x.d2x, s.vec_id) AS rank
       |    FROM short$sfx s JOIN x ON x.q_id = s.q_id AND x.vec_id = s.vec_id
       |    WHERE s.rn <= 32) WHERE rank <= 5)""".stripMargin
  }

  /** The shared recall hit/ratio columns + truth joins over one fit's
    * adc5/rr5 CTEs — used per-q_id (trained/sampled) and globally
    * (the sweep's per-rate row).
    */
  private def pqHitColumnsSql(sfx: String): String =
    s"""CAST(count(*) AS BIGINT) AS n_truth,
       |       CAST(SUM(CASE WHEN a5.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |            AS BIGINT) AS hit_adc,
       |       CAST(SUM(CASE WHEN r5.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |            AS BIGINT) AS hit_rerank,
       |       (10000 * CAST(SUM(CASE WHEN a5.vec_id IS NOT NULL THEN 1 ELSE 0
       |                         END) AS BIGINT)) // CAST(count(*) AS BIGINT)
       |         AS recall_adc_bp,
       |       (10000 * CAST(SUM(CASE WHEN r5.vec_id IS NOT NULL THEN 1 ELSE 0
       |                         END) AS BIGINT)) // CAST(count(*) AS BIGINT)
       |         AS recall_rr_bp
       |FROM truth t
       |LEFT JOIN adc5$sfx a5 ON a5.q_id = t.q_id AND a5.vec_id = t.vec_id
       |LEFT JOIN rr5$sfx r5 ON r5.q_id = t.q_id AND r5.vec_id = t.vec_id""".stripMargin

  private def pqFitPred(rate: Int): String =
    if (rate == 1) "TRUE" else s"vec_id % $rate = 0"

  private def pqSampleSweepSql: String = {
    val rates = graft.sources.IvfStore.PqSweepRates
    val aggs = rates.map { r =>
      s"""(SELECT CAST($r AS INT) AS fit_every,
         |       ${pqHitColumnsSql(s"_r$r")})""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $pqProloguesSql,
       |${rates.map(r => pqRateCtesSql(s"_r$r", pqFitPred(r))).mkString(",\n")}
       |$aggs
       |ORDER BY fit_every""".stripMargin
  }

  /** ◆ `q_ann_ivfpq` — the COMPOSED trained-ANN serving shape (r15),
    * FAISS `IndexIVFPQ`'s architecture with BOTH trainings under the
    * hash gate: the query routes to its `nprobe` nearest trained IVF
    * lists ([[graft.sources.IvfStore.trainedDet]] — the
    * ◆ `q_ann_recall_trained` artifact), ADC-scores ONLY the probed
    * lists' vectors against the trained PQ codes
    * ([[graft.sources.IvfStore.trainedPq]] — the ◆ `q_pq_recall_trained`
    * artifact), exact-reranks the 32-candidate shortlist, and audits
    * recall@5 of both rankings vs exact integer-d² truth, reporting the
    * per-query candidate count beside it — the compression × recall
    * tradeoff the composed index exists to make (measured: ~25% of the
    * corpus scored at nprobe 2 of 8 lists; reranked recall 70% at
    * sf0.01, 50% at sf0.1 — bounded by the IVF routing's coverage,
    * which ◆ `q_ann_recall_trained` prices separately).
    *
    * Scale shape: both layouts are the maintained staged tables (lists
    * bucketed on the learned list id → the probe is a bucket-pruned
    * scan; codes bucketed on vec_id → the ADC aggregate needs no
    * exchange); the DetK-row coarse codebook and the query LUT
    * broadcast; candidate restriction happens BEFORE the ADC sum, so
    * the scored stream is |corpus|·nprobe/nlists, not |corpus|. Every
    * step is the integer arithmetic of its parent query, so the oracle
    * replays IVF training + PQ training + routing + ADC + rerank end
    * to end — the two shared CTE generators composed, nothing
    * re-stated.
    */
  /** The composed index's ROUTING table — every (q_id, vec_id) pair of
    * the canonical trained-IVF layout with the rank `pr` of vec_id's
    * list in q_id's probe order attached ([[ivfProbeRank]] broadcast
    * onto the bucket-keyed lists): probe count n's candidate set (the
    * "rank the codebook, keep the n nearest lists, read their members"
    * routing step) is exactly `filter(pr <= n)`, because the pr
    * restriction commutes with the bucket join. ONE definition shared
    * by ◆ `q_ann_ivfpq`, ◆ `q_ivfpq_grid` and ◆ `q_ivf_probe_sweep`
    * (review r16 — the sweep previously re-stated this shape inline),
    * so the three queries' routing cannot drift — and PINNED once per
    * (session, dataset) (r16 optimization round: the three
    * consumers, 3 samples each, re-ran the identical route join nine times per board).
    * NQueries·(|V|−1) rows, three narrow columns — catalog-scale.
    */
  private val pairPrCache = new graft.sources.LayoutCache.SessionCache[
    String, org.apache.spark.sql.DataFrame]()

  private[graft] def ivfPairPr(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    pairPrCache.getOrBuild(s, d) {
      import graft.sources.IvfStore
      val st = IvfStore.trainedDet(s, d, IvfStore.DetK, IvfStore.DetIters, 1)
      graft.ops.Ck.pin(st.lists.select("vec_id", "bucket")
        .join(broadcast(ivfProbeRank(s, d, st)), Seq("bucket"))
        .filter(col("vec_id") =!= col("q_id"))
        .select("q_id", "vec_id", "pr"), "ivf.pairPr")
    }

  /** The per-query centroid ranking `(q_id, bucket, pr)` behind
    * [[ivfRouteCands]] — the Spark twin of the oracle's `pr` CTE
    * ([[LlmQueries.detProbeRankCtesSql]]): integer d² to every
    * published centroid, ties → lowest bucket. NQueries × DetK rows.
    */
  private[graft] def ivfProbeRank(s: org.apache.spark.sql.SparkSession,
      d: String, st: graft.sources.IvfStore.TrainedDet)
      : org.apache.spark.sql.DataFrame = {
    import graft.sources.IvfStore
    Tables.embeddings(s, d)
      .filter(col("vec_id") < IvfStore.NQueries)
      .select(col("vec_id").as("q_id"),
        IvfStore.quantize(col("embedding").cast("array<double>")).as("qq"))
      .crossJoin(broadcast(st.centroids))
      .withColumn("d2", IvfStore.qdist2(col("qq"), col("c")))
      .withColumn("pr", row_number().over(
        Window.partitionBy("q_id").orderBy(asc("d2"), asc("bucket"))))
      .select("q_id", "bucket", "pr")
  }

  /** Candidate-restricted ADC → 32-shortlist, the composed index's
    * serving core (restriction BEFORE the sum — the scored stream is
    * |corpus|·nprobe/nlists, not |corpus|); shared by ◆ `q_ann_ivfpq`
    * and every grid cell. Keeps the `rn` column (callers slice adc5
    * from it).
    */
  private def composedShortlist(codes: org.apache.spark.sql.DataFrame,
      lut: org.apache.spark.sql.DataFrame,
      cands: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    codes.join(broadcast(lut), Seq("s", "cell"))
      // cands is a filter of the pinned [[ivfPairPr]] — broadcast keeps
      // the restriction map-side off the bucketed codes (r16)
      .join(broadcast(cands), Seq("q_id", "vec_id"))
      .groupBy("q_id", "vec_id")
      .agg(sum("d2l").as("adc_d2"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(asc("adc_d2"), asc("vec_id"))))
      .filter(col("rn") <= 32)

  private val annIvfPq: Q = (s, d) => {
    import graft.sources.IvfStore
    val tp = IvfStore.trainedPq(s, d)
    // candidates: a probe-rank filter of the pinned routing table (r16
    // — was a per-sample route join + checkpoint); feeds the ADC
    // restriction AND the per-query candidate count
    val cands = ivfPairPr(s, d)
      .filter(col("pr") <= IvfStore.ComposedNProbe)
      .select("q_id", "vec_id")
    val nCand = cands.groupBy("q_id").agg(count(lit(1)).as("n_cand"))
    val short = composedShortlist(tp.codes,
      pqQueryLut(s, d, tp.codebook), cands)
    val x = IvfStore.exactPairs(s, d)
    def top5(cs: org.apache.spark.sql.DataFrame) = IvfStore.top5Exact(cs)
    val truth = IvfStore.exactTruth(s, d)
    val adc5 = short.filter(col("rn") <= 5).select("q_id", "vec_id")
    val rr5 = top5(short.join(x, Seq("q_id", "vec_id")))
    truth
      // LEFT join (review r15 II): a query whose probed lists hold no
      // other vectors must report n_cand = 0 / recall 0 as DATA, not
      // silently vanish from the 10-row audit
      .join(broadcast(nCand), Seq("q_id"), "left")
      .withColumn("n_cand", coalesce(col("n_cand"), lit(0L)))
      .join(broadcast(adc5.withColumn("ha", lit(1L))),
        Seq("q_id", "vec_id"), "left")
      .join(broadcast(rr5.withColumn("hr", lit(1L))),
        Seq("q_id", "vec_id"), "left")
      .groupBy("q_id", "n_cand")
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("ha"), lit(0L))).as("hit_adc"),
        sum(coalesce(col("hr"), lit(0L))).as("hit_rerank"))
      .select(col("q_id"), col("n_cand"), col("n_truth"), col("hit_adc"),
        col("hit_rerank"),
        call_function("div", lit(10000L) * col("hit_adc"), col("n_truth"))
          .as("recall_adc_bp"),
        call_function("div", lit(10000L) * col("hit_rerank"), col("n_truth"))
          .as("recall_rr_bp"))
      .orderBy("q_id")
  }

  /** The positional rows re-keyed to PQ subspaces — `pqp`, the bridge
    * between [[LlmQueries.detTrainCtesSql]]'s `qp` explode and the PQ
    * generator, so BOTH trainings replay off one explode. Shared by
    * the composed oracle and the grid (r16).
    */
  private def pqpCteSql: String = {
    val subDim = graft.sources.IvfStore.PqSubDim
    s"""pqp AS (
       |  SELECT vec_id, CAST((pos - 1) // $subDim AS INT) AS s,
       |         CAST((pos - 1) % $subDim AS INT) AS spos, val
       |  FROM qp)""".stripMargin
  }

  /** The composed index's routing candidates over a probe GRID —
    * `gcands (pr_lim, q_id, vec_id)` is every probe count's candidate
    * set in one grid-joined CTE, shared by ◆ `q_ann_ivfpq` (a
    * one-point grid), ◆ `q_ivfpq_grid`, and ◆ `q_ivf_probe_sweep`
    * (review r16 — the sweep previously carried its own copy of this
    * text under the name `cands`) so the three oracles' routing text
    * is ONE definition.
    */
  private[queries] def composedCandsCtesSql(probes: Seq[Int]): String =
    s"""grid AS (SELECT unnest([${probes.mkString(", ")}]) AS pr_lim),
       |gcands AS (
       |  SELECT g.pr_lim, p.q_id, a.vec_id
       |  FROM grid g
       |  JOIN pr p ON p.pr <= g.pr_lim
       |  JOIN afin a USING (bucket)
       |  WHERE a.vec_id <> p.q_id)""".stripMargin

  /** One composed serving cell: candidate-restricted ADC at probe
    * count `prLim` against rate chain `rateSfx`'s codes/LUT →
    * 32-shortlist → adc5/rr5, every CTE suffixed `sfx` so
    * [[pqHitColumnsSql]] reads the cell's hits verbatim. ONE
    * definition of the composed serving text for the single-point and
    * grid oracles (r16).
    */
  private def composedCellCtesSql(sfx: String, prLim: Int,
      rateSfx: String): String =
    s"""adc$sfx AS (
       |  SELECT l.q_id, c.vec_id, CAST(SUM(l.d2l) AS BIGINT) AS adc_d2
       |  FROM codes$rateSfx c
       |  JOIN lut$rateSfx l USING (s, cell)
       |  JOIN gcands cd ON cd.pr_lim = $prLim AND cd.q_id = l.q_id
       |                AND cd.vec_id = c.vec_id
       |  GROUP BY 1, 2),
       |short$sfx AS (
       |  SELECT q_id, vec_id, adc_d2,
       |         row_number() OVER (PARTITION BY q_id
       |                            ORDER BY adc_d2, vec_id) AS rn
       |  FROM adc$sfx),
       |adc5$sfx AS (SELECT q_id, vec_id FROM short$sfx WHERE rn <= 5),
       |rr5$sfx AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT s.q_id, s.vec_id,
       |           row_number() OVER (PARTITION BY s.q_id
       |                              ORDER BY x.d2x, s.vec_id) AS rank
       |    FROM short$sfx s JOIN x ON x.q_id = s.q_id AND x.vec_id = s.vec_id
       |    WHERE s.rn <= 32) WHERE rank <= 5)""".stripMargin

  /** The composed oracle: [[LlmQueries.detTrainCtesSql]] (IVF training
    * → `afin`, the full trained assignment) + the PQ generator over
    * `pqp` — the SAME positional rows re-keyed to subspaces, so both
    * trainings replay off one explode — + the shared routing/cell
    * generators at the one-point grid ([[graft.sources.IvfStore
    * .ComposedNProbe]], rate 1). The PQ generator's own serving tail
    * (`adc_pq`/`short_pq`/…) goes unreferenced and unexecuted; the
    * candidate-restricted cell is this query's serving path.
    */
  private def annIvfPqSql: String = {
    val np = graft.sources.IvfStore.ComposedNProbe
    s"""${LlmQueries.detTrainCtesSql("TRUE")},
       |$pqpCteSql,
       |${LlmQueries.exactTruthCtesSql},
       |${pqRateCtesSql("_pq", "TRUE", "pqp")},
       |${LlmQueries.detProbeRankCtesSql},
       |${composedCandsCtesSql(Seq(np))},
       |nc AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_cand
       |       FROM gcands WHERE pr_lim = $np GROUP BY 1),
       |${composedCellCtesSql("_c", np, "_pq")}
       |SELECT t.q_id, CAST(coalesce(nc.n_cand, 0) AS BIGINT) AS n_cand,
       |       CAST(count(*) AS BIGINT) AS n_truth,
       |       CAST(SUM(CASE WHEN a5.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |            AS BIGINT) AS hit_adc,
       |       CAST(SUM(CASE WHEN r5.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |            AS BIGINT) AS hit_rerank,
       |       (10000 * CAST(SUM(CASE WHEN a5.vec_id IS NOT NULL THEN 1 ELSE 0
       |                         END) AS BIGINT)) // CAST(count(*) AS BIGINT)
       |         AS recall_adc_bp,
       |       (10000 * CAST(SUM(CASE WHEN r5.vec_id IS NOT NULL THEN 1 ELSE 0
       |                         END) AS BIGINT)) // CAST(count(*) AS BIGINT)
       |         AS recall_rr_bp
       |FROM truth t
       |LEFT JOIN nc ON nc.q_id = t.q_id
       |LEFT JOIN adc5_c a5 ON a5.q_id = t.q_id AND a5.vec_id = t.vec_id
       |LEFT JOIN rr5_c r5 ON r5.q_id = t.q_id AND r5.vec_id = t.vec_id
       |GROUP BY t.q_id, nc.n_cand ORDER BY t.q_id""".stripMargin
  }

  /** ◆ `q_ivfpq_grid` — the composed IndexIVFPQ at EVERY
    * (nprobe, fitEvery) grid point (r15 verdict stretch): the two
    * measured knobs — routing breadth ([[graft.sources.IvfStore
    * .ProbeSweepRates]], priced per served query) and training
    * fraction ([[graft.sources.IvfStore.PqSweepRates]], priced per
    * refresh) — composed over the already-staged layouts into the full
    * compression × routing × recall tradeoff surface under one hash
    * gate. One row per grid point: total candidates scanned, recall@5
    * of the raw ADC ranking and of the exact-reranked 32-shortlist.
    *
    * Scale shape: nothing new is staged — routing reads the ONE
    * trained-IVF layout, each row's ADC reads its rate's staged PQ
    * codes (vec_id-bucketed, exchange-free aggregate), the exact-truth
    * pair table and truth top-5 are checkpointed once and shared by
    * all 16 cells, and each probe count's candidate set is
    * checkpointed once and shared by its 4 rates. THEOREMS (IvfSpec):
    * candidate sets nest, so n_cand is non-decreasing in nprobe and
    * rate-independent; the full-probe (DetK) candidates are ALL pairs,
    * so its rows' hits EQUAL ◆ `q_pq_sample_sweep`'s unrestricted rows
    * rate for rate; truth members in the shortlist always survive the
    * exact rerank (at most 4 closer vectors exist), so
    * hit_rerank ≥ hit_adc per cell; and the
    * ([[graft.sources.IvfStore.ComposedNProbe]], 1) cell aggregates
    * exactly ◆ `q_ann_ivfpq`'s per-query rows.
    */
  private val ivfPqGrid: Q = (s, d) => {
    import graft.sources.IvfStore
    import graft.ops.Ck
    val x = IvfStore.exactPairs(s, d)
    val truth = IvfStore.exactTruth(s, d)
    // r16 optimization: the 16 per-cell plans (4 candidate checkpoints,
    // 16 restricted ADC aggregates, 32 windows — a 337-codegen-stage
    // union at 2 000 vectors, pure scheduling overhead) collapse into
    // ONE pair-rank table and ONE fused shortlist window. Every cell's
    // candidate set is [[ivfRouteCands]] at its probe count, which is
    // exactly `pairPr.filter(pr <= n)` — the rank attached up front
    // (same join, same broadcast [[ivfProbeRank]], filter and join
    // commute) — and the max probe count is full-probe, so each rate's
    // ADC over ALL pairs scores every cell's stream once; all 16 cells'
    // shortlists come from a single (fit_every, nprobe, q_id)-
    // partitioned window over the union of the grid-joined scores.
    // Cell semantics are byte-identical: the oracle ([[ivfPqGridSql]])
    // is untouched and the IvfSpec grid theorems (nesting, full-probe
    // anchor, rerank ≥ ADC, composed single-point identity) ride the
    // same rows. Measured (driver-protocol bench medians, sf0.1):
    // 3.88 → 1.38 s; formatted plan 16 473 → 566 lines, Exchange
    // 1 074 → 44, SortMergeJoin 160 → 0, Window 272 → 6.
    val pairPr = ivfPairPr(s, d)
    val probeGrid = s.range(0L, IvfStore.ProbeSweepRates.size.toLong)
      .select(element_at(
        array(IvfStore.ProbeSweepRates.map(lit): _*),
        (col("id") + 1L).cast("int")).as("nprobe"))
    val nCand = pairPr.join(broadcast(probeGrid), col("pr") <= col("nprobe"))
      .groupBy("nprobe").agg(count(lit(1)).as("n_cand"))
    // ONE fused shortlist job for all four rates (r16 II): the rates'
    // full-pair ADC streams union BEFORE the single
    // (fit_every, nprobe, q_id)-partitioned window — four ~0.45 s
    // per-rate shortlist jobs become one, and the final assembly is a
    // single aggregate instead of a 4-branch union. pairPr is the
    // checkpointed NQueries·(|V|−1)-row rank table — broadcast keeps
    // every restriction map-side (the planner sees an unknown-size
    // LogicalRDD and would sort-merge). ≤ 32 rows per
    // (fit_every, nprobe, q_id) survive the window.
    val shortAll = Ck(IvfStore.PqSweepRates.map { f =>
        val tp = IvfStore.trainedPq(s, d, fitEvery = f)
        tp.codes
          .join(broadcast(pqQueryLut(s, d, tp.codebook)), Seq("s", "cell"))
          .join(broadcast(pairPr), Seq("q_id", "vec_id"))
          .groupBy("q_id", "vec_id", "pr")
          .agg(sum("d2l").as("adc_d2"))
          .select(lit(f).as("fit_every"), col("q_id"), col("vec_id"),
            col("pr"), col("adc_d2"))
      }.reduce(_.unionByName(_))
      .join(broadcast(probeGrid), col("pr") <= col("nprobe"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("fit_every", "nprobe", "q_id")
          .orderBy(asc("adc_d2"), asc("vec_id"))))
      .filter(col("rn") <= 32)
      .select("fit_every", "nprobe", "q_id", "vec_id", "rn"))
    val adc5 = shortAll.filter(col("rn") <= 5)
      .select("fit_every", "nprobe", "q_id", "vec_id")
    val rr5 = broadcast(shortAll).join(x, Seq("q_id", "vec_id"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("fit_every", "nprobe", "q_id")
          .orderBy(asc("d2x"), asc("vec_id"))))
      .filter(col("rank") <= 5)
      .select("fit_every", "nprobe", "q_id", "vec_id")
    val rateGrid = s.range(0L, IvfStore.PqSweepRates.size.toLong)
      .select(element_at(
        array(IvfStore.PqSweepRates.map(lit): _*),
        (col("id") + 1L).cast("int")).as("fit_every"))
    // adc5/rr5 are ≤ 5 rows per cell — broadcast both hit sides so the
    // audit join never exchanges the truth table
    truth.crossJoin(broadcast(probeGrid)).crossJoin(broadcast(rateGrid))
      .join(broadcast(adc5.withColumn("ha", lit(1L))),
        Seq("fit_every", "nprobe", "q_id", "vec_id"), "left")
      .join(broadcast(rr5.withColumn("hr", lit(1L))),
        Seq("fit_every", "nprobe", "q_id", "vec_id"), "left")
      .groupBy("nprobe", "fit_every")
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("ha"), lit(0L))).as("hit_adc"),
        sum(coalesce(col("hr"), lit(0L))).as("hit_rerank"))
      .join(broadcast(nCand), Seq("nprobe"), "left")
      .select(col("nprobe"), col("fit_every"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"), col("n_truth"),
        col("hit_adc"), col("hit_rerank"),
        call_function("div", lit(10000L) * col("hit_adc"),
          col("n_truth")).as("recall_adc_bp"),
        call_function("div", lit(10000L) * col("hit_rerank"),
          col("n_truth")).as("recall_rr_bp"))
      .orderBy("nprobe", "fit_every")
  }

  /** The grid oracle: ONE training prologue (IVF chain + `pqp` bridge +
    * shared exact truth), the four rate chains through the suffix-
    * parameterized PQ generator, the shared probe ranking, ONE
    * grid-joined candidate CTE, then a [[composedCellCtesSql]] +
    * [[pqHitColumnsSql]] assembly per (nprobe, rate) — nothing
    * re-stated against ◆ `q_ann_ivfpq` / ◆ `q_pq_sample_sweep`, whose
    * generators these are.
    */
  private def ivfPqGridSql: String = {
    val probes = graft.sources.IvfStore.ProbeSweepRates
    val rates = graft.sources.IvfStore.PqSweepRates
    val rateCtes = rates.map(r =>
      pqRateCtesSql(s"_r$r", pqFitPred(r), "pqp")).mkString(",\n")
    val cells = (for { n <- probes; r <- rates } yield
      composedCellCtesSql(s"_g${n}x$r", n, s"_r$r")).mkString(",\n")
    val rows = (for { n <- probes; r <- rates } yield
      s"""(SELECT CAST($n AS INT) AS nprobe, CAST($r AS INT) AS fit_every,
         |       CAST((SELECT count(*) FROM gcands WHERE pr_lim = $n)
         |            AS BIGINT) AS n_cand,
         |       ${pqHitColumnsSql(s"_g${n}x$r")})""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""${LlmQueries.detTrainCtesSql("TRUE")},
       |$pqpCteSql,
       |${LlmQueries.exactTruthCtesSql},
       |$rateCtes,
       |${LlmQueries.detProbeRankCtesSql},
       |${composedCandsCtesSql(probes)},
       |$cells
       |$rows
       |ORDER BY nprobe, fit_every""".stripMargin
  }

  private val pqRecallTrainedSql: String = pqRecallTrainedSqlFor("TRUE")
  private val pqRecallSampledSql: String = pqRecallTrainedSqlFor(
    pqFitPred(graft.sources.IvfStore.SampleEvery))

  private def pqRecallTrainedSqlFor(fitPred: String): String =
    s"""WITH $pqProloguesSql,
       |${pqRateCtesSql("", fitPred)}
       |SELECT t.q_id, ${pqHitColumnsSql("")}
       |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q_rolling_dau", rollingDau, Some(rollingDauSql)),
    Entry("q_rolling_dau_approx", rollingDauApprox, None),
    Entry("q_curve3_skip", curve3Skip, Some(curve3SkipSql)),
    Entry("q_curve3_lang_skip", curve3LangSkip, Some(curve3LangSkipSql)),
    Entry("q_hilbert_skip", hilbertSkip, Some(hilbertSkipSql)),
    Entry("q_containment_dup", containmentDup, Some(containmentDupSql)),
    Entry("q_fuzzy_match", fuzzyMatch, Some(fuzzyMatchSql)),
    Entry("q_chunk_dedup", chunkDedup, Some(chunkDedupSql)),
    Entry("q_ann_pq", annPq, Some(annPqSql)),
    Entry("ml_ann_pq_trained", annPqTrainedQ, None),
    Entry("q_pq_recall_trained", pqRecallTrained, Some(pqRecallTrainedSql)),
    Entry("q_pq_recall_sampled", pqRecallSampled, Some(pqRecallSampledSql)),
    Entry("q_pq_sample_sweep", pqSampleSweep, Some(pqSampleSweepSql)),
    Entry("q_ann_ivfpq", annIvfPq, Some(annIvfPqSql)),
    Entry("q_ivfpq_grid", ivfPqGrid, Some(ivfPqGridSql)),
    Entry("q_zorder_skip", zorderSkip, Some(zorderSkipSql)),
  )
}
