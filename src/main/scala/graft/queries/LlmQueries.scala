package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Ck.CkOps
import graft.ops.{Hashing, Num}
import graft.tables.Tables
import Registry.{Entry, Q}

/** LLM-data-pipeline operators over `documents` / `embeddings`
  * (the north star beyond the reference's own surface, BASELINE.json):
  * exact + near dedup, similarity search (brute-force and bucketed ANN),
  * text analysis, document fingerprinting, multimodal plumbing.
  *
  * Scale design: no all-pairs joins without blocking — near-dup compares
  * only within a blocking key (lang here; LSH band-buckets in the MinHash
  * path), ANN prunes candidates by a deterministic sign-bit coarse quantizer
  * before scoring. At 100 TB these become shuffle-by-block + bounded
  * per-block work instead of an O(n²) explosion; the brute-force cosine
  * variant broadcasts a small query set against the full corpus (embarrassingly
  * parallel map, no shuffle at all).
  */
object LlmQueries {

  /** Dot product of two double arrays — custom codegen index loop
    * ([[graft.functions.DotProduct]]); the HOF formulation
    * `aggregate(zip_with(...))` is CodegenFallback and pays two interpreted
    * closures plus a zipped intermediate array per pair, which dominates on
    * the blocked-pair and query×corpus paths below. Summation stays the
    * same sequential left fold, so it matches DuckDB's list functions (and
    * the previous HOF results) bit-for-bit.
    */
  private def dot(a: Column, b: Column): Column = graft.ops.Vec.dot(a, b)

  private def cosine(a: Column, b: Column): Column = graft.ops.Vec.cosine(a, b)

  /** Exact dedup: md5 content fingerprint → hash groupBy. Duplicates are
    * injected deterministically (testdata has none) by re-appending the
    * first 50 docs under shifted ids; canonical = min id per fingerprint.
    */
  private val dedupExact: Q = (s, d) => {
    requirePlantHeadroom(s, d, "dedupExact")
    val docs = Tables.documents(s, d)
    val dup = docs.filter(col("doc_id") < 50)
      .withColumn("doc_id", col("doc_id") + lit(10000L))
    docs.unionByName(dup)
      .withColumn("fp", md5(col("text")))
      .groupBy("fp")
      .agg(count(lit(1)).as("cnt"), min("doc_id").as("canonical_id"))
      .filter(col("cnt") > 1)
      .orderBy("canonical_id")
  }

  private val dedupExactSql =
    """WITH all_docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 50)
      |SELECT md5(text) AS fp, count(*) AS cnt, min(doc_id) AS canonical_id
      |FROM all_docs GROUP BY fp HAVING count(*) > 1
      |ORDER BY canonical_id""".stripMargin

  /** Per-doc sorted/deduped 60-bit token fingerprints — the shared input of
    * exact-Jaccard scoring: tokens are md5-fingerprinted to longs and
    * sorted ONCE per doc so every pair compare is an allocation-free
    * primitive merge-walk ([[graft.functions.JaccardSorted]]).
    */
  private def tokenSets(docs: org.apache.spark.sql.DataFrame) =
    docs.select(col("doc_id"), col("lang"),
      sort_array(array_distinct(
        transform(split(col("text"), " "), w => Hashing.md5Long60(w)))).as("toks"))
      // coalesce makes n NON-NULLABLE so the join's null-intolerant prune
      // filter cannot infer `isnotnull(size(<tokenization>))` back into the
      // scan-side Filter — that inferred constraint made each side evaluate
      // the (CodegenFallback, interpreted) tokenization TWICE per row. Rows
      // with null text still drop: n=-1 fails the ratio prune and a null
      // toks nulls the jac predicate.
      .withColumn("n", coalesce(size(col("toks")), lit(-1)))

  /** EXACT all-pairs word-set Jaccard within `blockCols` blocks — the
    * verification oracle of the dedup family, NOT the 100 TB discovery
    * path (that is [[minhashDedup]]'s banded LSH; route its candidate pairs
    * into [[jaccardVerify]] at scale). The pair space is inherently
    * O(maxBlock²), so the precondition REFUSES to run when any block
    * exceeds `maxBlockRows` — a corpus where one lang is the whole dataset
    * cannot silently go cartesian.
    *
    * Per-pair cost is the engineered part: one codegen merge-walk per pair
    * instead of two hash-set builds (array_intersect+array_union), with the
    * length-ratio bound (jac ≥ t ⇒ min(|A|,|B|)/max(|A|,|B|) ≥ t) pruning
    * pairs before any comparison. The oracle hashes with the SAME md5
    * construction, so results agree by construction.
    */
  def jaccardPairs(docs: org.apache.spark.sql.DataFrame,
      blockCols: Seq[String], threshold: Double,
      maxBlockRows: Long = 65536L,
      broadcastRowCap: Long = 1048576L): org.apache.spark.sql.DataFrame = {
    require(blockCols.nonEmpty,
      "exact Jaccard needs a blocking key; unblocked all-pairs is O(n²) — " +
        "use the MinHash LSH path for global discovery")
    // localCheckpoint: t feeds the block-stats probe and BOTH join sides —
    // one tokenization pass instead of three re-derivations from the scan.
    val t = tokenSets(docs).ckpt()
    // max(count) is NULL on an empty input — treat as a zero-row block.
    val stats = t.groupBy(blockCols.map(col).toIndexedSeq: _*)
      .count().agg(max("count"), sum("count")).first()
    val biggest = Option(stats.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
    val total = Option(stats.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L)
    require(biggest <= maxBlockRows,
      s"largest ${blockCols.mkString(",")} block has $biggest rows " +
        s"(> $maxBlockRows): the all-pairs space would be ~${biggest * biggest / 2} " +
        "pairs. Use q_minhash_dedup's banded LSH for discovery and " +
        "jaccardVerify on its candidates for exact scores.")
    // The b-side of a guarded verification corpus is EXPLICITLY broadcast
    // (pinned — the implicit stats-based choice flipping to a shuffle join
    // would serialize the merge-walk behind a #blocks-wide exchange): the
    // broadcast keeps the per-pair merge-walk at SCAN parallelism with zero
    // shuffle. (Measured: salting the block key to spread a shuffle join
    // was ~40% SLOWER than the broadcast — don't "fix" the
    // few-distinct-keys skew here, there is no shuffle to skew.) Above
    // `broadcastRowCap` total rows the b-side no longer fits an executor,
    // so the hint is withheld and Catalyst may shuffle — at that corpus
    // size the contract says use LSH discovery + jaccardVerify anyway.
    val a = t.select(blockCols.map(col) ++ Seq(col("doc_id").as("doc_a"),
      col("toks").as("toks_a"), col("n").as("n_a")): _*)
    val b0 = t.select(blockCols.map(col) ++ Seq(col("doc_id").as("doc_b"),
      col("toks").as("toks_b"), col("n").as("n_b")): _*)
    val b = if (total <= broadcastRowCap) broadcast(b0) else b0
    // Conservatively loose prune (-1e-9): the bound only skips work ahead
    // of the exact jac filter, so a threshold whose double product rounds
    // up must not drop a boundary pair before it is scored.
    val ratio = lit(threshold)
    a.join(b, blockCols)
      .filter(col("doc_a") < col("doc_b") &&
        col("n_a") >= col("n_b") * ratio - lit(1e-9) &&
        col("n_b") >= col("n_a") * ratio - lit(1e-9))
      .withColumn("jac",
        Num.roundAt(graft.functions.JaccardSorted(col("toks_a"), col("toks_b")), 4))
      .filter(col("jac") >= threshold)
      .select("doc_a", "doc_b", "jac")
  }

  /** Exact-Jaccard verification of CANDIDATE pairs (doc_a, doc_b) — the
    * scale path's second stage: LSH proposes (sub-quadratic), this scores
    * each proposed pair exactly with one equi-join per side and one
    * merge-walk per pair. Pair count is the candidate count, never n².
    */
  def jaccardVerify(docs: org.apache.spark.sql.DataFrame,
      candidates: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val t = tokenSets(docs)
    candidates.select("doc_a", "doc_b")
      .join(t.select(col("doc_id").as("doc_a"), col("toks").as("toks_a")), "doc_a")
      .join(t.select(col("doc_id").as("doc_b"), col("toks").as("toks_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        Num.roundAt(graft.functions.JaccardSorted(col("toks_a"), col("toks_b")), 4).as("jac"))
  }

  /** Near-dup by word-set Jaccard, blocked by lang so the pair space is
    * per-block O(k²) instead of global O(n²) — the same blocking that makes
    * this viable at scale (LSH buckets play the lang role there).
    *
    * The pair set is a STANDING artifact (r13): it is the discovery
    * table [[fixtureComponents]] closes into the components that
    * ◆ `q_dup_components` and ◆ `q_dedup_survivorship` read, so the
    * lang-blocked chain stages pairs → closure once per session exactly
    * like the minhash chain ([[minhashVerified]] →
    * [[minhashComponents]]). Oracle unchanged (full definitional
    * recompute).
    */
  private val jaccardPairsCache = new graft.sources.LayoutCache.SessionCache[
    String, org.apache.spark.sql.DataFrame]()

  private def fixtureJaccardPairs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    jaccardPairsCache.getOrBuild(s, d) {
      graft.ops.Ck.pin(
        jaccardPairs(Tables.documents(s, d), Seq("lang"), 0.5),
        "llm.jaccardPairs")
    }

  /** Build every session-staged dedup artifact outside any query's
    * timing (r13 verdict #4): the LSH-verified pair set, the exact
    * ground truth, both component closures, the Jaccard pair fixture,
    * and the trained BPE merge table. Bench calls this during warm-up
    * and prints the cost as a `staged-build:` tail line; the family's
    * first sampled consumer then times serving, not discovery. Pins are
    * eager, so touching each builder materializes it.
    */
  private[graft] def prewarmStaged(s: org.apache.spark.sql.SparkSession,
      d: String): Unit = {
    fixtureJaccardPairs(s, d)   // llm.jaccardPairs
    fixtureComponents(s, d)     // llm.jaccardComps
    minhashVerified(s, d)       // llm.minhashPairs
    minhashComponents(s, d)     // llm.minhashComps
    plantedExactPairs(s, d)     // llm.prefixExactPairs
    sweepSigs(s, d)             // llm.sweepSigs
    sweepPairs(s, d)            // llm.sweepPairs (r16)
    trainedBpe(s, d)            // the 30-merge tokenizer artifact
    ()
  }

  private val dedupJaccard: Q = (s, d) =>
    fixtureJaccardPairs(s, d).orderBy("doc_a", "doc_b")

  private val dedupJaccardSql =
    """WITH t AS (SELECT doc_id, lang,
      |                  list_distinct(list_transform(string_split(text, ' '),
      |                    w -> ('0x' || substr(md5(w), 1, 15))::BIGINT)) AS toks
      |           FROM documents)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |       floor((len(list_intersect(a.toks, b.toks)) /
      |             CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE))
      |                   * 10000 + 0.5) / 10000.0 AS jac
      |FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
      |WHERE floor((len(list_intersect(a.toks, b.toks)) /
      |            CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE))
      |                  * 10000 + 0.5) / 10000.0 >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  /** SimHash near-dup: 32-bit simhash from per-token md5 bit votes, then
    * hamming distance over same-lang pairs. Pure expressions end-to-end —
    * the bit-vote aggregation is a hash groupBy, the pair scan is blocked —
    * and exactly reproducible in the oracle.
    *
    * Deliberately explode+groupBy, NOT nested higher-order functions:
    * a map-side `aggregate(transform(...))` signature was measured 9×
    * SLOWER (1.9s → 17.5s at sf0.1) — HOF lambdas are CodegenFallback, and
    * without the aggregation barrier Catalyst collapses the projection into
    * the self-join and re-evaluates the whole vote expression per PAIR.
    * The codegen'd explode+shuffle is the fast path here.
    */
  private val simhash: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val sh = docs
      .select(col("doc_id"), col("lang"),
        explode(array_distinct(split(col("text"), " "))).as("w"))
      .withColumn("h", Hashing.md5Long(col("w")))
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(0), lit(31))).as("bit"), col("h"))
      .withColumn("c",
        when(expr("(shiftright(h, bit) & 1) = 1"), lit(1)).otherwise(lit(-1)))
      .groupBy("doc_id", "lang", "bit")
      .agg(sum("c").as("v"))
      .withColumn("bv", when(col("v") > 0, lit(1L)).otherwise(lit(0L)))
      .groupBy("doc_id", "lang")
      .agg(sum(expr("shiftleft(bv, bit)")).as("sim"))
    val a = sh.select(col("doc_id").as("doc_a"), col("lang"), col("sim").as("sim_a"))
    val b = sh.select(col("doc_id").as("doc_b"), col("lang"), col("sim").as("sim_b"))
    a.join(b, Seq("lang"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("dist", expr("bit_count(sim_a ^ sim_b)"))
      .filter(col("dist") <= 10)
      .select("doc_a", "doc_b", "dist")
      .orderBy("doc_a", "doc_b")
  }

  private val simhashSql =
    """WITH toks AS (
      |  SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS w
      |  FROM documents),
      |hashed AS (
      |  SELECT doc_id, lang, ('0x' || substr(md5(w), 1, 8))::BIGINT AS h FROM toks),
      |bits AS (
      |  SELECT doc_id, lang, unnest(range(0, 32)) AS bit, h FROM hashed),
      |votes AS (
      |  SELECT doc_id, lang, bit,
      |         SUM(CASE WHEN ((h >> bit) & 1) = 1 THEN 1 ELSE -1 END) AS v
      |  FROM bits GROUP BY doc_id, lang, bit),
      |sh AS (
      |  SELECT doc_id, lang,
      |         CAST(SUM((CASE WHEN v > 0 THEN CAST(1 AS BIGINT) ELSE 0 END) << bit) AS BIGINT) AS sim
      |  FROM votes GROUP BY doc_id, lang)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |       CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS dist
      |FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.sim, b.sim)) <= 10
      |ORDER BY doc_a, doc_b""".stripMargin

  /** MinHash+LSH near-dup (the scale path for dedup): 3-word shingle →
    * one md5 base hash per shingle → 12 signatures via the classic
    * `(a·h + b) mod p` linear family → 3 bands × 4 rows → band-bucket
    * self-join → exact shingle-Jaccard ≥ 0.8 verification of candidates.
    *
    * Hand-rolled instead of MLlib's `MinHashLSH.approxSimilarityJoin`
    * deliberately: token-SET similarity is degenerate on this corpus (~71%
    * of all pairs are ≥ 0.5 similar → the approx join's candidate set is
    * quadratic; it dominated a whole bench round). Word-shingles are
    * discriminative (max non-dup pair ≈ 0.04), so banded buckets contain
    * only true near-dups plus ~s⁴·3·n² ≈ a handful of false positives —
    * per-bucket work stays O(1) and the whole query is one shuffle per
    * stage at any scale. Hashing each shingle ONCE and permuting the
    * 32-bit value arithmetically (p = 4294967311, the first prime > 2³²;
    * a = 2i+1 keeps a·h < 2³⁷, overflow-safe in int64 for both engines)
    * is 12× less md5 work than hashing per-signature, stays map-side via
    * higher-order array functions (no explode/groupBy shuffle), and keeps
    * the whole construction deterministic AND ANSI-SQL-expressible — so
    * unlike the MLlib hash family this is hash-checked against the oracle,
    * not rows-only.
    */
  /** Loud guard for the planted-id convention (ADVICE r13): the dedup
    * family's plant offsets (+10000 noisy/dup plants, +20000 chimeras)
    * and its bipartite split at doc_id < 10000 assume natural docs stay
    * below 10000. On a corpus where that fails, natural docs would
    * silently flip to the plant side of discovery — and the DuckDB
    * oracles share the convention, so the hash gate could not catch the
    * divergence from intended semantics. Checked once per (session,
    * dataset) — one 1-row max aggregate — and the collision fails the
    * query loudly instead.
    */
  private val plantHeadroomCache = new graft.sources.LayoutCache.SessionCache[
    String, Long]()

  private[graft] def requirePlantHeadroom(
      s: org.apache.spark.sql.SparkSession,
      d: String, who: String): Unit = {
    val mx = plantHeadroomCache.getOrBuild(s, d) {
      val row = Tables.documents(s, d).agg(max("doc_id")).head()
      if (row.isNullAt(0)) -1L else row.getLong(0)
    }
    require(mx < 10000L,
      s"$who: planted doc_id offsets (+10000/+20000/+30000) collide with " +
        s"natural max doc_id = $mx — the plant convention needs " +
        "regenerating for this corpus")
  }

  /** The embedding-side twin of [[requirePlantHeadroom]] (review r14):
    * `q_dedup_embed` and `q_reconcile` plant vec_id + 10000 copies with
    * the same silent-collision hazard on a corpus whose natural vec_ids
    * reach 10000.
    */
  private val vecHeadroomCache = new graft.sources.LayoutCache.SessionCache[
    String, Long]()

  private def requireVecHeadroom(s: org.apache.spark.sql.SparkSession,
      d: String, who: String): Unit = {
    val mx = vecHeadroomCache.getOrBuild(s, d) {
      val row = Tables.embeddings(s, d).agg(max("vec_id")).head()
      if (row.isNullAt(0)) -1L else row.getLong(0)
    }
    require(mx < 10000L,
      s"$who: planted vec_id offset (+10000) collides with natural max " +
        s"vec_id = $mx — the plant convention needs regenerating for this " +
        "corpus")
  }

  /** The planted-dup fixture corpus shared by the whole dedup family —
    * construction only (two scans + union), so callers that stage their
    * own derived artifacts can build it without touching the caches.
    */
  private def plantedCorpus(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    requirePlantHeadroom(s, d, "plantedCorpus")
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val dup = docs.filter(col("doc_id") < 25)
      .withColumn("doc_id", col("doc_id") + lit(10000L))
    docs.unionByName(dup)
  }

  /** Shared discovery stage for the MinHash queries: the planted-dup
    * corpus and its LSH-verified near-dup pairs (exact shingle-Jaccard
    * ≥ 0.8 on band-bucket candidates), unordered. `q_minhash_dedup`
    * presents the pairs; `q_dedup_pipeline` closes them into components
    * and picks survivors.
    *
    * The verified pair set is a STANDING artifact (r13, the
    * [[fixtureComponents]] discipline): a deployment runs LSH discovery
    * once per corpus refresh and every downstream dedup job — the pair
    * census (◆ `q_minhash_dedup`), the composed pipeline
    * (◆ `q_dedup_pipeline`), the leakage-free splits
    * (◆ `q_split_leakfree` via [[splitAssignments]]), and the recall
    * evaluation (◆ `q_dedup_eval`) — reads the maintained discovery
    * table, so the five consumers here share one build per (session,
    * corpus), Ck-pinned (exempt from the runner's per-query drain,
    * measured by the bench tail's pinned-state report). Oracles are
    * unchanged definitional recomputes, so the hash gate re-proves the
    * staged table's content on every consumer.
    */
  private val verifiedPairsCache = new graft.sources.LayoutCache.SessionCache[
    String, org.apache.spark.sql.DataFrame]()

  private[graft] def minhashVerified(s: org.apache.spark.sql.SparkSession, d: String):
      (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val corpus = plantedCorpus(s, d)
    (corpus, verifiedPairsCache.getOrBuild(s, d) {
      graft.ops.Ck.pin(minhashPairs(corpus), "llm.minhashPairs")
    })
  }

  /** The LSH discovery + exact-verification stages over ANY (doc_id, text)
    * corpus — shared by the planted-dup demos above and the composed
    * incremental pipeline ([[dedupDelta]]), which runs it on the
    * bloom/fingerprint survivors only.
    */
  /** Distinct 3-word shingles per doc — the shared discovery vocabulary of
    * the MinHash family.
    */
  private[graft] def shingleDocs(corpus: org.apache.spark.sql.DataFrame):
      org.apache.spark.sql.DataFrame =
    corpus
      .withColumn("ws", split(col("text"), " "))
      // same short-doc guard as the prefix-filter discovery sites
      // (ADVICE r13): < 3 words → empty shingle set, not ws[-1]
      .withColumn("sh", when(size(col("ws")) >= 3, array_distinct(
        expr("transform(sequence(0, size(ws) - 3), i -> concat(ws[i], ' ', ws[i+1], ' ', ws[i+2]))")))
        .otherwise(expr("array()").cast("array<string>")))
      .select("doc_id", "sh")

  /** (doc_id, band, bkey) LSH bucket rows from a shingled corpus — the
    * banded 12-signature/3-band construction of [[minhashPairs]].
    *
    * Signatures via explode + one hash aggregate, NOT 12 map-side
    * `array_min(transform(...))` passes: HOF lambdas are CodegenFallback
    * (interpreted), so the 12-permutation sweep ran outside codegen per
    * doc; the exploded form hashes each shingle once and computes all 12
    * mins inside whole-stage codegen for one extra shuffle of 60-bit
    * grams (same trade the simhash query measured 9× in favor of).
    * Values are identical — same md5-32 base hash, same (a·h+b) mod p
    * family, min is order-independent — so all four dependent oracles
    * hash the same.
    */
  /** The 12 minhash signatures `(doc_id, h0..h11)` of a shingled
    * corpus — the ONE signature definition (r16), shared by the
    * production 3×4 banding ([[bandRows]]) and the banding-knob sweep
    * (◆ `q_lsh_band_sweep`), so the two can never hash differently.
    */
  private[graft] def minhashSigs(shingled: org.apache.spark.sql.DataFrame):
      org.apache.spark.sql.DataFrame = {
    val ex = shingled.select(col("doc_id"), explode(col("sh")).as("g"))
      .select(col("doc_id"), Hashing.md5Long(col("g")).as("h"))
    val sigCols = (0 until 12).map(i =>
      min((col("h") * lit(2L * i + 1) + lit(7919L * i)) % lit(4294967311L)).as(s"h$i"))
    ex.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
  }

  /** `(doc_id, band, bkey)` rows for the 12 signatures split into
    * `bands` equal bands (12 % bands == 0) — md5 over the
    * comma-joined band rows, the [[bandRows]] key construction
    * generalized to any band count for the sweep.
    */
  private[graft] def bandKeyRows(sigs: org.apache.spark.sql.DataFrame,
      bands: Int): org.apache.spark.sql.DataFrame = {
    require(12 % bands == 0, s"banding $bands does not divide 12")
    val r = 12 / bands
    def band(j: Int): Column =
      md5(concat_ws(",", (0 until r).map(k => col(s"h${j * r + k}")): _*))
    sigs.select(col("doc_id"),
      explode(map((0 until bands).flatMap(j =>
        Seq(lit(j), band(j))): _*)).as(Seq("band", "bkey")))
  }

  private[graft] def bandRows(shingled: org.apache.spark.sql.DataFrame):
      org.apache.spark.sql.DataFrame =
    bandKeyRows(minhashSigs(shingled), 3)

  private[graft] def minhashPairs(corpus: org.apache.spark.sql.DataFrame):
      org.apache.spark.sql.DataFrame = {
    // localCheckpoint: the shingled corpus feeds THREE subtrees (the
    // signature/band side and both verification sides) — without the
    // barrier each re-tokenizes the corpus from the scan. One interpreted
    // shingling pass instead of three.
    val shingled = shingleDocs(corpus).ckpt()
    val bands = bandRows(shingled)
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sa = shingled.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val sb = shingled.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    val verified = cand.join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
      .withColumn("jac",
        Num.roundAt(size(array_intersect(col("sh_a"), col("sh_b"))) /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"), 4))
      .filter(col("jac") >= 0.8)
      .select("doc_a", "doc_b", "jac")
    verified
  }

  private val minhashDedup: Q = (s, d) =>
    minhashVerified(s, d)._2.orderBy("doc_a", "doc_b")

  /** Shared oracle CTE prefix of the MinHash family (planted-dup corpus →
    * shingles → 12 minhash signatures → 3 banded buckets → candidate
    * pairs), spliced under `WITH RECURSIVE` by each consumer — RECURSIVE
    * is inert for the non-recursive ones. One source of truth keeps the
    * three twins ([[minhashDedupSql]], [[dedupPipelineSql]],
    * [[splitLeakfreeSql]]) from drifting apart.
    */
  private val minhashCteSql =
    """all_docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 25),""".stripMargin +
      "\n" + minhashStagesSql("all_docs")

  /** The discovery-stage CTEs (shingle → signatures → bands → candidate
    * pairs) over an arbitrary (doc_id, text) source CTE — the SQL twin of
    * [[minhashPairs]], parameterized the same way.
    */
  /** Shingle → base hash → 12-signature CTEs over an arbitrary
    * (doc_id, text) source CTE — the SQL twin of [[minhashSigs]],
    * signature lines GENERATED from the same (2i+1, 7919i) family the
    * Spark side computes (r16), shared by [[minhashStagesSql]] and the
    * banding sweep's oracle.
    */
  private def minhashSigCtesSql(src: String) = {
    val sigLines = (0 until 12).map(i =>
      s"         min((h * ${2 * i + 1} + ${7919 * i}) % 4294967311) AS h$i")
      .mkString(",\n")
    s"""sh AS (
      |  SELECT doc_id,
      |         list_distinct(list_transform(range(1, len(ws) - 1),
      |                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM $src)),
      |ex AS (SELECT doc_id, ('0x' || substr(md5(unnest(sh)), 1, 8))::BIGINT AS h
      |       FROM sh),
      |sig AS (
      |  SELECT doc_id,
      |$sigLines
      |  FROM ex GROUP BY doc_id)""".stripMargin
  }

  private def minhashStagesSql(src: String) =
    s"""${minhashSigCtesSql(src)},
      |banded AS (
      |  SELECT doc_id,
      |         md5(h0 || ',' || h1 || ',' || h2 || ',' || h3) AS b0,
      |         md5(h4 || ',' || h5 || ',' || h6 || ',' || h7) AS b1,
      |         md5(h8 || ',' || h9 || ',' || h10 || ',' || h11) AS b2
      |  FROM sig),
      |bands AS (
      |  SELECT doc_id, 0 AS band, b0 AS bkey FROM banded
      |  UNION ALL SELECT doc_id, 1 AS band, b1 AS bkey FROM banded
      |  UNION ALL SELECT doc_id, 2 AS band, b2 AS bkey FROM banded),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)""".stripMargin

  /** Bounded min-label closure over a symmetric `(a, b)` edge CTE,
    * ending in `comp(doc_id, component)` — the r12 replacement for the
    * recursive `walk(doc, lbl)` CTE, which enumerated every (node,
    * reachable-label) pair and was QUADRATIC in component size: at
    * sf0.1 the dup graph's largest component holds 2042 docs, and the
    * walk blew the sweep's per-oracle budget on exactly the two
    * closure-definitional queries (q_dup_components,
    * q_dedup_survivorship — the r11 sweep's only timeouts).
    *
    * Each unrolled round takes min over {self, neighbors' labels,
    * label-of-label} — POINTER DOUBLING, so `rounds` rounds cover
    * components of diameter ≥ 2^rounds (5 rounds = 32, far beyond any
    * near-dup cluster; the sf0.1 giant component converges in 3).
    * Rounds are `AS MATERIALIZED`: each wᵢ references its predecessor
    * three times, and DuckDB's default CTE inlining would re-derive
    * the whole pair join 3^rounds times (measured: "too many open
    * files" before any row). An EXTRA round feeds a convergence GUARD:
    * if any label still moves after round `rounds`, the oracle raises
    * via `error()` — a too-shallow unroll is a loud sweep failure,
    * never a silently-wrong component table.
    */
  private def boundedClosureSql(edgesCte: String, rounds: Int = 5): String = {
    val w0 =
      s"w0 AS MATERIALIZED (SELECT DISTINCT a AS doc, a AS lbl FROM $edgesCte)"
    val ws = (1 to rounds + 1).map { i =>
      s"""w$i AS MATERIALIZED (
         |  SELECT doc, min(lbl) AS lbl FROM (
         |    SELECT doc, lbl FROM w${i - 1}
         |    UNION ALL
         |    SELECT e.a AS doc, w.lbl FROM $edgesCte e
         |    JOIN w${i - 1} w ON w.doc = e.b
         |    UNION ALL
         |    SELECT x.doc, y.lbl FROM w${i - 1} x
         |    JOIN w${i - 1} y ON y.doc = x.lbl
         |  ) GROUP BY doc)""".stripMargin
    }
    val guard =
      s"""guard AS (SELECT count(*) AS n FROM w$rounds g
         |          JOIN w${rounds + 1} h ON g.doc = h.doc AND g.lbl <> h.lbl),
         |comp AS (SELECT doc AS doc_id,
         |                CASE WHEN (SELECT n FROM guard) > 0
         |                     THEN error('closure unroll too shallow')
         |                     ELSE lbl END AS component
         |         FROM w$rounds)""".stripMargin
    (w0 +: ws :+ guard).mkString(",\n")
  }

  /** Shared closure suffix: exact-Jaccard verification of the LSH
    * candidates, then the bounded component closure.
    */
  private val closureCteSql =
    """verified AS (
      |  SELECT doc_a, doc_b
      |  FROM cand
      |  JOIN sh sa ON sa.doc_id = cand.doc_a
      |  JOIN sh sb ON sb.doc_id = cand.doc_b
      |  WHERE floor((len(list_intersect(sa.sh, sb.sh)) /
      |              CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE))
      |                    * 10000 + 0.5) / 10000.0 >= 0.8),
      |edges AS (
      |  SELECT doc_a AS a, doc_b AS b FROM verified
      |  UNION ALL
      |  SELECT doc_b AS a, doc_a AS b FROM verified),
      |""".stripMargin + boundedClosureSql("edges")

  private val minhashDedupSql =
    s"""WITH RECURSIVE
       |$minhashCteSql
       |SELECT doc_a, doc_b,
       |       floor((len(list_intersect(sa.sh, sb.sh)) /
       |             CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE))
       |                   * 10000 + 0.5) / 10000.0 AS jac
       |FROM cand
       |JOIN sh sa ON sa.doc_id = cand.doc_a
       |JOIN sh sb ON sb.doc_id = cand.doc_b
       |WHERE floor((len(list_intersect(sa.sh, sb.sh)) /
       |            CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE))
       |                  * 10000 + 0.5) / 10000.0 >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin

  /** The dedup composition a 100 TB corpus actually runs, end-to-end in
    * one query: sub-quadratic MinHash-LSH discovery → exact Jaccard
    * verification of candidates → connected-component closure → survivor
    * selection (keep the longest doc per component, ties to the smallest
    * doc_id) → per-doc keep/drop decision. Every stage is the
    * already-proven machinery ([[minhashVerified]], [[componentsFromPairs]]);
    * this query is the proof they compose: discovery is one shuffle per
    * LSH stage, verification touches only band-bucket candidates, the
    * closure contracts near-clique components before iterating, and
    * survivor ranking partitions by component — nothing in the chain is
    * all-pairs or driver-bound. The emitted keep/drop list (not the pair
    * list) is what downstream training-data jobs consume.
    */
  /** The dup-component closure of the STAGED discovery table — the third
    * maintained artifact of the planted-corpus dedup family (r13):
    * discovery (pairs) → closure (components) → consumers. Built once
    * per (session, corpus) and Ck-pinned; ◆ `q_dedup_pipeline` ranks
    * survivors over it and ◆ `q_split_leakfree` hashes split assignment
    * from it, while both oracles still recompute the closure
    * definitionally (bounded pointer-doubling CTE), keeping the staged
    * table under the hash gate.
    */
  private val minhashCompsCache = new graft.sources.LayoutCache.SessionCache[
    String, org.apache.spark.sql.DataFrame]()

  private[graft] def minhashComponents(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    minhashCompsCache.getOrBuild(s, d) {
      graft.ops.Ck.pin(componentsFromPairs(minhashVerified(s, d)._2),
        "llm.minhashComps")
    }

  private val dedupPipeline: Q = (s, d) => {
    val corpus = minhashVerified(s, d)._1
    val comps = minhashComponents(s, d)
    val lens = corpus.select(col("doc_id"), length(col("text")).as("doc_len"))
    val w = Window.partitionBy("component")
      .orderBy(desc("doc_len"), asc("doc_id"))
    comps.join(lens, "doc_id")
      .withColumn("keep",
        when(row_number().over(w) === 1, lit(1)).otherwise(lit(0)))
      .select("doc_id", "component", "csize", "doc_len", "keep")
      .orderBy("doc_id")
  }

  private val dedupPipelineSql =
    s"""WITH RECURSIVE
       |$minhashCteSql,
       |$closureCteSql,
       |lens AS (SELECT doc_id, CAST(length(text) AS INT) AS doc_len FROM all_docs)
       |SELECT doc_id, component, csize, doc_len,
       |       CAST(CASE WHEN rk = 1 THEN 1 ELSE 0 END AS INT) AS keep
       |FROM (SELECT c.doc_id, c.component,
       |             count(*) OVER (PARTITION BY c.component) AS csize,
       |             l.doc_len,
       |             row_number() OVER (PARTITION BY c.component
       |                                ORDER BY l.doc_len DESC, c.doc_id) AS rk
       |      FROM comp c JOIN lens l ON l.doc_id = c.doc_id)
       |ORDER BY doc_id""".stripMargin
  /** Brute-force cosine top-k: small query set broadcast against the full
    * corpus — an embarrassingly parallel map over embeddings partitions, no
    * shuffle until the final per-query top-k. This is the correctness
    * baseline ANN variants are judged against.
    */
  private val embedCosineTopk: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", r3(cosine(col("qv"), col("v"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos"), asc("vec_id"))))
      .filter(col("rank") <= 5)
      .select("q_id", "rank", "vec_id", "cos")
      .orderBy("q_id", "rank")
  }

  private val embedCosineTopkSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
      |scored AS (
      |  SELECT q_id, vec_id,
      |         floor(list_cosine_similarity(qv, v) * 1000 + 0.5) / 1000.0 AS cos
      |  FROM q, e WHERE vec_id <> q_id)
      |SELECT q_id, rank, vec_id, cos
      |FROM (SELECT q_id, vec_id, cos,
      |             row_number() OVER (PARTITION BY q_id
      |                                ORDER BY cos DESC, vec_id) AS rank
      |      FROM scored)
      |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  /** Embedding-cosine near-dup detection (the fifth dedup mode): pairs with
    * cosine ≥ 0.95, blocked by the same sign-bit coarse quantizer as the
    * IVF path so the pair space is per-bucket, not global. Duplicates are
    * planted (first 25 vectors re-appended under shifted ids — exact copies,
    * cos = 1) since the synthetic corpus has no natural near-identical
    * vectors; exact copies always share a bucket, so blocking costs no
    * recall on true dups. Fully oracle-checked: the quantizer and cosine
    * are the same arithmetic in both engines.
    */
  private val dedupEmbed: Q = (s, d) => {
    def bucketOf(v: Column): Column =
      (when(element_at(v, 1) >= 0, 8).otherwise(0) +
        when(element_at(v, 2) >= 0, 4).otherwise(0) +
        when(element_at(v, 3) >= 0, 2).otherwise(0) +
        when(element_at(v, 4) >= 0, 1).otherwise(0)).cast("int")
    requireVecHeadroom(s, d, "dedupEmbed")
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val planted = e.filter(col("vec_id") < 25)
      .withColumn("vec_id", col("vec_id") + lit(10000L))
    val all = e.unionByName(planted).withColumn("bucket", bucketOf(col("v")))
    val a = all.select(col("vec_id").as("id_a"), col("v").as("va"), col("bucket"))
    val b = all.select(col("vec_id").as("id_b"), col("v").as("vb"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", r4(cosine(col("va"), col("vb"))))
      .filter(col("cos") >= 0.95)
      .select("id_a", "id_b", "cos")
      .orderBy("id_a", "id_b")
  }

  private val dedupEmbedSql =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 10000 AS vec_id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings WHERE vec_id < 25),
      |bucketed AS (
      |  SELECT vec_id, v,
      |         (CASE WHEN v[1] >= 0 THEN 8 ELSE 0 END +
      |          CASE WHEN v[2] >= 0 THEN 4 ELSE 0 END +
      |          CASE WHEN v[3] >= 0 THEN 2 ELSE 0 END +
      |          CASE WHEN v[4] >= 0 THEN 1 ELSE 0 END) AS bucket
      |  FROM e)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |       floor(list_cosine_similarity(a.v, b.v) * 10000 + 0.5) / 10000.0 AS cos
      |FROM bucketed a JOIN bucketed b
      |  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      |WHERE floor(list_cosine_similarity(a.v, b.v) * 10000 + 0.5) / 10000.0 >= 0.95
      |ORDER BY id_a, id_b""".stripMargin

  /** IVF-style bucketed ANN: a deterministic coarse quantizer (sign bits of
    * the first 4 dimensions → 16 buckets) prunes candidates before scoring —
    * the shuffle is by bucket, per-bucket work is corpus/16. The same shape
    * as LSH bucketing but exactly reproducible in SQL, so the pruning
    * logic itself is oracle-verified.
    *
    * r10: the inverted lists are READ from the standing
    * [[graft.sources.IvfStore]] layout (quantized once per dataset,
    * hash-bucketed on the list id) — the FAISS-on-disk serving shape;
    * a single-list probe bucket-prunes (IvfSpec). ◆ oracle unchanged.
    */
  private val annIvf: Q = (s, d) => {
    val e = graft.sources.IvfStore.lists(s, d)
      .select("vec_id", "v", "bucket")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("bucket"))
    e.join(q, Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", r3(cosine(col("qv"), col("v"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos"), asc("vec_id"))))
      .filter(col("rank") <= 3)
      .select("q_id", "rank", "vec_id", "bucket", "cos")
      .orderBy("q_id", "rank")
  }

  private val annIvfSql =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |         (CASE WHEN embedding[1] >= 0 THEN 8 ELSE 0 END +
      |          CASE WHEN embedding[2] >= 0 THEN 4 ELSE 0 END +
      |          CASE WHEN embedding[3] >= 0 THEN 2 ELSE 0 END +
      |          CASE WHEN embedding[4] >= 0 THEN 1 ELSE 0 END) AS bucket
      |  FROM embeddings),
      |q AS (SELECT vec_id AS q_id, v AS qv, bucket FROM e WHERE vec_id < 10),
      |scored AS (
      |  SELECT q.q_id, e.vec_id, e.bucket,
      |         floor(list_cosine_similarity(q.qv, e.v) * 1000 + 0.5) / 1000.0 AS cos
      |  FROM q JOIN e ON q.bucket = e.bucket AND e.vec_id <> q.q_id)
      |SELECT q_id, rank, vec_id, bucket, cos
      |FROM (SELECT q_id, vec_id, bucket, cos,
      |             row_number() OVER (PARTITION BY q_id
      |                                ORDER BY cos DESC, vec_id) AS rank
      |      FROM scored)
      |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  /** Multi-probe IVF — the recall knob every production IVF exposes
    * (FAISS `nprobe`): a query inspects its own inverted list PLUS the
    * lists whose code differs by one sign bit (Hamming ≤ 1 → 5 of the
    * 16 lists), catching neighbors that fell just across a quantization
    * boundary — the single-probe [[annIvf]]'s known failure mode. The
    * probe set EXPANDS EXPLICITLY (query × 5 flip masks, an 50-row
    * broadcast) so the candidate fetch stays an EQUI-join on the list
    * id and rides the [[graft.sources.IvfStore]] bucketed layout —
    * never a theta join over the corpus. Per query the candidate pool
    * is 5/16 of the corpus instead of 1/16; the top-3 re-rank is exact
    * cosine as in the single-probe form, and the spec proves dominance:
    * at every rank the multi-probe cosine ≥ the single-probe cosine.
    */
  private val annIvfProbe: Q = (s, d) => {
    val e = graft.sources.IvfStore.lists(s, d)
      .select("vec_id", "v", "bucket")
    val q0 = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("bucket").as("qb"))
    val probes = q0
      .select(col("q_id"), col("qv"), col("qb"),
        explode(array(lit(0), lit(1), lit(2), lit(4), lit(8))).as("flip"))
      .select(col("q_id"), col("qv"),
        col("qb").bitwiseXOR(col("flip")).as("bucket"))
    e.join(broadcast(probes), Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", r3(cosine(col("qv"), col("v"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos"), asc("vec_id"))))
      .filter(col("rank") <= 3)
      .select("q_id", "rank", "vec_id", "bucket", "cos")
      .orderBy("q_id", "rank")
  }

  private val annIvfProbeSql =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |         (CASE WHEN embedding[1] >= 0 THEN 8 ELSE 0 END +
      |          CASE WHEN embedding[2] >= 0 THEN 4 ELSE 0 END +
      |          CASE WHEN embedding[3] >= 0 THEN 2 ELSE 0 END +
      |          CASE WHEN embedding[4] >= 0 THEN 1 ELSE 0 END) AS bucket
      |  FROM embeddings),
      |q AS (SELECT vec_id AS q_id, v AS qv, bucket AS qb FROM e
      |      WHERE vec_id < 10),
      |probes AS (
      |  SELECT q_id, qv, xor(qb, f.flip) AS bucket
      |  FROM q, (SELECT unnest([0, 1, 2, 4, 8]) AS flip) f),
      |scored AS (
      |  SELECT p.q_id, e.vec_id, e.bucket,
      |         floor(list_cosine_similarity(p.qv, e.v) * 1000 + 0.5) / 1000.0
      |           AS cos
      |  FROM probes p JOIN e ON p.bucket = e.bucket AND e.vec_id <> p.q_id)
      |SELECT q_id, rank, vec_id, bucket, cos
      |FROM (SELECT q_id, vec_id, bucket, cos,
      |             row_number() OVER (PARTITION BY q_id
      |                                ORDER BY cos DESC, vec_id) AS rank
      |      FROM scored)
      |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  /** ANN recall audit UNDER THE HASH GATE — the measured-quality edge
    * for the similarity family (`q_dedup_eval`'s treatment applied to
    * retrieval): per query, the brute-force cosine top-5 is ground
    * truth, and the report counts how many of those 5 the sign-
    * quantized IVF finds at nprobe=1 vs nprobe=5 (the Hamming-≤1 probe
    * set of ◆ `q_ann_ivf_probe`). Every side is deterministic, so the
    * whole recall table — not a spec assertion, the TABLE — hash-gates
    * against DuckDB; the nprobe=5 column dominating nprobe=1 is the
    * recall lever made visible per query. Candidate generation is the
    * probed equi-join on the [[graft.sources.IvfStore]] layout; only
    * the 10-query truth side is brute-force (it is the definition).
    */
  private val annRecall: Q = (s, d) => {
    val e = graft.sources.IvfStore.lists(s, d)
      .select("vec_id", "v", "bucket")
    val q0 = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("bucket").as("qb"))
    def top5(cands: org.apache.spark.sql.DataFrame) = cands
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", r3(cosine(col("qv"), col("v"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos"), asc("vec_id"))))
      .filter(col("rank") <= 5)
      .select("q_id", "vec_id")
    val truth = top5(e.crossJoin(broadcast(q0)))
    val p1 = top5(e.join(
      broadcast(q0.withColumn("bucket", col("qb"))), Seq("bucket")))
    val p5 = top5(e.join(
      broadcast(q0.select(col("q_id"), col("qv"), col("qb"),
          explode(array(lit(0), lit(1), lit(2), lit(4), lit(8)))
            .as("flip"))
        .select(col("q_id"), col("qv"),
          col("qb").bitwiseXOR(col("flip")).as("bucket"))),
      Seq("bucket")))
    truth
      .join(p1.withColumn("h1", lit(1L)), Seq("q_id", "vec_id"), "left")
      .join(p5.withColumn("h5", lit(1L)), Seq("q_id", "vec_id"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("h1"), lit(0L))).as("hit_1probe"),
        sum(coalesce(col("h5"), lit(0L))).as("hit_5probe"))
      .select(col("q_id"), col("n_truth"), col("hit_1probe"),
        col("hit_5probe"),
        call_function("div", lit(10000L) * col("hit_1probe"),
          col("n_truth")).as("recall1_bp"),
        call_function("div", lit(10000L) * col("hit_5probe"),
          col("n_truth")).as("recall5_bp"))
      .orderBy("q_id")
  }

  private val annRecallSql =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |         (CASE WHEN embedding[1] >= 0 THEN 8 ELSE 0 END +
      |          CASE WHEN embedding[2] >= 0 THEN 4 ELSE 0 END +
      |          CASE WHEN embedding[3] >= 0 THEN 2 ELSE 0 END +
      |          CASE WHEN embedding[4] >= 0 THEN 1 ELSE 0 END) AS bucket
      |  FROM embeddings),
      |q AS (SELECT vec_id AS q_id, v AS qv, bucket AS qb FROM e
      |      WHERE vec_id < 10),
      |truth AS (
      |  SELECT q_id, vec_id FROM (
      |    SELECT q_id, vec_id,
      |           row_number() OVER (PARTITION BY q_id ORDER BY
      |             floor(list_cosine_similarity(qv, v) * 1000 + 0.5) / 1000.0
      |               DESC, vec_id) AS rank
      |    FROM q, e WHERE vec_id <> q_id)
      |  WHERE rank <= 5),
      |p1 AS (
      |  SELECT q_id, vec_id FROM (
      |    SELECT q_id, vec_id,
      |           row_number() OVER (PARTITION BY q_id ORDER BY
      |             floor(list_cosine_similarity(qv, v) * 1000 + 0.5) / 1000.0
      |               DESC, vec_id) AS rank
      |    FROM q JOIN e ON e.bucket = q.qb AND vec_id <> q_id)
      |  WHERE rank <= 5),
      |probes AS (
      |  SELECT q_id, qv, xor(qb, f.flip) AS bucket
      |  FROM q, (SELECT unnest([0, 1, 2, 4, 8]) AS flip) f),
      |p5 AS (
      |  SELECT q_id, vec_id FROM (
      |    SELECT p.q_id, e.vec_id,
      |           row_number() OVER (PARTITION BY p.q_id ORDER BY
      |             floor(list_cosine_similarity(p.qv, e.v) * 1000 + 0.5) / 1000.0
      |               DESC, e.vec_id) AS rank
      |    FROM probes p JOIN e ON e.bucket = p.bucket AND e.vec_id <> p.q_id)
      |  WHERE rank <= 5)
      |SELECT t.q_id, CAST(count(*) AS BIGINT) AS n_truth,
      |       CAST(SUM(CASE WHEN p1.vec_id IS NOT NULL THEN 1 ELSE 0 END)
      |            AS BIGINT) AS hit_1probe,
      |       CAST(SUM(CASE WHEN p5.vec_id IS NOT NULL THEN 1 ELSE 0 END)
      |            AS BIGINT) AS hit_5probe,
      |       (10000 * CAST(SUM(CASE WHEN p1.vec_id IS NOT NULL THEN 1 ELSE 0
      |                         END) AS BIGINT)) // CAST(count(*) AS BIGINT)
      |         AS recall1_bp,
      |       (10000 * CAST(SUM(CASE WHEN p5.vec_id IS NOT NULL THEN 1 ELSE 0
      |                         END) AS BIGINT)) // CAST(count(*) AS BIGINT)
      |         AS recall5_bp
      |FROM truth t
      |LEFT JOIN p1 ON p1.q_id = t.q_id AND p1.vec_id = t.vec_id
      |LEFT JOIN p5 ON p5.q_id = t.q_id AND p5.vec_id = t.vec_id
      |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin

  /** TRAINED-IVF recall audit under the hash gate — [[annRecall]]'s
    * treatment extended to a LEARNED codebook (r10 verdict item 5).
    * MLlib's seeded k-means‖ fit (`ml_ann_trained`) can never be
    * SQL-replayed, so the gated arm trains the deterministic quantized-
    * Lloyd layout instead ([[graft.sources.IvfStore.trainedDet]]: int64
    * micro-unit arithmetic, k-lowest-id init, 3 exact Lloyd rounds) and
    * probes it at nprobe 1 vs 2 against brute-force cosine truth. The
    * DuckDB oracle replays the IDENTICAL training as chained CTEs —
    * the whole trained retrieval stack, training included, hash-gates.
    */
  private val annRecallTrained: Q = annRecallTrainedWith(1)

  /** ◆ `q_ann_recall_sampled` — the SAME recall audit over the layout
    * whose Lloyd fit ran on the deterministic `vec_id % 3 = 0` THIRD of
    * the corpus (the bounded-sample fit a 100 TB deployment runs), with
    * the full corpus assigned against the published codebook in one
    * broadcast pass. The sample predicate is pure SQL, so the oracle
    * replays the sampled training end-to-end — fit economics change,
    * the gate does not.
    */
  private val annRecallSampled: Q =
    annRecallTrainedWith(graft.sources.IvfStore.SampleEvery)

  private def annRecallTrainedWith(fitEvery: Int): Q = (s, d) => {
    val st = graft.sources.IvfStore.trainedDet(s, d,
      graft.sources.IvfStore.DetK, graft.sources.IvfStore.DetIters, fitEvery)
    val lists = st.lists
    val q0 = lists.filter(col("vec_id") < graft.sources.IvfStore.NQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("q").as("qq"))
    def top5(cands: org.apache.spark.sql.DataFrame) = cands
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", r3(cosine(col("qv"), col("v"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos"), asc("vec_id"))))
      .filter(col("rank") <= 5)
      .select("q_id", "vec_id")
    val truth = top5(lists.select("vec_id", "v")
      .crossJoin(broadcast(q0.select("q_id", "qv"))))
    // rank the k-row codebook per query (broadcast by construction)
    val ranked = q0.crossJoin(broadcast(st.centroids))
      .withColumn("d2", graft.sources.IvfStore.qdist2(col("qq"), col("c")))
      .withColumn("pr", row_number().over(
        Window.partitionBy("q_id").orderBy(asc("d2"), asc("bucket"))))
    def probed(n: Int) = top5(lists.select("vec_id", "v", "bucket").join(
      broadcast(ranked.filter(col("pr") <= n)
        .select("q_id", "qv", "bucket")), Seq("bucket")))
    val p1 = probed(1)
    val p2 = probed(2)
    truth
      .join(p1.withColumn("h1", lit(1L)), Seq("q_id", "vec_id"), "left")
      .join(p2.withColumn("h2", lit(1L)), Seq("q_id", "vec_id"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("h1"), lit(0L))).as("hit_1probe"),
        sum(coalesce(col("h2"), lit(0L))).as("hit_2probe"))
      .select(col("q_id"), col("n_truth"), col("hit_1probe"),
        col("hit_2probe"),
        call_function("div", lit(10000L) * col("hit_1probe"),
          col("n_truth")).as("recall1_bp"),
        call_function("div", lit(10000L) * col("hit_2probe"),
          col("n_truth")).as("recall2_bp"))
      .orderBy("q_id")
  }

  /** The oracle builder, parameterized by the FIT-SAMPLE predicate on
    * vec_id ("TRUE" = train on everything): the `DetIters` Lloyd rounds
    * are unrolled over the sampled positional rows, the published
    * codebook then assigns the FULL corpus (dfin/afin — the one
    * full-corpus pass), and the probes/truth/recall assembly reads
    * afin. All positive int64, so DuckDB's flooring // and Spark's
    * truncating div agree.
    */
  /** The deterministic quantized-Lloyd training chain as oracle CTEs —
    * quantize → `fitPred`-filtered init/fit → `DetIters` rounds → full
    * assignment `afin` (every vec_id's TRAINED bucket). Shared by the
    * trained-recall audits and ◆ `q_cluster_recs_trained`, which serve
    * different views of the same trained layout
    * ([[graft.sources.IvfStore.trainedDet]]).
    */
  private[queries] def detTrainCtesSql(fitPred: String): String = {
    // geometry interpolated from the ONE IvfStore constant group
    // (ADVICE r14): a k/iters change at any Spark call site and this
    // chain can no longer drift apart — both read DetK/DetIters.
    val k = graft.sources.IvfStore.DetK
    val iters = graft.sources.IvfStore.DetIters
    val rounds = (1 to iters).map { i =>
      s"""d$i AS (
         |  SELECT qp.vec_id, cp.bucket,
         |         SUM((qp.val - cp.cval) * (qp.val - cp.cval)) AS d2
         |  FROM qpf qp JOIN cp${i - 1} cp USING (pos) GROUP BY 1, 2),
         |a$i AS (
         |  SELECT vec_id, bucket FROM (
         |    SELECT vec_id, bucket,
         |           row_number() OVER (PARTITION BY vec_id
         |                              ORDER BY d2, bucket) AS rn
         |    FROM d$i) WHERE rn = 1),
         |cp$i AS (
         |  SELECT a.bucket, qp.pos,
         |         CAST(SUM(qp.val) // COUNT(*) AS BIGINT) AS cval
         |  FROM a$i a JOIN qp USING (vec_id) GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    s"""WITH qv AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |         list_transform(CAST(embedding AS DOUBLE[]),
       |           x -> CAST(floor(x * 1000000.0) AS BIGINT) + 1000000) AS q
       |  FROM embeddings),
       |qp AS (
       |  SELECT vec_id, unnest(range(1, len(q) + 1)) AS pos,
       |         unnest(q) AS val
       |  FROM qv),
       |qpf AS (SELECT * FROM qp WHERE $fitPred),
       |init AS (SELECT vec_id FROM qv WHERE $fitPred
       |         ORDER BY vec_id LIMIT $k),
       |c0 AS (SELECT vec_id,
       |              CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
       |                AS bucket
       |       FROM init),
       |cp0 AS (SELECT c0.bucket, qp.pos, qp.val AS cval
       |        FROM c0 JOIN qp USING (vec_id)),
       |$rounds,
       |dfin AS (
       |  SELECT qp.vec_id, cp.bucket,
       |         SUM((qp.val - cp.cval) * (qp.val - cp.cval)) AS d2
       |  FROM qp JOIN cp$iters cp USING (pos) GROUP BY 1, 2),
       |afin AS (
       |  SELECT vec_id, bucket FROM (
       |    SELECT vec_id, bucket,
       |           row_number() OVER (PARTITION BY vec_id
       |                              ORDER BY d2, bucket) AS rn
       |    FROM dfin) WHERE rn = 1)""".stripMargin
  }

  /** The exact integer-d² pair table `x` + truth top-5 as oracle CTEs
    * over the positional rows `qp` — [[graft.sources.IvfStore.exactPairs]]
    * / `top5Exact`'s SQL twin, ONE definition (r16, extending the review
    * r15 III shared-truth discipline to the SQL side: the routing sweep,
    * the composed IVF-PQ oracle, and the IVF-PQ grid each re-stated this
    * pair). Query set = the shared `NQueries` constant.
    */
  private[queries] def exactTruthCtesSql: String = {
    val nq = graft.sources.IvfStore.NQueries
    s"""x AS (
       |  SELECT a.vec_id AS q_id, b.vec_id,
       |         CAST(SUM((a.val - b.val) * (a.val - b.val)) AS BIGINT) AS d2x
       |  FROM (SELECT * FROM qp WHERE vec_id < $nq) a
       |  JOIN qp b ON a.pos = b.pos AND b.vec_id <> a.vec_id
       |  GROUP BY 1, 2),
       |truth AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT q_id, vec_id,
       |           row_number() OVER (PARTITION BY q_id
       |                              ORDER BY d2x, vec_id) AS rank
       |    FROM x) WHERE rank <= 5)""".stripMargin
  }

  /** The trained-IVF probe ranking as oracle CTEs — each query vector's
    * integer d² to every published centroid (`pd`) and the resulting
    * probe order (`pr`, ties → lowest bucket). ONE definition (review
    * r15 III) shared by the trained/sampled recall audits, the routing
    * sweep, and the composed IVF-PQ oracle: a tie-break or query-set
    * tweak in a re-stated copy would silently route the audits to
    * different lists.
    */
  private[queries] def detProbeRankCtesSql: String = {
    val iters = graft.sources.IvfStore.DetIters
    val nq = graft.sources.IvfStore.NQueries
    s"""pd AS (SELECT qp.vec_id AS q_id, cp.bucket,
       |              SUM((qp.val - cp.cval) * (qp.val - cp.cval)) AS d2
       |       FROM qp JOIN cp$iters cp USING (pos)
       |       WHERE qp.vec_id < $nq GROUP BY 1, 2),
       |pr AS (SELECT q_id, bucket,
       |              row_number() OVER (PARTITION BY q_id
       |                                 ORDER BY d2, bucket) AS pr
       |       FROM pd)""".stripMargin
  }

  private def annRecallTrainedSqlFor(fitPred: String): String = {
    val nq = graft.sources.IvfStore.NQueries
    s"""${detTrainCtesSql(fitPred)},
       |qq AS (SELECT vec_id AS q_id, v AS qvec FROM qv WHERE vec_id < $nq),
       |$detProbeRankCtesSql,
       |truth AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT qq.q_id, e.vec_id,
       |           row_number() OVER (PARTITION BY qq.q_id ORDER BY
       |             floor(list_cosine_similarity(qq.qvec, e.v) * 1000 + 0.5)
       |               / 1000.0 DESC, e.vec_id) AS rank
       |    FROM qq, qv e WHERE e.vec_id <> qq.q_id)
       |  WHERE rank <= 5),
       |t1 AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT p.q_id, a.vec_id,
       |           row_number() OVER (PARTITION BY p.q_id ORDER BY
       |             floor(list_cosine_similarity(qq.qvec, e.v) * 1000 + 0.5)
       |               / 1000.0 DESC, a.vec_id) AS rank
       |    FROM pr p JOIN afin a USING (bucket)
       |         JOIN qq ON qq.q_id = p.q_id
       |         JOIN qv e ON e.vec_id = a.vec_id
       |    WHERE p.pr <= 1 AND a.vec_id <> p.q_id)
       |  WHERE rank <= 5),
       |t2 AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT p.q_id, a.vec_id,
       |           row_number() OVER (PARTITION BY p.q_id ORDER BY
       |             floor(list_cosine_similarity(qq.qvec, e.v) * 1000 + 0.5)
       |               / 1000.0 DESC, a.vec_id) AS rank
       |    FROM pr p JOIN afin a USING (bucket)
       |         JOIN qq ON qq.q_id = p.q_id
       |         JOIN qv e ON e.vec_id = a.vec_id
       |    WHERE p.pr <= 2 AND a.vec_id <> p.q_id)
       |  WHERE rank <= 5)
       |SELECT t.q_id, CAST(count(*) AS BIGINT) AS n_truth,
       |       CAST(SUM(CASE WHEN t1.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |            AS BIGINT) AS hit_1probe,
       |       CAST(SUM(CASE WHEN t2.vec_id IS NOT NULL THEN 1 ELSE 0 END)
       |            AS BIGINT) AS hit_2probe,
       |       (10000 * CAST(SUM(CASE WHEN t1.vec_id IS NOT NULL THEN 1 ELSE 0
       |                         END) AS BIGINT)) // CAST(count(*) AS BIGINT)
       |         AS recall1_bp,
       |       (10000 * CAST(SUM(CASE WHEN t2.vec_id IS NOT NULL THEN 1 ELSE 0
       |                         END) AS BIGINT)) // CAST(count(*) AS BIGINT)
       |         AS recall2_bp
       |FROM truth t
       |LEFT JOIN t1 ON t1.q_id = t.q_id AND t1.vec_id = t.vec_id
       |LEFT JOIN t2 ON t2.q_id = t.q_id AND t2.vec_id = t.vec_id
       |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin
  }

  private val annRecallTrainedSql = annRecallTrainedSqlFor("TRUE")
  // same ONE-constant interpolation as the PQ twin (review r14): the
  // Spark knob and the oracle predicate cannot drift independently
  private val annRecallSampledSql = annRecallTrainedSqlFor(
    s"vec_id % ${graft.sources.IvfStore.SampleEvery} = 0")

  /** ◆ `q_ivf_probe_sweep` — the IVF ROUTING knob as a measured curve
    * (r15, completing the knob-sweep pair: ◆ `q_pq_sample_sweep` prices
    * the TRAINING fraction, this prices every SERVED query): recall@5
    * and the scanned-candidate count at every
    * `nprobe ∈ `[[graft.sources.IvfStore.ProbeSweepRates]] off the
    * trained [[graft.sources.IvfStore.trainedDet]] layout, candidates
    * ranked by EXACT integer d² within the probed lists (the probe
    * restricts the scan; scoring inside it is exact — the pure-IVF
    * serving mode, vs the composed ◆ `q_ann_ivfpq`'s ADC). Two
    * THEOREMS anchor the curve where the PQ sweep could only gate
    * measurements: candidate sets NEST in nprobe and anything closer
    * than a global-top-5 member is itself one, so hits are provably
    * non-decreasing; and the `DetK`-probe row scans everything, so its
    * recall is exactly 10000 bp and its candidate count exactly
    * |queries|·(|V|−1). Measured (sf0.01): 40/43/48/50 of 50 truth
    * hits at nprobe 1/2/4/8 while scanning 12/24/51/100% of the corpus
    * — the recall-vs-scan tradeoff a deployment reads to set nprobe.
    *
    * Scale shape (r16): every operating point is a `pr <= nprobe`
    * filter of the session-pinned routing table
    * ([[ScaleQueries.ivfPairPr]] — built once off the trained layout's
    * own bucketing), all four rates' hit rankings ride ONE
    * (nprobe, q_id)-windowed pass, and the exact pair table + truth
    * top-5 are the session-pinned eval artifacts
    * ([[graft.sources.IvfStore.exactPairs]]/[[graft.sources.IvfStore
    * .exactTruth]]). The oracle replays training → routing → per-rate
    * candidate ranking → recall via the shared [[detTrainCtesSql]]
    * chain and ONE grid-joined candidate CTE.
    */
  private val ivfProbeSweep: Q = (s, d) => {
    import graft.sources.IvfStore
    // the ONE exact-truth definition every recall audit shares (review
    // r15 III) and the ONE routing definition (review r16) — both now
    // session-pinned artifacts (r16 optimization round: the sweep
    // re-ran the ranking + four route joins + five checkpoints every
    // sample; every rate is now a `pr <= n` filter of the pinned
    // [[ScaleQueries.ivfPairPr]] table, and all four rates' hit
    // rankings ride ONE grid-joined window)
    val x = IvfStore.exactPairs(s, d)
    val truth = IvfStore.exactTruth(s, d)
    val pairPr = ScaleQueries.ivfPairPr(s, d)
    val probeGrid = s.range(0L, IvfStore.ProbeSweepRates.size.toLong)
      .select(element_at(
        array(IvfStore.ProbeSweepRates.map(lit): _*),
        (col("id") + 1L).cast("int")).as("nprobe"))
    val candsAll = pairPr.join(broadcast(probeGrid),
      col("pr") <= col("nprobe"))
    val nCand = candsAll.groupBy("nprobe").agg(count(lit(1)).as("n_cand"))
    val hit5 = broadcast(candsAll.select("nprobe", "q_id", "vec_id"))
      .join(x, Seq("q_id", "vec_id"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("nprobe", "q_id").orderBy(asc("d2x"), asc("vec_id"))))
      .filter(col("rank") <= 5)
      .select("nprobe", "q_id", "vec_id")
    truth.crossJoin(broadcast(probeGrid))
      .join(broadcast(hit5.withColumn("h", lit(1L))),
        Seq("nprobe", "q_id", "vec_id"), "left")
      .groupBy("nprobe")
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("h"), lit(0L))).as("hit"))
      .join(broadcast(nCand), Seq("nprobe"), "left")
      .select(col("nprobe"), coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        col("n_truth"), col("hit"),
        call_function("div", lit(10000L) * col("hit"), col("n_truth"))
          .as("recall_bp"))
      .orderBy("nprobe")
  }

  private def ivfProbeSweepSql: String = {
    val rates = graft.sources.IvfStore.ProbeSweepRates
    val hits = rates.map { n =>
      s"""hit$n AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT c.q_id, c.vec_id,
         |           row_number() OVER (PARTITION BY c.q_id
         |                              ORDER BY x.d2x, c.vec_id) AS rank
         |    FROM gcands c JOIN x ON x.q_id = c.q_id AND x.vec_id = c.vec_id
         |    WHERE c.pr_lim = $n) WHERE rank <= 5)""".stripMargin
    }.mkString(",\n")
    val rows = rates.map { n =>
      s"""(SELECT CAST($n AS INT) AS nprobe,
         |       CAST((SELECT count(*) FROM gcands WHERE pr_lim = $n)
         |            AS BIGINT) AS n_cand,
         |       CAST(count(*) AS BIGINT) AS n_truth,
         |       CAST(SUM(CASE WHEN h.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |            AS BIGINT) AS hit,
         |       (10000 * CAST(SUM(CASE WHEN h.vec_id IS NOT NULL THEN 1
         |                         ELSE 0 END) AS BIGINT))
         |         // CAST(count(*) AS BIGINT) AS recall_bp
         |FROM truth t
         |LEFT JOIN hit$n h ON h.q_id = t.q_id AND h.vec_id = t.vec_id)""".stripMargin
    }.mkString("\nUNION ALL\n")
    // grid + gcands: the ONE shared routing-candidates text (review
    // r16 — previously a re-stated copy under the name `cands`)
    s"""${detTrainCtesSql("TRUE")},
       |$exactTruthCtesSql,
       |$detProbeRankCtesSql,
       |${ScaleQueries.composedCandsCtesSql(rates)},
       |$hits
       |$rows
       |ORDER BY nprobe""".stripMargin
  }

  /** ◆ `q_cluster_recs_trained` — the cluster-REC ranking under a
    * TRAINED codebook (r13 verdict stretch, closing the last model
    * family's serving gap): `ml_cluster_recs` is the MLlib KMeans row
    * (rows-only — the seeded k-means‖ fit is not SQL-replayable) and
    * ◆ `ml_cluster_serve` gates same-cluster popularity top-3 under
    * PINNED centroids; this twin serves the identical ranking off the
    * quantized-Lloyd TRAINED layout
    * ([[graft.sources.IvfStore.trainedDet]], the ◆ `q_ann_recall_trained`
    * artifact, k = 8), so the recommendation a user receives is
    * hash-gated under trained cluster assignments end to end
    * (reference semantics: src/app.py:267-299). Popularity is the
    * family's deterministic md5-mod-1000 stand-in, the
    * `ml_cluster_serve` convention.
    *
    * Scale: the trained lists are the maintained store layout (written
    * bucketed on the learned list id — the serving scan, not a re-fit);
    * pop is a map-side expression; the per-cluster top-3 is a
    * rank-limited window (WindowGroupLimit below the shuffle). The
    * oracle replays training → assignment → ranking via the shared
    * [[detTrainCtesSql]] chain.
    */
  private val clusterRecsTrained: Q = (s, d) => {
    val st = graft.sources.IvfStore.trainedDet(s, d,
      graft.sources.IvfStore.DetK, graft.sources.IvfStore.DetIters, 1)
    st.lists.select(col("vec_id"), col("bucket").cast("int").as("cluster"))
      .withColumn("pop",
        pmod(Hashing.md5Long(col("vec_id").cast("string")), lit(1000L)))
      .withColumn("rank", row_number().over(
        Window.partitionBy("cluster").orderBy(desc("pop"), asc("vec_id"))))
      .filter(col("rank") <= 3)
      .select("cluster", "rank", "vec_id", "pop")
      .orderBy("cluster", "rank")
  }

  private val clusterRecsTrainedSql =
    s"""${detTrainCtesSql("TRUE")},
       |p AS (
       |  SELECT vec_id, CAST(bucket AS INT) AS cluster,
       |         ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
       |           % 1000 AS pop
       |  FROM afin)
       |SELECT cluster, rank, vec_id, pop
       |FROM (SELECT cluster, vec_id, pop,
       |             row_number() OVER (PARTITION BY cluster
       |                                ORDER BY pop DESC, vec_id) AS rank
       |      FROM p)
       |WHERE rank <= 3
       |ORDER BY cluster, rank""".stripMargin

  /** kNN label-vote probe — the standard embedding-quality audit: predict
    * each query vector's label by majority vote of its 5 cosine neighbors
    * and report per-label accuracy (on uniform-random synthetic vectors
    * this sits at chance; the point is the audit artifact, produced at
    * scale without an all-pairs join). Same shape as [[embedCosineTopk]]:
    * the query set broadcasts, scoring is map-side over corpus partitions,
    * and everything after the per-query top-5 operates on ≤ 5·|queries|
    * rows. Vote ties break deterministically (max count, then min label).
    */
  private val knnLabel: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        col("label"))
    val q = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("label").as("true_label"))
    val top5 = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", r3(cosine(col("qv"), col("v"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos"), asc("vec_id"))))
      .filter(col("rank") <= 5)
    val pred = top5.groupBy("q_id", "true_label", "label")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("vr", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cnt"), asc("label"))))
      .filter(col("vr") === 1)
      .select(col("q_id"), col("true_label"), col("label").as("pred_label"))
    pred.groupBy("true_label")
      .agg(count(lit(1)).as("n_queries"),
        sum((col("pred_label") === col("true_label")).cast("long")).as("n_correct"))
      .withColumn("acc", r4(col("n_correct").cast("double") / col("n_queries")))
      .orderBy("true_label")
  }

  private val knnLabelSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
      |q AS (SELECT vec_id AS q_id, v AS qv, label AS true_label FROM e WHERE vec_id < 50),
      |scored AS (
      |  SELECT q_id, true_label, e.vec_id, e.label,
      |         floor(list_cosine_similarity(qv, v) * 1000 + 0.5) / 1000.0 AS cos
      |  FROM q, e WHERE e.vec_id <> q_id),
      |top5 AS (
      |  SELECT q_id, true_label, label
      |  FROM (SELECT q_id, true_label, label,
      |               row_number() OVER (PARTITION BY q_id
      |                                  ORDER BY cos DESC, vec_id) AS rank
      |        FROM scored)
      |  WHERE rank <= 5),
      |votes AS (SELECT q_id, true_label, label, count(*) AS cnt
      |          FROM top5 GROUP BY q_id, true_label, label),
      |pred AS (
      |  SELECT q_id, true_label, label AS pred_label
      |  FROM (SELECT q_id, true_label, label, cnt,
      |               row_number() OVER (PARTITION BY q_id
      |                                  ORDER BY cnt DESC, label) AS vr
      |        FROM votes)
      |  WHERE vr = 1)
      |SELECT true_label, count(*) AS n_queries,
      |       CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
      |       floor(CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS DOUBLE) /
      |             count(*) * 10000 + 0.5) / 10000.0 AS acc
      |FROM pred GROUP BY true_label ORDER BY true_label""".stripMargin

  /** Trained-codebook IVF ANN — the scale path [[annIvf]]'s scaladoc
    * promises: a KMeans codebook (seed 42, the corpus-trained twin of
    * FAISS's IVF coarse quantizer) replaces the fixed sign-bit quantizer,
    * and queries probe their `nprobe` NEAREST centroids instead of exactly
    * one bucket — the recall lever real IVF deployments turn.
    *
    * Plan shape at 100 TB: one KMeans fit (sampled in practice), one
    * map-side assignment pass, shuffle-by-bucket; each query scores
    * ~nprobe/k of the corpus. The centroid table is k rows — broadcast by
    * construction. Not SQL-expressible (iterative fit), so driver-checked
    * rows-only; the REAL gate is the recall@k property test vs the
    * brute-force ground truth in MLQueriesSpec — recall ≥ 0.9 at nprobe 2
    * on a corpus WITH cluster structure (IVF's contract presumes locality;
    * on a uniform-random corpus like the synthetic `embeddings` table NO
    * quantizer beats ~nprobe/k coverage, so there the gate is
    * nprobe-monotonicity + full-probe ≡ brute force vs [[embedCosineTopk]]).
    */
  def annTrainedOn(embeddings: org.apache.spark.sql.DataFrame, numQueries: Int,
      k: Int, nprobe: Int, topK: Int): org.apache.spark.sql.DataFrame = {
    val s = embeddings.sparkSession
    import s.implicits._
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    // L2-normalize first: on the unit sphere euclidean cells ARE cosine
    // neighborhoods (‖a−b‖² = 2−2·cosθ), so the euclidean KMeans codebook
    // partitions by the metric we search with — clustering raw magnitudes
    // would split cosine-near vectors across cells. Cosine then reduces to
    // a plain dot product (no per-pair sqrt).
    val e = embeddings
      .select(col("vec_id"), col("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .withColumn("vn", transform(col("v"), x => x / col("nrm")))
      .select("vec_id", "vn")
    val feat = e.withColumn("features", array_to_vector(col("vn")))
    val km = new KMeans().setK(k).setSeed(42).setMaxIter(20)
      .setFeaturesCol("features").fit(feat)
    val assigned = km.transform(feat)
      .select(col("vec_id"), col("vn"), col("prediction").as("bucket"))
    val cents = km.clusterCenters.toSeq.map(_.toArray).zipWithIndex
      .map { case (c, i) => (i, c) }.toDF("bucket", "cv")
    // nprobe nearest centroids per query by squared euclidean distance;
    // ||q||² is constant per query so d² ranks equal to (||c||² - 2·q·c)
    val probes = assigned.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("vn").as("qv"))
      .crossJoin(broadcast(cents))
      .withColumn("d2", dot(col("cv"), col("cv")) - lit(2.0) * dot(col("qv"), col("cv")))
      .withColumn("pr", row_number().over(
        Window.partitionBy("q_id").orderBy(asc("d2"), asc("bucket"))))
      .filter(col("pr") <= nprobe)
      .select("q_id", "qv", "bucket")
    probes.join(assigned, Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", Num.roundAt(dot(col("qv"), col("vn")), 3))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos"), asc("vec_id"))))
      .filter(col("rank") <= topK)
      .select("q_id", "rank", "vec_id", "cos")
      .orderBy("q_id", "rank")
  }

  def annTrained(s: org.apache.spark.sql.SparkSession, d: String,
      k: Int = 16, nprobe: Int = 2, topK: Int = 5): org.apache.spark.sql.DataFrame =
    annTrainedOn(
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
      numQueries = 10, k = k, nprobe = nprobe, topK = topK)

  /** The registry entry reads the STANDING trained layout
    * ([[graft.sources.IvfStore.trained]] — fit once per dataset,
    * assignments bucketed on the learned list id, codebook beside
    * them) and runs the same nprobe=2 / top-5 probe the library path
    * [[annTrainedOn]] computes in one piece; MLQueriesSpec's recall
    * gates stay on the library path, IvfSpec pins the store's
    * nearest-centroid invariant, and the probe here is the serving
    * shape: rank the broadcast codebook, equi-join the probed lists.
    */
  private val annTrainedQ: Q = (s, d) => {
    val st = graft.sources.IvfStore.trained(s, d, 16)
    val assigned = st.lists
    val probes = assigned.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("vn").as("qv"))
      .crossJoin(broadcast(st.centroids))
      .withColumn("d2", dot(col("cv"), col("cv")) -
        lit(2.0) * dot(col("qv"), col("cv")))
      .withColumn("pr", row_number().over(
        Window.partitionBy("q_id").orderBy(asc("d2"), asc("bucket"))))
      .filter(col("pr") <= 2)
      .select("q_id", "qv", "bucket")
    probes.join(assigned, Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", Num.roundAt(dot(col("qv"), col("vn")), 3))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos"), asc("vec_id"))))
      .filter(col("rank") <= 5)
      .select("q_id", "rank", "vec_id", "cos")
      .orderBy("q_id", "rank")
  }

  /** Language-ID by stopword-hit voting (n-gram heuristic): tokens join a
    * tiny broadcast stopword dim, argmax per doc with deterministic ties,
    * reported as a lang×prediction confusion matrix. The matrix is ONE
    * definition ([[langConfusion]]) shared with ◆ `q_eval_langid`.
    */
  private def langConfusion(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sw = Seq(
      ("en", "the"), ("en", "and"), ("en", "of"), ("en", "to"), ("en", "in"),
      ("es", "el"), ("es", "la"), ("es", "de"), ("es", "que"), ("es", "y"),
      ("fr", "le"), ("fr", "la"), ("fr", "et"), ("fr", "les"), ("fr", "des"),
      ("de", "der"), ("de", "die"), ("de", "und"), ("de", "das"), ("de", "ist"),
      ("zh", "de"), ("zh", "shi"), ("zh", "le"), ("zh", "wo"), ("zh", "ni"))
      .toDF("cand", "sw")
    val docs = Tables.documents(s, d)
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val pred = toks.join(broadcast(sw), col("w") === col("sw"))
      .groupBy("doc_id", "cand")
      .agg(count(lit(1)).as("hits"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(desc("hits"), asc("cand"))))
      .filter(col("rn") === 1)
      .select("doc_id", "cand")
    docs.join(pred, Seq("doc_id"), "left")
      .withColumn("pred", coalesce(col("cand"), lit("unknown")))
      .groupBy("lang", "pred")
      .agg(count(lit(1)).as("cnt"))
  }

  private val langId: Q = (s, d) => langConfusion(s, d).orderBy("lang", "pred")

  /** The confusion-matrix CTE chain — one text shared by `q_lang_id` and
    * `q_eval_langid`, mirroring [[langConfusion]].
    */
  private val langCmCtes =
    """WITH sw(cand, sw) AS (VALUES
      |  ('en','the'),('en','and'),('en','of'),('en','to'),('en','in'),
      |  ('es','el'),('es','la'),('es','de'),('es','que'),('es','y'),
      |  ('fr','le'),('fr','la'),('fr','et'),('fr','les'),('fr','des'),
      |  ('de','der'),('de','die'),('de','und'),('de','das'),('de','ist'),
      |  ('zh','de'),('zh','shi'),('zh','le'),('zh','wo'),('zh','ni')),
      |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |p AS (
      |  SELECT doc_id, cand
      |  FROM (SELECT doc_id, cand, count(*) AS hits,
      |               row_number() OVER (PARTITION BY doc_id
      |                                  ORDER BY count(*) DESC, cand) AS rn
      |        FROM toks JOIN sw ON w = sw.sw GROUP BY doc_id, cand)
      |  WHERE rn = 1),
      |cm AS (
      |  SELECT lang, coalesce(cand, 'unknown') AS pred, CAST(count(*) AS BIGINT) AS cnt
      |  FROM documents LEFT JOIN p USING (doc_id)
      |  GROUP BY lang, coalesce(cand, 'unknown'))""".stripMargin

  private val langIdSql =
    langCmCtes + "\nSELECT lang, pred, cnt FROM cm ORDER BY lang, pred"

  /** Classifier evaluation over the shared confusion matrix — the label-
    * quality audit a training-data pipeline runs on every heuristic
    * labeler (here the stopword lang-ID vs the stored `lang`): per-class
    * tp/fp/fn/support with floor-rounded precision/recall/F1, plus
    * global accuracy and Cohen's kappa carried on every row. Kappa
    * follows the PMI/chi² determinism discipline: it is the EXACT
    * integer rational (N·trace − Σ_c row_c·col_c) / (N² − Σ_c row_c·col_c)
    * — chance-corrected agreement with both numerator and denominator
    * emitted as exact longs next to the rounded quotient, so the hash
    * gate holds on the integers even if a future engine rounds the
    * division differently. All inputs are partial+final counts over the
    * |classes|² matrix; every post-matrix frame is ≤ |classes| rows
    * (broadcast), so the eval costs one pass over predictions however
    * large the corpus. Long arithmetic holds to ~3·10⁹ docs (N² in a
    * long); past that the num/den pair moves to DECIMAL(38,0) — same
    * expressions, wider type.
    */
  private val evalLangId: Q = (s, d) => {
    val cm = langConfusion(s, d)
    val tot = cm.agg(sum("cnt").as("n"),
      sum(when(col("lang") === col("pred"), col("cnt")).otherwise(lit(0L)))
        .as("trace"))
    val rowT = cm.groupBy("lang").agg(sum("cnt").as("row_n"))
    val colT = cm.groupBy("pred").agg(sum("cnt").as("col_n"))
    val peNum = rowT.join(colT, rowT("lang") === colT("pred"))
      .agg(coalesce(sum(col("row_n") * col("col_n")), lit(0L)).as("pe_num"))
    val tp = cm.filter(col("lang") === col("pred"))
      .select(col("lang").as("cls"), col("cnt").as("tp"))
    val perClass = rowT.select(col("lang").as("cls"), col("row_n"))
      .join(tp, Seq("cls"), "left")
      .join(colT.select(col("pred").as("cls"), col("col_n")), Seq("cls"), "left")
      .na.fill(0L, Seq("tp", "col_n"))
    val kNum = col("n") * col("trace") - col("pe_num")
    val kDen = col("n") * col("n") - col("pe_num")
    val p = when(col("col_n") === 0, lit(null).cast("double"))
      .otherwise(Num.round4(col("tp").cast("double") / col("col_n")))
    val r = Num.round4(col("tp").cast("double") / col("row_n"))
    perClass.crossJoin(broadcast(tot)).crossJoin(broadcast(peNum))
      .select(col("cls"), col("tp"),
        (col("col_n") - col("tp")).as("fp"),
        (col("row_n") - col("tp")).as("fn"),
        col("row_n").as("support"),
        p.as("prec"), r.as("rec"),
        col("n"), col("trace"), kNum.as("kappa_num"), kDen.as("kappa_den"))
      .withColumn("f1",
        when(col("prec").isNull || (col("prec") + col("rec")) === 0.0,
          lit(null).cast("double"))
          .otherwise(Num.round4(
            lit(2.0) * col("prec") * col("rec") / (col("prec") + col("rec")))))
      .withColumn("accuracy",
        Num.round4(col("trace").cast("double") / col("n")))
      .withColumn("kappa",
        when(col("kappa_den") === 0, lit(null).cast("double"))
          .otherwise(Num.round4(
            col("kappa_num").cast("double") / col("kappa_den"))))
      .select("cls", "tp", "fp", "fn", "support", "prec", "rec", "f1",
        "accuracy", "kappa_num", "kappa_den", "kappa")
      .orderBy("cls")
  }

  private val evalLangIdSql =
    langCmCtes + """,
      |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n,
      |               CAST(SUM(CASE WHEN lang = pred THEN cnt ELSE 0 END) AS BIGINT) AS trace
      |        FROM cm),
      |rt AS (SELECT lang AS cls, CAST(SUM(cnt) AS BIGINT) AS row_n FROM cm GROUP BY lang),
      |ct AS (SELECT pred AS cls, CAST(SUM(cnt) AS BIGINT) AS col_n FROM cm GROUP BY pred),
      |pe AS (SELECT CAST(coalesce(SUM(row_n * col_n), 0) AS BIGINT) AS pe_num
      |       FROM rt JOIN ct USING (cls)),
      |tpx AS (SELECT lang AS cls, CAST(SUM(cnt) AS BIGINT) AS tp
      |        FROM cm WHERE lang = pred GROUP BY lang),
      |base AS (
      |  SELECT rt.cls, coalesce(tp, 0) AS tp, coalesce(col_n, 0) AS col_n, row_n,
      |         n, trace, n * trace - pe_num AS kappa_num, n * n - pe_num AS kappa_den
      |  FROM rt LEFT JOIN tpx USING (cls) LEFT JOIN ct USING (cls), tot, pe),
      |rounded AS (
      |  SELECT cls, tp, col_n - tp AS fp, row_n - tp AS fn, row_n AS support,
      |         CASE WHEN col_n = 0 THEN NULL
      |              ELSE floor(CAST(tp AS DOUBLE) / col_n * 10000 + 0.5) / 10000.0 END AS prec,
      |         floor(CAST(tp AS DOUBLE) / row_n * 10000 + 0.5) / 10000.0 AS rec,
      |         n, trace, kappa_num, kappa_den
      |  FROM base)
      |SELECT cls, tp, fp, fn, support, prec, rec,
      |       CASE WHEN prec IS NULL OR prec + rec = 0.0 THEN NULL
      |            ELSE floor(2.0 * prec * rec / (prec + rec) * 10000 + 0.5) / 10000.0 END AS f1,
      |       floor(CAST(trace AS DOUBLE) / n * 10000 + 0.5) / 10000.0 AS accuracy,
      |       kappa_num, kappa_den,
      |       CASE WHEN kappa_den = 0 THEN NULL
      |            ELSE floor(CAST(kappa_num AS DOUBLE) / kappa_den * 10000 + 0.5) / 10000.0 END AS kappa
      |FROM rounded ORDER BY cls""".stripMargin

  /** Quality scoring: length / word-shape / stopword-ratio heuristics
    * composed into one score — all row-local expressions, fully pushed into
    * the scan's codegen stage.
    */
  private val qualityScore: Q = (s, d) =>
    // Num.round4 (floor(x·1e4 + 0.5)), not round(x, 4): Spark's round is
    // decimal-exact HALF_UP on the double's full expansion while DuckDB's
    // multiplies and std::rounds — at a half-way score the two can split
    // (caught by the r11 sf0.1 sweep: one doc scored 0.2538 vs 0.2537).
    // The floor form runs the IDENTICAL IEEE ops on both engines.
    Tables.documents(s, d)
      .withColumn("n_words", size(split(col("text"), " ")))
      .withColumn("awl",
        Num.round4(length(translate(col("text"), " ", "")) / col("n_words").cast("double")))
      .withColumn("stop_hits",
        expr("size(filter(split(text, ' '), w -> array_contains(array('the','a','of','and','to'), w)))"))
      .withColumn("score",
        Num.round4(
          least(lit(1.0), col("n_words") / lit(50.0)) * lit(0.5) +
            least(lit(1.0), col("awl") / lit(8.0)) * lit(0.3) +
            col("stop_hits") / col("n_words").cast("double") * lit(0.2)))
      .select("doc_id", "n_words", "awl", "stop_hits", "score")
      .orderBy("doc_id")

  private val qualityScoreSql =
    """WITH x AS (
      |  SELECT doc_id,
      |         CAST(len(string_split(text, ' ')) AS INT) AS n_words,
      |         floor(strlen(replace(text, ' ', '')) /
      |               CAST(len(string_split(text, ' ')) AS DOUBLE)
      |               * 10000 + 0.5) / 10000.0 AS awl,
      |         CAST(len(list_filter(string_split(text, ' '),
      |              w -> list_contains(['the','a','of','and','to'], w))) AS INT) AS stop_hits
      |  FROM documents)
      |SELECT doc_id, n_words, awl, stop_hits,
      |       floor((least(CAST(1.0 AS DOUBLE), n_words / CAST(50.0 AS DOUBLE)) * 0.5 +
      |              least(CAST(1.0 AS DOUBLE), awl / CAST(8.0 AS DOUBLE)) * 0.3 +
      |              stop_hits / CAST(n_words AS DOUBLE) * 0.2) * 10000 + 0.5)
      |         / 10000.0 AS score
      |FROM x ORDER BY doc_id""".stripMargin

  /** Token counting per lang: whitespace tokens + a regex token class
    * (BPE-ish `[a-z]+` word pieces), aggregated map-side.
    */
  private val tokenCount: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("n_ws", size(split(col("text"), " ")))
      .withColumn("n_alpha", expr("size(regexp_extract_all(text, '[a-z]+', 0))"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("docs"),
        sum("n_ws").as("sum_ws"),
        sum("n_alpha").as("sum_alpha"),
        Num.roundAt(sum("n_ws") / count(lit(1)).cast("double"), 2).as("avg_ws"))
      .orderBy("lang")

  private val tokenCountSql =
    """SELECT lang, count(*) AS docs,
      |       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_ws,
      |       CAST(SUM(len(regexp_extract_all(text, '[a-z]+'))) AS BIGINT) AS sum_alpha,
      |       floor((CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / count(*)) * 100 + 0.5) / 100.0 AS avg_ws
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Document fingerprinting: rolling 3-gram window → per-gram hash → min
    * (winnowing-style). One scan, no shuffle before the final order.
    */
  private val fingerprint: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("ws", split(col("text"), " "))
      // short-doc guard (the r14 sweep of ADVICE r13's finding): < 3
      // words → empty gram list (fp null, n_grams 0), matching the
      // DuckDB twin's empty range() — not a descending sequence
      // indexing ws[-1]
      .withColumn("grams", when(size(col("ws")) >= 3,
        expr("transform(sequence(0, size(ws) - 3), i -> concat(ws[i], ' ', ws[i+1], ' ', ws[i+2]))"))
        .otherwise(expr("array()").cast("array<string>")))
      .withColumn("fp",
        expr("array_min(transform(grams, g -> cast(conv(substring(md5(g), 1, 8), 16, 10) as bigint)))"))
      .select(col("doc_id"), col("fp"), size(col("grams")).as("n_grams"))
      .orderBy("doc_id")

  private val fingerprintSql =
    """SELECT doc_id,
      |       list_min(list_transform(grams, g -> ('0x' || substr(md5(g), 1, 8))::BIGINT)) AS fp,
      |       CAST(len(grams) AS INT) AS n_grams
      |FROM (SELECT doc_id,
      |             list_transform(range(1, len(ws) - 1),
      |                            i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS grams
      |      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
      |ORDER BY doc_id""".stripMargin

  /** Context-window chunking: every doc split into fixed 64-token windows
    * at stride 48 (16-token overlap) — the standard pretraining / retrieval
    * preprocessing step, and the structural complement of
    * `q_pack_sequences` (chunking cuts long docs down to a context budget;
    * packing bins short ones up to it). Chunk starts are every strided
    * offset below the doc's token count, so the tail window may be short —
    * deterministic and identical under any partitioning because the whole
    * operator is a row-local explode: one scan, no shuffle before the
    * presentation sort, and at 100 TB it runs at scan parallelism.
    */
  private val chunkSplit: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("ws", split(col("text"), " "))
      .withColumn("n", size(col("ws")))
      .select(col("doc_id"), col("ws"), col("n"),
        posexplode(expr("sequence(0, n - 1, 48)")).as(Seq("chunk_idx", "start_tok")))
      .select(
        col("doc_id"), col("chunk_idx"), col("start_tok"),
        least(lit(64), col("n") - col("start_tok")).as("n_tok"),
        element_at(col("ws"), col("start_tok") + 1).as("first_tok"))
      .orderBy("doc_id", "chunk_idx")

  private val chunkSplitSql =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws,
      |         len(string_split(text, ' ')) AS n
      |  FROM documents),
      |c AS (SELECT doc_id, ws, n, unnest(range(0, n, 48)) AS start_tok FROM t)
      |SELECT doc_id,
      |       CAST(start_tok // 48 AS INT) AS chunk_idx,
      |       CAST(start_tok AS INT) AS start_tok,
      |       CAST(least(64, n - start_tok) AS INT) AS n_tok,
      |       ws[CAST(start_tok + 1 AS INT)] AS first_tok
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  /** Connected components over the near-dup pair graph — the stage every
    * 100 TB dedup pipeline ends with: pairwise matches (from Jaccard/LSH)
    * are only EDGES; the unit of deduplication is the transitive-closure
    * GROUP, whose canonical member (min doc_id) survives. Classic min-label
    * propagation: every node starts labeled with its own id, each round
    * every node takes the min of its own and its neighbors' labels, until
    * fixpoint — converges in O(component diameter) rounds (near-dup
    * clusters are shallow; large-star/small-star is the O(log n) variant
    * for adversarial graphs).
    *
    * Scale shape: each round is one shuffle (edge join + min-aggregate);
    * the driver loop only counts CHANGED labels per round (a scalar probe,
    * the standard Pregel-style convergence check — never collects labels).
    * `localCheckpoint` cuts lineage each round so the plan doesn't grow
    * exponentially; on a real cluster this is `checkpoint` to reliable
    * storage.
    */
  /** Min-label propagation to fixpoint over symmetric `(doc_a, doc_b)`
    * edges; one shuffle per round, scalar-only convergence probe, lineage
    * cut per round (`localCheckpoint`; on a real cluster, `checkpoint`).
    */
  private[graft] def propagateMinLabels(edges: org.apache.spark.sql.DataFrame,
      maxIter: Int): org.apache.spark.sql.DataFrame = {
    var labels = edges.select(col("doc_a").as("doc_id")).distinct()
      .withColumn("lbl", col("doc_id"))
      .ckpt()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val fromNeighbors = edges
        .join(labels.select(col("doc_id").as("doc_b"), col("lbl")), "doc_b")
        .select(col("doc_a").as("doc_id"), col("lbl"))
      val next = labels.union(fromNeighbors)
        .groupBy("doc_id").agg(min("lbl").as("lbl"))
        .ckpt()
      val changed = next
        .join(labels.withColumnRenamed("lbl", "prev"), "doc_id")
        .filter(col("lbl") =!= col("prev")).count()
      graft.ops.Ck.free(labels) // round k−1 superseded (next is eager)
      labels = next
      converged = changed == 0L
      i += 1
    }
    // Unconverged labels are WRONG labels (a longer path existed) — fail
    // loudly rather than return them; contraction-first keeps diameters
    // tiny, so hitting this means the caller under-sized maxIter.
    require(converged,
      s"min-label propagation did not reach fixpoint within $maxIter rounds")
    labels
  }

  /** Driver-side union-find over a BOUNDED edge list (the contracted
    * graph only — never raw pairs), node → component-min for every node
    * present. Union always attaches the larger root under the smaller, so
    * a set's root IS its minimum and no second pass is needed. Edges
    * arrive as two PRIMITIVE long arrays, not boxed tuples — at the 1M-edge
    * cap that is 16 MB retained instead of hundreds of MB of tuple rows.
    */
  private def unionFindLocal(as: Array[Long], bs: Array[Long]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x0: Long): Long = {
      var root = x0
      while (parent.getOrElse(root, root) != root) root = parent(root)
      var x = x0
      while (x != root) { val nxt = parent(x); parent.update(x, root); x = nxt }
      root
    }
    var i = 0
    while (i < as.length) {
      val ra = find(as(i)); val rb = find(bs(i))
      if (ra < rb) parent.update(rb, ra)
      else if (rb < ra) parent.update(ra, rb)
      i += 1
    }
    val nodes = scala.collection.mutable.SortedSet.empty[Long]
    nodes ++= as; nodes ++= bs
    nodes.toSeq.map(n => n -> find(n))
  }

  /** Connected components from an explicit `(doc_a, doc_b)` match-pair
    * list — the closure stage on its own, so the 100 TB composition is
    * `componentsFromPairs(minhash candidates → jaccardVerify filter)`:
    * sub-quadratic discovery feeding the same closure the exact query uses.
    *
    * Contraction first: near-dup components are near-cliques, so one
    * min-over-neighbors aggregation collapses most of the graph, and the
    * full edge list is touched exactly twice (level-1 labels + relabel)
    * instead of once per propagation round. The closure then runs on the
    * CONTRACTED graph — nodes = distinct level-1 labels, a vanishing
    * fraction of the corpus: bounded driver union-find when it fits
    * (scheduler round-trips dwarf the work at that size), the distributed
    * min-label loop when it doesn't.
    */
  def componentsFromPairs(pairsIn: org.apache.spark.sql.DataFrame,
      maxIter: Int = 20): org.apache.spark.sql.DataFrame = {
    // Checkpoint the PAIRS, not the symmetrized union: a union's branches
    // are evaluated independently, so checkpointing downstream of it would
    // run the whole pair-scoring subtree twice.
    val pairs = pairsIn.select("doc_a", "doc_b").ckpt()
    val sym = pairs.union(
      pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    val l1 = sym.groupBy(col("doc_a").as("doc_id"))
      .agg(min("doc_b").as("nmin"))
      .select(col("doc_id"), least(col("doc_id"), col("nmin")).as("lbl"))
      .ckpt()
    val contractedWide = sym
      .join(l1.select(col("doc_id").as("doc_a"), col("lbl").as("la")), "doc_a")
      .join(l1.select(col("doc_id").as("doc_b"), col("lbl").as("lb")), "doc_b")
      .filter(col("la") =!= col("lb"))
      .select(col("la").as("doc_a"), col("lb").as("doc_b"))
      .distinct()
    // The contracted graph is a vanishing fraction of the input (near-dup
    // components are near-cliques: sf0.1 collapses 2.29M pairs to ~1.6k
    // contracted edges). Below a hard cap that is a DRIVER-sized problem:
    // one bounded collect + array union-find replaces the whole
    // propagation loop (each distributed round costs 2+ scheduler
    // round-trips that dwarf the actual work at this size). The cap is 1M
    // edges: retained state is two primitive long arrays (16 MB) — the
    // transient collected row batch, not the union-find, is what actually
    // bounds driver heap. Cap probe and edge fetch are ONE bounded
    // `limit(cap+1)` action (a separate count() + collect() evaluated the
    // join twice or forced a checkpoint). Over the cap — an adversarially
    // deep/huge graph — the distributed loop still runs, on its own
    // checkpoint.
    val cap = 1000000
    val rows = contractedWide.limit(cap + 1).collect()
    val compact =
      if (rows.length <= cap) {
        val spark = pairsIn.sparkSession
        import spark.implicits._
        val as = new Array[Long](rows.length)
        val bs = new Array[Long](rows.length)
        var i = 0
        while (i < rows.length) {
          as(i) = rows(i).getLong(0); bs(i) = rows(i).getLong(1); i += 1
        }
        unionFindLocal(as, bs).toDF("lbl", "component")
      } else {
        propagateMinLabels(contractedWide.ckpt(), maxIter)
          .select(col("doc_id").as("lbl"), col("lbl").as("component"))
      }
    // Expand: level-1 labels that were already component minima have no
    // contracted-graph row — their own label is the component id.
    val labels = l1.join(compact, Seq("lbl"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("lbl")).as("component"))
    val sizes = labels.groupBy("component").agg(count(lit(1)).as("csize"))
    labels.join(sizes, "component")
      .select(col("doc_id"), col("component"), col("csize"))
      .orderBy("doc_id")
  }

  def dupComponents(docs: org.apache.spark.sql.DataFrame,
      blockCols: Seq[String], threshold: Double,
      maxIter: Int = 20): org.apache.spark.sql.DataFrame =
    componentsFromPairs(
      jaccardPairs(docs, blockCols, threshold), maxIter)

  /** The fixture corpus's duplicate-components table as a STANDING
    * artifact (r10): ◆ `q_dup_components` (the census) and
    * ◆ `q_dedup_survivorship` (the policy) read the same maintained
    * table in a deployment — building the closure once per (session,
    * corpus) and checkpointing the |dup-docs|-sized result is that
    * shape, and halves the pair's bench cost. Oracles unchanged: both
    * still recompute the closure definitionally.
    */
  private val fixtureComps = new graft.sources.LayoutCache.SessionCache[
    String, org.apache.spark.sql.DataFrame]()

  private def fixtureComponents(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    fixtureComps.getOrBuild(s, d) {
      // Ck.pin, not .ckpt(): this checkpoint is the session-lifetime
      // dup-closure cache read by later queries — exempt from the
      // runner's per-query drain/sweep. Closes over the STAGED pair
      // table (r13) so the lang-blocked chain builds each stage once.
      graft.ops.Ck.pin(
        componentsFromPairs(fixtureJaccardPairs(s, d)), "llm.jaccardComps")
    }

  private val dupComponentsQ: Q = (s, d) =>
    fixtureComponents(s, d).orderBy("doc_id")

  /** The oracle computes the same closure declaratively via the bounded
    * pointer-doubling unroll ([[boundedClosureSql]]): min label over the
    * ≥ 2⁵-hop neighborhood ≡ component min because the graph is
    * undirected and the guard round proves the fixpoint was reached.
    */
  private val dupComponentsSql =
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |         list_distinct(list_transform(string_split(text, ' '),
       |           w -> ('0x' || substr(md5(w), 1, 15))::BIGINT)) AS toks
       |  FROM documents),
       |pairs AS MATERIALIZED (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
       |  WHERE floor((len(list_intersect(a.toks, b.toks)) /
       |              CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE))
       |                    * 10000 + 0.5) / 10000.0 >= 0.5),
       |edges AS MATERIALIZED (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS a, doc_a AS b FROM pairs),
       |${boundedClosureSql("edges")}
       |SELECT doc_id, component,
       |       count(*) OVER (PARTITION BY component) AS csize
       |FROM comp ORDER BY doc_id""".stripMargin

  /** Dedup observability by SOURCE — which feed is dirtiest: per corpus
    * source, document count, documents sitting in an exact-duplicate
    * group (same md5 fingerprint as ≥ 1 other doc ANYWHERE — cross-source
    * duplication charges both sources, which is the point: a mirror site
    * shows up in both its own and its victim's rate), the would-drop
    * count under min-id survivorship, and the dup rate in basis points.
    * The routing signal for crawl triage — `q_dedup_exact` finds the
    * duplicates, this says where they come from. One fingerprint
    * aggregate (|fp| rows) joined back, one source rollup. The fixture
    * corpus is duplicate-free, so the family's planted-copy convention
    * applies with the story made literal: the doc_id < 50 copies land
    * under a synthetic 'zmirror' source — the mirror site — and the
    * report charges BOTH the mirror (100% dup) and each victimized
    * original source.
    */
  private val dupRateBySourceQ: Q = (s, d) => {
    requirePlantHeadroom(s, d, "dupRateBySource")
    val base = Tables.documents(s, d)
    val mirrored = base.unionByName(
      base.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + lit(10000L))
        .withColumn("source", lit("zmirror")))
    val docs = mirrored
      .select(col("doc_id"), col("source"), md5(col("text")).as("fp"))
    val groups = docs.groupBy("fp").agg(count(lit(1)).as("gsize"),
      min("doc_id").as("canonical"))
    docs.join(groups, "fp")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum((col("gsize") > 1).cast("long")).as("n_in_dup_groups"),
        sum((col("doc_id") =!= col("canonical")).cast("long")).as("n_drop"))
      .withColumn("dup_bp", call_function("div",
        lit(10000L) * col("n_in_dup_groups"), col("n_docs")))
      .orderBy("source")
  }

  private val dupRateBySourceSql =
    """WITH all_docs AS (
      |  SELECT doc_id, source, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000 AS doc_id, 'zmirror' AS source, text
      |  FROM documents WHERE doc_id < 50),
      |f AS (SELECT doc_id, source, md5(text) AS fp FROM all_docs),
      |g AS (SELECT fp, CAST(count(*) AS BIGINT) AS gsize,
      |             CAST(min(doc_id) AS BIGINT) AS canonical
      |      FROM f GROUP BY fp)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(CASE WHEN gsize > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_in_dup_groups,
      |       CAST(SUM(CASE WHEN doc_id <> canonical THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_drop,
      |       (10000 * CAST(SUM(CASE WHEN gsize > 1 THEN 1 ELSE 0 END)
      |                     AS BIGINT)) // CAST(count(*) AS BIGINT) AS dup_bp
      |FROM f JOIN g USING (fp)
      |GROUP BY source ORDER BY source""".stripMargin

  /** Survivorship POLICY over dup components — the practice gap between
    * "find the duplicates" and "ship one of them": the canonical pick in
    * the rest of the dedup family is min-doc_id (stable, arbitrary);
    * production survivorship keeps the BEST member — here the longest
    * (max n_chars, doc_id tiebreak), the common keep-the-fullest-copy
    * rule for near-dup crawl snapshots. The per-component argmax packs
    * (n_chars, ¬doc_id) into ONE long (n_chars·2⁴⁰ + (2⁴⁰−1−doc_id) —
    * the `ml_cluster_serve` codegen-hash-aggregate trick; a
    * max-of-struct would SortAggregate), so choosing survivors costs
    * one hash aggregate over \|members\| rows. ◆ oracle: the recursive
    * closure + a window argmax.
    *
    * Packing bounds, enforced loudly: the long holds n_chars·2⁴⁰ +
    * (2⁴⁰−1−doc_id), so n_chars must stay below 2²³ (~8.4M chars) and
    * doc_id below 2⁴⁰ or the argmax silently picks the wrong survivor.
    * Multi-megabyte docs are plausible in a crawl corpus, so rather
    * than document-and-hope, out-of-range rows `raise_error` inside the
    * pack projection (a conditional in the codegen hash-aggregate
    * input — no extra pass); the escape hatch at that scale is the
    * chained hash-aggregate tiebreak form `q_attribution` uses when an
    * order key exceeds one packed long.
    */
  private val dedupSurvivorshipQ: Q = (s, d) => {
    val pack = 1L << 40
    val maxChars = 1L << 23
    val docs = Tables.documents(s, d)
    val packedCol = when(
      col("n_chars") >= maxChars || col("n_chars") < 0L ||
        col("doc_id") >= pack || col("doc_id") < 0L,
      raise_error(concat(
        lit(s"q_dedup_survivorship: packed argmax needs 0 <= n_chars < $maxChars and 0 <= doc_id < $pack; got (n_chars, doc_id) = ("),
        col("n_chars").cast("string"), lit(", "),
        col("doc_id").cast("string"), lit(")"))))
      .otherwise(col("n_chars") * pack + (lit(pack - 1) - col("doc_id")))
    fixtureComponents(s, d)
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      .groupBy("component")
      .agg(count(lit(1)).as("csize"),
        max(packedCol).as("packed"))
      .select(col("component"), col("csize"),
        (lit(pack - 1) - pmod(col("packed"), lit(pack))).as("survivor_id"),
        call_function("div", col("packed"), lit(pack)).as("survivor_chars"))
      .orderBy("component")
  }

  private val dedupSurvivorshipSql =
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |         list_distinct(list_transform(string_split(text, ' '),
       |           w -> ('0x' || substr(md5(w), 1, 15))::BIGINT)) AS toks
       |  FROM documents),
       |pairs AS MATERIALIZED (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
       |  WHERE floor((len(list_intersect(a.toks, b.toks)) /
       |              CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE))
       |                    * 10000 + 0.5) / 10000.0 >= 0.5),
       |edges AS MATERIALIZED (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS a, doc_a AS b FROM pairs),
       |${boundedClosureSql("edges")},
       |m AS (
      |  SELECT comp.component, comp.doc_id, d.n_chars,
      |         row_number() OVER (PARTITION BY comp.component
      |                            ORDER BY d.n_chars DESC, comp.doc_id)
      |           AS rn,
      |         count(*) OVER (PARTITION BY comp.component) AS csize
      |  FROM comp JOIN documents d ON comp.doc_id = d.doc_id)
      |SELECT component, csize, doc_id AS survivor_id,
      |       n_chars AS survivor_chars
      |FROM m WHERE rn = 1 ORDER BY component""".stripMargin

  /** PII scrubbing — the redaction pass a training-data pipeline runs
    * before anything else sees the text: emails, URLs, then long digit
    * runs, replaced in that order so address-embedded digits don't leak
    * into the number pass. Row-local regexp chain, fully codegen, pushed
    * to the scan. The synthetic corpus carries no PII, so deterministic
    * PII is injected per doc and the oracle injects identically — the
    * patterns use only character classes and bounded quantifiers, which
    * Java regex (Spark) and RE2 (DuckDB) interpret identically.
    */
  private val piiScrub: Q = (s, d) => {
    val emailRe = "[a-z0-9._-]+@[a-z0-9-]+\\.[a-z]{2,}"
    val urlRe = "https?://[^ ]+"
    val numRe = "[0-9]{6,}"
    Tables.documents(s, d)
      .withColumn("text2", concat(
        col("text"),
        lit(" contact user"), col("doc_id"), lit("@mail-"),
        pmod(col("doc_id"), lit(7L)), lit(".com via http://ex.com/d/"),
        col("doc_id"), lit(" ref "), col("doc_id") * lit(1234567L)))
      .withColumn("n_emails",
        size(regexp_extract_all(col("text2"), lit(emailRe), lit(0))))
      .withColumn("n_urls",
        size(regexp_extract_all(col("text2"), lit(urlRe), lit(0))))
      .withColumn("scrub1", regexp_replace(col("text2"), emailRe, "<EMAIL>"))
      .withColumn("scrub2", regexp_replace(col("scrub1"), urlRe, "<URL>"))
      .withColumn("n_nums",
        size(regexp_extract_all(col("scrub2"), lit(numRe), lit(0))))
      .withColumn("scrubbed", regexp_replace(col("scrub2"), numRe, "<NUM>"))
      .select(
        col("doc_id"), col("n_emails"), col("n_urls"), col("n_nums"),
        length(col("scrubbed")).as("scrub_len"),
        substring(col("scrubbed"), 1, 30).as("head"))
      .orderBy("doc_id")
  }

  private val piiScrubSql =
    """WITH x AS (
      |  SELECT doc_id,
      |         text || ' contact user' || doc_id || '@mail-' || (doc_id % 7) ||
      |         '.com via http://ex.com/d/' || doc_id || ' ref ' || (doc_id * 1234567) AS text2
      |  FROM documents),
      |y AS (
      |  SELECT doc_id, text2,
      |         CAST(len(regexp_extract_all(text2, '[a-z0-9._-]+@[a-z0-9-]+\.[a-z]{2,}')) AS INT) AS n_emails,
      |         CAST(len(regexp_extract_all(text2, 'https?://[^ ]+')) AS INT) AS n_urls,
      |         regexp_replace(regexp_replace(text2,
      |           '[a-z0-9._-]+@[a-z0-9-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
      |           'https?://[^ ]+', '<URL>', 'g') AS scrub2
      |  FROM x)
      |SELECT doc_id, n_emails, n_urls,
      |       CAST(len(regexp_extract_all(scrub2, '[0-9]{6,}')) AS INT) AS n_nums,
      |       CAST(strlen(regexp_replace(scrub2, '[0-9]{6,}', '<NUM>', 'g')) AS INT) AS scrub_len,
      |       substr(regexp_replace(scrub2, '[0-9]{6,}', '<NUM>', 'g'), 1, 30) AS head
      |FROM y ORDER BY doc_id""".stripMargin

  /** Benchmark decontamination — the train/eval overlap check every
    * training-data pipeline runs before shipping a corpus: any training
    * document whose content fingerprint appears in the held-out set is a
    * leak. Here the eval split is doc_id % 10 == 0 and leaks are planted
    * deterministically (20 eval docs re-keyed into the train side); the
    * check is a fingerprint equi-join — at 100 TB a broadcast of the
    * (small) benchmark fingerprint set against the corpus scan, no
    * shuffle of the training side. Reported per leaked train doc with its
    * source eval doc.
    */
  private val decontaminate: Q = (s, d) => {
    requirePlantHeadroom(s, d, "decontaminate")
    val docs = Tables.documents(s, d)
    val evalSet = docs.filter(pmod(col("doc_id"), lit(10L)) === 0)
    val leaked = evalSet.filter(col("doc_id") < 200)
      .withColumn("doc_id", col("doc_id") + lit(20000L))
    val train = docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0)
      .unionByName(leaked)
    val evalFp = evalSet.select(
      col("doc_id").as("eval_doc"), md5(col("text")).as("fp"))
    train.select(col("doc_id").as("train_doc"), md5(col("text")).as("fp"))
      .join(broadcast(evalFp), "fp")
      .groupBy("train_doc")
      .agg(min("eval_doc").as("eval_doc"), count(lit(1)).as("n_matches"))
      .orderBy("train_doc")
  }

  private val decontaminateSql =
    """WITH ev AS (
      |  SELECT doc_id AS eval_doc, md5(text) AS fp
      |  FROM documents WHERE doc_id % 10 = 0),
      |train AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0
      |  UNION ALL
      |  SELECT doc_id + 20000 AS doc_id, text
      |  FROM documents WHERE doc_id % 10 = 0 AND doc_id < 200)
      |SELECT t.doc_id AS train_doc, min(ev.eval_doc) AS eval_doc,
      |       count(*) AS n_matches
      |FROM train t JOIN ev ON md5(t.text) = ev.fp
      |GROUP BY t.doc_id ORDER BY train_doc""".stripMargin

  /** Embedding-space decontamination — the third detector of the trio
    * ([[decontaminate]] catches verbatim copies by fingerprint,
    * [[contamNgram]] catches embedded spans by 8-gram overlap; this one
    * catches PARAPHRASED leakage neither can see): corpus vectors scored
    * against the broadcast benchmark set, flagged at cosine ≥ 0.98.
    * Same scale shape as the other two — the benchmark set broadcasts,
    * scoring is map-side over corpus partitions, only flagged rows reach
    * the per-doc aggregate. Leaks are planted as exact vector copies
    * (cos = 1; the synthetic corpus has no natural near-identical pairs,
    * so recovery is deterministic and the oracle replays it bit-for-bit).
    */
  private val contamEmbed: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val bench = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("bench_id"), col("v").as("bv"))
    val planted = bench.filter(col("bench_id") < 10)
      .select((col("bench_id") + lit(70000L)).as("vec_id"), col("bv").as("v"))
    val corpus = e.filter(col("vec_id") >= 20).unionByName(planted)
    corpus.crossJoin(broadcast(bench))
      .withColumn("cos", r3(cosine(col("bv"), col("v"))))
      .filter(col("cos") >= 0.98)
      .groupBy("vec_id")
      .agg(min("bench_id").as("bench_id"), max("cos").as("max_cos"),
        count(lit(1)).as("n_hits"))
      .orderBy("vec_id")
  }

  private val contamEmbedSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |bench AS (SELECT vec_id AS bench_id, v AS bv FROM e WHERE vec_id < 20),
      |corpus AS (
      |  SELECT vec_id, v FROM e WHERE vec_id >= 20
      |  UNION ALL
      |  SELECT bench_id + 70000 AS vec_id, bv AS v FROM bench WHERE bench_id < 10),
      |scored AS (
      |  SELECT c.vec_id, b.bench_id,
      |         floor(list_cosine_similarity(b.bv, c.v) * 1000 + 0.5) / 1000.0 AS cos
      |  FROM corpus c, bench b)
      |SELECT vec_id, min(bench_id) AS bench_id, max(cos) AS max_cos,
      |       count(*) AS n_hits
      |FROM scored WHERE cos >= 0.98
      |GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** Temperature-scaled mixture weights (T = 2) — the multilingual
    * data-balancing pass: raw per-lang shares are flattened by
    * share^(1/T) so low-resource languages are upsampled relative to
    * their raw frequency. T = 2 deliberately: the scaling is then a
    * SQRT — IEEE-correctly-rounded and bit-identical across engines —
    * where a general pow(share, 1/T) would hit the libm trap the
    * determinism rules forbid. The scaled values are fixed-pointed to
    * micro units BEFORE normalization so the denominator is an exact
    * integer sum (order-independent under any partitioning); one double
    * division per group emits the weight. Complements [[mixRebalance]]
    * (hard per-lang caps) with the soft reweighting an actual LM data
    * mixture uses.
    */
  private val mixTemperature: Q = (s, d) => {
    val counts = Tables.documents(s, d)
      .groupBy("lang").agg(count(lit(1)).as("n_before"))
      .withColumn("sq",
        floor(sqrt(col("n_before").cast("double")) * lit(1000000.0) + lit(0.5))
          .cast("long"))
    val tot = counts.agg(sum("sq").as("sq_sum"),
      sum("n_before").as("n_total"))
    counts.crossJoin(broadcast(tot))
      .withColumn("weight", r4(col("sq").cast("double") / col("sq_sum")))
      .withColumn("target_n",
        floor(col("sq").cast("double") / col("sq_sum") * col("n_total"))
          .cast("long"))
      .select("lang", "n_before", "weight", "target_n")
      .orderBy("lang")
  }

  private val mixTemperatureSql =
    """WITH c AS (
      |  SELECT lang, count(*) AS n_before,
      |         CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS sq
      |  FROM documents GROUP BY lang),
      |t AS (SELECT CAST(SUM(sq) AS BIGINT) AS sq_sum,
      |             CAST(SUM(n_before) AS BIGINT) AS n_total FROM c)
      |SELECT lang, n_before,
      |       floor(CAST(sq AS DOUBLE) / sq_sum * 10000 + 0.5) / 10000.0 AS weight,
      |       CAST(floor(CAST(sq AS DOUBLE) / sq_sum * n_total) AS BIGINT) AS target_n
      |FROM c, t ORDER BY lang""".stripMargin

  /** Sequence packing — the batching-prep stage of an LLM training
    * pipeline: documents are packed into fixed-token-budget bins (4096
    * here) by running token total in a deterministic order, then each bin
    * reports its occupancy and fill ratio. The cumulative-sum formulation
    * (`bin = ⌊(cumsum − n) / budget⌋`, i.e. the bin where the doc STARTS)
    * is one window pass + one aggregate — contiguous greedy packing
    * without any driver loop, reproducible on any cluster because the
    * order is a data column, not arrival order. (True first-fit bin
    * packing is inherently sequential; contiguous packing is what
    * distributed training pipelines actually run, since it preserves
    * locality and shards by bin range.)
    *
    * Scale shape: the running total is [[graft.ops.Prefix.withCumSum]] —
    * the distributed prefix-sum (order-preserving doc_id range bucket
    * from broadcast bounds, exclusive per-bucket offsets over ≤ 64 rows,
    * local cumsum inside each bucket's own partition), the `q_pareto`
    * global-rank template with `sum` for `count`. What was the last
    * deliberate single-reducer window over a data-sized input in the
    * registry now shuffles once on the bucket key; the constant-size
    * offsets are folded on the driver. `text` is pruned to `n_tokens`
    * BEFORE that shuffle, so the exchange moves two longs per document,
    * not the corpus. Bit-identical to the single-window form (exact long
    * arithmetic); the oracle keeps the plain `OVER (ORDER BY doc_id)`.
    */
  private val packSequences: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    graft.ops.Prefix.withCumSum(toks, "doc_id", Nil, "n_tokens", "cum")
      .withColumn("bin", ((col("cum") - col("n_tokens")) / lit(4096L)).cast("long"))
      .groupBy("bin")
      .agg(
        count(lit(1)).as("docs"),
        sum(col("n_tokens").cast("long")).as("tokens"),
        min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"))
      // explicit ⌊x·10⁴+½⌋ rounding: tokens/4096 is k/2¹², which CAN tie at
      // the 4th decimal — and Spark rounds half-even where DuckDB rounds
      // half-away. The floor identity is engine-proof.
      .withColumn("fill",
        floor(col("tokens") * lit(10000L) / lit(4096.0) + lit(0.5)) / lit(10000.0))
      .orderBy("bin")
  }

  private val packSequencesSql =
    """WITH t AS (
      |  SELECT doc_id,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_tokens,
      |         CAST(SUM(n_tokens) OVER (ORDER BY doc_id
      |                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM t)
      |SELECT bin, count(*) AS docs,
      |       CAST(SUM(n_tokens) AS BIGINT) AS tokens,
      |       min(doc_id) AS first_doc, max(doc_id) AS last_doc,
      |       floor(CAST(SUM(n_tokens) AS BIGINT) * 10000 / 4096.0 + 0.5) / 10000.0 AS fill
      |FROM (SELECT doc_id, n_tokens,
      |             CAST(floor((cum - n_tokens) / 4096.0) AS BIGINT) AS bin
      |      FROM c)
      |GROUP BY bin ORDER BY bin""".stripMargin

  /** Symmetric int8 embedding quantization (amax scaling) — the 4×
    * storage-compression pass embedding stores run before indexing:
    * scale = max|v|/127, qᵢ = clamp(⌊vᵢ/scale + ½⌋, ±127). Row-local,
    * one pass; outputs are the quantization summary (sum/min/max of the
    * int8 vector + worst reconstruction error, which is ≤ scale/2 by
    * construction). Half-up rounding is written as ⌊x+½⌋ explicitly so
    * Spark and the oracle agree on every tie regardless of each engine's
    * native `round` convention; all arithmetic is IEEE-identical, so the
    * gate is exact hash equality, not a tolerance.
    */
  private val embedQuantize: Q = (s, d) =>
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("amax", expr("array_max(transform(v, x -> abs(x)))"))
      .withColumn("scale", col("amax") / lit(127.0))
      // All-zero vector ⇒ scale 0: x/scale would be NaN, which Spark's
      // bigint cast silently maps to 0 while the oracle errors — quantize
      // it explicitly to the zero vector in BOTH engines instead.
      .withColumn("q", expr(
        "CASE WHEN scale = 0d THEN transform(v, x -> 0L) " +
          "ELSE transform(v, x -> greatest(-127L, least(127L, cast(floor(x / scale + 0.5d) as bigint)))) END"))
      .select(col("vec_id"), col("scale"),
        expr("aggregate(q, 0L, (a, x) -> a + x)").as("q_sum"),
        expr("array_min(q)").as("q_min"),
        expr("array_max(q)").as("q_max"),
        expr("array_max(zip_with(q, v, (qi, xi) -> abs(qi * scale - xi)))").as("err_max"))
      .orderBy("vec_id")

  private val embedQuantizeSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |s AS (SELECT vec_id, v,
      |             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      |      FROM e),
      |q AS (SELECT vec_id, v, scale,
      |             CASE WHEN scale = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
      |                  ELSE list_transform(v, x ->
      |                    greatest(-127, least(127, CAST(floor(x / scale + 0.5) AS BIGINT)))) END AS qv
      |      FROM s)
      |SELECT vec_id, scale,
      |       CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_sum,
      |       CAST(list_min(qv) AS BIGINT) AS q_min,
      |       CAST(list_max(qv) AS BIGINT) AS q_max,
      |       list_max(list_transform(range(1, len(qv) + 1),
      |                i -> abs(qv[i] * scale - v[i]))) AS err_max
      |FROM q ORDER BY vec_id""".stripMargin

  /** Stratified sampling by content hash — the reproducible-split
    * technique training-data pipelines need: bucket = md5(id) mod 100,
    * keep strata-specific bucket ranges (50% of `en`, 20% elsewhere).
    * Unlike `sampleBy`/`rand(seed)` — whose draws depend on partition
    * layout and so change with cluster size, file splits, or AQE — the
    * hash-mod sample is a pure function of the ROW, identical on any
    * cluster, any partitioning, any engine (which is why it can be
    * hash-checked against the oracle at all, and why the same split
    * reproduces when the corpus is re-processed months later).
    */
  private val sampleStrat: Q = (s, d) => {
    val bucket = pmod(
      Hashing.md5Long(concat(col("doc_id").cast("string"), lit("#samp"))),
      lit(100L))
    Tables.documents(s, d)
      .withColumn("bucket", bucket)
      .filter(col("bucket") <
        when(col("lang") === "en", lit(50L)).otherwise(lit(20L)))
      .select("doc_id", "lang", "bucket")
      .orderBy("doc_id")
  }

  private val sampleStratSql =
    """SELECT doc_id, lang,
      |       ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#samp'), 1, 8))::BIGINT % 100 AS bucket
      |FROM documents
      |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#samp'), 1, 8))::BIGINT % 100
      |      < CASE WHEN lang = 'en' THEN 50 ELSE 20 END
      |ORDER BY doc_id""".stripMargin

  /** Exact-k per-stratum sampling — the BUDGET form of [[sampleStrat]]'s
    * rate form: "exactly 40 docs per language, reproducibly" (eval-set
    * draws and per-source caps are budgets; a rate delivers binomial
    * wobble around the target, a budget does not). Rank docs inside each
    * stratum by the seeded md5 of their id and keep rank ≤ k —
    * deterministic, cluster-size-invariant, re-runnable. Scale shape: the
    * rank ≤ k filter compiles to WindowGroupLimit partial+final, so each
    * task forwards at most k candidates per stratum to the shuffle — the
    * plan moves ≈ k·strata·tasks rows regardless of corpus size, never a
    * global sort.
    */
  private val sampleExactK: Q = (s, d) => {
    val key = Hashing.md5Long(concat(col("doc_id").cast("string"), lit("#ksamp")))
    Tables.documents(s, d)
      .withColumn("skey", key)
      .withColumn("rank", row_number().over(
        Window.partitionBy("lang").orderBy(asc("skey"), asc("doc_id"))))
      .filter(col("rank") <= 40)
      .select("lang", "rank", "doc_id", "skey")
      .orderBy("lang", "rank")
  }

  private val sampleExactKSql =
    """SELECT lang, rank, doc_id, skey FROM (
      |  SELECT lang, doc_id,
      |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#ksamp'), 1, 8))::BIGINT AS skey,
      |         row_number() OVER (PARTITION BY lang
      |           ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#ksamp'), 1, 8))::BIGINT,
      |                    doc_id) AS rank
      |  FROM documents)
      |WHERE rank <= 40
      |ORDER BY lang, rank""".stripMargin

  /** Multimodal plumbing: text → binary payload → stubbed decode via
    * mapPartitions ([[graft.llm.Multimodal]]). The oracle recomputes the
    * same deterministic features from the text, verifying the binary path
    * end-to-end.
    */
  private val mmBinaryFeatures: Q = (s, d) => {
    val payloads = Tables.documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    graft.llm.Multimodal.decodeFeatures(s, payloads).orderBy("doc_id")
  }

  private val mmBinaryFeaturesSql =
    """SELECT doc_id,
      |       CAST(strlen(text) AS BIGINT) AS n_bytes,
      |       CAST(strlen(text) % 640 AS BIGINT) AS width,
      |       CAST(strlen(text) % 480 AS BIGINT) AS height,
      |       CAST(list_aggregate(list_transform(range(1, 9),
      |            i -> ascii(substr(text, CAST(i AS INT), 1))), 'sum') AS BIGINT) AS head_sum
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Multimodal resize: binary-preserving thumbnail stage
    * ([[graft.llm.Multimodal.resize]]); the driver-facing projection keeps
    * the scalar metadata, the oracle recomputes it from the text twin.
    */
  private val mmResize: Q = (s, d) => {
    val payloads = Tables.documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    graft.llm.Multimodal.resize(s, payloads, 64, 48)
      .select("doc_id", "resized_bytes", "scale_x", "scale_y")
      .orderBy("doc_id")
  }

  private val mmResizeSql =
    """SELECT doc_id,
      |       CAST(least(strlen(text), 3072) AS BIGINT) AS resized_bytes,
      |       floor(((strlen(text) % 640) / 64.0) * 10000 + 0.5) / 10000.0 AS scale_x,
      |       floor(((strlen(text) % 480) / 48.0) * 10000 + 0.5) / 10000.0 AS scale_y
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Multimodal frame sampling: one-to-many decode
    * ([[graft.llm.Multimodal.frameSample]], 64-byte frames, every 4th) —
    * the flatMap batch shape a video pipeline needs.
    */
  private val mmFrameSample: Q = (s, d) => {
    val payloads = Tables.documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    graft.llm.Multimodal.frameSample(s, payloads, 64, 4)
      .orderBy("doc_id", "frame_idx")
  }

  private val mmFrameSampleSql =
    """WITH f AS (
      |  SELECT doc_id, text,
      |         unnest(range(0, strlen(text) // 64)) AS frame_idx
      |  FROM documents)
      |SELECT doc_id, frame_idx,
      |       CAST(ascii(substr(text, CAST(frame_idx * 64 + 1 AS INT), 1)) AS BIGINT) AS head_byte
      |FROM f WHERE frame_idx % 4 = 0 ORDER BY doc_id, frame_idx""".stripMargin

  /** Round to 4 decimals as explicit ⌊x·10⁴+½⌋ — half-up on BOTH engines
    * regardless of their native `round` tie convention.
    */
  private def r4(c: Column): Column = graft.ops.Num.round4(c)

  /** 3-decimal sibling of [[r4]] — used on every oracle-checked cosine:
    * native `round` ties (exact binary .0005) are HALF_UP in Spark but
    * engine-defined in DuckDB, so both sides use the explicit floor form.
    */
  private def r3(c: Column): Column = graft.ops.Vec.round3(c)

  /** Repetition / boilerplate metrics (the Gopher-family quality filters):
    * duplicate word-2-gram and word-3-gram fractions plus the top single
    * word's share, with a composite flag. Row-local n-gram work plus one
    * explode-aggregate for the per-doc mode — the only shuffle is the
    * word-count one, keyed by doc so it scales with the corpus, not with
    * any vocabulary skew.
    */
  private val repetition: Q = (s, d) => {
    val base = Tables.documents(s, d)
      .withColumn("ws", split(col("text"), " "))
      .withColumn("n", size(col("ws")))
    val top = base.select(col("doc_id"), explode(col("ws")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("top_cnt"))
    base
      .withColumn("d2", when(col("n") >= 2, expr(
        "size(array_distinct(transform(sequence(0, size(ws) - 2), i -> concat(ws[i], ' ', ws[i+1]))))"))
        .otherwise(lit(0)))
      .withColumn("d3", when(col("n") >= 3, expr(
        "size(array_distinct(transform(sequence(0, size(ws) - 3), i -> concat(ws[i], ' ', ws[i+1], ' ', ws[i+2]))))"))
        .otherwise(lit(0)))
      .join(top, "doc_id")
      .withColumn("dup_2gram_frac", when(col("n") >= 2,
        r4((col("n") - 1 - col("d2")).cast("double") / (col("n") - 1))).otherwise(lit(0.0)))
      .withColumn("dup_3gram_frac", when(col("n") >= 3,
        r4((col("n") - 2 - col("d3")).cast("double") / (col("n") - 2))).otherwise(lit(0.0)))
      .withColumn("top_word_frac", r4(col("top_cnt").cast("double") / col("n")))
      .withColumn("flagged",
        (col("dup_2gram_frac") > 0.2 || col("dup_3gram_frac") > 0.18 ||
          col("top_word_frac") > 0.3).cast("int"))
      .select(col("doc_id"), col("n").as("n_words"), col("dup_2gram_frac"),
        col("dup_3gram_frac"), col("top_word_frac"), col("flagged"))
      .orderBy("doc_id")
  }

  private val repetitionSql =
    """WITH base AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (SELECT doc_id, len(ws) AS n,
      |        CASE WHEN len(ws) >= 2 THEN len(list_distinct(list_transform(
      |          range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]))) ELSE 0 END AS d2,
      |        CASE WHEN len(ws) >= 3 THEN len(list_distinct(list_transform(
      |          range(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) ELSE 0 END AS d3
      |      FROM base),
      |tw AS (SELECT doc_id, max(c) AS top_cnt
      |       FROM (SELECT doc_id, word, count(*) AS c
      |             FROM (SELECT doc_id, unnest(ws) AS word FROM base)
      |             GROUP BY doc_id, word)
      |       GROUP BY doc_id),
      |f AS (SELECT g.doc_id, CAST(g.n AS INT) AS n_words,
      |        CASE WHEN g.n >= 2 THEN floor(CAST(g.n - 1 - g.d2 AS DOUBLE) / (g.n - 1) * 10000 + 0.5) / 10000.0 ELSE 0.0 END AS dup_2gram_frac,
      |        CASE WHEN g.n >= 3 THEN floor(CAST(g.n - 2 - g.d3 AS DOUBLE) / (g.n - 2) * 10000 + 0.5) / 10000.0 ELSE 0.0 END AS dup_3gram_frac,
      |        floor(CAST(tw.top_cnt AS DOUBLE) / g.n * 10000 + 0.5) / 10000.0 AS top_word_frac
      |      FROM g JOIN tw ON g.doc_id = tw.doc_id)
      |SELECT doc_id, n_words, dup_2gram_frac, dup_3gram_frac, top_word_frac,
      |       CAST(dup_2gram_frac > 0.2 OR dup_3gram_frac > 0.18 OR top_word_frac > 0.3 AS INT) AS flagged
      |FROM f ORDER BY doc_id""".stripMargin

  /** Coverage reconciliation as a FULL OUTER join — completing the join-type
    * matrix (inner/left/semi/anti/range/as-of/theta elsewhere): docs and a
    * deterministically-skewed embedding set (first 450 kept, 10 synthetic
    * orphans added) reconciled into matched / doc_only / vec_only counts —
    * the "what's missing on each side" audit two 100 TB tables get before
    * anyone joins them for real. Full outer can't broadcast by definition;
    * the sort-merge shuffle on unique ids IS the correct scale plan.
    */
  private val reconcile: Q = (s, d) => {
    requireVecHeadroom(s, d, "reconcile")
    val docs = Tables.documents(s, d).select(col("doc_id"))
    val vecs0 = Tables.embeddings(s, d).select(col("vec_id"))
    val vecs = vecs0.filter(col("vec_id") < 450)
      .unionByName(vecs0.filter(col("vec_id") < 10)
        .select((col("vec_id") + lit(10000L)).as("vec_id")))
    docs.join(vecs, docs("doc_id") === vecs("vec_id"), "full_outer")
      .select(
        when(col("doc_id").isNotNull && col("vec_id").isNotNull, lit("matched"))
          .when(col("vec_id").isNull, lit("doc_only"))
          .otherwise(lit("vec_only")).as("status"))
      .groupBy("status").agg(count(lit(1)).as("n"))
      .orderBy("status")
  }

  private val reconcileSql =
    """WITH v AS (SELECT vec_id FROM embeddings WHERE vec_id < 450
      |           UNION ALL
      |           SELECT vec_id + 10000 AS vec_id FROM embeddings WHERE vec_id < 10)
      |SELECT status, count(*) AS n FROM (
      |  SELECT CASE WHEN d.doc_id IS NOT NULL AND v.vec_id IS NOT NULL THEN 'matched'
      |              WHEN v.vec_id IS NULL THEN 'doc_only'
      |              ELSE 'vec_only' END AS status
      |  FROM documents d FULL OUTER JOIN v ON d.doc_id = v.vec_id)
      |GROUP BY status ORDER BY status""".stripMargin

  /** Metadata-consistency audit: stored `n_chars` vs recomputed
    * `length(text)`, rolled up per lang — the validation pass that decides
    * whether a 100 TB corpus's precomputed metadata columns can be trusted
    * (and scanned INSTEAD of the text, which is the entire point of
    * carrying them). Row-local comparison, one partial+final aggregate;
    * all-integer output so the hash compare is exact.
    */
  private val metaAudit: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("actual", length(col("text")).cast("long"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum((col("n_chars") === col("actual")).cast("long")).as("n_exact"),
        sum(abs(col("n_chars") - col("actual"))).as("total_drift"),
        max(abs(col("n_chars") - col("actual"))).as("max_drift"))
      .orderBy("lang")

  private val metaAuditSql =
    """SELECT lang, count(*) AS n_docs,
      |       CAST(SUM(CASE WHEN n_chars = length(text) THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
      |       CAST(SUM(abs(n_chars - length(text))) AS BIGINT) AS total_drift,
      |       CAST(MAX(abs(n_chars - length(text))) AS BIGINT) AS max_drift
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Collocation mining for vocabulary induction: the top word bigrams by
    * pointwise-mutual-information lift (Church & Hanks 1990) — the corpus
    * statistic tokenizer/vocab construction and stop-phrase detection start
    * from. `lift = P(w1w2) / (P(w1)·P(w2))`, emitted as the raw ratio
    * (no log): every factor is an exact-in-double integer count, so both
    * engines divide identical numbers and the hash-compare holds bit-for-bit
    * (a `ln` would hang determinism on two libms' last-ulp agreement).
    *
    * Scale shape: unigram and bigram counts are partial+final aggregates
    * (map-side combine absorbs stopword skew before the shuffle); the
    * support-filtered bigram table joins word counts on uniform keys; the
    * 1-row totals frame broadcasts. Top-30 is sort+limit
    * (TakeOrderedAndProject), never a global window.
    */
  private val vocabPmi: Q = (s, d) => {
    val base = Tables.documents(s, d).withColumn("ws", split(col("text"), " "))
    val uni = base.select(explode(col("ws")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
    val totals = base.agg(
      sum(size(col("ws"))).cast("double").as("n_uni"),
      sum(greatest(size(col("ws")) - 1, lit(0))).cast("double").as("n_bi"))
    val bi = base.filter(size(col("ws")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(ws) - 2), i -> concat(ws[i], ' ', ws[i+1]))")).as("b"))
      .groupBy("b").agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= 5)
      .withColumn("w1", element_at(split(col("b"), " "), 1))
      .withColumn("w2", element_at(split(col("b"), " "), 2))
    bi.join(uni.select(col("w").as("w1"), col("cw").as("ca")), "w1")
      .join(uni.select(col("w").as("w2"), col("cw").as("cb")), "w2")
      .crossJoin(broadcast(totals))
      .withColumn("lift", r4(col("cab") * col("n_uni") * col("n_uni") /
        (col("n_bi") * col("ca") * col("cb"))))
      .select("w1", "w2", "cab", "lift")
      .orderBy(desc("lift"), asc("w1"), asc("w2"))
      .limit(30)
  }

  private val vocabPmiSql =
    """WITH base AS (SELECT string_split(text, ' ') AS ws FROM documents),
      |uni AS (SELECT w, count(*) AS cw
      |        FROM (SELECT unnest(ws) AS w FROM base) GROUP BY w),
      |tot AS (SELECT CAST(SUM(len(ws)) AS DOUBLE) AS n_uni,
      |               CAST(SUM(CASE WHEN len(ws) >= 2 THEN len(ws) - 1 ELSE 0 END) AS DOUBLE) AS n_bi
      |        FROM base),
      |bi AS (SELECT b, count(*) AS cab
      |       FROM (SELECT unnest(list_transform(range(1, len(ws)),
      |                    i -> ws[i] || ' ' || ws[i+1])) AS b
      |             FROM base WHERE len(ws) >= 2)
      |       GROUP BY b HAVING count(*) >= 5),
      |j AS (SELECT string_split(b, ' ')[1] AS w1, string_split(b, ' ')[2] AS w2, cab
      |      FROM bi)
      |SELECT j.w1, j.w2, j.cab,
      |       floor(CAST(j.cab AS DOUBLE) * n_uni * n_uni /
      |             (n_bi * ua.cw * ub.cw) * 10000 + 0.5) / 10000.0 AS lift
      |FROM j JOIN uni ua ON ua.w = j.w1 JOIN uni ub ON ub.w = j.w2, tot
      |ORDER BY lift DESC, w1, w2 LIMIT 30""".stripMargin

  /** N-gram-level decontamination — the overlap check exact-fingerprint
    * matching misses: a training doc that EMBEDS an eval doc's 8-gram is
    * flagged even though its full text differs. Planted leaks wrap an eval
    * prefix in out-of-vocabulary sentinels so only the genuine 8-gram can
    * match. Scale shape: the eval side (benchmarks are small by nature)
    * broadcasts as distinct (gram, eval_doc) pairs; the training corpus is
    * exploded map-side and semi-joined against it — no shuffle touches the
    * corpus until the final per-doc aggregate of matches only.
    */
  private val contamNgram: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val evalSet = docs.filter(pmod(col("doc_id"), lit(10L)) === 0)
    val planted = evalSet.filter(col("doc_id") < 300)
      .select((col("doc_id") + lit(30000L)).as("doc_id"),
        concat(lit("zzq0 zzq1 "),
          concat_ws(" ", slice(split(col("text"), " "), 1, 8)),
          lit(" zzq2 zzq3")).as("text"))
    val train = docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0)
      .select("doc_id", "text").unionByName(planted)
    def grams(df: org.apache.spark.sql.DataFrame, idAs: String) = df
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 8)
      .select(col("doc_id").as(idAs), explode(array_distinct(expr(
        "transform(sequence(0, size(ws) - 8), i -> concat_ws(' ', slice(ws, i + 1, 8)))"))).as("g"))
    grams(train, "train_doc")
      .join(broadcast(grams(evalSet, "eval_doc").distinct()), "g")
      .groupBy("train_doc")
      .agg(countDistinct("g").as("n_shared_grams"),
        countDistinct("eval_doc").as("n_eval_docs"),
        min("eval_doc").as("eval_doc"))
      .orderBy("train_doc")
  }

  private val contamNgramSql =
    """WITH ev AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
      |train AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0
      |  UNION ALL
      |  SELECT doc_id + 30000 AS doc_id,
      |         'zzq0 zzq1 ' || array_to_string((string_split(text, ' '))[1:8], ' ') || ' zzq2 zzq3' AS text
      |  FROM ev WHERE doc_id < 300),
      |evg AS (SELECT DISTINCT doc_id AS eval_doc, g FROM (
      |  SELECT doc_id, unnest(list_transform(range(1, len(ws) - 6),
      |         i -> array_to_string(ws[i:i+7], ' '))) AS g
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM ev))),
      |tg AS (SELECT DISTINCT doc_id AS train_doc, g FROM (
      |  SELECT doc_id, unnest(list_transform(range(1, len(ws) - 6),
      |         i -> array_to_string(ws[i:i+7], ' '))) AS g
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM train)))
      |SELECT tg.train_doc, count(DISTINCT tg.g) AS n_shared_grams,
      |       count(DISTINCT evg.eval_doc) AS n_eval_docs,
      |       min(evg.eval_doc) AS eval_doc
      |FROM tg JOIN evg ON tg.g = evg.g
      |GROUP BY tg.train_doc ORDER BY tg.train_doc""".stripMargin

  /** Deterministic shard assignment — the write-side layout pass of a
    * training-data pipeline: shard = md5(doc_id) mod 16, a pure function
    * of the row, so the SAME doc lands in the SAME shard on any cluster
    * size, partitioning, or engine (Spark's `hash()` is none of those).
    * The per-shard occupancy report is the balance check run before
    * `partitionBy(shard)` writes; at 100 TB the aggregate is the same one
    * shuffle keyed by 16 values of pre-combined map-side partials.
    */
  private val shardAssign: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("shard", pmod(
        Hashing.md5Long(concat(col("doc_id").cast("string"), lit("#shard"))),
        lit(16L)))
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("n_tokens"),
        min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
      .orderBy("shard")

  private val shardAssignSql =
    """SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#shard'), 1, 8))::BIGINT % 16 AS shard,
      |       count(*) AS n_docs,
      |       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
      |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
      |FROM documents GROUP BY shard ORDER BY shard""".stripMargin

  /** Corpus-trained unigram language-model score — the cheapest member of
    * the model-based quality-filter family: token frequencies over the
    * corpus ARE the model, each doc scores its mean log₁₀ probability.
    * Per-word log-probs are fixed-pointed to micro units BEFORE summing so
    * the per-doc total is an integer sum — exact under any partitioning or
    * aggregation order in either engine (a raw double sum would be
    * order-dependent). Scale shape: the vocabulary and corpus total
    * broadcast; scoring is map-side; the only corpus-sized shuffle is the
    * per-doc aggregate.
    */
  private val unigramLm: Q = (s, d) => {
    val words = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val vocab = words.groupBy("w").agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum("cnt").as("corpus_n"))
    words.join(broadcast(vocab), "w")
      .crossJoin(broadcast(total))
      .withColumn("il", floor(
        log10(col("cnt").cast("double") / col("corpus_n")) * lit(1000000.0) + lit(0.5))
        .cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("il").as("sil"))
      .select(col("doc_id"), col("n_words"),
        (floor(col("sil") / (col("n_words") * lit(100.0)) + lit(0.5)) / lit(10000.0)).as("avg_logp"))
      .orderBy("doc_id")
  }

  private val unigramLmSql =
    """WITH tokens AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      |vocab AS (SELECT word, count(*) AS cnt FROM tokens GROUP BY word),
      |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS corpus_n FROM vocab),
      |scored AS (
      |  SELECT t.doc_id,
      |         CAST(floor(log10(CAST(v.cnt AS DOUBLE) / tot.corpus_n) * 1000000 + 0.5) AS BIGINT) AS il
      |  FROM tokens t JOIN vocab v ON t.word = v.word, tot)
      |SELECT doc_id, count(*) AS n_words,
      |       floor(CAST(SUM(il) AS BIGINT) / (count(*) * 100.0) + 0.5) / 10000.0 AS avg_logp
      |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Cross-document duplicate-SPAN coverage — the hash-gram approximation
    * of suffix-array substring dedup (the "long shared substring" family):
    * a 16-gram appearing in ≥2 distinct docs marks its 16-token window
    * duplicated; overlapping windows merge into spans (gaps-and-islands
    * over a running max-end window), and each doc reports how much of it
    * is covered by text that exists elsewhere in the corpus. Grams travel
    * as 60-bit hashes, so the corpus-wide frequency shuffle is ~16 bytes
    * a row and keys are uniform — no token-skew hotspot; the frequency
    * aggregate and the join back to positions share the same hash
    * partitioning, and the interval merge shuffles positions keyed by doc.
    */
  private val dupSpans: Q = (s, d) => {
    val k = 16
    val base = Tables.documents(s, d)
      .withColumn("ws", split(col("text"), " "))
      .withColumn("n", size(col("ws")))
    val grams = base.filter(col("n") >= k)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(ws) - $k), i -> concat_ws(' ', slice(ws, i + 1, $k)))")))
      .select(col("doc_id"), col("pos"), Hashing.md5Long60(col("col")).as("g"))
    val dupGrams = grams.groupBy("g")
      .agg(countDistinct("doc_id").as("ndocs"))
      .filter(col("ndocs") >= 2)
    val win = Window.partitionBy("doc_id").orderBy("pos")
    val spans = grams.join(dupGrams, "g")
      .select("doc_id", "pos")
      .withColumn("prev_max",
        max(col("pos") + k).over(win.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        (col("prev_max").isNull || col("pos") > col("prev_max")).cast("int"))
      .withColumn("island",
        sum("new_island").over(win.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "island")
      .agg(min("pos").as("s"), (max("pos") + k).as("e"))
      .groupBy("doc_id")
      .agg(sum(col("e") - col("s")).as("covered"), count(lit(1)).as("n_spans"))
    base.join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n").as("n_words"),
        coalesce(col("covered"), lit(0L)).as("covered_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        r4(coalesce(col("covered"), lit(0L)).cast("double") / col("n")).as("dup_frac"))
      .orderBy("doc_id")
  }

  private val dupSpansSql =
    """WITH base AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (SELECT doc_id, i - 1 AS pos,
      |        ('0x' || substr(md5(array_to_string(ws[i:i+15], ' ')), 1, 15))::BIGINT AS g
      |      FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 14)) AS i
      |            FROM base WHERE len(ws) >= 16)),
      |c AS (SELECT g, count(DISTINCT doc_id) AS ndocs FROM g GROUP BY g),
      |d AS (SELECT g.doc_id, g.pos FROM g JOIN c USING (g) WHERE c.ndocs >= 2),
      |m AS (SELECT doc_id, pos,
      |        max(pos + 16) OVER (PARTITION BY doc_id ORDER BY pos
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      |      FROM d),
      |isl AS (SELECT doc_id, pos,
      |        SUM(CASE WHEN prev_max IS NULL OR pos > prev_max THEN 1 ELSE 0 END)
      |          OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
      |        FROM m),
      |sp AS (SELECT doc_id, island, min(pos) AS s, max(pos) + 16 AS e
      |       FROM isl GROUP BY doc_id, island),
      |cov AS (SELECT doc_id, CAST(SUM(e - s) AS BIGINT) AS covered,
      |               count(*) AS n_spans
      |        FROM sp GROUP BY doc_id)
      |SELECT b.doc_id, CAST(len(b.ws) AS INT) AS n_words,
      |       COALESCE(cov.covered, 0) AS covered_tokens,
      |       COALESCE(cov.n_spans, 0) AS n_spans,
      |       floor(COALESCE(cov.covered, 0) / CAST(len(b.ws) AS DOUBLE) * 10000 + 0.5) / 10000.0 AS dup_frac
      |FROM base b LEFT JOIN cov ON b.doc_id = cov.doc_id
      |ORDER BY b.doc_id""".stripMargin

  /** Corpus-mixture rebalancing — the curation step that sets per-group
    * sampling rates to hit target shares (here: uniform across langs):
    * rate_g = min(1, target·N/n_g), acceptance by content hash so the SAME
    * docs are kept on any cluster/engine. The rate table is 5 rows —
    * broadcast — and acceptance is a map-side predicate; nothing
    * corpus-sized shuffles except the final per-group report.
    */
  private val mixRebalance: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_before"))
    val rates = counts
      .crossJoin(broadcast(counts.agg(sum("n_before").as("n_total"))))
      .withColumn("rate",
        least(lit(1.0), lit(0.2) * col("n_total") / col("n_before")))
      .select("lang", "n_before", "rate")
    val kept = docs.join(broadcast(rates), "lang")
      .filter(Hashing.md5Frac(
        concat(col("doc_id").cast("string"), lit("#mix"))) < col("rate"))
      .groupBy("lang").agg(count(lit(1)).as("n_after"))
    val after = rates.join(kept, Seq("lang"), "left")
      .withColumn("n_after", coalesce(col("n_after"), lit(0L)))
    after
      .crossJoin(broadcast(after.agg(sum("n_after").as("total_after"))))
      .select(col("lang"), col("n_before"), col("rate"), col("n_after"),
        r4(col("n_after").cast("double") / col("total_after")).as("share_after"))
      .orderBy("lang")
  }

  private val mixRebalanceSql =
    """WITH c AS (SELECT lang, count(*) AS n_before FROM documents GROUP BY lang),
      |t AS (SELECT CAST(SUM(n_before) AS BIGINT) AS n_total FROM c),
      |r AS (SELECT lang, n_before,
      |             least(CAST(1.0 AS DOUBLE),
      |                   CAST(0.2 AS DOUBLE) * n_total / n_before) AS rate
      |      FROM c, t),
      |kept AS (
      |  SELECT d.lang FROM documents d JOIN r USING (lang)
      |  WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '#mix'), 1, 8))::BIGINT
      |        / 4294967296.0 < r.rate),
      |a AS (SELECT r.lang, r.n_before, r.rate,
      |             COALESCE(k.n_after, 0) AS n_after
      |      FROM r LEFT JOIN (SELECT lang, count(*) AS n_after FROM kept GROUP BY lang) k
      |      USING (lang)),
      |ta AS (SELECT CAST(SUM(n_after) AS BIGINT) AS total_after FROM a)
      |SELECT lang, n_before, rate, n_after,
      |       floor(n_after / CAST(ta.total_after AS DOUBLE) * 10000 + 0.5) / 10000.0 AS share_after
      |FROM a, ta ORDER BY lang""".stripMargin

  /** Exact-allocation stratified sampling — the counts-guaranteed
    * companion of [[mixRebalance]]'s rate thresholding: a Bernoulli
    * rate hits its target only in expectation, but a training-mixture
    * spec says "exactly k per stratum". Each stratum keeps its k
    * hash-smallest members (rank by (md5, doc_id) within the stratum,
    * k = the smallest stratum's size — perfect balance), so the
    * selection is deterministic, engine-independent, and EXACT. The
    * per-stratum rank ≤ k plans as a WindowGroupLimit under the
    * lang-keyed window — no stratum ever buffers beyond k, the
    * `q_topn_per_group` heap argument — and only per-stratum summary
    * rows leave; the id-sum column pins WHICH documents were chosen,
    * not just how many. ◆ oracle: the identical md5 rank in DuckDB.
    *
    * k is fetched as a ONE-ROW driver scalar (the bounded-collect class
    * the BPE argmax established) because WindowGroupLimit only plans
    * for a LITERAL rank bound — with k as a joined column every
    * stratum would buffer its full membership; in production k is the
    * mixture spec's constant anyway.
    */
  private val stratifiedSampleQ: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_before"))
    val k = counts.agg(min("n_before")).collect()(0).getLong(0)
    val ranked = docs.select(col("lang"), col("doc_id"),
        Hashing.md5Long(concat(col("doc_id").cast("string"),
          lit("#strat"))).as("h"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy(asc("h"), asc("doc_id"))))
    ranked
      .filter(col("rk") <= lit(k))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"), sum("doc_id").as("id_sum"))
      .join(counts, "lang")
      .select(col("lang"), col("n_before"), lit(k).as("k_target"),
        col("n_sampled"), col("id_sum"))
      .orderBy("lang")
  }

  private val stratifiedSampleSql =
    """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_before
      |           FROM documents GROUP BY lang),
      |k AS (SELECT MIN(n_before) AS k_target FROM c),
      |r AS (SELECT lang, doc_id,
      |             row_number() OVER (PARTITION BY lang ORDER BY
      |               ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#strat'), 1, 8))::BIGINT,
      |               doc_id) AS rk
      |      FROM documents),
      |s AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled,
      |             CAST(SUM(doc_id) AS BIGINT) AS id_sum
      |      FROM r, k WHERE rk <= k_target GROUP BY lang)
      |SELECT s.lang, c.n_before, k.k_target, s.n_sampled, s.id_sum
      |FROM s JOIN c USING (lang), k ORDER BY lang""".stripMargin

  /** Binary-signature ANN — the compression end of the similarity-search
    * family: each vector packs its 64 sign bits into two BIGINT halves
    * (32× smaller than the floats), candidates come from Hamming distance
    * on the signatures (XOR + popcount — pure integer ops), and only the
    * top-32 candidates per query are re-ranked with exact cosine. At
    * 100 TB this is the memory story: the signature table fits where the
    * float table cannot, queries broadcast, Hamming scoring is map-side,
    * and the expensive float math touches 32 rows per query instead of
    * the corpus.
    */
  private val annBinary: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("h1", expr(
        "aggregate(sequence(0, 31), 0L, (a, i) -> a + CASE WHEN v[i] >= 0D THEN shiftleft(1L, i) ELSE 0L END)"))
      .withColumn("h2", expr(
        "aggregate(sequence(32, 63), 0L, (a, i) -> a + CASE WHEN v[i] >= 0D THEN shiftleft(1L, i - 32) ELSE 0L END)"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("h1").as("qh1"), col("h2").as("qh2"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("ham", expr(
        "bit_count(h1 ^ qh1) + bit_count(h2 ^ qh2)"))
      .withColumn("crank", row_number().over(
        Window.partitionBy("q_id").orderBy(asc("ham"), asc("vec_id"))))
      .filter(col("crank") <= 32)
      .withColumn("cos", r3(cosine(col("qv"), col("v"))))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos"), asc("vec_id"))))
      .filter(col("rank") <= 5)
      .select("q_id", "rank", "vec_id", "cos", "ham")
      .orderBy("q_id", "rank")
  }

  private val annBinarySql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |sg AS (
      |  SELECT vec_id, v,
      |    CAST(list_aggregate(list_transform(range(0, 32),
      |      i -> CASE WHEN v[i + 1] >= 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END), 'sum') AS BIGINT) AS h1,
      |    CAST(list_aggregate(list_transform(range(32, 64),
      |      i -> CASE WHEN v[i + 1] >= 0 THEN (1::BIGINT << (i - 32)) ELSE 0::BIGINT END), 'sum') AS BIGINT) AS h2
      |  FROM e),
      |q AS (SELECT vec_id AS q_id, v AS qv, h1 AS qh1, h2 AS qh2 FROM sg WHERE vec_id < 10),
      |cand AS (
      |  SELECT q_id, vec_id, qv, v,
      |         CAST(bit_count(xor(h1, qh1)) + bit_count(xor(h2, qh2)) AS INT) AS ham
      |  FROM sg, q WHERE vec_id <> q_id),
      |ranked AS (
      |  SELECT q_id, vec_id, qv, v, ham,
      |         row_number() OVER (PARTITION BY q_id ORDER BY ham, vec_id) AS crank
      |  FROM cand),
      |rerank AS (
      |  SELECT q_id, vec_id, ham,
      |         floor(list_cosine_similarity(qv, v) * 1000 + 0.5) / 1000.0 AS cos
      |  FROM ranked WHERE crank <= 32)
      |SELECT q_id, rank, vec_id, cos, ham
      |FROM (SELECT q_id, vec_id, cos, ham,
      |             row_number() OVER (PARTITION BY q_id
      |                                ORDER BY cos DESC, vec_id) AS rank
      |      FROM rerank)
      |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  /** End-to-end curation funnel — the composed pipeline a corpus actually
    * runs (lang keep-list → length floor → repetition cap → exact dedup),
    * reported as the per-stage survivor/drop table every curation job
    * ships with. Each stage is the registry operator's own predicate, so
    * the funnel IS the composition proof; counts are one aggregate per
    * stage over a chain Catalyst collapses into a single scan pipeline.
    */
  private val curateFunnel: Q = (s, d) => {
    // ONE scan, one aggregate: each stage's predicate is a row-local flag
    // (conjunctive with its predecessor), the dedup stage is a conditional
    // count-distinct over survivors' fingerprints, and the 1-row aggregate
    // unpivots into the funnel. A per-stage re-scan (the naive union of
    // five counts) reads the corpus five times — measured 5× slower here
    // and 5 full scans of 100 TB there.
    // Flags shared with the live ingest path ([[graft.stream.Curate]]) —
    // the streaming funnel filters on f3 + watermark dedup; this batch form
    // conditional-sums the same flags into the per-stage counts.
    val flagged = graft.stream.Curate.flags(Tables.documents(s, d))
    flagged.agg(
        count(lit(1)).as("n0"),
        sum(col("f1").cast("long")).as("n1"),
        sum(col("f2").cast("long")).as("n2"),
        sum(col("f3").cast("long")).as("n3"),
        countDistinct(when(col("f3"), md5(col("text")))).as("n4"))
      .selectExpr(
        """stack(5,
          |  0, '00_ingest', n0, 1, '01_lang', n1, 2, '02_min_length', n2,
          |  3, '03_repetition', n3, 4, '04_exact_dedup', n4)
          |  AS (stage_idx, stage, n_docs)""".stripMargin)
      .withColumn("dropped",
        coalesce(lag("n_docs", 1).over(
          Window.orderBy("stage_idx")), col("n_docs")) - col("n_docs"))
      .orderBy("stage_idx")
  }

  private val curateFunnelSql =
    """WITH s1 AS (SELECT * FROM documents WHERE lang IN ('en', 'de', 'fr', 'es')),
      |s2 AS (SELECT *, string_split(text, ' ') AS ws FROM s1
      |       WHERE len(string_split(text, ' ')) >= 20),
      |s3 AS (SELECT * FROM (
      |         SELECT doc_id, text, len(ws) AS n,
      |                len(list_distinct(list_transform(range(1, len(ws)),
      |                    i -> ws[i] || ' ' || ws[i+1]))) AS d2
      |         FROM s2)
      |       WHERE floor(CAST(n - 1 - d2 AS DOUBLE) / (n - 1) * 10000 + 0.5) / 10000.0 <= 0.6),
      |s4 AS (SELECT md5(text) AS fp, min(doc_id) AS doc_id FROM s3 GROUP BY fp),
      |f AS (
      |  SELECT 0 AS stage_idx, '00_ingest' AS stage, count(*) AS n_docs FROM documents
      |  UNION ALL SELECT 1, '01_lang', count(*) FROM s1
      |  UNION ALL SELECT 2, '02_min_length', count(*) FROM s2
      |  UNION ALL SELECT 3, '03_repetition', count(*) FROM s3
      |  UNION ALL SELECT 4, '04_exact_dedup', count(*) FROM s4)
      |SELECT stage_idx, stage, n_docs,
      |       COALESCE(lag(n_docs) OVER (ORDER BY stage_idx), n_docs) - n_docs AS dropped
      |FROM f ORDER BY stage_idx""".stripMargin

  /** Incremental dedup — the production shape of exact dedup: a corpus is
    * deduped ONCE, its fingerprints become a catalog, and each new
    * snapshot joins against the catalog instead of re-deduping the world.
    * Here the catalog is the md5 set of the standing corpus (doc_id % 7
    * ≠ 0), the snapshot is the rest plus planted copies of catalog docs;
    * each snapshot doc reports whether it collides with the catalog
    * (min colliding catalog id) or is novel. Scale shape: the join is a
    * fingerprint equi-join — at 100 TB the catalog is a bucketed table on
    * `fp` and the snapshot shuffles once into the same bucketing; nothing
    * compares text, only 32-byte fingerprints.
    */
  private val dedupIncremental: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val catalog = docs.filter(pmod(col("doc_id"), lit(7L)) =!= 0)
      .select(md5(col("text")).as("fp"), col("doc_id").as("catalog_id"))
    val planted = docs.filter(pmod(col("doc_id"), lit(7L)) =!= 0)
      .filter(col("doc_id") < 70)
      .select((col("doc_id") + lit(40000L)).as("doc_id"), col("text"))
    val snapshot = docs.filter(pmod(col("doc_id"), lit(7L)) === 0)
      .select("doc_id", "text").unionByName(planted)
    snapshot.withColumn("fp", md5(col("text")))
      .join(catalog.groupBy("fp").agg(min("catalog_id").as("catalog_id")),
        Seq("fp"), "left")
      .groupBy("doc_id")
      .agg(min("catalog_id").as("catalog_id"),
        max(col("catalog_id").isNotNull.cast("int")).as("is_dup"))
      .orderBy("doc_id")
  }

  private val dedupIncrementalSql =
    """WITH catalog AS (
      |  SELECT md5(text) AS fp, min(doc_id) AS catalog_id
      |  FROM documents WHERE doc_id % 7 <> 0 GROUP BY fp),
      |snapshot AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 40000 AS doc_id, text
      |  FROM documents WHERE doc_id % 7 <> 0 AND doc_id < 70)
      |SELECT s.doc_id, min(c.catalog_id) AS catalog_id,
      |       max(CAST(c.catalog_id IS NOT NULL AS INT)) AS is_dup
      |FROM snapshot s LEFT JOIN catalog c ON md5(s.text) = c.fp
      |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin

  /** Broadcast-sketch incremental dedup — the shuffle-avoiding scale twin
    * of [[dedupIncremental]]. A 100 TB catalog has billions of
    * fingerprints: too big for a broadcast hash join, and shuffling every
    * snapshot row against it wastes the fact that most snapshot docs are
    * novel. Instead: build ONE Bloom filter over the catalog fingerprints
    * (`df.stat.bloomFilter`, a treeAggregate — a few hundred MB at 3 % fpp
    * even for billions of keys), probe it on the snapshot scan inside
    * whole-stage codegen ([[graft.functions.BloomMightContain]]), and send
    * only BF-positive rows (true dups + ~3 % false positives) into the
    * exact fingerprint join. BF-negative rows are definitively novel — a
    * Bloom filter has no false negatives — so they bypass the shuffle
    * entirely. Same answer as the exact join (BloomSpec proves equality,
    * the no-false-negative probe over the full catalog, and that the
    * sketch actually prunes).
    */
  private val bloomDedup: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val catalog = docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0)
      .select(md5(col("text")).as("fp"), col("doc_id").as("catalog_id"))
    val catAgg = catalog.groupBy("fp").agg(min("catalog_id").as("catalog_id"))
    // Scalar sizing action for the sketch (same precedent as the k-clamp
    // counts): one number to the driver, not data.
    val nCat = catalog.count()
    val bf = catalog.stat.bloomFilter("fp", math.max(nCat, 1L), 0.03)
    val planted = docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0)
      .filter(col("doc_id") < 50)
      .select((col("doc_id") + lit(50000L)).as("doc_id"), col("text"))
    val snap = docs.filter(pmod(col("doc_id"), lit(5L)) === 0)
      .select("doc_id", "text").unionByName(planted)
      .withColumn("fp", md5(col("text")))
    // The branch split must be EXHAUSTIVE even for a null fingerprint
    // (null text): the probe is null on null input, and `p` / `!p` both
    // filter null away — the row would silently vanish where the exact
    // join keeps it. coalesce routes null-fp rows to the novel branch,
    // which is also what the exact left join concludes for them.
    val probe = graft.functions.BloomMightContain(col("fp"), bf)
    val pos = snap
      .where(probe)
      .join(catAgg, Seq("fp"), "left")
    val neg = snap
      .where(!coalesce(probe, lit(false)))
      .withColumn("catalog_id", lit(null).cast("long"))
    pos.unionByName(neg)
      .select(col("doc_id"), col("catalog_id"),
        col("catalog_id").isNotNull.cast("int").as("is_dup"))
      .orderBy("doc_id")
  }

  private val bloomDedupSql =
    """WITH catalog AS (
      |  SELECT md5(text) AS fp, min(doc_id) AS catalog_id
      |  FROM documents WHERE doc_id % 5 <> 0 GROUP BY fp),
      |snapshot AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id + 50000 AS doc_id, text
      |  FROM documents WHERE doc_id % 5 <> 0 AND doc_id < 50)
      |SELECT s.doc_id, c.catalog_id,
      |       CAST(c.catalog_id IS NOT NULL AS INT) AS is_dup
      |FROM snapshot s LEFT JOIN catalog c ON md5(s.text) = c.fp
      |ORDER BY s.doc_id""".stripMargin

  /** The PRODUCTION incremental-dedup composition, end-to-end in one query:
    * bloom gate → exact fingerprint join → MinHash-LSH near-dup discovery
    * on the survivors. [[bloomDedup]] and [[dedupIncremental]] demo the
    * stages; this is the shape a 100 TB delta ingest actually runs:
    *
    *   1. ONE Bloom filter over the standing catalog's fingerprints
    *      (treeAggregate; hundreds of MB even at billions of keys) probed
    *      on the delta scan inside whole-stage codegen — BF-negative rows
    *      (the vast majority of a typical delta) never shuffle;
    *   2. BF-positive rows take the exact fingerprint join (3 % false
    *      positives pay the join, true dups resolve to their catalog id);
    *   3. only the surviving novel docs enter sub-quadratic LSH discovery
    *      + exact shingle-Jaccard verification AMONG THEMSELVES — the
    *      within-delta near-dups a pure fingerprint join cannot see.
    *
    * Verdict per doc: exact_dup (catalog hit) / near_dup (verified partner
    * with a smaller id — the canonical survivor) / novel. Exact dups are
    * planted from the catalog (ids +50000), near-dups by re-appending
    * delta docs (ids +60000); the oracle replays stages 2-3 exactly (the
    * bloom gate is semantically transparent: no false negatives, and false
    * positives only pay the join — BloomSpec proves both).
    */
  private val dedupDelta: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val catalog = docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0)
      .select(md5(col("text")).as("fp"), col("doc_id").as("catalog_id"))
    val catAgg = catalog.groupBy("fp").agg(min("catalog_id").as("catalog_id"))
    val nCat = catalog.count()
    val bf = catalog.stat.bloomFilter("fp", math.max(nCat, 1L), 0.03)
    val plantedExact = docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0)
      .filter(col("doc_id") < 50)
      .select((col("doc_id") + lit(50000L)).as("doc_id"), col("text"))
    val base = docs.filter(pmod(col("doc_id"), lit(5L)) === 0)
      .select("doc_id", "text")
    val plantedNear = base.filter(col("doc_id") < 125)
      .select((col("doc_id") + lit(60000L)).as("doc_id"), col("text"))
    val delta = base.unionByName(plantedExact).unionByName(plantedNear)
      .withColumn("fp", md5(col("text")))
    // Exhaustive pos/neg split incl. null fingerprints — same discipline
    // (and BloomSpec proof) as q_bloom_dedup.
    val probe = graft.functions.BloomMightContain(col("fp"), bf)
    val pos = delta.where(probe).join(catAgg, Seq("fp"), "left")
    val neg = delta.where(!coalesce(probe, lit(false)))
      .withColumn("catalog_id", lit(null).cast("long"))
    val exact = pos.unionByName(neg).select("doc_id", "text", "catalog_id")
    val survivors = exact.filter(col("catalog_id").isNull).select("doc_id", "text")
    val near = minhashPairs(survivors)
      .groupBy(col("doc_b").as("doc_id"))
      .agg(min("doc_a").as("near_dup_of"))
    exact.join(near, Seq("doc_id"), "left")
      .select(col("doc_id"), col("catalog_id"), col("near_dup_of"),
        when(col("catalog_id").isNotNull, lit("exact_dup"))
          .when(col("near_dup_of").isNotNull, lit("near_dup"))
          .otherwise(lit("novel")).as("status"))
      .orderBy("doc_id")
  }

  private val dedupDeltaSql =
    s"""WITH
       |catalog AS (
       |  SELECT md5(text) AS fp, min(doc_id) AS catalog_id
       |  FROM documents WHERE doc_id % 5 <> 0 GROUP BY fp),
       |delta AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
       |  UNION ALL
       |  SELECT doc_id + 50000 AS doc_id, text
       |  FROM documents WHERE doc_id % 5 <> 0 AND doc_id < 50
       |  UNION ALL
       |  SELECT doc_id + 60000 AS doc_id, text
       |  FROM documents WHERE doc_id % 5 = 0 AND doc_id < 125),
       |exact AS (
       |  SELECT d.doc_id, d.text, c.catalog_id
       |  FROM delta d LEFT JOIN catalog c ON md5(d.text) = c.fp),
       |survivors AS (SELECT doc_id, text FROM exact WHERE catalog_id IS NULL),
       |${minhashStagesSql("survivors")},
       |verified AS (
       |  SELECT doc_a, doc_b
       |  FROM cand
       |  JOIN sh sa ON sa.doc_id = cand.doc_a
       |  JOIN sh sb ON sb.doc_id = cand.doc_b
       |  WHERE floor((len(list_intersect(sa.sh, sb.sh)) /
       |              CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE))
       |                    * 10000 + 0.5) / 10000.0 >= 0.8),
       |near AS (SELECT doc_b AS doc_id, min(doc_a) AS near_dup_of
       |         FROM verified GROUP BY doc_b)
       |SELECT e.doc_id, e.catalog_id, n.near_dup_of,
       |       CASE WHEN e.catalog_id IS NOT NULL THEN 'exact_dup'
       |            WHEN n.near_dup_of IS NOT NULL THEN 'near_dup'
       |            ELSE 'novel' END AS status
       |FROM exact e LEFT JOIN near n ON e.doc_id = n.doc_id
       |ORDER BY e.doc_id""".stripMargin

  /** Embedding↔document integrity — the referential check a multimodal /
    * embedding pipeline runs before training: which docs lack a vector,
    * which vectors lack a doc (anti-joins both ways), and per-lang
    * coverage with L2-norm health stats. One pass over each side; the
    * doc↔vector match is an id equi-join.
    */
  private val embedCoverage: Q = (s, d) => {
    val docs = Tables.documents(s, d).select("doc_id", "lang")
    val embs = Tables.embeddings(s, d)
      .select(col("vec_id"),
        sqrt(graft.functions.DotProduct(
          col("embedding").cast("array<double>"),
          col("embedding").cast("array<double>"))).as("norm"))
    // Norms are fixed-pointed to micro units BEFORE the group sum (same
    // discipline as q_unigram_lm): a raw double avg depends on partition
    // summation order.
    docs.join(embs, docs("doc_id") === embs("vec_id"), "left")
      .withColumn("inorm",
        when(col("vec_id").isNotNull,
          floor(col("norm") * lit(1000000.0) + lit(0.5)).cast("long")))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("vec_id").isNotNull.cast("long")).as("n_with_vec"),
        sum("inorm").as("sinorm"))
      .select(col("lang"), col("n_docs"), col("n_with_vec"),
        (floor(col("sinorm") / (col("n_with_vec") * lit(100.0)) + lit(0.5)) / lit(10000.0)).as("avg_norm"))
      .orderBy("lang")
  }

  private val embedCoverageSql =
    """WITH e AS (
      |  SELECT vec_id,
      |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
      |                               CAST(embedding AS DOUBLE[]))) AS norm
      |  FROM embeddings)
      |SELECT lang, n_docs, n_with_vec,
      |       floor(CAST(sinorm AS BIGINT) / (n_with_vec * 100.0) + 0.5) / 10000.0 AS avg_norm
      |FROM (
      |  SELECT d.lang, count(*) AS n_docs,
      |         CAST(SUM(CAST(e.vec_id IS NOT NULL AS INT)) AS BIGINT) AS n_with_vec,
      |         SUM(CASE WHEN e.vec_id IS NOT NULL
      |                  THEN CAST(floor(e.norm * 1000000 + 0.5) AS BIGINT) END) AS sinorm
      |  FROM documents d LEFT JOIN e ON d.doc_id = e.vec_id
      |  GROUP BY d.lang)
      |ORDER BY lang""".stripMargin

  /** Leakage-safe train/val split — the split discipline LLM training data
    * requires: assignment is hashed from the NEAR-DUP COMPONENT id, not the
    * doc id, so a document and its near-duplicates land in the same split
    * by construction (doc-level hashing would leak ~80 % of every dup
    * cluster into train and the rest into val, inflating eval scores).
    * Components come from the proven scale path — MinHash-LSH discovery →
    * exact verification → closure ([[minhashVerified]] /
    * [[componentsFromPairs]]); singletons are their own component. Output
    * is the per-split audit: component/doc counts, docs in multi-doc
    * components, largest component. SplitDriftSpec proves the invariant
    * directly — against [[splitAssignments]], the SAME production
    * assignment this query aggregates: no component straddles splits.
    */
  private[graft] def splitAssignments(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val corpus = minhashVerified(s, d)._1
    val comps = minhashComponents(s, d).select("doc_id", "component")
    corpus.select("doc_id").join(comps, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
      .withColumn("split",
        when(pmod(Hashing.md5Long(col("component").cast("string")), lit(10L)) < 8,
          lit("train")).otherwise(lit("val")))
  }

  private val splitLeakfree: Q = (s, d) => {
    val perComp = splitAssignments(s, d).groupBy("component", "split")
      .agg(count(lit(1)).as("sz"))
    perComp.groupBy("split")
      .agg(count(lit(1)).as("n_components"),
        sum("sz").as("n_docs"),
        sum(when(col("sz") > 1, col("sz")).otherwise(lit(0L))).as("n_linked_docs"),
        max("sz").as("max_component"))
      .orderBy("split")
  }

  private val splitLeakfreeSql =
    s"""WITH RECURSIVE
       |$minhashCteSql,
       |$closureCteSql,
       |allc AS (
       |  SELECT a.doc_id, COALESCE(c.component, a.doc_id) AS component
       |  FROM all_docs a LEFT JOIN comp c ON a.doc_id = c.doc_id),
       |ws AS (
       |  SELECT doc_id, component,
       |         CASE WHEN ('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 8))::BIGINT % 10 < 8
       |              THEN 'train' ELSE 'val' END AS split
       |  FROM allc),
       |perc AS (SELECT component, split, count(*) AS sz FROM ws GROUP BY component, split)
       |SELECT split, count(*) AS n_components,
       |       CAST(sum(sz) AS BIGINT) AS n_docs,
       |       CAST(sum(CASE WHEN sz > 1 THEN sz ELSE 0 END) AS BIGINT) AS n_linked_docs,
       |       max(sz) AS max_component
       |FROM perc GROUP BY split ORDER BY split""".stripMargin

  /** Temporal train/test split with an embargo gap — the time-series
    * leakage guard: train strictly BEFORE test with `embargoDays` of
    * excluded days between them, so features computed with any lookback
    * ≤ embargo cannot leak future information into training (the purged
    * split of financial-ML practice). The boundary is derived from the
    * data in exact integer day arithmetic — train = first 80% of the
    * observed day span, embargo = the next [[embargoDays]], test = the
    * rest — so both engines compute identical assignments with no
    * configuration to drift. Reported per split: event count, distinct
    * users, and the day range actually occupied (the audit columns a
    * split consumer checks before trusting it: train day_hi + embargo
    * < test day_lo by construction).
    *
    * Orthogonal to ◆ `q_split_leakfree`: this guards TIME leakage,
    * that guards DUPLICATE-GROUP leakage (same user may legitimately
    * appear on both sides here — compose the two when both risks
    * apply). Scale shape: 1-row bounds broadcast, assignment is a
    * map-side expression on the scan, one partial+final aggregate to
    * 3 rows; no shuffle ever carries data.
    */
  private val embargoDays = 2L

  private val splitTemporal: Q = (s, d) => {
    val ev = Tables.events(s, d).select(
      expr("unix_micros(ts) div 86400000000").as("day"), col("user_id"))
    val bounds = ev.agg(min("day").as("lo"), max("day").as("hi"))
    ev.crossJoin(broadcast(bounds))
      .withColumn("train_end",
        col("lo") + call_function("div",
          (col("hi") - col("lo") + lit(1L)) * lit(8L), lit(10L)) - lit(1L))
      .withColumn("split",
        when(col("day") <= col("train_end"), lit("1_train"))
          .when(col("day") > col("train_end") + lit(embargoDays), lit("3_test"))
          .otherwise(lit("2_embargo")))
      .groupBy("split")
      .agg(count(lit(1)).as("n_events"),
        countDistinct("user_id").as("n_users"),
        min("day").as("day_lo"), max("day").as("day_hi"))
      .orderBy("split")
  }

  private val splitTemporalSql =
    s"""WITH ev AS (
       |  SELECT epoch_us(ts) // 86400000000 AS day, user_id FROM events),
       |b AS (SELECT min(day) AS lo, max(day) AS hi FROM ev),
       |t AS (SELECT lo + (hi - lo + 1) * 8 // 10 - 1 AS train_end FROM b),
       |tagged AS (
       |  SELECT day, user_id,
       |         CASE WHEN day <= train_end THEN '1_train'
       |              WHEN day > train_end + $embargoDays THEN '3_test'
       |              ELSE '2_embargo' END AS split
       |  FROM ev, t)
       |SELECT split, CAST(count(*) AS BIGINT) AS n_events,
       |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       |       min(day) AS day_lo, max(day) AS day_hi
       |FROM tagged GROUP BY split ORDER BY split""".stripMargin

  /** Snapshot drift detection — the monitoring pass between two crawls: has
    * the language mixture shifted enough to retune the curation mixture?
    * Baseline = even doc_ids; current = odd doc_ids plus a planted re-crawl
    * of every German doc (a real shift for the detector to flag). Per
    * category it emits the chi-square contribution ((observed − expected)²
    * / expected, expected scaled from the baseline rate) and the total-
    * variation contribution |p_cur − p_base| — both RATIONAL arithmetic
    * (no ln as PSI would need: JVM and DuckDB libms may differ in the last
    * ulp; products/quotients of counts are IEEE-identical, the driver-
    * constraint discipline of q_vocab_pmi). Two scans and a 5-row
    * broadcast-total cross join; trivially parallel at any scale.
    */
  private val driftChi2: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val base = docs.filter(pmod(col("doc_id"), lit(2L)) === 0)
      .groupBy("lang").agg(count(lit(1)).as("n_base"))
    val cur = docs.filter(pmod(col("doc_id"), lit(2L)) === 1).select("lang")
      .unionByName(docs.filter(col("lang") === "de").select("lang"))
      .groupBy("lang").agg(count(lit(1)).as("n_cur"))
    val j = base.join(cur, Seq("lang"), "full")
      .select(col("lang"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val tot = j.agg(sum("n_base").as("tb"), sum("n_cur").as("tc"))
    j.crossJoin(tot)
      .withColumn("e", col("n_base").cast("double") * col("tc") / col("tb"))
      .select(col("lang"), col("n_base"), col("n_cur"),
        when(col("n_base") === 0, lit(null).cast("double"))
          .otherwise(floor((col("n_cur") - col("e")) * (col("n_cur") - col("e"))
            / col("e") * lit(1000000.0) + lit(0.5)) / lit(1000000.0))
          .as("chi2_c"),
        (floor(abs(col("n_cur").cast("double") / col("tc")
          - col("n_base").cast("double") / col("tb")) * lit(1000000.0) + lit(0.5))
          / lit(1000000.0)).as("tv_c"))
      .orderBy("lang")
  }

  private val driftChi2Sql =
    """WITH base AS (
      |  SELECT lang, count(*) AS n_base FROM documents
      |  WHERE doc_id % 2 = 0 GROUP BY lang),
      |cur AS (
      |  SELECT lang, count(*) AS n_cur FROM (
      |    SELECT lang FROM documents WHERE doc_id % 2 = 1
      |    UNION ALL SELECT lang FROM documents WHERE lang = 'de')
      |  GROUP BY lang),
      |j AS (
      |  SELECT COALESCE(b.lang, c.lang) AS lang,
      |         COALESCE(n_base, 0) AS n_base, COALESCE(n_cur, 0) AS n_cur
      |  FROM base b FULL JOIN cur c ON b.lang = c.lang),
      |t AS (SELECT sum(n_base) AS tb, sum(n_cur) AS tc FROM j),
      |je AS (
      |  SELECT lang, n_base, n_cur, tb, tc,
      |         CAST(n_base AS DOUBLE) * tc / tb AS e
      |  FROM j, t)
      |SELECT lang, n_base, n_cur,
      |       CASE WHEN n_base = 0 THEN NULL
      |            ELSE floor((n_cur - e) * (n_cur - e) / e * 1000000.0 + 0.5)
      |                 / 1000000.0 END AS chi2_c,
      |       floor(abs(CAST(n_cur AS DOUBLE) / tc - CAST(n_base AS DOUBLE) / tb)
      |             * 1000000.0 + 0.5) / 1000000.0 AS tv_c
      |FROM je ORDER BY lang""".stripMargin

  /** BPE tokenizer training, iteration 1 — the top-20 adjacent-symbol
    * pair candidates over the corpus vocabulary (weighted by word
    * occurrences; [[graft.llm.Bpe]] holds the full iterative trainer).
    * The hash gate pins the exact pair statistics the trainer's first
    * argmax reads, over the same `[a-z]+` token class as q_token_count.
    *
    * Scale: corpus collapses to (word, freq) once (one shuffle on the
    * word key), pair counts are a map-side-combined sum over a narrow
    * explode, and the top-20 is sort+limit (TakeOrderedAndProject) with
    * positions numbered on the ≤ 20 surviving rows ([[graft.ops.Rank]]).
    */
  private val bpePairs: Q = (s, d) => {
    val vocab = graft.llm.Bpe.withSymbols(
      graft.llm.Bpe.wordFreq(Tables.documents(s, d)))
    graft.ops.Rank.firstK(graft.llm.Bpe.pairCounts(vocab), 20,
        desc("cnt"), asc("l"), asc("r"))
      .select(col("rn").cast("int").as("rn"), col("l"), col("r"), col("cnt"))
      .orderBy("rn")
  }

  private val bpePairsSql =
    """WITH w AS (SELECT unnest(regexp_extract_all(text, '[a-z]+')) AS word FROM documents),
      |w2 AS (SELECT word FROM w WHERE len(word) >= 2),
      |mx AS (SELECT max(len(word)) - 1 AS m FROM w2),
      |ii AS (SELECT unnest(generate_series(1, (SELECT m FROM mx))) AS i),
      |p AS (SELECT substr(word, i, 1) AS l, substr(word, i + 1, 1) AS r
      |      FROM w2 CROSS JOIN ii WHERE i <= len(word) - 1),
      |g AS (SELECT l, r, CAST(count(*) AS BIGINT) AS cnt FROM p GROUP BY l, r),
      |rk AS (SELECT l, r, cnt, CAST(row_number() OVER (ORDER BY cnt DESC, l, r) AS INT) AS rn FROM g)
      |SELECT rn, l, r, cnt FROM rk WHERE rn <= 20 ORDER BY rn""".stripMargin

  /** The full BPE merge table: 30 trained merges in application order
    * ([[graft.llm.Bpe.train]]). Rows-only for the driver — the iterative
    * argmax fixpoint (each round's counts depend on every previous
    * round's rewrite) is not ANSI-SQL-expressible; BpeSpec instead proves
    * the whole table equal to an independent plain-Scala reference
    * trainer, plus the greedy-overlap rule and encoder round-trip.
    */
  /** The session's trained 30-merge BPE table — the published tokenizer
    * ARTIFACT (r12): `ml_bpe_vocab` reports it and `ml_bpe_encode`
    * applies it, and a deployment trains it once and broadcasts it to
    * every encode job — so the two queries share one training run per
    * (session, corpus) instead of re-deriving it each, and training uses
    * the BATCHED trainer (≤ a handful of driver round-trips for 30
    * merges vs. 30 sequential Spark jobs; BpeSpec proves batched ≡
    * sequential merge-for-merge, pairFreq included, on the fixture AND
    * 15 adversarial corpora). Driver-side cache is the ≤ 30-row merge
    * table itself — no executor state, nothing for Ck to track.
    */
  private val bpeMergeCache = new graft.sources.LayoutCache.SessionCache[
    String, Seq[graft.llm.Bpe.Merge]]()

  private def trainedBpe(s: org.apache.spark.sql.SparkSession,
      d: String): Seq[graft.llm.Bpe.Merge] =
    bpeMergeCache.getOrBuild(s, d) {
      graft.llm.Bpe.trainBatched(Tables.documents(s, d), 30)
    }

  private val bpeVocab: Q = (s, d) => {
    val merges = trainedBpe(s, d)
    s.createDataFrame(merges)
      .select(col("rank").as("merge_rank"), col("lhs"), col("rhs"),
        col("merged"), col("pairFreq").as("pair_freq"))
      .orderBy("merge_rank")
  }

  /** BPE TRAINING under the DuckDB hash gate (r12 — the `trainedDet`
    * IVF precedent applied to the tokenizer): the oracle replays all 30
    * sequential merges as chained CTEs over a (word, pos, sym) relation.
    * Per round: count adjacent pairs weighted by word freq (lead window
    * ≡ the Spark explode of adjacent structs), take the argmax under the
    * identical (cnt DESC, l, r) tie-break, then apply the greedy
    * left-to-right merge in CLOSED FORM — for l ≠ r adjacent match
    * positions can never overlap, so every match merges; for l = r the
    * matches of a symbol run are consecutive and the fold keeps
    * alternate starters (1st, 3rd, …), which is exactly a
    * gaps-and-islands alternation (`ROW_NUMBER() % 2` within each
    * consecutive-match island). A merge-started position emits l‖r, the
    * following position is consumed (`lag`), survivors renumber. The
    * batched trainer the Spark side runs is spec-proven ≡ this
    * sequential semantics merge-for-merge (BpeSpec), so the oracle gates
    * BOTH the batching rule and the fold algebra. The encode twin
    * re-runs the same chain and reads the round-30 symbol table.
    */
  private def bpeReplayCtes(rounds: Int): String = {
    val head = Seq(
      """wf AS MATERIALIZED (
        |  SELECT word, CAST(count(*) AS BIGINT) AS freq
        |  FROM (SELECT unnest(regexp_extract_all(text, '[a-z]+')) AS word
        |        FROM documents)
        |  GROUP BY word)""".stripMargin,
      """s0 AS MATERIALIZED (
        |  SELECT word, unnest(generate_series(1, length(word))) AS pos
        |  FROM wf)""".stripMargin,
      """t0 AS MATERIALIZED (
        |  SELECT word, pos, substr(word, pos, 1) AS sym FROM s0)""".stripMargin)
    val per = (1 to rounds).flatMap { t =>
      Seq(
        s"""p$t AS (SELECT word, pos, sym,
           |  lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
           |  FROM t${t - 1})""".stripMargin,
        s"""b$t AS MATERIALIZED (
           |  SELECT p.sym AS l, p.nxt AS r, CAST(sum(wf.freq) AS BIGINT) AS cnt
           |  FROM p$t p JOIN wf ON wf.word = p.word
           |  WHERE p.nxt IS NOT NULL
           |  GROUP BY p.sym, p.nxt ORDER BY cnt DESC, l, r LIMIT 1)""".stripMargin,
        s"""m$t AS (SELECT word, pos, sym,
           |  CASE WHEN sym = (SELECT l FROM b$t) AND nxt = (SELECT r FROM b$t)
           |       THEN 1 ELSE 0 END AS mt FROM p$t)""".stripMargin,
        s"""i$t AS (SELECT word, pos, sym, mt,
           |  CASE WHEN mt = 1 AND
           |    (ROW_NUMBER() OVER (PARTITION BY word, mt, grp ORDER BY pos) % 2) = 1
           |       THEN 1 ELSE 0 END AS mstart
           |  FROM (SELECT *,
           |          pos - ROW_NUMBER() OVER (PARTITION BY word, mt ORDER BY pos) AS grp
           |        FROM m$t))""".stripMargin,
        s"""t$t AS MATERIALIZED (
           |  SELECT word, ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS pos,
           |         CASE WHEN mstart = 1 THEN sym || (SELECT r FROM b$t)
           |              ELSE sym END AS sym
           |  FROM (SELECT *,
           |          lag(mstart, 1, 0) OVER (PARTITION BY word ORDER BY pos) AS consumed
           |        FROM i$t)
           |  WHERE consumed = 0)""".stripMargin)
    }
    (head ++ per).mkString(",\n")
  }

  private val bpeMerges = 30

  private val bpeVocabSql = {
    val union = (1 to bpeMerges).map { t =>
      s"SELECT $t AS merge_rank, l AS lhs, r AS rhs, l || r AS merged, cnt AS pair_freq FROM b$t"
    }.mkString("\nUNION ALL\n")
    s"""WITH ${bpeReplayCtes(bpeMerges)}
       |SELECT * FROM (
       |$union
       |) ORDER BY merge_rank""".stripMargin
  }

  private val bpeEncodeSql =
    s"""WITH ${bpeReplayCtes(bpeMerges)}
       |SELECT wf.word AS word, wf.freq AS freq,
       |       CAST(count(*) AS INTEGER) AS n_tokens,
       |       string_agg(s.sym, ' ' ORDER BY s.pos) AS encoding
       |FROM t$bpeMerges s JOIN wf ON wf.word = s.word
       |GROUP BY wf.word, wf.freq
       |ORDER BY freq DESC, word LIMIT 50""".stripMargin

  /** Prefix-filtered exact set-similarity join (the All-Pairs/PPJoin
    * candidate rule, Chaudhuri/Xiao et al.) — the GLOBAL exact-answer
    * alternative in the dedup family: [[jaccardPairs]] is exact but needs
    * a blocking key, [[minhashPairs]] scales globally but its banded LSH
    * can miss pairs; prefix filtering is global AND provably lossless.
    * Rank each doc's distinct 3-word shingles by ascending corpus df
    * (rarest first); with threshold τ a qualifying pair's FIRST common
    * shingle in that order must sit inside both docs' first
    * n − ⌈τ·n⌉ + 1 shingles (if it sat later, fewer than ⌈τ·n⌉ common
    * shingles could follow, contradicting jac ≥ τ ⟹ overlap ≥ τ·n), so
    * joining only the short prefixes generates every qualifying pair.
    * The size filter (5·min(n) ≥ 4·max(n) for τ=0.8, exact rational
    * arithmetic) prunes candidates the length bound already rejects.
    * Same planted-dup corpus and τ=0.8 as `q_minhash_dedup`, so the two
    * discovery strategies are directly diffable; the ◆ oracle generates
    * candidates from ANY shared shingle — a strictly larger candidate set
    * whose post-verification answer must be identical, which is exactly
    * the losslessness claim under the hash gate.
    *
    * Scale shape: df is a shingle-keyed count aggregate (never broadcast —
    * the shingle vocabulary is data-sized at 100 TB); the prefix rank is a
    * window partitioned by doc; the candidate join shuffles only the
    * ~20%-of-postings prefix rows on the shingle key; verification joins
    * candidates back to the shingle arrays by doc key. Every stage is
    * key-partitioned — no block-size precondition, no all-pairs fallback.
    */
  /** The full prefix-filtered exact pipeline over ANY (doc_id, text)
    * corpus at τ = 0.8 — shared by `q_simjoin_prefix` and the recall
    * evaluation `q_dedup_eval` (whose "ground truth" side this is).
    */
  private[graft] def prefixExactPairs(corpus: org.apache.spark.sql.DataFrame):
      org.apache.spark.sql.DataFrame = {
    // localCheckpoint: the shingled corpus feeds the posting side and both
    // verification sides — one interpreted shingling pass instead of three.
    val shingled = corpus
      .withColumn("ws", split(col("text"), " "))
      // size(ws) >= 3 guard (ADVICE r13, the Bpe.pairCounts discipline):
      // a shorter doc would make sequence(0, size-3) step DOWNWARD and
      // index ws[-1] (null shingle, or an error under ANSI mode) where
      // the DuckDB twin's range() yields an empty list — latent on this
      // fixture (every doc >= 3 words) but wrong semantics on any other.
      .withColumn("sh", when(size(col("ws")) >= 3, array_distinct(
        expr("transform(sequence(0, size(ws) - 3), " +
          "i -> concat(ws[i], ' ', ws[i+1], ' ', ws[i+2]))")))
        .otherwise(expr("array()").cast("array<string>")))
      .select(col("doc_id"), col("sh"), size(col("sh")).as("n"))
      .ckpt()
    val postings = shingled.select(col("doc_id"), col("n"),
      explode(col("sh")).as("g"))
    val dfTab = postings.groupBy("g").agg(count(lit(1)).as("df"))
    val prefix = postings.join(dfTab, "g")
      .withColumn("pos", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("g"))))
      // prefix length n − ⌈4n/5⌉ + 1, with ⌈4n/5⌉ = (4n+4) div 5
      .filter(col("pos") <=
        col("n") - call_function("div", col("n") * 4 + lit(4), lit(5)) + 1)
      .select(col("doc_id"), col("n"), col("g"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id") &&
          least(col("a.n"), col("b.n")) * lit(5) >=
            greatest(col("a.n"), col("b.n")) * lit(4))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sa = shingled.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val sb = shingled.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    cand.join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
      .withColumn("jac",
        Num.roundAt(size(array_intersect(col("sh_a"), col("sh_b"))) /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"), 4))
      .filter(col("jac") >= 0.8)
      .select("doc_a", "doc_b", "jac")
  }

  /** The exact (lossless) near-dup pair set of the planted corpus as a
    * STANDING artifact (r13): ground truth is computed once per corpus
    * refresh and consumed by both the exact-join demo
    * (◆ `q_simjoin_prefix`) and the recall evaluation (◆ `q_dedup_eval`,
    * which diffs the LSH discovery table against it) — the same
    * build-once shape as [[minhashVerified]]'s discovery side. Both
    * oracles recompute their answers definitionally, so the staged
    * table stays under the hash gate at every consumer.
    */
  private val exactPairsCache = new graft.sources.LayoutCache.SessionCache[
    String, org.apache.spark.sql.DataFrame]()

  private def plantedExactPairs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    exactPairsCache.getOrBuild(s, d) {
      graft.ops.Ck.pin(prefixExactPairs(plantedCorpus(s, d)),
      "llm.prefixExactPairs")
    }

  private val simjoinPrefix: Q = (s, d) =>
    plantedExactPairs(s, d).orderBy("doc_a", "doc_b")

  /** LSH recall, measured exactly and UNDER THE HASH GATE — the number a
    * 100 TB dedup deployment needs before trusting banded MinHash as its
    * discovery path: ground truth from the lossless prefix-filtered join
    * ([[prefixExactPairs]]), the probe from the banded-LSH + verify
    * pipeline ([[minhashPairs]]) on the same planted corpus, compared as
    * sets. Verification filters both sides at the same τ on the same
    * shingle sets, so LSH ⊆ exact by construction (precision 1.0; the
    * driver-checked n_lsh = n_exact − n_missed is the cross-check) and
    * the one free variable is recall — reported in integer basis points,
    * so the banding design's measured quality is itself a hash-gated
    * result, not a spec-only assertion. The spec-level recall floors
    * (LlmPipelineSpec) remain the regression guard; this query is the
    * measurement artifact.
    *
    * Scale shape: both pipelines are the already-audited sub-quadratic
    * machinery — and both are read as STANDING artifacts (r13:
    * [[minhashVerified]] / [[plantedExactPairs]], built once per
    * session), so the evaluation itself is what a deployment's QA job
    * costs: a pair-keyed anti-join + three 1-row counts met by
    * broadcast over two maintained tables.
    */
  private val dedupEval: Q = (s, d) => {
    val lsh = minhashVerified(s, d)._2.select("doc_a", "doc_b")
    val exact = plantedExactPairs(s, d).select("doc_a", "doc_b")
    val missed = exact.join(lsh, Seq("doc_a", "doc_b"), "left_anti")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(broadcast(lsh.agg(count(lit(1)).as("n_lsh"))))
      .crossJoin(broadcast(missed.agg(count(lit(1)).as("n_missed"))))
      .withColumn("recall_bp", call_function("div",
        lit(10000L) * (col("n_exact") - col("n_missed")), col("n_exact")))
  }

  private val dedupEvalSql = {
    val verify = (cand: String, out: String) =>
      s"""$out AS (
         |  SELECT doc_a, doc_b FROM $cand
         |  JOIN sh sa ON sa.doc_id = $cand.doc_a
         |  JOIN sh sb ON sb.doc_id = $cand.doc_b
         |  WHERE floor((len(list_intersect(sa.sh, sb.sh)) /
         |              CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE))
         |                   * 10000 + 0.5) / 10000.0 >= 0.8)""".stripMargin
    s"""WITH RECURSIVE
       |$minhashCteSql,
       |${verify("cand", "lsh")},
       |exc AS (SELECT doc_id, unnest(sh) AS g FROM sh),
       |ecand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM exc a JOIN exc b ON a.g = b.g AND a.doc_id < b.doc_id),
       |${verify("ecand", "exact")},
       |m AS (SELECT CAST(count(*) AS BIGINT) AS n_missed FROM exact e
       |      WHERE NOT EXISTS (SELECT 1 FROM lsh l
       |                        WHERE l.doc_a = e.doc_a AND l.doc_b = e.doc_b)),
       |ce AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM exact),
       |cl AS (SELECT CAST(count(*) AS BIGINT) AS n_lsh FROM lsh)
       |SELECT n_exact, n_lsh, n_missed,
       |       (10000 * (n_exact - n_missed)) // n_exact AS recall_bp
       |FROM ce, cl, m""".stripMargin
  }

  private val simjoinPrefixSql =
    """WITH all_docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 25),
      |sh AS (
      |  SELECT doc_id,
      |         list_distinct(list_transform(range(1, len(ws) - 1),
      |                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM all_docs)),
      |ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b,
      |       floor((len(list_intersect(sa.sh, sb.sh)) /
      |             CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE))
      |                  * 10000 + 0.5) / 10000.0 AS jac
      |FROM cand
      |JOIN sh sa ON sa.doc_id = cand.doc_a
      |JOIN sh sb ON sb.doc_id = cand.doc_b
      |WHERE floor((len(list_intersect(sa.sh, sb.sh)) /
      |            CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE))
      |                 * 10000 + 0.5) / 10000.0 >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin

  /** ◆ `q_dedup_threshold_sweep` — THRESHOLD SELECTION for the near-dup
    * family, the dedup analogue of ◆ `q_hyperparam_sweep`'s model
    * selection: before a deployment commits the τ every discovery query
    * here verifies at (0.8 across the MinHash/prefix family), it sweeps τ
    * against a corpus with KNOWN labels and reads the precision/recall/F1
    * curve. The labeled corpus plants two failure modes a real sweep must
    * separate: 25 noisy duplicates of docs 0–24 (every 6·(i mod 5)-th word
    * replaced by a marker, i mod 5 = 0 kept verbatim — five corruption
    * tiers spanning exact Jaccard ≈ 0.35 … 1.0) and 25 chimeras (first
    * half of doc i ‖ second half of doc i+1 — the boilerplate-overlap
    * false match, ≈ 0.33 similar to BOTH parents yet a duplicate of
    * neither). Ground truth is definitional: (j, plant-of-i) is true iff
    * doc j's text is byte-identical to source i (md5-keyed equality);
    * chimera pairs are never true. The measured curve has an interior F1
    * argmax (τ = 0.5–0.6 ≈ 8700 bp at both SFs: τ = 0.3 admits the
    * chimeras — precision ~42%, τ = 0.8 loses the noisy tiers — recall
    * 36–40%), so the family default is an evaluated choice, and
    * LlmPipelineSpec gates the discrimination (argmax strictly inside the
    * grid, beating both edges).
    *
    * Scale shape: discovery is the [[prefixExactPairs]] machinery
    * re-parameterized at τ_prefix = 0.29 (lossless for every grid
    * threshold, incl. the 3000-bp rounding boundary): df is a
    * shingle-keyed aggregate, only prefix postings shuffle, candidates are
    * bipartite (natural × plant) by construction. The sweep itself is ONE
    * pass over the verified pair table — the 7-row τ grid and the
    * evaluation-harness-sized truth set broadcast; integer basis-point
    * arithmetic end to end. The oracle regenerates candidates from ANY
    * shared shingle (a strict superset — the same losslessness diff as
    * ◆ `q_simjoin_prefix`) and replays corpus → labels → curve.
    */
  /** The sweep's discovery stage over ANY mixed corpus (doc_id < 10000 =
    * natural side, ≥ 10000 = plant side): bipartite prefix-filtered
    * candidates at τ_prefix = 0.29, verified at the grid floor
    * jac_bp ≥ 3000. Factored out so the losslessness claim — candidates
    * from df-ranked prefixes must reproduce brute-force all-pairs exactly
    * — is randomized-spec-tested (LlmPipelineSpec seeded sweep) on top of
    * the oracle's any-shared-shingle superset replay.
    */
  private[graft] def sweepPairs29(corpus: org.apache.spark.sql.DataFrame):
      org.apache.spark.sql.DataFrame = {
    def idiv(n: Column, dd: Column): Column = call_function("div", n, dd)
    val shingled = corpus
      .withColumn("ws", split(col("text"), " "))
      // size(ws) >= 3 guard (ADVICE r13, the Bpe.pairCounts discipline):
      // a shorter doc would make sequence(0, size-3) step DOWNWARD and
      // index ws[-1] (null shingle, or an error under ANSI mode) where
      // the DuckDB twin's range() yields an empty list — latent on this
      // fixture (every doc >= 3 words) but wrong semantics on any other.
      .withColumn("sh", when(size(col("ws")) >= 3, array_distinct(
        expr("transform(sequence(0, size(ws) - 3), " +
          "i -> concat(ws[i], ' ', ws[i+1], ' ', ws[i+2]))")))
        .otherwise(expr("array()").cast("array<string>")))
      .select(col("doc_id"), col("sh"), size(col("sh")).as("n"))
      .ckpt()
    val postings = shingled.select(col("doc_id"), col("n"),
      explode(col("sh")).as("g"))
    val dfTab = postings.groupBy("g").agg(count(lit(1)).as("df"))
    val prefix = postings.join(dfTab, "g")
      .withColumn("pos", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("g"))))
      // prefix length n − ⌈0.29·n⌉ + 1, with ⌈29n/100⌉ = (29n+99) div 100
      .filter(col("pos") <=
        col("n") - idiv(col("n") * 29 + lit(99), lit(100)) + 1)
      .select(col("doc_id"), col("n"), col("g"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < lit(10000L) &&
          col("b.doc_id") >= lit(10000L) &&
          least(col("a.n"), col("b.n")) * lit(100) >=
            greatest(col("a.n"), col("b.n")) * lit(29))
      .select(col("a.doc_id").as("doc_j"), col("b.doc_id").as("doc_p"))
      .distinct()
    val sa = shingled.select(col("doc_id").as("doc_j"), col("sh").as("sh_a"))
    val sb = shingled.select(col("doc_id").as("doc_p"), col("sh").as("sh_b"))
    cand.join(sa, Seq("doc_j")).join(sb, Seq("doc_p"))
      .withColumn("jac_bp", floor(
        size(array_intersect(col("sh_a"), col("sh_b"))) /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double") *
          10000 + 0.5).cast("long"))
      .filter(col("jac_bp") >= 3000L)
      .select("doc_j", "doc_p", "jac_bp")
  }

  /** The labeled mixed corpus shared by ◆ `q_dedup_threshold_sweep` and
    * ◆ `q_lsh_band_sweep` (r16): natural docs + 25 noisy plants of docs
    * 0–24 at +10000 (five corruption tiers — every 6·(i mod 5)-th word
    * replaced, i mod 5 = 0 verbatim — spanning exact Jaccard
    * ≈ 0.35 … 1.0) + 25 chimeras at +20000 (first half of doc i ‖
    * second half of doc i+1). ONE construction beside its SQL twin
    * ([[mixedCorpusCtesSql]]) so the two knob sweeps measure the same
    * labeled failure modes.
    */
  private[graft] def mixedLabeledCorpus(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    requirePlantHeadroom(s, d, "mixedLabeledCorpus")
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val src = docs.filter(col("doc_id") < 25)
    val srcW = src.withColumn("ws", split(col("text"), " "))
    val noisy = srcW.select(
      (col("doc_id") + lit(10000L)).as("doc_id"),
      concat_ws(" ", expr(
        "transform(sequence(1, size(ws)), i -> " +
          "case when doc_id % 5 > 0 and i % greatest(6 * (doc_id % 5), 1) = 0 " +
          "then 'zzqz' else element_at(ws, i) end)")).as("text"))
    val nxtW = docs.filter(col("doc_id") >= 1 && col("doc_id") <= 25)
      .select((col("doc_id") - 1).as("doc_id"), split(col("text"), " ").as("wsb"))
    val chim = srcW.join(nxtW, "doc_id")
      .select((col("doc_id") + lit(20000L)).as("doc_id"),
        concat_ws(" ", concat(
          expr("slice(ws, 1, size(ws) div 2)"),
          expr("slice(wsb, (size(wsb) div 2) + 1, size(wsb) - (size(wsb) div 2))")))
          .as("text"))
    docs.unionByName(noisy).unionByName(chim)
  }

  /** The τ-sweep's verified pair table — the prefix-filtered discovery
    * join + exact-Jaccard verification over the labeled mixed corpus at
    * the τ = 0.29 floor — staged once per (session, dataset) (r16, the
    * [[sweepSigs]] discipline): a deployment's dedup pipeline PERSISTS
    * its verified (pair, jac) table and applies the decision threshold
    * at read time — pricing τ is exactly this query's point — so the
    * sweep's samples time the threshold grid against the maintained
    * artifact, not the discovery join. ≤ |cand| rows, three columns.
    */
  private val sweepPairsCache = new graft.sources.LayoutCache.SessionCache[
    String, org.apache.spark.sql.DataFrame]()

  private[graft] def sweepPairs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    sweepPairsCache.getOrBuild(s, d) {
      graft.ops.Ck.pin(sweepPairs29(mixedLabeledCorpus(s, d)),
        "llm.sweepPairs")
    }

  private val dedupThresholdSweep: Q = (s, d) => {
    def idiv(n: Column, dd: Column): Column = call_function("div", n, dd)
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val src = docs.filter(col("doc_id") < 25)
    val pairs = sweepPairs(s, d)
    val truth = docs.select(col("doc_id").as("doc_j"), md5(col("text")).as("k"))
      .join(src.select((col("doc_id") + lit(10000L)).as("doc_p"),
        md5(col("text")).as("k")), "k")
      .select("doc_j", "doc_p")
    val flagged = pairs.join(broadcast(truth.withColumn("is_true", lit(1L))),
        Seq("doc_j", "doc_p"), "left")
      .na.fill(0L, Seq("is_true"))
    val grid = s.range(0L, 7L).select(
      (lit(3000L) + col("id") * lit(1000L)).as("tau_bp"))
    flagged.crossJoin(broadcast(grid))
      .groupBy("tau_bp")
      .agg(
        sum(when(col("jac_bp") >= col("tau_bp"), 1L).otherwise(0L)).as("n_pred"),
        sum(when(col("jac_bp") >= col("tau_bp"), col("is_true")).otherwise(0L))
          .as("n_tp"))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
      .select(col("tau_bp"), col("n_pred"), col("n_tp"), col("n_truth"),
        idiv(lit(10000L) * col("n_tp"), greatest(col("n_pred"), lit(1L)))
          .as("precision_bp"),
        idiv(lit(10000L) * col("n_tp"), col("n_truth")).as("recall_bp"),
        idiv(lit(20000L) * col("n_tp"), col("n_pred") + col("n_truth"))
          .as("f1_bp"))
      .orderBy("tau_bp")
  }

  /** The labeled mixed corpus (natural + noisy tiers + chimeras) as
    * oracle CTEs ending in `all_docs` — the SQL twin of
    * [[mixedLabeledCorpus]], shared by the threshold sweep and the
    * banding sweep (r16) so both knobs replay the same fixture.
    */
  private val mixedCorpusCtesSql =
    """src AS (SELECT doc_id, text FROM documents WHERE doc_id < 25),
      |srcw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM src),
      |noisy AS (
      |  SELECT doc_id + 10000 AS doc_id,
      |         array_to_string(list_transform(range(1, len(ws) + 1),
      |           i -> CASE WHEN doc_id % 5 > 0
      |                      AND i % greatest(6 * (doc_id % 5), 1) = 0
      |                     THEN 'zzqz' ELSE ws[i] END), ' ') AS text
      |  FROM srcw),
      |chim AS (
      |  SELECT a.doc_id + 20000 AS doc_id,
      |         array_to_string(a.ws[1:len(a.ws)//2] ||
      |                         b.ws[len(b.ws)//2+1:], ' ') AS text
      |  FROM srcw a
      |  JOIN (SELECT doc_id, string_split(text, ' ') AS ws
      |        FROM documents WHERE doc_id <= 25) b
      |    ON b.doc_id = a.doc_id + 1),
      |all_docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id, text FROM noisy
      |  UNION ALL SELECT doc_id, text FROM chim)""".stripMargin

  private val dedupThresholdSweepSql =
    s"""WITH $mixedCorpusCtesSql,
      |sh AS (
      |  SELECT doc_id,
      |         list_distinct(list_transform(range(1, len(ws) - 1),
      |                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM all_docs)),
      |exc AS (SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id < 10000),
      |pexc AS (SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id >= 10000),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_j, b.doc_id AS doc_p
      |         FROM exc a JOIN pexc b ON a.g = b.g),
      |pairs AS (
      |  SELECT doc_j, doc_p,
      |         CAST(floor((len(list_intersect(sa.sh, sb.sh)) /
      |               CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE))
      |                    * 10000 + 0.5) AS BIGINT) AS jac_bp
      |  FROM cand
      |  JOIN sh sa ON sa.doc_id = cand.doc_j
      |  JOIN sh sb ON sb.doc_id = cand.doc_p),
      |truth AS (SELECT n.doc_id AS doc_j, s.doc_id + 10000 AS doc_p
      |          FROM documents n JOIN src s ON md5(n.text) = md5(s.text)),
      |tn AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
      |fl AS (SELECT p.doc_j, p.doc_p, p.jac_bp,
      |              CASE WHEN t.doc_j IS NULL THEN 0 ELSE 1 END AS is_true
      |       FROM (SELECT * FROM pairs WHERE jac_bp >= 3000) p
      |       LEFT JOIN truth t ON t.doc_j = p.doc_j AND t.doc_p = p.doc_p),
      |grid(tau_bp) AS (VALUES (3000),(4000),(5000),(6000),(7000),(8000),(9000)),
      |m AS (SELECT tau_bp,
      |        CAST(sum(CASE WHEN jac_bp >= tau_bp THEN 1 ELSE 0 END) AS BIGINT)
      |          AS n_pred,
      |        CAST(sum(CASE WHEN jac_bp >= tau_bp THEN is_true ELSE 0 END) AS BIGINT)
      |          AS n_tp
      |      FROM grid CROSS JOIN fl GROUP BY tau_bp)
      |SELECT CAST(tau_bp AS BIGINT) AS tau_bp, n_pred, n_tp, n_truth,
      |       (10000 * n_tp) // greatest(n_pred, 1) AS precision_bp,
      |       (10000 * n_tp) // n_truth AS recall_bp,
      |       (20000 * n_tp) // (n_pred + n_truth) AS f1_bp
      |FROM m CROSS JOIN tn ORDER BY tau_bp""".stripMargin

  /** The banding grid of ◆ `q_lsh_band_sweep` — band counts over the
    * SAME 12 signatures, totally ordered by REFINEMENT (each divides
    * the next), which is what makes the nesting theorem total over the
    * grid: a matched band's sub-bands are themselves fully matched, so
    * candidates(b) ⊆ candidates(b') whenever b's bands are unions of
    * b''s. Includes the production banding (3 × 4). ONE constant
    * interpolated into the Spark side and the oracle generator.
    */
  private[graft] val BandSweepBands: Seq[Int] = Seq(1, 3, 6, 12)

  /** ◆ `q_lsh_band_sweep` — the LSH BANDING knob as a measured curve
    * (r16), completing the dedup family's knob pair the way the ANN
    * family's pair did (◆ `q_dedup_threshold_sweep` prices the
    * verification threshold τ; this prices the DISCOVERY filter): for
    * each banding of the same 12 minhash signatures
    * (`bands ∈ `[[BandSweepBands]], rows = 12/bands), the bipartite
    * (natural × plant) band-collision candidate count and the recall of
    * the 25 intended noisy-duplicate pairs over the labeled mixed
    * corpus ([[mixedLabeledCorpus]] — five corruption tiers spanning
    * exact Jaccard ≈ 0.35 … 1.0, plus chimeras as candidate-cost
    * pressure). Measured (sf0.1): recall 2400 → 5200 → 9600 → 10000 bp
    * while candidates grow 6 → 41 → 130 → 2135 — the
    * cost-of-discovery vs recall tradeoff a deployment reads to pick
    * its banding; the production 3×4 sits on the curve's knee at
    * sf0.01 (7200 bp at 21 candidates).
    *
    * THEOREM (LlmPipelineSpec): along the refinement chain the
    * candidate sets NEST — each grid banding's bands are unions of the
    * next's, and a fully-matched band forces all its sub-bands to
    * match — so n_cand and hits are provably non-decreasing in
    * `bands`, and the byte-identical plants (equal signature vectors)
    * appear at EVERY banding. Recall VALUES are fixture-measured, not
    * theorems (the r15 strictness lesson).
    *
    * Scale shape: signatures compute once (one shingle explode + one
    * 12-min hash aggregate) and are checkpointed across all four
    * bandings; each banding's candidates are a band-bucket self-join —
    * the same one-shuffle-per-stage shape as [[minhashPairs]], with
    * the bipartite restriction keeping buckets near-dup-only. The
    * oracle replays corpus → signatures → all four bandings → recall
    * through the SHARED generators ([[mixedCorpusCtesSql]],
    * [[minhashSigCtesSql]]), so the signature family text cannot
    * drift from the production banding's oracle.
    */
  /** The mixed corpus's 12-signature table, staged once per (session,
    * dataset) — the banding sweep's rate-independent shared input (the
    * PQ sweep's truth-checkpoint discipline): every banding reads the
    * SAME signatures, so the sweep's samples time the BANDINGS, not the
    * signature build. |docs| × 12 longs — catalog-scale, in-memory.
    */
  private val sweepSigsCache = new graft.sources.LayoutCache.SessionCache[
    String, org.apache.spark.sql.DataFrame]()

  private[graft] def sweepSigs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    sweepSigsCache.getOrBuild(s, d) {
      graft.ops.Ck.pin(
        minhashSigs(shingleDocs(mixedLabeledCorpus(s, d))),
        "llm.sweepSigs")
    }

  private val lshBandSweep: Q = (s, d) => {
    def idiv(n: Column, dd: Column): Column = call_function("div", n, dd)
    val sigs = sweepSigs(s, d)
    val truth = Tables.documents(s, d).filter(col("doc_id") < 25)
      .select(col("doc_id").as("doc_j"),
        (col("doc_id") + lit(10000L)).as("doc_p"))
    val rows = BandSweepBands.map { b =>
      val bands = bandKeyRows(sigs, b)
      val cand = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
            col("a.doc_id") < lit(10000L) && col("b.doc_id") >= lit(10000L))
        .select(col("a.doc_id").as("doc_j"), col("b.doc_id").as("doc_p"))
        .distinct()
      // checkpointed: feeds the truth join AND the count (the sweep
      // family's shared-read discipline)
      val candC = graft.ops.Ck(cand)
      truth
        .join(candC.withColumn("hitf", lit(1L)),
          Seq("doc_j", "doc_p"), "left")
        .agg(count(lit(1)).as("n_truth"),
          sum(coalesce(col("hitf"), lit(0L))).as("hit"))
        .crossJoin(candC.agg(count(lit(1)).as("n_cand")))
        .select(lit(b.toLong).as("bands"), col("n_cand"), col("n_truth"),
          col("hit"),
          idiv(lit(10000L) * col("hit"), col("n_truth")).as("recall_bp"))
    }
    rows.reduce(_.union(_)).orderBy("bands")
  }

  private def lshBandSweepSql: String = {
    val bandings = BandSweepBands.map { b =>
      val r = 12 / b
      val keys = (0 until b).map { j =>
        val expr =
          if (r > 1) (0 until r).map(k => s"h${j * r + k}").mkString(" || ',' || ")
          else s"CAST(h${j * r} AS VARCHAR)"
        s"SELECT doc_id, $j AS band, md5($expr) AS bkey FROM sig"
      }.mkString("\n  UNION ALL ")
      s"""bands$b AS ($keys),
         |cand$b AS (SELECT DISTINCT a.doc_id AS doc_j, b.doc_id AS doc_p
         |  FROM bands$b a JOIN bands$b b
         |    ON a.band = b.band AND a.bkey = b.bkey
         |   AND a.doc_id < 10000 AND b.doc_id >= 10000)""".stripMargin
    }.mkString(",\n")
    val rows = BandSweepBands.map { b =>
      s"""(SELECT CAST($b AS BIGINT) AS bands,
         |  CAST((SELECT count(*) FROM cand$b) AS BIGINT) AS n_cand,
         |  CAST(count(*) AS BIGINT) AS n_truth,
         |  CAST(SUM(CASE WHEN c.doc_p IS NOT NULL THEN 1 ELSE 0 END)
         |       AS BIGINT) AS hit,
         |  (10000 * CAST(SUM(CASE WHEN c.doc_p IS NOT NULL THEN 1 ELSE 0 END)
         |                AS BIGINT)) // CAST(count(*) AS BIGINT) AS recall_bp
         |FROM truth t LEFT JOIN cand$b c
         |  ON c.doc_j = t.doc_j AND c.doc_p = t.doc_p)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $mixedCorpusCtesSql,
       |${minhashSigCtesSql("all_docs")},
       |$bandings,
       |truth AS (SELECT doc_id AS doc_j, doc_id + 10000 AS doc_p
       |          FROM documents WHERE doc_id < 25)
       |$rows
       |ORDER BY bands""".stripMargin
  }

  /** Inverted index build — the retrieval-side artifact of the text
    * pipeline: per token its document frequency, total term frequency,
    * and a rank-limited postings sample (top-3 docs by tf, doc_id
    * tie-break). The reference materializes TF-IDF VECTORS per document
    * (reference: src/app.py:318-349 fits HashingTF/IDF to serve
    * similarity); the inverted orientation — token → ranked docs — is
    * what keyword retrieval, contamination lookups, and index-backed
    * quality audits read.
    *
    * Scale shape: one explode + (token, doc) hash aggregate collapses the
    * corpus to postings; df/tf_total/rank all ride ONE token-keyed
    * exchange (three window functions, same partition key), and the
    * rank ≤ 3 filter becomes a WindowGroupLimit so no task buffers a hot
    * token's full postings for the sample (the df/tf_total aggregates
    * still see every posting — they are windows, not the limit). Hot
    * tokens (stopwords) are the classic skew key: at 100 TB the df
    * aggregate is a per-token count — |vocab| rows — never a sort.
    *
    * r10: reads the standing term-bucketed
    * [[graft.sources.PostingsStore]] instead of re-tokenizing — and
    * because the layout hash-clusters on the term, the (token, doc)
    * aggregate's required distribution is already satisfied (same
    * token ⇒ same bucket), so the collapse runs with NO exchange
    * before the token-keyed windows.
    */
  private val invertedIndex: Q = (s, d) => {
    val posting = graft.sources.PostingsStore.postings(s, d)
      .select(col("doc_id"), col("w").as("token"))
      .groupBy("token", "doc_id").agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy("token")
    val wr = Window.partitionBy("token").orderBy(desc("tf"), asc("doc_id"))
    posting
      .withColumn("df", count(lit(1)).over(w))
      .withColumn("tf_total", sum("tf").over(w))
      .withColumn("rnk", row_number().over(wr))
      .filter(col("rnk") <= 3)
      .select("token", "df", "tf_total", "rnk", "doc_id", "tf")
      .orderBy("token", "rnk")
  }

  private val invertedIndexSql =
    """WITH posting AS (
      |  SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |    FROM documents)
      |  WHERE token <> ''
      |  GROUP BY token, doc_id),
      |x AS (
      |  SELECT token, doc_id, tf,
      |         CAST(count(*) OVER (PARTITION BY token) AS BIGINT) AS df,
      |         CAST(SUM(tf) OVER (PARTITION BY token) AS BIGINT) AS tf_total,
      |         row_number() OVER (PARTITION BY token ORDER BY tf DESC, doc_id)
      |           AS rnk
      |  FROM posting)
      |SELECT token, df, tf_total, CAST(rnk AS BIGINT) AS rnk, doc_id, tf
      |FROM x WHERE rnk <= 3 ORDER BY token, rnk""".stripMargin

  /** BM25 keyword retrieval over the inverted orientation — top-10
    * documents for the corpus's three highest-df terms (data-derived,
    * deterministic), scored with k₁ = 1.2, b = 0.75. The length
    * normalization is cleared of floats entirely: multiplying through by
    * 10·totdl turns the per-term factor into the exact integer rational
    * 22·tf·totdl / (10·tf·totdl + 3·totdl + 9·dl·N); the single libm
    * term (idf = ln((N−df+½)/(df+½)+1)) is floored to micro units per
    * QUERY TERM (3 values) before any multiplication, and per-document
    * term contributions sum as LONGS — partition-order-independent, the
    * `q_unigram_lm` fixed-point discipline. Plan: postings checkpoint
    * once; the 3 query terms' postings broadcast onto the |docs| length
    * table; one doc-keyed aggregate; TakeOrderedAndProject top-10.
    * int64 bounds hold to ~10⁹ total tokens; past that the contribution
    * product widens to decimal(38,0) exactly like [[graft.queries.Analytics]]'
    * moment widenings.
    */
  private val bm25TopK: Q = (s, d) => {
    // the (token, doc) collapse reads the standing PostingsStore (r10,
    // the q_inverted_index note) — the checkpoint still pays off: the
    // collapsed tf table feeds dl, df, AND the contribution join
    val post = graft.sources.PostingsStore.postings(s, d)
      .select(col("doc_id"), col("w").as("token"))
      .groupBy("token", "doc_id").agg(count(lit(1)).as("tf"))
      .ckpt()
    val dl = post.groupBy("doc_id").agg(sum("tf").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("totdl"))
    val df = post.groupBy("token").agg(count(lit(1)).as("df"))
    val qterms = df.orderBy(desc("df"), asc("token")).limit(3)
      .crossJoin(broadcast(stats))
      .select(col("token"),
        floor(log((col("n_docs").cast("double") - col("df") + 0.5) /
          (col("df").cast("double") + 0.5) + 1.0) * 1000000.0)
          .cast("long").as("idf_micro"),
        col("n_docs"), col("totdl"))
    val contrib = post.join(broadcast(qterms), "token")
      .join(dl, "doc_id")
      .select(col("doc_id"), col("dl"),
        call_function("div",
          col("idf_micro") * (lit(22L) * col("tf") * col("totdl")),
          lit(10L) * col("tf") * col("totdl") + lit(3L) * col("totdl") +
            lit(9L) * col("dl") * col("n_docs")).as("c_micro"))
    contrib.groupBy("doc_id", "dl")
      .agg(sum("c_micro").as("score_micro"), count(lit(1)).as("n_terms"))
      .orderBy(desc("score_micro"), asc("doc_id")).limit(10)
      .select(col("doc_id"), col("dl"), col("n_terms"), col("score_micro"),
        (col("score_micro") / lit(1000000.0)).as("score"))
  }

  private val bm25TopKSql =
    """WITH post AS (
      |  SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |    FROM documents)
      |  WHERE token <> ''
      |  GROUP BY 1, 2),
      |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
      |       FROM post GROUP BY 1),
      |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |                 CAST(SUM(dl) AS BIGINT) AS totdl FROM dl),
      |df AS (SELECT token, CAST(count(*) AS BIGINT) AS df
      |       FROM post GROUP BY 1),
      |qterms AS (
      |  SELECT token,
      |         CAST(floor(ln((CAST(n_docs AS DOUBLE) - df + 0.5)
      |                       / (CAST(df AS DOUBLE) + 0.5) + 1.0)
      |                    * 1000000.0) AS BIGINT) AS idf_micro,
      |         n_docs, totdl
      |  FROM df, stats ORDER BY df DESC, token LIMIT 3),
      |contrib AS (
      |  SELECT p.doc_id, d.dl,
      |         (q.idf_micro * (22 * p.tf * q.totdl))
      |           // (10 * p.tf * q.totdl + 3 * q.totdl + 9 * d.dl * q.n_docs)
      |           AS c_micro
      |  FROM post p JOIN qterms q ON p.token = q.token
      |  JOIN dl d ON p.doc_id = d.doc_id)
      |SELECT doc_id, dl, CAST(count(*) AS BIGINT) AS n_terms,
      |       CAST(SUM(c_micro) AS BIGINT) AS score_micro,
      |       CAST(SUM(c_micro) AS DOUBLE) / 1000000.0 AS score
      |FROM contrib GROUP BY doc_id, dl
      |ORDER BY score_micro DESC, doc_id LIMIT 10""".stripMargin

  /** Per-label embedding centroids as (label, slot) rows: vectors
    * posexplode into slots, per-slot sums run in exact fixed-point micro
    * units (the `q_embed_coverage` order-independence rule — float sums
    * would be partition-order-dependent), means round4 once. The
    * slot-keyed aggregate shape is the distributed centroid/Gram column
    * story: width scales by adding slots, never passes. DuckDB twin
    * unnests WITH ORDINALITY.
    */
  private val embedCentroid: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("label"), col("pos").cast("long").as("pos"),
        round(col("v").cast("double") * 1000000.0).cast("long").as("micro"))
    e.groupBy("label", "pos")
      .agg(count(lit(1)).as("n"), sum("micro").as("sum_micro"))
      .select(col("label").cast("long").as("label"), col("pos"), col("n"),
        col("sum_micro"),
        graft.ops.Num.round4(col("sum_micro").cast("double") / 1000000.0 /
          col("n")).as("mean"))
      .orderBy("label", "pos")
  }

  private val embedCentroidSql =
    """WITH e AS (
      |  SELECT label,
      |         CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos,
      |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000.0)
      |              AS BIGINT) AS micro
      |  FROM embeddings)
      |SELECT CAST(label AS BIGINT) AS label, pos,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(SUM(micro) AS BIGINT) AS sum_micro,
      |       floor(CAST(SUM(micro) AS DOUBLE) / 1000000.0 / count(*)
      |             * 10000.0 + 0.5) / 10000.0 AS mean
      |FROM e GROUP BY label, pos ORDER BY label, pos""".stripMargin

  /** Perceptual-hash near-dup over the BINARY payload path — media dedup:
    * [[graft.llm.Multimodal.pHash]] computes a 60-bit aHash-style
    * signature inside the partition-parallel codec stage (stub decode,
    * real plumbing — same contract as the other mm_ stages), then the
    * text pipeline's banding discipline takes over unchanged: 4 × 15-bit
    * bands block the pair space, band-collisions verify by full Hamming
    * distance ≤ 6. Identical payloads hash identically and collide in
    * every band, so the planted copies are discovered with zero
    * probabilistic slack — same corpus as `q_minhash_dedup`/
    * `q_simjoin_prefix`, completing the dedup family across the modality
    * boundary (image dedup at 100 TB is exactly this: pHash per image at
    * ingest, band join, Hamming verify — no pixel ever crosses the
    * shuffle, only 8-byte signatures).
    */
  private val mmPhashDedup: Q = (s, d) => {
    requirePlantHeadroom(s, d, "mmPhashDedup")
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val dup = docs.filter(col("doc_id") < 25)
      .withColumn("doc_id", col("doc_id") + lit(10000L))
    val payloads = docs.unionByName(dup)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    // 1 row/doc; checkpointed so the codec stage runs once, not per subtree
    val ph = graft.llm.Multimodal.pHash(s, payloads).ckpt()
    val bands = ph.select(col("doc_id"), col("phash"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("bv", expr("shiftright(phash, band * 15) % 32768"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.phash").as("ha"), col("b.phash").as("hb"))
      .distinct()
    cand.withColumn("dist", expr("bit_count(ha ^ hb)"))
      .filter(col("dist") <= 6)
      .select("doc_a", "doc_b", "dist")
      .orderBy("doc_a", "doc_b")
  }

  private val mmPhashDedupSql =
    """WITH all_docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 25),
      |pos AS (
      |  SELECT doc_id, unnest(range(1, strlen(text) + 1)) AS p, text
      |  FROM all_docs),
      |blk AS (
      |  SELECT doc_id, ((p - 1) * 60) // strlen(text) AS j,
      |         CAST(SUM(ascii(substr(text, CAST(p AS INT), 1))) AS BIGINT) AS bs
      |  FROM pos GROUP BY doc_id, ((p - 1) * 60) // strlen(text)),
      |tot AS (SELECT doc_id, CAST(SUM(bs) AS BIGINT) AS total
      |        FROM blk GROUP BY doc_id),
      |ph AS (
      |  SELECT blk.doc_id,
      |         CAST(SUM(CASE WHEN bs * 60 > total
      |                       THEN CAST(1 AS BIGINT) << CAST(j AS INT)
      |                       ELSE 0 END) AS BIGINT) AS phash
      |  FROM blk JOIN tot ON blk.doc_id = tot.doc_id
      |  GROUP BY blk.doc_id),
      |bands AS (
      |  SELECT doc_id, phash, band, (phash >> (band * 15)) % 32768 AS bv
      |  FROM ph, (SELECT unnest(range(0, 4)) AS band) g),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         a.phash AS ha, b.phash AS hb
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, bit_count(xor(ha, hb)) AS dist
      |FROM cand WHERE bit_count(xor(ha, hb)) <= 6
      |ORDER BY doc_a, doc_b""".stripMargin

  /** K-anonymity + l-diversity governance audit — the re-identification
    * gate a training-data release runs after [[piiScrub]]'s direct
    * identifiers are gone (Sweeney's k-anonymity; Machanavajjhala's
    * l-diversity): per quasi-identifier combination (nation × market
    * segment), the member count (k-risk: a group smaller than k = 5 can
    * be singled out by joining public attributes) and the number of
    * distinct sensitive values (l-risk: a group where the sensitive
    * attribute is HOMOGENEOUS leaks it to anyone who can place a person
    * in the group, however large the group is). Output is the
    * suppression/generalization worklist, one row per QI cell.
    *
    * Scale shape: one partial+final hash aggregate to \|QI combinations\|
    * rows — the audit never shuffles people, only cells; the
    * distinct-count is over a 2-value sensitive bucket, map-side compact.
    */
  private val kAnonymity: Q = (s, d) =>
    Tables.customer(s, d)
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("n"),
        countDistinct((col("c_acctbal") > 0).cast("int")).as("l_div"))
      .withColumn("k_risk", (col("n") < 5).cast("int"))
      .withColumn("l_risk", (col("l_div") < 2).cast("int"))
      .orderBy("c_nationkey", "c_mktsegment")

  private val kAnonymitySql =
    """SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n,
      |       CAST(count(DISTINCT CAST(c_acctbal > 0 AS INT)) AS BIGINT)
      |         AS l_div,
      |       CAST(count(*) < 5 AS INT) AS k_risk,
      |       CAST(count(DISTINCT CAST(c_acctbal > 0 AS INT)) < 2 AS INT)
      |         AS l_risk
      |FROM customer GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** The generalization LADDER — the FIX half of the ◆ `q_k_anonymity`
    * audit: when a quasi-identifier combination is too fine (cells below
    * k = 5 members re-identify), the remedies are generalize (coarsen a
    * QI column) or suppress (drop the risky cells); this query measures
    * the whole trade-off curve in one report. Four nested generalization
    * levels of the customer QI — (nation, segment, $1000 balance band) →
    * drop the band → nation coarsened to REGION (the domain hierarchy,
    * via the broadcast dim) → segment only — each summarized to
    * (cells, risky cells, people at risk, suppression cost in basis
    * points): the release manager picks the first level whose residual
    * risk clears policy. Each level is one hash aggregate collapsing to
    * |cells| rows then one row — people shuffle once per level, never
    * row-wise across levels; the levels union at 4 rows.
    */
  private val kAnonGeneralize: Q = (s, d) => {
    val k = 5L
    val cust = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_nationkey").cast("long").as("nat"),
        col("n_regionkey").cast("long").as("reg"),
        col("c_mktsegment").as("seg"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("band"))
    def level(lvl: Long, keys: Seq[String]): org.apache.spark.sql.DataFrame =
      cust.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_cells"),
          sum((col("n") < k).cast("long")).as("risky_cells"),
          sum(when(col("n") < k, col("n")).otherwise(lit(0L)))
            .as("people_at_risk"),
          sum("n").as("n_people"))
        .select(lit(lvl).as("level"), col("n_cells"), col("risky_cells"),
          col("people_at_risk"),
          call_function("div", lit(10000L) * col("people_at_risk"),
            col("n_people")).as("suppress_bp"))
    level(0L, Seq("nat", "seg", "band"))
      .unionByName(level(1L, Seq("nat", "seg")))
      .unionByName(level(2L, Seq("reg", "seg")))
      .unionByName(level(3L, Seq("seg")))
      .orderBy("level")
  }

  private val kAnonGeneralizeSql = {
    def lvl(l: Int, keys: String) =
      s"""SELECT CAST($l AS BIGINT) AS level,
         |       CAST(count(*) AS BIGINT) AS n_cells,
         |       CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS risky_cells,
         |       CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
         |         AS people_at_risk,
         |       (10000 * CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END)
         |                     AS BIGINT)) // CAST(SUM(n) AS BIGINT)
         |         AS suppress_bp
         |FROM (SELECT CAST(count(*) AS BIGINT) AS n FROM cust
         |      GROUP BY $keys)""".stripMargin
    s"""WITH cust AS (
       |  SELECT CAST(c_nationkey AS BIGINT) AS nat,
       |         CAST(n_regionkey AS BIGINT) AS reg,
       |         c_mktsegment AS seg,
       |         CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS band
       |  FROM customer JOIN nation ON c_nationkey = n_nationkey)
       |${lvl(0, "nat, seg, band")}
       |UNION ALL ${lvl(1, "nat, seg")}
       |UNION ALL ${lvl(2, "reg, seg")}
       |UNION ALL ${lvl(3, "seg")}
       |ORDER BY level""".stripMargin
  }

  /** EXACT distributed heavy hitters in two bounded passes — the
    * frequent-items question ("which tokens exceed 1/64 of the corpus")
    * answered with a guarantee, at any scale: pass 1 runs the
    * [[graft.functions.MisraGries]] bounded-memory summary (k = 63
    * counters per map task, partial-aggregated — the exchange moves
    * k·tasks map entries, never tokens), whose mergeable-summaries
    * guarantee says every item with true frequency > n/64 SURVIVES
    * whatever the partitioning; pass 2 recounts ONLY the ≤ 63 surviving
    * candidates exactly (broadcast semi-join, key-partitioned count) and
    * keeps those over the true threshold. The sketch is merge-order-
    * dependent; the final answer is not — which is why the ◆ oracle can
    * be the definitional GROUP BY ... HAVING over the whole corpus and
    * hash equality PROVES the superset guarantee held on this run.
    * `q_countmin` estimates any key's count with error; this finds the
    * heavy keys with none — the two ends of the frequent-items
    * trade-off. Threshold arithmetic stays integer (cnt·64 > n).
    */
  private val heavyHitters: Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .ckpt()
    val mg = org.apache.spark.sql.functions.udaf(
      new graft.functions.MisraGries(63),
      org.apache.spark.sql.Encoders.STRING)
    val cands = toks.agg(mg(col("w")).as("cands"))
      .select(explode(col("cands")).as("w"))
    val nDf = toks.agg(count(lit(1)).as("n"))
    toks.join(broadcast(cands), Seq("w"), "left_semi")
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(nDf))
      .filter(col("cnt") * 64 > col("n"))
      .select(col("w").as("token"), col("cnt"), col("n"),
        call_function("div", lit(10000L) * col("cnt"), col("n"))
          .as("share_bp"))
      .orderBy(desc("cnt"), asc("token"))
  }

  private val heavyHittersSql =
    """WITH toks AS (
      |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      |t2 AS (SELECT w FROM toks WHERE length(w) > 0),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t2),
      |c AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM t2 GROUP BY w)
      |SELECT w AS token, cnt, n, (10000 * cnt) // n AS share_bp
      |FROM c, n WHERE cnt * 64 > n
      |ORDER BY cnt DESC, token""".stripMargin

  /** PROXIMITY search over a positional index — the retrieval operator
    * ◆ `q_inverted_index` (bag-of-words postings) and ◆ `q_bm25_topk`
    * (ranked retrieval) cannot express: find documents where two query
    * terms co-occur within a window ("exact phrase" is the window-1
    * special case). Token POSITIONS ride the postings (posexplode at
    * tokenization — the only schema change a positional index needs),
    * and the proximity test is a doc-keyed self-join of the two terms'
    * postings with an integral |Δpos| ≤ 3 band — at 100 TB both sides
    * are slices of the same term-bucketed postings table, pre-filtered
    * to the two query terms BEFORE the join, so the pair space is the
    * terms' posting lists, never the corpus. Reports each matching doc
    * with its pair count and tightest gap; query terms are the corpus's
    * two most frequent non-trivial tokens, derived identically in both
    * engines (the data-derived-constant discipline).
    *
    * r10: the postings are READ from the standing term-bucketed
    * [[graft.sources.PostingsStore]] (built once per dataset) instead
    * of re-tokenizing the corpus per query — the serving shape a real
    * retrieval pipeline uses; each term probe bucket-prunes to one
    * bucket of the index (PostingsSpec pins the pruned scan). The
    * minimum-length filter pushes down to the stored scan; the ◆
    * oracle is unchanged.
    */
  private val phraseSearchQ: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val post = graft.sources.PostingsStore.postings(s, d)
      .filter(length(col("w")) >= 4)
    // the two most frequent length-≥4 terms, (count DESC, term) order
    val top2 = post.groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("w")).limit(2)
      .withColumn("rk", row_number().over(
        Window.partitionBy(lit(0)).orderBy(desc("n"), asc("w"))))
    val ta = top2.filter(col("rk") === 1).select(col("w").as("wa"))
    val tb = top2.filter(col("rk") === 2).select(col("w").as("wb"))
    val pa = post.join(broadcast(ta), col("w") === col("wa"))
      .select(col("doc_id"), col("pos").as("pa"))
    val pb = post.join(broadcast(tb), col("w") === col("wb"))
      .select(col("doc_id"), col("pos").as("pb"))
    pa.join(pb, "doc_id")
      .filter(abs(col("pa") - col("pb")) <= 3)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pairs"),
        min(abs(col("pa") - col("pb"))).as("min_gap"))
      .orderBy("doc_id")
  }

  private val phraseSearchSql =
    """WITH post AS (
      |  SELECT doc_id, CAST(p.pos - 1 AS BIGINT) AS pos, p.w
      |  FROM documents,
      |       LATERAL (SELECT unnest(string_split(text, ' ')) AS w,
      |                       generate_subscripts(string_split(text, ' '), 1)
      |                         AS pos) p
      |  WHERE length(p.w) >= 4),
      |top2 AS (
      |  SELECT w, row_number() OVER (ORDER BY count(*) DESC, w) AS rk
      |  FROM post GROUP BY w ORDER BY count(*) DESC, w LIMIT 2),
      |pa AS (SELECT doc_id, pos AS pa FROM post
      |       WHERE w = (SELECT w FROM top2 WHERE rk = 1)),
      |pb AS (SELECT doc_id, pos AS pb FROM post
      |       WHERE w = (SELECT w FROM top2 WHERE rk = 2))
      |SELECT pa.doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
      |       CAST(MIN(abs(pa - pb)) AS BIGINT) AS min_gap
      |FROM pa JOIN pb ON pa.doc_id = pb.doc_id
      |WHERE abs(pa - pb) <= 3
      |GROUP BY pa.doc_id ORDER BY pa.doc_id""".stripMargin

  /** Per-document keywords WITHOUT libm: top-3 tokens per document ranked
    * by (tf DESC, df ASC, token) — locally frequent, globally rare — the
    * integer-exact surrogate for tf·idf's argmax (log is monotone in
    * 1/df, so for a FIXED tf the idf order IS the ascending-df order;
    * the lexicographic rank is the hash-gateable form of "most
    * distinctive term", and `ml_tfidf_similar` holds the float scoring
    * path). The (doc, token) tf table is localCheckpoint-ed — it feeds
    * both the corpus df aggregate and the ranked branch, and
    * re-tokenizing the fact per consumer is the `q_rank_test`
    * reuse-blocker class. Rank ≤ 3 plans as a WindowGroupLimit under the
    * doc-keyed window, so a long document never buffers its full
    * vocabulary. Reported for doc_id < 100 (the report cap; df is still
    * computed over the WHOLE corpus).
    */
  private val docKeywords: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      .ckpt()
    val dfT = tf.groupBy("w").agg(count(lit(1)).as("df"))
    tf.filter(col("doc_id") < 100)
      .join(dfT, "w")
      .withColumn("rnk", row_number().over(Window.partitionBy("doc_id")
        .orderBy(desc("tf"), asc("df"), asc("w"))))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk").cast("long").as("rnk"),
        col("w").as("token"), col("tf"), col("df"))
      .orderBy("doc_id", "rnk")
  }

  private val docKeywordsSql =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
      |       FROM toks WHERE length(w) > 0 GROUP BY doc_id, w),
      |dft AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
      |r AS (
      |  SELECT tf.doc_id, tf.w, tf.tf, dft.df,
      |         row_number() OVER (PARTITION BY tf.doc_id
      |                            ORDER BY tf.tf DESC, dft.df, tf.w) AS rn
      |  FROM tf JOIN dft ON tf.w = dft.w WHERE tf.doc_id < 100)
      |SELECT doc_id, CAST(rn AS BIGINT) AS rnk, w AS token, tf, df
      |FROM r WHERE rn <= 3 ORDER BY doc_id, rnk""".stripMargin

  /** BPE ENCODE — applying the trained tokenizer, completing the
    * train→apply loop `ml_bpe_vocab` opens (the artifact a 100 TB corpus
    * tokenization job broadcasts to every executor): the 30-merge table
    * chains one greedy left-to-right fold per merge over each word's
    * symbol array (codegen higher-order expressions, zero UDFs — see
    * [[graft.llm.Bpe.encode]]), reported for the top-50 words by corpus
    * frequency. Rows-only at the driver (an iterative fold is not
    * ANSI-SQL-expressible); BpeSpec gates the encoding against a
    * sequential plain-Scala replay of the same merge table.
    *
    * Scale shape: training touches only the collapsed \|distinct words\|
    * vocabulary; encoding is embarrassingly parallel per word with the
    * merge table folded into the PLAN (literals, not a join) — at 100 TB
    * the encode stage is a map over the corpus with zero shuffle.
    */
  private val bpeEncode: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val merges = trainedBpe(s, d)
    val vocab = graft.llm.Bpe.wordFreq(docs)
    graft.llm.Bpe.encode(vocab, merges)
      .select(col("word"), col("freq"), size(col("syms")).as("n_tokens"),
        concat_ws(" ", col("syms")).as("encoding"))
      .orderBy(desc("freq"), asc("word"))
      .limit(50)
  }

  /** Vocabulary coverage curve — the tokenizer-sizing artifact: what share
    * of all token OCCURRENCES do the top-k vocabulary entries cover, at
    * k = 1, 2, 4, … (powers of two — log-many report rows at any corpus
    * size)? This is the Zipf head/tail question every vocab-size decision
    * (BPE merge budget, `ml_bpe_vocab`; stopword cutoffs) reads off. One
    * library-template pass over the \|vocab\| table,
    * [[graft.ops.Prefix.withCumSums]] ordered by (freq DESC, word): the
    * exact global rank k (the running count) and the running occurrence
    * total along it come out of the same local window, and the bounds
    * aggregate carries the grand total — no global sort, no data-sized
    * window; shares in integer basis points.
    */
  private val vocabCoverage: Q = (s, d) => {
    val vocab = graft.llm.Bpe.wordFreq(Tables.documents(s, d))
      .ckpt()
    graft.ops.Prefix.withCumSums(vocab, "freq", Seq("word"),
        Seq("k" -> lit(1L), "cum_tokens" -> col("freq")),
        totals = Seq("total_tokens" -> col("freq")), descending = true)
      .filter(expr("(k & (k - 1)) = 0"))
      .withColumn("share_bp", call_function("div",
        lit(10000L) * col("cum_tokens"), col("total_tokens")))
      .select("k", "cum_tokens", "total_tokens", "share_bp")
      .orderBy("k")
  }

  private val vocabCoverageSql =
    """WITH v AS (
      |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
      |    SELECT unnest(regexp_extract_all(text, '[a-z]+')) AS word
      |    FROM documents)
      |  GROUP BY 1),
      |r AS (SELECT word, freq,
      |             CAST(row_number() OVER (ORDER BY freq DESC, word) AS BIGINT)
      |               AS k
      |      FROM v),
      |c AS (SELECT k, CAST(SUM(freq) OVER (ORDER BY k) AS BIGINT)
      |               AS cum_tokens
      |      FROM r),
      |t AS (SELECT CAST(SUM(freq) AS BIGINT) AS total_tokens FROM v)
      |SELECT k, cum_tokens, total_tokens,
      |       (10000 * cum_tokens) // total_tokens AS share_bp
      |FROM c, t WHERE (k & (k - 1)) = 0 ORDER BY k""".stripMargin

  /** ◆ `q_tokenizer_fertility` — the tokenizer-quality metric every
    * multilingual training pipeline reads before committing a vocab:
    * tokens-per-word and chars-per-token by language under the
    * SESSION-TRAINED 30-merge BPE table ([[trainedBpe]] — the same
    * artifact ◆ `ml_bpe_vocab` reports and ◆ `ml_bpe_encode` applies).
    * High fertility on a language means the merge budget under-serves it
    * (its byte cost per semantic unit balloons) — the number that drives
    * per-language vocab-size and data-mixture decisions. Integer milli
    * ratios end to end; the oracle replays the full 30-merge training
    * chain and re-derives every language's fertility from the round-30
    * symbol table, so the measurement sits under the hash gate, not a
    * spec assertion.
    *
    * Scale shape: the corpus collapses to a (lang, word) occurrence
    * aggregate (one shuffle); the encoder runs once over the DISTINCT
    * vocabulary with the merge table folded into the plan as literals
    * (|vocab| rows, zero shuffle — the ml_bpe_encode shape), and the
    * join back to (lang, word) is word-keyed. Per-language totals are a
    * |langs|-row aggregate. At 100 TB: encode-the-vocab-once is exactly
    * how a deployment amortizes tokenization audits.
    */
  private val tokenizerFertility: Q = (s, d) => {
    def idiv(n: Column, dd: Column): Column = call_function("div", n, dd)
    val docs = Tables.documents(s, d)
    val merges = trainedBpe(s, d)
    val langWords = docs.select(col("lang"),
        explode(expr("regexp_extract_all(text, '[a-z]+', 0)")).as("word"))
      .groupBy("lang", "word").agg(count(lit(1)).as("occ"))
    val vocabTok = graft.llm.Bpe.encode(
        langWords.select("word").distinct(), merges)
      .select(col("word"), size(col("syms")).cast("long").as("n_tok"),
        length(col("word")).cast("long").as("n_chr"))
    langWords.join(vocabTok, "word")
      .groupBy("lang")
      .agg(sum(col("occ")).as("n_words"),
        sum(col("occ") * col("n_chr")).as("n_chars"),
        sum(col("occ") * col("n_tok")).as("n_tokens"))
      .withColumn("tokens_per_word_milli",
        idiv(lit(1000L) * col("n_tokens"), col("n_words")))
      .withColumn("chars_per_token_milli",
        idiv(lit(1000L) * col("n_chars"), col("n_tokens")))
      .orderBy("lang")
  }

  private val tokenizerFertilitySql =
    s"""WITH ${bpeReplayCtes(bpeMerges)},
       |tok AS (SELECT word, CAST(count(*) AS BIGINT) AS n_tok
       |        FROM t$bpeMerges GROUP BY word),
       |lw AS (SELECT lang, unnest(regexp_extract_all(text, '[a-z]+')) AS word
       |       FROM documents),
       |lwc AS (SELECT lang, word, CAST(count(*) AS BIGINT) AS occ
       |        FROM lw GROUP BY lang, word),
       |agg AS (SELECT lang,
       |               CAST(sum(occ) AS BIGINT) AS n_words,
       |               CAST(sum(occ * len(word)) AS BIGINT) AS n_chars,
       |               CAST(sum(occ * n_tok) AS BIGINT) AS n_tokens
       |        FROM lwc JOIN tok USING (word) GROUP BY lang)
       |SELECT lang, n_words, n_chars, n_tokens,
       |       (1000 * n_tokens) // n_words AS tokens_per_word_milli,
       |       (1000 * n_chars) // n_tokens AS chars_per_token_milli
       |FROM agg ORDER BY lang""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("q_dedup_exact", dedupExact, Some(dedupExactSql)),
    Entry("q_dedup_jaccard", dedupJaccard, Some(dedupJaccardSql)),
    Entry("q_simjoin_prefix", simjoinPrefix, Some(simjoinPrefixSql)),
    Entry("q_dedup_eval", dedupEval, Some(dedupEvalSql)),
    Entry("q_dedup_threshold_sweep", dedupThresholdSweep,
      Some(dedupThresholdSweepSql)),
    Entry("q_lsh_band_sweep", lshBandSweep, Some(lshBandSweepSql)),
    Entry("q_inverted_index", invertedIndex, Some(invertedIndexSql)),
    Entry("q_bm25_topk", bm25TopK, Some(bm25TopKSql)),
    Entry("q_ann_ivf_probe", annIvfProbe, Some(annIvfProbeSql)),
    Entry("q_ann_recall", annRecall, Some(annRecallSql)),
    Entry("q_ann_recall_trained", annRecallTrained,
      Some(annRecallTrainedSql)),
    Entry("q_ann_recall_sampled", annRecallSampled,
      Some(annRecallSampledSql)),
    Entry("q_ivf_probe_sweep", ivfProbeSweep, Some(ivfProbeSweepSql)),
    Entry("q_cluster_recs_trained", clusterRecsTrained,
      Some(clusterRecsTrainedSql)),
    Entry("q_embed_centroid", embedCentroid, Some(embedCentroidSql)),
    Entry("q_dup_components", dupComponentsQ, Some(dupComponentsSql)),
    Entry("q_pii_scrub", piiScrub, Some(piiScrubSql)),
    Entry("q_sample_strat", sampleStrat, Some(sampleStratSql)),
    Entry("q_sample_exact_k", sampleExactK, Some(sampleExactKSql)),
    Entry("q_embed_quantize", embedQuantize, Some(embedQuantizeSql)),
    Entry("q_pack_sequences", packSequences, Some(packSequencesSql)),
    Entry("q_decontaminate", decontaminate, Some(decontaminateSql)),
    Entry("q_simhash", simhash, Some(simhashSql)),
    Entry("q_minhash_dedup", minhashDedup, Some(minhashDedupSql)),
    Entry("q_dedup_pipeline", dedupPipeline, Some(dedupPipelineSql)),
    Entry("q_embed_cosine_topk", embedCosineTopk, Some(embedCosineTopkSql)),
    Entry("q_dedup_embed", dedupEmbed, Some(dedupEmbedSql)),
    Entry("q_ann_ivf", annIvf, Some(annIvfSql)),
    Entry("ml_ann_trained", annTrainedQ, None),
    Entry("q_lang_id", langId, Some(langIdSql)),
    Entry("q_eval_langid", evalLangId, Some(evalLangIdSql)),
    Entry("q_quality_score", qualityScore, Some(qualityScoreSql)),
    Entry("q_token_count", tokenCount, Some(tokenCountSql)),
    Entry("q_fingerprint", fingerprint, Some(fingerprintSql)),
    Entry("q_chunk_split", chunkSplit, Some(chunkSplitSql)),
    Entry("q_vocab_pmi", vocabPmi, Some(vocabPmiSql)),
    Entry("q_knn_label", knnLabel, Some(knnLabelSql)),
    Entry("q_meta_audit", metaAudit, Some(metaAuditSql)),
    Entry("q_reconcile", reconcile, Some(reconcileSql)),
    Entry("mm_binary_features", mmBinaryFeatures, Some(mmBinaryFeaturesSql)),
    Entry("mm_resize", mmResize, Some(mmResizeSql)),
    Entry("mm_frame_sample", mmFrameSample, Some(mmFrameSampleSql)),
    Entry("mm_phash_dedup", mmPhashDedup, Some(mmPhashDedupSql)),
    Entry("q_repetition", repetition, Some(repetitionSql)),
    Entry("q_contam_ngram", contamNgram, Some(contamNgramSql)),
    Entry("q_contam_embed", contamEmbed, Some(contamEmbedSql)),
    Entry("q_shard_assign", shardAssign, Some(shardAssignSql)),
    Entry("q_unigram_lm", unigramLm, Some(unigramLmSql)),
    Entry("q_dup_spans", dupSpans, Some(dupSpansSql)),
    Entry("q_mix_rebalance", mixRebalance, Some(mixRebalanceSql)),
    Entry("q_stratified_sample", stratifiedSampleQ, Some(stratifiedSampleSql)),
    Entry("q_mix_temperature", mixTemperature, Some(mixTemperatureSql)),
    Entry("q_ann_binary", annBinary, Some(annBinarySql)),
    Entry("q_curate_funnel", curateFunnel, Some(curateFunnelSql)),
    Entry("q_dedup_incremental", dedupIncremental, Some(dedupIncrementalSql)),
    Entry("q_bloom_dedup", bloomDedup, Some(bloomDedupSql)),
    Entry("q_dedup_delta", dedupDelta, Some(dedupDeltaSql)),
    Entry("q_embed_coverage", embedCoverage, Some(embedCoverageSql)),
    Entry("q_split_leakfree", splitLeakfree, Some(splitLeakfreeSql)),
    Entry("q_split_temporal", splitTemporal, Some(splitTemporalSql)),
    Entry("q_drift_chi2", driftChi2, Some(driftChi2Sql)),
    Entry("q_bpe_pairs", bpePairs, Some(bpePairsSql)),
    Entry("ml_bpe_vocab", bpeVocab, Some(bpeVocabSql)),
    Entry("ml_bpe_encode", bpeEncode, Some(bpeEncodeSql)),
    Entry("q_k_anonymity", kAnonymity, Some(kAnonymitySql)),
    Entry("q_k_anon_generalize", kAnonGeneralize, Some(kAnonGeneralizeSql)),
    Entry("q_doc_keywords", docKeywords, Some(docKeywordsSql)),
    Entry("q_heavy_hitters", heavyHitters, Some(heavyHittersSql)),
    Entry("q_dedup_survivorship", dedupSurvivorshipQ,
      Some(dedupSurvivorshipSql)),
    Entry("q_dup_rate_by_source", dupRateBySourceQ, Some(dupRateBySourceSql)),
    Entry("q_phrase_search", phraseSearchQ, Some(phraseSearchSql)),
    Entry("q_vocab_coverage", vocabCoverage, Some(vocabCoverageSql)),
    Entry("q_tokenizer_fertility", tokenizerFertility,
      Some(tokenizerFertilitySql)),
  )

}
