package graft.api

import org.apache.spark.ml.recommendation.{ALS, ALSModel}
import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.ops.Num
import graft.ops.{Hashing, Rank}
import graft.sources.ModelRegistry

/** The serving surface (SURVEY.md §2.9): the reference's Flask endpoints
  * re-expressed as library calls over PERSISTED models — train once,
  * publish to the [[graft.sources.ModelRegistry]], serve many, exactly the
  * reference's lifecycle (train_models.py fits and saves; app.py loads and
  * serves — reference: src/app.py:25-27,207-299, src/app_optimized.py:
  * 68-123). No query here refits anything: serving reads the registry's
  * BEST version.
  *
  * Model lifetime: every request reads the BEST pointer, so a publish is
  * served from the next request on. Each version is opened once: the
  * facade holds one immutable `Held` value (version id, answer index,
  * model), swapped in one step when a request resolves to a different
  * version, so no request pairs one version's model with another's
  * answers. Opening a version collects its answer table once, read with
  * a fixed schema (one Spark job, no footer-reading job), into an
  * immutable driver-side `AnswerIndex`; a request with
  * k ≤ [[Serving.KMax]] is answered from it as a local relation, in
  * (user_id, rank) order, with no Spark job. The `ALSModel` itself loads
  * only when a request asks for more than [[Serving.KMax]] rows per user.
  * A version without an answer table fails the request with an error
  * naming the missing path, also when the table vanishes after the
  * version was opened (one filesystem stat per request, no Spark job);
  * there is no silent fallback to the per-request top-k.
  *
  * Scale notes: the top-k work happens once per version, at publish:
  * `recommendForAllUsers(KMax)` (distributed block top-k over the factor
  * matrices, never a full user×item score materialization) writes
  * |users| × KMax rows beside the model, range-clustered on `user_id`.
  * That parquet table stays the persisted artifact; serving reads it once
  * per version. The driver index costs 12 bytes per answer row (an `Int`
  * item and a `Double` score; the rank is the row's position in its user's
  * run) plus 8 bytes per user (id and offset): 1M users × 50 is 50M rows,
  * about 608 MB of heap; the load's collect briefly holds the table as
  * `Row` objects too, roughly ten times that. A request is a binary search
  * per distinct user. Only `k > KMax` still runs `recommendForUserSubset`,
  * whose |users|×k answer is sorted in one partition
  * (`coalesce(1).sortWithinPartitions`), with no range-partition sampling
  * job or exchange; catalog pagination bounds the sort with
  * [[graft.ops.Rank.firstK]] (TakeOrderedAndProject); the hybrid blend is
  * a union of two bounded result sets — all driver-light.
  */
final class Serving(spark: SparkSession, registry: ModelRegistry) {
  import Serving._

  /** Train the collaborative model on explicit ratings
    * (`user_id, item_id, rating`) and publish it as a new registry version
    * (reference hyperparameters: src/spark/training.py:473-483 scaled to
    * the corpus; seed fixed for reproducibility). Returns the version id.
    */
  def trainCollaborative(ratings: DataFrame, rank: Int = 10,
      markBest: Boolean = true): String = {
    val n = ratings.count()
    val blocks = math.max(2L, math.min(
      spark.sparkContext.defaultParallelism.toLong, n / 50000L)).toInt
    val model = new ALS()
      .setRank(rank).setMaxIter(10).setRegParam(0.1).setSeed(42)
      .setUserCol("user_id").setItemCol("item_id").setRatingCol("rating")
      .setColdStartStrategy("drop")
      .setNumUserBlocks(blocks).setNumItemBlocks(blocks)
      .fit(ratings)
    // Factors are persisted by fit, so counting users is a cheap job.
    val files = math.max(1L, model.userFactors.count() * KMax / AnswerRowsPerFile).toInt
    registry.publish("als", model,
      s"""{"algo":"als","rank":$rank,"n_ratings":$n}""", markBest,
      answers = Some(exploded(model.recommendForAllUsers(KMax))), answerFiles = files)
  }

  // the last version served; replaced whole, never field by field
  private var held: Option[Held] = None

  private def heldAt(version: String): Held = synchronized {
    val path = registry.answersPath("als", version)
    def missing(cause: Throwable) = {
      held = None
      new IllegalStateException(s"als version $version has no answer table at $path", cause)
    }
    if (!registry.hasAnswers("als", version)) throw missing(null)
    if (!held.exists(_.version == version)) {
      val rows =
        try spark.read.schema(AnswerSchema).parquet(path).collect()
        catch { case e: AnalysisException => throw missing(e) }
      held = Some(new Held(version, AnswerIndex(rows, path), registry.modelPath("als", version)))
    }
    held.get
  }

  private def bestHeld(): Held = heldAt(registry.best("als").getOrElse(
    throw new IllegalStateException("no published collaborative model")))

  /** Sorts a request-sized answer in one partition: the same rows in the
    * same order as a global `orderBy`, without its range-sampling job.
    */
  private def sortedSmall(df: DataFrame, cols: String*): DataFrame =
    df.coalesce(1).sortWithinPartitions(cols.head, cols.tail: _*)

  /** Per-user top-k as (user_id, rank, item_id, score) in (user_id, rank)
    * order: a lookup in the version's answer index (a local relation, no
    * Spark job), or the model's block top-k past [[KMax]].
    */
  private def fromModel(held: Held, userIds: Seq[Int], k: Int): DataFrame =
    if (k <= KMax)
      spark.createDataFrame(held.answers.rows(userIds, k), AnswerType)
    else {
      import spark.implicits._
      sortedSmall(exploded(held.model.recommendForUserSubset(userIds.toDF("user_id"), k)),
        "user_id", "rank")
    }

  /** Hash-synthesized fallback recommendations — the bottom serving tier
    * (reference: src/app_optimized.py:481-513 `get_simulated_recommendations`:
    * per-user seeded shuffle of the catalog, `rating = 4.0 - i*0.1 +
    * (user_hash%100)/100`, clamped to [1,5]). The Spark twin replaces the
    * driver-side `np.random.shuffle` with a deterministic per-(user,item)
    * md5 ordering — same "consistent per user" contract, but distributed:
    * one window top-k per user, no driver loop, any catalog size.
    */
  def synthetic(userIds: Seq[Int], catalog: DataFrame, k: Int): DataFrame = {
    import spark.implicits._
    val shuffleKey = Hashing.md5Long(
      concat(col("user_id").cast("string"), lit("#"), col("item_id").cast("string")))
    val w = Window.partitionBy("user_id").orderBy(asc("hk"), asc("item_id"))
    userIds.toDF("user_id")
      .crossJoin(broadcast(catalog.select("item_id")))
      .withColumn("hk", shuffleKey)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("user_id"), col("rank"), col("item_id"),
        graft.ops.Num.roundAt(greatest(lit(1.0), least(lit(5.0),
          lit(4.0) - (col("rank") - 1) * lit(0.1)
            + pmod(col("user_id"), lit(100)) / lit(100.0))), 2).as("score"))
  }

  /** The reference's bottom tier: a hardcoded 10-track catalog served when
    * even file data is unavailable (src/app_optimized.py:24-35
    * SAMPLE_SONGS; ids re-keyed to ints for the relational surface).
    */
  def builtinCatalog: DataFrame = {
    import spark.implicits._
    (1 to 10).map(_.toLong).toDF("item_id")
  }

  /** GET /recommend/collaborative with the reference's full source-
    * preference chain (src/app_optimized.py:516-540,594-633): serve the
    * registry's BEST trained model; fall back to the latest published
    * version; with an empty registry serve hash-synthesized
    * recommendations over the caller's `catalog` (the reference's
    * file-data tier); and when even that is empty, over the hardcoded
    * [[builtinCatalog]] — the coalesce-style tiering SURVEY §2.9 promises.
    * The `tier` column names the source that actually served.
    */
  def collaborativeTiered(userIds: Seq[Int], k: Int,
      catalog: DataFrame): DataFrame = {
    def fallback(c: DataFrame) = sortedSmall(synthetic(userIds, c, k), "user_id", "rank")
    val (df, tier) = registry.best("als") match {
      case Some(v) => (fromModel(heldAt(v), userIds, k), "trained-best")
      case None => registry.latest("als") match {
        case Some(v) => (fromModel(heldAt(v), userIds, k), "trained-latest")
        case None =>
          if (catalog.isEmpty) (fallback(builtinCatalog), "builtin")
          else (fallback(catalog), "synthetic")
      }
    }
    df.withColumn("tier", lit(tier))
  }

  /** GET /recommend/collaborative/&lt;user&gt;?num=k — per-user top-k from the
    * published model, exploded to relational rows.
    */
  def collaborative(userIds: Seq[Int], k: Int): DataFrame =
    fromModel(bestHeld(), userIds, k)

  /** GET /recommend/content/&lt;item&gt;?num=k — same-cluster / similar items by
    * a caller-supplied similarity column source; here: top-k rows of
    * `scored` excluding the seed (reference: src/app.py:267-299 shape).
    */
  def contentSimilar(scored: DataFrame, seedItem: Long, k: Int): DataFrame =
    Rank.firstK(
        scored.filter(col("item_id") =!= seedItem),
        k, desc("score"), asc("item_id"))
      .select(col("rn").as("rank"), col("item_id"), col("score"))

  /** GET /recommend/hybrid/&lt;user&gt;?num=k — the reference's 0.7/0.3
    * collaborative/content blend (src/app_optimized.py:687-745): ceil(0.7k)
    * collaborative rows + remaining content rows, concatenated in source
    * order.
    */
  def hybrid(userId: Int, contentScored: DataFrame, k: Int): DataFrame = {
    val nCollab = math.ceil(k * 0.7).toInt
    val collab = fromModel(bestHeld(), Seq(userId), nCollab)
      .select(col("item_id"), col("score"), lit("collab").as("source"), col("rank"))
    val content = contentSimilar(contentScored, -1L, k - nCollab)
      .select(col("item_id"), col("score"), lit("content").as("source"), col("rank"))
    sortedSmall(collab.unionByName(content), "source", "rank")
  }

  /** GET /songs?limit&offset — deterministic pagination
    * (reference: src/app.py:171-204).
    */
  def catalogPage(catalog: DataFrame, orderCol: String, limit: Int,
      offset: Int): DataFrame =
    Rank.firstK(catalog, offset + limit, asc(orderCol))
      .filter(col("rn") > offset)

  /** GET /models/info — registry introspection as a DataFrame
    * (reference: src/app.py:301-319).
    */
  def modelsInfo(): DataFrame = {
    import spark.implicits._
    val rows = registry.best("als").map { v =>
      ("als", v, registry.latest("als").getOrElse(v), registry.metadata("als", v))
    }.toSeq
    rows.toDF("model", "best_version", "latest_version", "metadata")
  }
}

object Serving {
  /** Rows per user in a version's answer table: the largest k served by
    * lookup (every caller asks for at most 10).
    */
  private[graft] val KMax = 50

  // answer-table rows per parquet file at publish
  private val AnswerRowsPerFile = 1000000L

  private val AnswerSchema = "user_id INT, rank INT, item_id INT, score DOUBLE"
  private val AnswerType = StructType.fromDDL(AnswerSchema)

  /** One opened registry version: its answer index and, loaded on first
    * use, its model.
    */
  private final class Held(val version: String, val answers: AnswerIndex,
      modelPath: String) {
    lazy val model: ALSModel = ALSModel.load(modelPath)
  }

  /** A version's answer table held in driver memory as primitive columns
    * sorted by (user_id, rank): `users` ascending, user `users(u)`'s rows
    * at `[offsets(u), offsets(u + 1))` of `items` and `scores`, rank = the
    * row's position in that run + 1.
    */
  private final class AnswerIndex(users: Array[Int], offsets: Array[Int],
      items: Array[Int], scores: Array[Double]) {

    /** Each requested user's first k rows, once per distinct user, users
      * ascending; a user without answers gets no rows.
      */
    def rows(userIds: Seq[Int], k: Int): java.util.List[Row] = {
      val out = new java.util.ArrayList[Row]()
      for (user <- userIds.distinct.sorted) {
        val u = java.util.Arrays.binarySearch(users, user)
        if (u >= 0) {
          val from = offsets(u)
          for (i <- from until math.min(offsets(u + 1), from + k))
            out.add(Row(user, i - from + 1, items(i), scores(i)))
        }
      }
      out
    }
  }

  private object AnswerIndex {
    /** Indexes `(user_id, rank, item_id, score)` rows in any order; each
      * user's ranks must run 1..n, else the table at `path` is rejected.
      */
    def apply(rows: Array[Row], path: String): AnswerIndex = {
      java.util.Arrays.sort(rows,
        java.util.Comparator.comparingInt[Row](_.getInt(0)).thenComparingInt(_.getInt(1)))
      val users = Array.newBuilder[Int]
      val offsets = Array.newBuilder[Int]
      var start = 0
      for (i <- rows.indices) {
        val user = rows(i).getInt(0)
        if (i == 0 || rows(i - 1).getInt(0) != user) { users += user; offsets += i; start = i }
        if (rows(i).getInt(1) != i - start + 1)
          throw new IllegalStateException(s"answer table $path: user $user has rank " +
            s"${rows(i).getInt(1)} at position ${i - start + 1}")
      }
      offsets += rows.length
      new AnswerIndex(users.result(), offsets.result(),
        rows.map(_.getInt(2)), rows.map(_.getDouble(3)))
    }
  }

  /** `recommendFor*` output exploded to relational rows. */
  private def exploded(recs: DataFrame): DataFrame =
    recs.select(col("user_id"), posexplode(col("recommendations")).as(Seq("pos", "rec")))
      .select(col("user_id"), (col("pos") + 1).as("rank"),
        col("rec.item_id").as("item_id"),
        Num.roundAt(col("rec.rating").cast("double"), 4).as("score"))
}
