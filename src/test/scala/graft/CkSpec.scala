package graft

import graft.ops.Ck
import org.apache.spark.storage.StorageLevel

/** The tracked-checkpoint discipline ([[graft.ops.Ck]]) that closes the
  * r10 block-manager leak: per-query checkpoints are tracked and freed
  * by the runner after consumption; pinned (cross-query) checkpoints
  * survive both drain and the stronger sweep.
  */
class CkSpec extends SparkSpec {

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("Ck tracks a localCheckpoint and drain frees exactly its blocks") {
    import spark.implicits._
    Ck.drain(spark) // isolate from earlier suites
    val before = persistedIds
    val df = Ck((1 to 1000).toDF("n").filter("n % 2 = 0"))
    assert(df.count() === 500)
    val added = persistedIds -- before
    assert(added.nonEmpty, "localCheckpoint must persist a backing RDD")
    val freed = Ck.drain(spark)
    assert(freed >= added.size)
    assert((persistedIds -- before).isEmpty, "drain must remove the blocks")
    // the result was consumed before drain — re-reading the DataFrame now
    // is NOT part of the contract (lineage is truncated); runners drain
    // only after count()/write.
  }

  test("lazy ckpt (eager=false) is tracked and drained once materialized") {
    import spark.implicits._
    Ck.drain(spark)
    val before = persistedIds
    val df = Ck((1 to 100).toDF("n"), eager = false)
    assert(df.count() === 100) // materializes the lazy checkpoint
    assert((persistedIds -- before).nonEmpty)
    Ck.drain(spark)
    assert((persistedIds -- before).isEmpty)
  }

  test("lazy ckpt runs no job over an exchange-free plan, one over a shuffle") {
    // eager = false defers the checkpoint blocks, not the exchange: under
    // AQE, taking the RDD of a plan with a shuffle runs its map stage.
    Ck.drain(spark)
    val orders = graft.tables.Tables.orders(spark, sfDir)
    val narrow = graft.ops.Measure.jobs(spark) {
      Ck(orders.filter("o_totalprice > 0"), eager = false)
    }
    assert(narrow === 0L, s"exchange-free lazy ckpt ran $narrow job(s)")
    val grouped = graft.ops.Measure.jobs(spark) {
      Ck(orders.groupBy("o_custkey").count(), eager = false)
    }
    assert(grouped === 1L, s"lazy ckpt over a shuffle ran $grouped job(s)")
    Ck.drain(spark)
  }

  test("free releases a superseded round immediately; drain skips it") {
    import spark.implicits._
    Ck.drain(spark)
    val before = persistedIds
    val r1 = Ck((1 to 10).toDF("n"))
    val r2 = Ck(r1.withColumn("m", org.apache.spark.sql.functions.col("n") * 2))
    assert(r2.count() === 10)
    Ck.free(r1)
    val alive = persistedIds -- before
    assert(alive.size === 1, s"only round 2 may remain, saw $alive")
    assert(Ck.drain(spark) === 1)
  }

  test("a sibling session's drain/sweep never evicts this session's blocks") {
    // two sessions over ONE context — the tests+bench-in-one-JVM shape.
    // r11 ADVICE: context-keyed registries let runner B's per-query
    // drain/sweep evict runner A's mid-flight local checkpoints, which
    // are unrecomputable; session-keyed registries must isolate them.
    import spark.implicits._
    Ck.drain(spark); Ck.sweep(spark)
    val sib = spark.newSession()
    val mine = Ck((1 to 64).toDF("n"))
    assert(mine.count() === 64)
    Ck.drain(sib)
    assert(Ck.sweep(sib) === 0,
      "sibling sweep must skip blocks tracked by another session")
    assert(mine.count() === 64, "this session's checkpoint must survive")
    assert(Ck.drain(spark) >= 1)
  }

  test("pinned checkpoints survive drain and sweep; sweep evicts strays") {
    import spark.implicits._
    Ck.drain(spark); Ck.sweep(spark)
    val pinnedDf = Ck.pin((1 to 50).toDF("n"))
    val stray = (1 to 50).toDF("n").persist(StorageLevel.MEMORY_ONLY)
    assert(stray.count() === 50)
    Ck.drain(spark)
    assert(pinnedDf.count() === 50, "drain must not touch pinned blocks")
    val swept = Ck.sweep(spark)
    assert(swept >= 1, "sweep must evict the un-owned persisted RDD")
    // pinned block still readable after the sweep
    assert(pinnedDf.count() === 50)
    assert(persistedIds.nonEmpty, "the pinned block itself must remain")
  }

  test("labeled pins surface in the per-owner breakdown; DISK_ONLY honored") {
    import spark.implicits._
    Ck.drain(spark); Ck.sweep(spark)
    val mem = Ck.pin((1 to 1000).toDF("n"), "spec.mem")
    val dsk = Ck.pin((1 to 1000).toDF("n"), "spec.dsk",
      StorageLevel.DISK_ONLY)
    assert(mem.count() === 1000 && dsk.count() === 1000)
    val byLabel = Ck.pinnedByLabel(spark).toMap
    assert(byLabel.contains("spec.mem") && byLabel.contains("spec.dsk"),
      s"both labels must appear in the breakdown: $byLabel")
    // the DISK_ONLY pin holds zero heap: its blocks report no memSize
    val ids = dsk.queryExecution.logical.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.toSet
    val info = spark.sparkContext.getRDDStorageInfo
      .filter(i => ids.contains(i.id))
    assert(info.nonEmpty && info.forall(_.memSize === 0L),
      "DISK_ONLY pin must not occupy storage memory")
    assert(info.exists(_.diskSize > 0L), "DISK_ONLY pin must be on disk")
    // drain/sweep still honor both
    Ck.drain(spark); Ck.sweep(spark)
    assert(mem.count() === 1000 && dsk.count() === 1000)
  }
}
