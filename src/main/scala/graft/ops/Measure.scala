package graft.ops

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Runtime-cost measurement for plan claims — the tool that turns
  * "this layout removes the shuffle" from a plan-string assertion into
  * a task-metrics NUMBER (WarehouseSpec uses it to prove the
  * co-bucketed join writes ZERO shuffle bytes while the raw twin
  * writes real ones; any layout/rewrite claim can be audited the same
  * way). Aggregates stage-level task metrics over exactly the jobs run
  * inside `body`.
  *
  * Caveats callers own: (a) Spark posts stage events asynchronously —
  * the helper settles (quiesces) before detaching its listener, adding
  * ~¼–½ s per call; (b) measurements are per-SESSION, so concurrent
  * jobs from other threads would be charged too — measure on a quiet
  * session (specs and bench harnesses are); (c) actions that append
  * their own exchanges (a bare `count()`'s SinglePartition aggregate)
  * charge those bytes to the measurement — drive the plan with
  * `df.queryExecution.toRdd.count()` when the claim is about the
  * plan's OWN shuffles.
  */
object Measure {

  /** Total shuffle-write bytes across all stages completed while `body`
    * runs in `spark`'s context.
    */
  def shuffleWriteBytes(spark: SparkSession)(body: => Unit): Long = {
    val bytes = new AtomicLong(0L)
    counted(spark, bytes, new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        bytes.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    })(body)
  }

  /** Number of Spark jobs submitted while `body` runs in `spark`'s
    * context.
    */
  def jobs(spark: SparkSession)(body: => Unit): Long = {
    val n = new AtomicLong(0L)
    counted(spark, n, new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    })(body)
  }

  /** Runs `body` with `listener` attached, settles until `counter` stops
    * moving, and returns it.
    */
  private def counted(spark: SparkSession, counter: AtomicLong,
      listener: SparkListener)(body: => Unit): Long = {
    spark.sparkContext.addSparkListener(listener)
    try body
    finally {
      var prev = -1L
      var tries = 0
      while (counter.get != prev && tries < 40) {
        prev = counter.get; Thread.sleep(250); tries += 1
      }
      spark.sparkContext.removeSparkListener(listener)
    }
    counter.get
  }
}
