package graft

import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.sources.AggStateStore
import graft.tables.Tables

/** AggStateStore's delivery contract under a REAL injected crash: one
  * foreachBatch commits each micro-batch to two AggStateStores in turn
  * (batchId-keyed overwrite); the fault fires after batch 1 lands in
  * the first store and before it reaches the second, so the checkpoint
  * commit is never written and the restart redelivers batch 1 to both —
  * and both stores converge to the clean run's answers (the first
  * rewrites its own batch-1 directory instead of adding to it, the
  * second writes it for the first time).
  */
class StoreComposeSpec extends SparkSpec {

  /** Orders as (o_custkey, o_orderdate, o_totalprice) tuples — the agg
    * store's native order columns — to feed a MemoryStream.
    */
  private def feed(): Seq[(Long, java.sql.Timestamp, Double)] =
    Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderdate").cast("timestamp"),
        col("o_totalprice"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2)))
      .toSeq

  private def asOrders(df: DataFrame): DataFrame =
    df.toDF("o_custkey", "o_orderdate", "o_totalprice")

  private def freshRoot(tag: String): String =
    "file://" + java.nio.file.Files.createTempDirectory(tag).toString

  private def aggRows(st: AggStateStore): Seq[Seq[Any]] =
    st.serve().collect().map(_.toSeq.toSeq).toSeq

  test("a crash between two stores' commits converges both on redelivery") {
    import spark.implicits._
    val rows = feed()
    val thirds = rows.grouped((rows.size + 2) / 3).toSeq
    assert(thirds.size === 3)

    // clean reference run
    val cleanAgg = new AggStateStore(spark, freshRoot("graft-cmp-ag0"))
    def cleanAppend(i: Int): Unit =
      cleanAgg.appendBatch(asOrders(thirds(i).toDF()), i.toLong)
    cleanAppend(0)
    val wantOne = aggRows(cleanAgg)
    cleanAppend(1)
    val wantTwo = aggRows(cleanAgg)
    cleanAppend(2)
    val wantAgg = aggRows(cleanAgg)

    // crashy run: the fault fires AFTER batch 1's write to the first
    // store, BEFORE its write to the second and the checkpoint commit —
    // the window where redelivery meets landed state
    val first = new AggStateStore(spark, freshRoot("graft-cmp-ag1"))
    val second = new AggStateStore(spark, freshRoot("graft-cmp-ag2"))
    val ckpt = freshRoot("graft-cmp-ckpt")
    @volatile var armed = true
    val ms = MemoryStream[(Long, java.sql.Timestamp, Double)](
      implicitly[Encoder[(Long, java.sql.Timestamp, Double)]],
      spark.sqlContext)
    def start() = ms.toDF().writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        first.appendBatch(asOrders(batch), id)
        if (armed && id == 1L) {
          armed = false
          throw new RuntimeException("injected crash between store commits")
        }
        second.appendBatch(asOrders(batch), id)
      }
      .start()

    val q1 = start()
    ms.addData(thirds(0)); q1.processAllAvailable()
    ms.addData(thirds(1))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
      q1.awaitTermination()
    }
    assert(!armed, "the injected fault must actually have fired")
    assert(aggRows(first) === wantTwo,
      "batch 1 must have landed in the first store before the crash")
    assert(aggRows(second) === wantOne,
      "batch 1 must not have reached the second store before the crash")
    val q2 = start() // redelivers batch 1 to BOTH, then continues
    try {
      q2.processAllAvailable()
      ms.addData(thirds(2)); q2.processAllAvailable()
    } finally q2.stop()

    assert(aggRows(first) === wantAgg,
      "the first store must hold batch 1 exactly once after redelivery")
    assert(aggRows(second) === wantAgg,
      "the second store must hold batch 1 exactly once after redelivery")
  }
}
