package graft

import org.apache.spark.sql.functions._
import graft.sources.PostingsStore
import graft.tables.Tables

/** Gates for the standing positional-postings index: content equals a
  * direct tokenization, and a term probe bucket-prunes to a single
  * bucket of the layout — the serving-cost claim that justifies
  * persisting the index at all.
  */
class PostingsSpec extends SparkSpec {

  test("stored postings equal a direct tokenization of the corpus") {
    val got = PostingsStore.postings(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sorted
    val expect = Tables.documents(spark, sfDir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .toDF("doc_id", "pos", "w")
      .withColumn("pos", col("pos").cast("long"))
      .filter(length(col("w")) > 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sorted
    assert(got === expect)
    assert(got.nonEmpty)
  }

  test("a term probe bucket-prunes to one bucket of the index") {
    val post = PostingsStore.postings(spark, sfDir)
    val term = post.filter(length(col("w")) >= 4)
      .groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("w")).limit(1)
      .collect()(0).getString(0)
    val probe = post.filter(col("w") === term)
    // A bare filter triggers DisableUnnecessaryBucketedScan (no operator
    // needs the hash distribution); force the bucketed scan so the
    // pruning half of the layout story is observable in the plan.
    withConf("spark.sql.sources.bucketing.autoBucketedScan.enabled",
      "false") {
      val plan = probe.queryExecution.executedPlan.toString
      val buckets = spark.sessionState.conf.numShufflePartitions
      assert(plan.contains(s"SelectedBucketsCount: 1 out of $buckets"),
        s"the probe must open exactly one bucket:\n$plan")
      // and the pruned read returns the complete posting list
      val full = Tables.documents(spark, sfDir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") === term).count()
      assert(probe.count() === full)
    }
  }
}
