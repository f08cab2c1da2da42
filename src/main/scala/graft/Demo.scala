package graft

/** End-to-end lifecycle demo — the reference's docker-compose stack
  * (generator → batch sink → retrain loop → model registry → serving
  * tiers) as one main over the rate source. Prints the lifecycle
  * transcript; see [[graft.api.Lifecycle]].
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = Bench.openSession()
    graft.api.Lifecycle.run(spark).foreach(l => println(s"[lifecycle] $l"))
    spark.stop()
  }
}
