package graft

/** Plan-audit helper: executes the named registry queries and prints each
  * one's FINAL (post-AQE) physical plan — the artifact the per-round plan
  * audits in PLANS_r{N}.md quote. Run:
  *
  *   sbt "runMain graft.PlanDump <sfDir> <query>[,<query>...]"
  *
  * The query runs to completion first (`collect`), because before an
  * action AQE prints `isFinalPlan=false` with no codegen markers.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, names) = args
    // Bench's session: audit the plans the bench actually measures
    val spark = Bench.openSession()
    spark.sparkContext.setLogLevel("ERROR")
    // SPARK_GRAFT_PLAN_FORMAT=formatted prints `explain("formatted")`
    // (the optimization-round plan artifacts in plans/r16/); default
    // stays the post-AQE executedPlan the PLANS_r{N}.md audits quote.
    val formatted =
      sys.env.get("SPARK_GRAFT_PLAN_FORMAT").contains("formatted")
    names.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      println(s"==== $name ====")
      if (formatted)
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      else println(df.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
