package graft.perfbench

import scala.collection.mutable

import graft.ops.Ck

object OlapSlice {
  /** Registry queries with DuckDB oracle twins that need no staged-family
    * build, chosen to cover the costs the engine's job-count work targets:
    * multi-pass selections of 14-25 jobs with about one task per stage
    * (q_changepoint, q_winsorize, q_rfm_segments), shuffle-heavy joins and
    * set operations (q_assoc_rules, q_set_ops), a single long task
    * (q_simhash), and single-row-group scans of lineitem (q_join_enrich,
    * q1_agg). A warm pass takes about 8 s on 4 cores.
    */
  val queries: Seq[String] = Seq(
    "q_changepoint", "q_winsorize", "q_rfm_segments", "q_assoc_rules",
    "q_set_ops", "q_simhash", "q_join_enrich", "q1_agg")

  /** "" when the answer's digest is the oracle's, else the mismatch. */
  def checkDigest(rows: Array[org.apache.spark.sql.Row], want: String): String = {
    val got = Digest.of(rows)
    if (got == want) "" else s"digest $got, oracle $want"
  }
}

/** Closed loop, one client: passes over the slice in a seeded order, each
  * answer checked against its oracle digest. One untimed pass in setup
  * pays JIT and codegen warm-up; a window runs whole passes until at least
  * `seconds` have elapsed, so every query weighs the same in every run.
  */
final class OlapSlice(ctx: Ctx) extends Workload {
  import ctx.spark
  private val registry = graft.queries.Registry.queries
  private val order = ctx.rng.shuffle(OlapSlice.queries)
  private var opSeq = 0
  private var swept = 0

  def setup(): Unit = {
    val missing = OlapSlice.queries.filterNot(ctx.expect.contains)
    require(missing.isEmpty, "no oracle digest for " + missing.mkString(", "))
    // one footer read per input table, so no query pays first-touch costs
    graft.tables.Tables.names.foreach(t => graft.tables.Tables.read(spark, ctx.data, t).count())
    Clock.note("tables read")
    order.foreach(q => run(q, None))
  }

  /** Build, plan and collect one query; drain its checkpoints after. */
  private def run(q: String, tr: Option[Tracer]): (Op, String) = {
    opSeq += 1
    val id = s"op$opSeq"
    def phase[T](name: String)(body: => T): T =
      tr.fold(body)(_.timed(id, name, "op")(body))
    tr.foreach(_ => spark.sparkContext.setJobGroup(id, q, interruptOnCancel = false))
    val res = try Op.measure(q) {
      val df = phase("build")(registry(q)(spark, ctx.data))
      phase("plan")(df.queryExecution.executedPlan)
      phase("action")(df.collect())
    }(OlapSlice.checkDigest(_, ctx.expect(q)))
    finally {
      tr.foreach(_ => spark.sparkContext.clearJobGroup())
      Ck.drain(spark)
      swept += Ck.sweep(spark)
    }
    tr.foreach(_.span(id, res.name, "", res.startMs, res.endMs))
    (res, id)
  }

  def window(tr: Option[Tracer]): Window = {
    val ops = mutable.ArrayBuffer.empty[(Op, String)]
    swept = 0
    val gauge = tr.map(_ => new CacheGauge(spark))
    val start = Clock.nowMs
    val deadline = start + ctx.seconds * 1000.0
    do order.foreach(q => ops += run(q, tr)) while (Clock.nowMs < deadline)
    val end = Clock.nowMs
    val cachedMb = gauge.fold(0.0)(_.stop())
    // a failed run of a query ranks slower than every success
    val perQuery = ops.groupBy(_._1.name).map { case (q, xs) =>
      s"q.${q}_s" -> Stats.p50(xs.map(_._1).toSeq, end - start) / 1000
    }
    Window(ops.map(_._1).toSeq, ops.map(_._2).toSeq, start, end, cachedMb,
      perQuery ++ Map("ops.ck.swept" -> swept.toDouble))
  }

  def close(): Unit = ()
}
