package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** One timed operation: a query in olap_slice, a request elsewhere.
  * `ok` is false when the op threw or its answer failed a check.
  */
final case class Op(name: String, startMs: Double, endMs: Double, ok: Boolean,
    error: String = "") {
  def ms: Double = endMs - startMs
}

object Op {
  /** Times `body`, then checks its answer after the clock has stopped.
    * A throw or a non-empty check result makes a failed op; the check's
    * cost is never part of the latency.
    */
  def measure[T](name: String)(body: => T)(check: T => String): Op = {
    val t0 = Clock.nowMs
    try {
      val v = body
      val t1 = Clock.nowMs
      val bad = check(v)
      Op(name, t0, t1, bad.isEmpty, bad)
    } catch {
      case scala.util.control.NonFatal(e) => Op(name, t0, Clock.nowMs, ok = false, e.toString)
    }
  }
}

object Stats {

  /** Median latency over every attempted op, failed ops ranked slower
    * than every success; with an even count, the mean of the two middle
    * ops. A median that reaches a failed op reads as `failedMs`, the length
    * of the timed window, since a failure has no latency of its own. NaN
    * when nothing was attempted.
    */
  def p50(ops: Seq[Op], failedMs: Double): Double = {
    val v = median(ops.map(o => if (o.ok) o.ms else Double.PositiveInfinity))
    if (v.isInfinite) failedMs else v
  }

  /** Median over op types (queries or endpoints) of each type's `p50`.
    * A pass or deck weighs every type the same, so the pooled median falls
    * on the boundary between two types and reads one run of each: it jumped
    * 15% between runs as the two swapped. Each type's own median is steady.
    */
  def typedP50(ops: Seq[Op], failedMs: Double): Double =
    median(ops.groupBy(_.name).values.map(p50(_, failedMs)).toSeq)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    for ((a, b) <- clipped) {
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }

  /** A span's self time: its duration minus the part its children cover. */
  def selfTime(start: Double, end: Double, children: Seq[(Double, Double)]): Double =
    (end - start) - covered(children, start, end)
}

/** Order-insensitive result digest: row count plus the wrapping 64-bit sum
  * of each row's MD5 prefix, rows rendered with columns sorted by name.
  * `oracle.py` renders DuckDB rows by the same rules, so a Spark answer and
  * its oracle twin agree exactly when their rows do (doubles compared at
  * 1e-4, the precision of the registry's rounded outputs).
  */
object Digest {

  def render(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case i: Byte => i.toString
    case i: Short => i.toString
    case i: Int => i.toString
    case i: Long => i.toString
    case i: java.math.BigInteger => i.toString
    case f: Float => renderDouble(f.toDouble)
    case d: Double => renderDouble(d)
    case d: java.math.BigDecimal => renderDouble(d.doubleValue)
    case d: scala.math.BigDecimal => renderDouble(d.toDouble)
    case t: java.sql.Timestamp =>
      "t" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant =>
      "t" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime =>
      render(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "d" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "d" + d.toEpochDay
    case s: String => s
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted
        .mkString("{", ",", "}")
    case r: org.apache.spark.sql.Row => r.toSeq.map(render).mkString("(", ",", ")")
    case other => other.toString
  }

  def renderDouble(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else new java.math.BigDecimal(math.floor(d * 1e4 + 0.5)).toBigInteger.toString

  def rowHash(cols: Seq[String], values: Seq[Any]): Long = {
    val s = cols.zip(values).sortBy(_._1)
      .map { case (c, v) => c + "=" + render(v) }.mkString("\u0001")
    val md = MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(md, 0, 8).getLong
  }

  def of(cols: Seq[String], rows: Iterable[Seq[Any]]): String = {
    var sum = 0L
    var n = 0L
    rows.foreach { r => sum += rowHash(cols, r); n += 1 }
    s"$n:" + f"${java.lang.Long.toUnsignedString(sum, 16).toLowerCase}%16s".replace(' ', '0')
  }

  def of(rows: Array[org.apache.spark.sql.Row]): String =
    if (rows.isEmpty) of(Nil, Nil)
    else of(rows.head.schema.fieldNames.toSeq, rows.map(_.toSeq))
}
