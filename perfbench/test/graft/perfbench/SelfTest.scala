package graft.perfbench

/** The benchmark's own checks of its accounting rules; exits 1 on a
  * failure. Run with `python3 perfbench/run.py --self-test`.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  $e"); false }
    println((if (ok) "PASS " else "FAIL ") + name)
    if (!ok) failures += 1
  }

  private def op(ms: Double, ok: Boolean = true) = Op("q", 0, ms, ok)

  def main(args: Array[String]): Unit = {
    check("p50: median over successes, even counts averaged") {
      Stats.p50(Seq(30.0, 10, 20).map(op(_)), 1000) == 20 &&
        Stats.p50(Seq(10.0, 20, 30, 40).map(op(_)), 1000) == 25
    }
    check("p50: failed ops rank slower than every success") {
      val ops = Seq(op(5000), op(10), op(20), op(1, ok = false), op(2, ok = false))
      // sorted: 10, 20, 5000, fail, fail -> the median is 5000; one more
      // failure puts it on a failure, which reads as the window length
      Stats.p50(ops, 9999) == 5000 && Stats.p50(ops :+ op(3, ok = false), 9999) == 9999
    }
    check("typed p50: median of each op type's median") {
      val ops = Seq(("a", 100.0), ("a", 300.0), ("b", 900.0), ("b", 1100.0), ("c", 2000.0))
        .map { case (n, ms) => Op(n, 0, ms, ok = true) }
      // types read 200, 1000, 2000; a type whose median is a failure reads 9999
      Stats.typedP50(ops, 9999) == 1000 &&
        Stats.typedP50(ops ++ Seq(Op("a", 0, 1, ok = false), Op("a", 0, 1, ok = false)), 9999) == 2000
    }
    check("self time: overlapping children are counted once") {
      val children = Seq((10.0, 40.0), (30.0, 60.0), (80.0, 120.0), (-5.0, 2.0))
      // inside [0, 100]: [0,2] + [10,60] + [80,100] = 72 covered
      Stats.covered(children, 0, 100) == 72 && Stats.selfTime(0, 100, children) == 28
    }
    check("self time: nested children") {
      Stats.selfTime(0, 50, Seq((0.0, 50.0), (10.0, 20.0))) == 0
    }
    val thrown = Op.measure[Seq[Int]]("boom")(throw new RuntimeException("boom"))(_ => "")
    check("a throwing op is a failed op") { !thrown.ok && thrown.error.contains("boom") }
    check("a throwing op counts in ok_ratio and not in the latencies") {
      val ops = Seq(op(10), op(20), op(30), thrown.copy(name = "q", endMs = thrown.startMs + 0.001))
      val w = Window(ops, Nil, 0, 1000, 0, Map.empty)
      val e2e = Harness.endToEnd(w, 1.0).toMap
      // sorted: 10, 20, 30, fail -> the median is (20 + 30) / 2
      e2e("ok_ratio")._1 == 0.75 && e2e("ops_per_s")._1 == 3.0 && e2e("p50_ms")._1 == 25
    }
    val schema = org.apache.spark.sql.types.StructType.fromDDL("a INT, b DOUBLE, c STRING")
    def row(a: Int, b: Double, c: String): org.apache.spark.sql.Row =
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(Array(a, b, c), schema)
    val rows = Array(row(1, 2.5, "x"), row(2, 0.125, null))
    check("digest: row order and column order do not matter") {
      val swapped = Digest.of(Seq("c", "b", "a"), rows.reverse.map(r => Seq(r.get(2), r.get(1), r.get(0))))
      Digest.of(rows) == swapped
    }
    check("digest: a changed value changes the digest") {
      Digest.of(rows) != Digest.of(Array(row(1, 2.5, "x"), row(2, 0.126, null)))
    }
    check("a digest mismatch is a failed op") {
      val want = Digest.of(rows)
      val good = Op.measure("q")(rows)(OlapSlice.checkDigest(_, want))
      val bad = Op.measure("q")(rows.take(1))(OlapSlice.checkDigest(_, want))
      good.ok && !bad.ok && bad.error.startsWith("digest 1:")
    }
    check("digest: doubles render at 1e-4, as oracle.py does") {
      Digest.render(2.5) == "25000" && Digest.render(0.12344) == "1234" && Digest.render(0.12346) == "1235" &&
        Digest.render(Double.NaN) == "NaN" && Digest.render(null) == "\\N"
    }
    if (failures > 0) { println(s"$failures self-test(s) failed"); sys.exit(1) }
    println("all self-tests passed")
  }
}
