package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench.jsonNum`'s rendering contract. The trailing-zero trim exists
  * to keep the bench JSON line inside the driver's bounded tail capture,
  * but it must apply ONLY to the fractional part: the earlier
  * unconditional trim turned cpuSec 1180 into "118" in a committed
  * board of record (every `places=0` value ending in 0 was exposed —
  * 100 rendered as "1"). Pure JVM string logic, no SparkSession needed.
  */
class BenchFmtSpec extends AnyFunSuite {

  test("places=0 integer renderings pass through untouched") {
    assert(Bench.jsonNum(1180.4, 0) === "1180")
    assert(Bench.jsonNum(100.0, 0) === "100")
    assert(Bench.jsonNum(1000.0, 0) === "1000")
    assert(Bench.jsonNum(0.0, 0) === "0")
    assert(Bench.jsonNum(-1.0, 0) === "-1")
  }

  test("fractional trailing zeros trim, keeping at least one digit") {
    assert(Bench.jsonNum(0.5, 2) === "0.5")
    assert(Bench.jsonNum(10.0, 2) === "10.0")
    assert(Bench.jsonNum(176.79, 3) === "176.79")
    assert(Bench.jsonNum(1.23, 2) === "1.23")
    assert(Bench.jsonNum(8.0, 1) === "8.0")
  }

  test("Locale-independent dot decimal separator") {
    val prev = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      assert(Bench.jsonNum(1.5, 2) === "1.5")
    } finally java.util.Locale.setDefault(prev)
  }

  /** r16 verdict #4: a lower-core rerun must not overwrite a
    * higher-core BENCH_SPREAD board of record. The guard reads the
    * standing file's stamped `"cpus"` header.
    */
  test("spread path diverts a lower-core rerun, keeps higher/equal") {
    val dir = java.nio.file.Files.createTempDirectory("spreadguard")
    val standing = dir.resolve("BENCH_SPREAD.json").toString
    // no standing file: keep the standing name
    assert(Bench.spreadDefaultPath(8, standing) === standing)
    // standing 32-core board: an 8-core rerun diverts, a 32-core
    // rerun and a 64-core rerun keep refreshing the standing name
    java.nio.file.Files.writeString(java.nio.file.Paths.get(standing),
      """{"registry":261,"env":{"heapGB":8.0,"opens":"ok","cpus":32,"gcSec":1.0},"spread":{}}""")
    // the diverted file lands beside the standing one
    assert(Bench.spreadDefaultPath(8, standing) ===
      dir.resolve("BENCH_SPREAD_c8.json").toString)
    assert(Bench.spreadDefaultPath(32, standing) === standing)
    assert(Bench.spreadDefaultPath(64, standing) === standing)
    // legacy file without a cpus stamp: overwritable (no basis to guard)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(standing),
      """{"registry":261,"env":{"heapGB":8.0},"spread":{}}""")
    assert(Bench.spreadDefaultPath(8, standing) === standing)
  }

  test("spread path treats a malformed standing file as unstamped") {
    val dir = java.nio.file.Files.createTempDirectory("spreadguard")
    val standing = dir.resolve("BENCH_SPREAD.json")
    def pathFor(body: String) = {
      java.nio.file.Files.writeString(standing, body)
      Bench.spreadDefaultPath(8, standing.toString)
    }
    // truncated before the env header's stamp
    assert(pathFor("""{"registry":261,"env":{"heapGB":8.0,"op""") ===
      standing.toString)
    // a "cpus" key outside the env header is no stamp
    assert(pathFor(
      """{"registry":261,"env":{"heapGB":8.0},"spread":{"q":{"cpus":32}}}""")
      === standing.toString)
    // a stamp too large for an Int cannot be parsed
    assert(pathFor("""{"env":{"cpus":99999999999}}""") === standing.toString)
    // unreadable: a directory where the file should be
    java.nio.file.Files.delete(standing)
    java.nio.file.Files.createDirectory(standing)
    assert(Bench.spreadDefaultPath(8, standing.toString) === standing.toString)
  }

  /** Every query runs three samples into one (min, med, max) row. A
    * query that throws must fail loudly, never read as a fast query: the
    * time spent before the throw measures nothing.
    */
  test("a throwing query is reported as failed and not timed") {
    var afterCalls = Seq.empty[String]
    var runs = Map.empty[String, Int].withDefaultValue(0)
    def counted(name: String)(body: => Unit): (String, () => Unit) =
      name -> (() => { runs += name -> (runs(name) + 1); body })
    val board = Bench.timeBoard(
      Seq(counted("ok1")(()),
        counted("boom")(throw new IllegalStateException("boom")),
        // fails only in its second sample: any failed sample fails it
        counted("flaky")(
          if (runs("flaky") == 2) throw new RuntimeException("flaky")),
        counted("ok3")(())),
      name => afterCalls :+= name)
    assert(board.rows.map(_._1) === Seq("ok1", "ok3"))
    assert(runs("ok1") === 3 && runs("ok3") === 3)
    board.rows.foreach { case (name, (lo, med, hi)) =>
      assert(0 <= lo && lo <= med && med <= hi, name) }
    assert(board.failed.map { case (k, e) => k -> e.toString } === Seq(
      "boom" -> "java.lang.IllegalStateException: boom",
      "flaky" -> "java.lang.RuntimeException: flaky"))
    // cleanup runs after every sample, failed ones included; a failed
    // query's remaining samples are skipped
    assert(afterCalls === Seq("ok1", "ok1", "ok1", "boom", "flaky",
      "flaky", "ok3", "ok3", "ok3"))
  }

  test("the spread file names every ok and every failed query once") {
    val names = Seq("q_a", "q_bad", "q_b", "q_quote")
    val board = Bench.timeBoard(names.map(n => n -> (() => n match {
      case "q_bad" => throw new IllegalStateException("bad")
      case "q_quote" =>
        throw new RuntimeException("a \"quoted\"\n\tmessage \\ here")
      case _ => ()
    })), _ => ())
    val json = Bench.spreadJson(board, names.size,
      """{"heapGB":8.0,"cpus":4}""", """{"pin":1.5}""")
    // a strict parse: malformed escapes or a repeated key both throw
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .enable(com.fasterxml.jackson.core.JsonParser.Feature
        .STRICT_DUPLICATE_DETECTION)
      .readTree(json)
    def keys(field: String) = {
      import scala.jdk.CollectionConverters._
      root.get(field).fieldNames().asScala.toSeq
    }
    assert(root.get("registry").asInt === names.size)
    assert(root.get("failed").asInt === 2)
    assert(keys("spread") === Seq("q_a", "q_b"))
    assert(keys("failures") === Seq("q_bad", "q_quote"))
    assert((keys("spread") ++ keys("failures")).sorted === names.sorted)
    assert(root.get("failures").get("q_quote").asText ===
      "java.lang.RuntimeException: a \"quoted\"\n\tmessage \\ here")
    assert(keys("spread").forall(k =>
      Seq("min", "med", "max").forall(root.get("spread").get(k).has)))
    // the failures object must not hide the env header's core stamp
    // from the lower-core divert guard
    val f = java.nio.file.Files.createTempFile("spread", ".json")
    java.nio.file.Files.writeString(f, json)
    assert(Bench.spreadDefaultPath(2, f.toString) !== f.toString)
  }
}
