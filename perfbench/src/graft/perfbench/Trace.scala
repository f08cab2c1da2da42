package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall clock in epoch milliseconds with nanoTime resolution, so harness
  * spans and Spark listener timestamps (epoch ms) share one time axis.
  */
object Clock {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6
  private val jvmStart =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
  /** Progress line on stderr, stamped with seconds since JVM start. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench] +${(nowMs - jvmStart) / 1000}%.1fs $msg")
}

/** A recorded interval. Spans of one op share `group` (the op id, also
  * the Spark job group its jobs run under); `parent` is "" for an op.
  */
final case class Span(group: String, name: String, parent: String,
    startMs: Double, endMs: Double)

/** Per-op-group Spark counters, summed from listener events. */
final class SparkCounts {
  var jobs, stages, singleTaskStages, tasks, inputTasks = 0L
  var inputBytes, shuffleWrite, shuffleRead, spill = 0L
  var taskRunMs, maxTaskMs, schedWaitMs, loadJobMs = 0.0
  def add(o: SparkCounts): Unit = {
    jobs += o.jobs; stages += o.stages; singleTaskStages += o.singleTaskStages
    tasks += o.tasks; inputTasks += o.inputTasks; inputBytes += o.inputBytes
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; taskRunMs += o.taskRunMs
    maxTaskMs = math.max(maxTaskMs, o.maxTaskMs)
    schedWaitMs += o.schedWaitMs; loadJobMs += o.loadJobMs
  }
}

/** The traced run's recorder: harness spans plus Spark jobs as child spans
  * through a [[SparkListener]], keyed by the job group the harness sets on
  * the calling thread. Everything stays in memory until [[write]].
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val sc: SparkContext = spark.sparkContext
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val counts = new ConcurrentHashMap[String, SparkCounts]()
  private val jobInfo = new ConcurrentHashMap[Int, (String, Double, Boolean)]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmit = new ConcurrentHashMap[Int, Double]()
  @volatile private var openJobs = 0
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()

  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
  }

  def start(): Unit = { sc.addSparkListener(this); spark.streams.addListener(streamListener) }

  /** Detach, after letting the listener bus deliver the last job events. */
  def stop(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    while (openJobs > 0 && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(200)
    sc.removeSparkListener(this)
    spark.streams.removeListener(streamListener)
  }

  private def c(g: String): SparkCounts = counts.computeIfAbsent(g, _ => new SparkCounts)

  def span(group: String, name: String, parent: String, s: Double, e: Double): Unit =
    spans.add(Span(group, name, parent, s, e))

  /** Time `body` as a span of `group`, returning its value. */
  def timed[T](group: String, name: String, parent: String)(body: => T): T = {
    val s = Clock.nowMs
    try body finally span(group, name, parent, s, Clock.nowMs)
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq
  def countsFor(group: String): SparkCounts = Option(counts.get(group)).getOrElse(new SparkCounts)
  def total(groups: Iterable[String]): SparkCounts = {
    val t = new SparkCounts; groups.foreach(g => t.add(countsFor(g))); t
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("-")
    // A job is a model load when the MLlib reader submitted it.
    val load = e.stageInfos.exists(s => s.details.contains("ModelReader.load") ||
      s.details.contains("DefaultParamsReader"))
    jobInfo.put(e.jobId, (g, e.time.toDouble, load))
    e.stageInfos.foreach(s => stageGroup.put(s.stageId, g))
    synchronized { openJobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobInfo.remove(e.jobId)).foreach { case (g, t0, load) =>
      span(g, "spark.job", "action", t0, e.time.toDouble)
      val k = c(g)
      k.synchronized {
        k.jobs += 1
        if (load) k.loadJobMs += e.time - t0
      }
    }
    synchronized { openJobs -= 1 }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmit.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.map(_.toDouble).getOrElse(Clock.nowMs))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val g = stageGroup.getOrDefault(e.stageInfo.stageId, "-")
    val k = c(g)
    k.synchronized {
      k.stages += 1
      if (e.stageInfo.numTasks == 1) k.singleTaskStages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.getOrDefault(e.stageId, "-")
    val k = c(g)
    val m = e.taskMetrics
    val info = e.taskInfo
    k.synchronized {
      k.tasks += 1
      k.maxTaskMs = math.max(k.maxTaskMs, info.duration.toDouble)
      val sub = stageSubmit.getOrDefault(e.stageId, Double.NaN)
      if (!sub.isNaN) k.schedWaitMs += math.max(0.0, info.launchTime - sub)
      if (m != null) {
        k.taskRunMs += m.executorRunTime
        val in = m.inputMetrics.bytesRead
        k.inputBytes += in
        if (in > 0) k.inputTasks += 1
        k.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        k.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        k.spill += m.diskBytesSpilled
      }
    }
  }

  /** Write every span as one JSON line each. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = allSpans.sortBy(_.startMs).map { s =>
      s"""{"group":${Json.str(s.group)},"name":${Json.str(s.name)},""" +
        s""""parent":${Json.str(s.parent)},"start_ms":${Json.num(s.startMs)},""" +
        s""""end_ms":${Json.num(s.endMs)}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case ch if ch < ' ' => b ++= f"\\u${ch.toInt}%04x"
      case ch => b += ch
    }
    b.append('"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
