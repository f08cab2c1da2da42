package graft.sources

import java.util.concurrent.ConcurrentHashMap

/** Shared build-once machinery for the session-scoped standing layouts
  * ([[GraphStateStore]], [[PostingsStore]], [[IvfStore]], the
  * warehouse time-travel fixture): one cache keyed by the caller's
  * (session, dataset, …) tuple, one JVM shutdown hook that removes
  * every temp root the builders created. At 100 TB these layouts are
  * real object-store prefixes written by nightly jobs; locally the
  * cache stands in for "the table already exists" and the hook keeps
  * three-sample bench runs and Verify sessions from leaking store copies
  * (the r9 ADVICE lesson, factored out instead of re-fixed per store).
  */
object LayoutCache {

  private val roots = ConcurrentHashMap.newKeySet[java.io.File]()
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    roots.forEach { f =>
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(); ()
      }
      rm(f)
    }))

  /** Collision-free tag for session-catalog table names and layout
    * directories: the FULL dataset path, sanitized — not its hashCode,
    * which two distinct paths can share — plus a per-session serial, so
    * a second session (tests + bench in one JVM) never DROPs or
    * overwrites a table/dir an earlier session's cached standing handle
    * still lazily reads (r10 ADVICE). The serial is a guaranteed-unique
    * counter held in a weak map, not `System.identityHashCode` — two
    * live sessions CAN share an identity hash (r11 ADVICE), which would
    * re-open exactly the clobbering hazard the tag exists to close.
    */
  private val sessionSerials = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, java.lang.Long]())
  private val nextSerial = new java.util.concurrent.atomic.AtomicLong()

  /** The process id is part of the tag (r12 ADVICE): the serial alone
    * restarts at 1 in every JVM, so two CONCURRENT processes over the
    * same dataset (a spec run beside a bench run) would collide on the
    * deterministic `_s1` bucketed-layout path — and the first to exit
    * would shutdown-delete the tree the other still lazily reads. The
    * pid restores the old identity-hash behavior's per-process
    * uniqueness without its intra-JVM collision hazard.
    */
  def tag(s: org.apache.spark.sql.SparkSession, sfDir: String): String =
    sfDir.replaceAll("[^A-Za-z0-9]", "_") +
      "_p" + ProcessHandle.current().pid() + "_s" +
      sessionSerials.computeIfAbsent(s, _ => nextSerial.incrementAndGet())

  /** Session-scoped compute-once cache that does NOT retain stopped
    * sessions (r12 ADVICE): the former static
    * `ConcurrentHashMap[(SparkSession, …), DataFrame]` holders kept
    * sessions — and their Ck-pinned checkpointed blocks, which sweep's
    * keep-set then honors forever — strongly for the JVM lifetime in
    * multi-session test JVMs. A bare WeakHashMap cannot fix that
    * (cached DataFrames reference their session, so the value chain
    * would keep the weak key alive); instead every access PRUNES
    * entries whose session's context has stopped, so a dead session's
    * layouts, pins, and plans become collectable the next time any
    * live session touches the same cache — mirroring the weak-key
    * discipline [[graft.ops.Ck]] and [[sessionSerials]] already use.
    */
  final class SessionCache[K, V] {
    private val bySession = new java.util.HashMap[
      org.apache.spark.sql.SparkSession, ConcurrentHashMap[K, V]]()
    def getOrBuild(s: org.apache.spark.sql.SparkSession, key: K)(
        build: => V): V = {
      val m = bySession.synchronized {
        bySession.entrySet().removeIf(e => e.getKey.sparkContext.isStopped)
        bySession.computeIfAbsent(s, _ => new ConcurrentHashMap[K, V]())
      }
      m.computeIfAbsent(key, _ => build)
    }
    /** Install (or replace) an entry — the chained advance of the
      * standing graph state ([[GraphStateStore.advanceChained]]): last
      * write wins.
      */
    def put(s: org.apache.spark.sql.SparkSession, key: K, v: V): Unit =
      bySession.synchronized {
        bySession.computeIfAbsent(s, _ => new ConcurrentHashMap[K, V]())
      }.put(key, v)
  }

  /** A fresh temp directory registered for shutdown cleanup. */
  def tempRoot(prefix: String): java.io.File = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    roots.add(dir)
    dir
  }

  /** Register a caller-named directory for the same shutdown cleanup —
    * for layouts whose path must be DETERMINISTIC within the session
    * (idempotent rebuild guards) rather than freshly random
    * ([[Bucketed.layoutDir]]; r11 ADVICE — the per-run session serial in
    * the name means each JVM creates a new tree, so unregistered dirs
    * would grow /tmp without bound across runs).
    */
  def register(dir: java.io.File): java.io.File = { roots.add(dir); dir }
}
