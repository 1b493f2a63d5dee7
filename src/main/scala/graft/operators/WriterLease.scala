package graft.operators

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.ReentrantLock

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession

/** A writer holding a root's lease refused to share it. The caller is a
  * SECOND writer — the fix is scheduling (one maintenance process per
  * root), not retry-in-a-loop; the refusal message names the holder. */
final class ConcurrentWriterException(msg: String) extends RuntimeException(msg)

/** Single-writer discipline for persisted index / pipeline roots.
  *
  * Every mutating entry point of the persisted-index family
  * ([[SignatureIndex]], [[CosineDedupIndex]], [[AnnIndex]], [[PqIndex]],
  * [[ClusterLabels]], [[SketchLog]], [[DedupPipeline]]) runs under
  * `withLease(root)`. The crash protocols those operators already carry
  * (one-marker versioned commits, batch-keyed replay) make every
  * mutation atomic against READERS — but two concurrent WRITERS could
  * still interleave, e.g. a compaction's commit with another process's
  * ingest appending to the version it supersedes, or two rewrites
  * staging the same next version. The
  * lease closes that: one writer proceeds, any second writer refuses
  * loudly ([[ConcurrentWriterException]]) instead of corrupting state.
  *
  * Two layers, both scoped to the root directory:
  *
  *  - in-process: a per-root [[ReentrantLock]] — reentrant, so composed
  *    entries (DedupPipeline.runOnce → SignatureIndex.ingest →
  *    ClusterLabels.merge, maintain → refreeze/compact) take the lease
  *    once per thread; a SECOND thread's `tryLock` fails immediately;
  *  - cross-process: a lease file `_graft_writer_lease` under the root,
  *    created with `overwrite = false` (atomic create-if-absent on HDFS
  *    and the local FS; an object-store deployment should back this
  *    with a conditional PUT — same caveat as every rename-based commit
  *    in this engine, documented in SCALE.md). The file carries the
  *    holder id for the refusal message.
  *
  * Crashed holders: a lease older than `ttlMs` (default 30 min) is
  * presumed abandoned and STOLEN, with a loud log line. Staleness is
  * judged by the lease file's mtime, which a HEARTBEAT daemon thread
  * refreshes every `ttlMs / 3` while the lease is held — so a live
  * holder can never be stolen from, however long a single action runs
  * (a 100 TB refreeze can legitimately outrun any fixed TTL); only a
  * crashed process stops heartbeating and ages out. The heartbeat is
  * one `setTimes` metadata call per interval — no data traffic.
  */
object WriterLease {

  val fileName = "_graft_writer_lease"

  /** Stable id for this writer process in refusal messages and lease
    * files: pid@host plus a JVM-unique suffix. */
  private val holderId: String = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean.getName
    s"$rt/${java.util.UUID.randomUUID().toString.take(8)}"
  }

  private val locks = new ConcurrentHashMap[String, ReentrantLock]()

  def defaultTtlMs: Long = 30L * 60L * 1000L

  /** Run `f` as the single writer of `root`. Reentrant within the
    * holding thread; every other writer (thread or process) refuses
    * loudly. The lease is always released on exit — including exceptional
    * exit, so a failed mutation never wedges the root (the operators'
    * own crash protocols handle the partial state it left). */
  def withLease[T](spark: SparkSession, root: String,
      ttlMs: Long = defaultTtlMs)(f: => T): T = {
    val fs = new HPath(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootP = fs.makeQualified(new HPath(root))
    val lock = locks.computeIfAbsent(rootP.toString, _ => new ReentrantLock())
    if (!lock.tryLock())
      throw new ConcurrentWriterException(
        s"root $root is being mutated by another writer thread in this process; " +
          "index roots are single-writer — schedule one maintenance loop per root")
    val first = lock.getHoldCount == 1
    var beat: Option[Thread] = None
    if (first) {
      try {
        acquireFile(fs, rootP, ttlMs)
        beat = Some(startHeartbeat(fs, leasePath(rootP), ttlMs))
      } catch { case t: Throwable => lock.unlock(); throw t }
    }
    try f
    finally {
      if (first) {
        try {
          beat.foreach { t => t.interrupt(); t.join(1000) }
          fs.delete(leasePath(rootP), false)
        } finally lock.unlock()
      } else lock.unlock()
    }
  }

  /** Refresh the held lease's mtime every `ttlMs / 3` so a LIVE holder
    * never ages past the steal threshold mid-action; a crashed process
    * stops heartbeating and its lease ages out normally. Daemon thread —
    * it can never keep the JVM alive; interrupted (and joined) before
    * the lease file is deleted on release.
    *
    * The loop must either BEAT or EXIT — never die silently, never
    * outlive release. Two failure shapes matter: (1) a filesystem whose
    * `setTimes` throws a non-IO exception (some object-store impls throw
    * UnsupportedOperationException) must not kill the thread — that
    * would silently re-open the live-holder steal window — so the catch
    * is NonFatal, loudly logged; (2) the release-time interrupt can
    * surface INSIDE `setTimes` as an InterruptedIOException (which
    * clears the interrupt flag) — swallowing it would leave a zombie
    * beat touching the lease path forever, including refreshing a LATER
    * crashed holder's lease at the same path and making a genuinely
    * dead lease un-stealable. So an interrupt observed through any
    * caught exception exits the loop. */
  private[graft] def startHeartbeat(fs: FileSystem, p: HPath, ttlMs: Long): Thread = {
    val interval = math.max(50L, ttlMs / 3)
    val t = new Thread(() => {
      try {
        var run = true
        while (run && !Thread.interrupted()) {
          Thread.sleep(interval)
          val now = System.currentTimeMillis()
          // Touch mtime only; atime -1 = leave unchanged. Failure is
          // non-fatal (worst case the lease ages out as before) but
          // loud, since silent heartbeat loss re-opens the steal window.
          try fs.setTimes(p, now, -1)
          catch {
            // SocketTimeoutException EXTENDS InterruptedIOException but
            // is a transient network failure, not the release interrupt
            // — exiting on it would silently kill the beat and re-open
            // the mid-action steal window on flaky object-store links.
            case e: java.net.SocketTimeoutException =>
              System.err.println(s"[graft] WriterLease: heartbeat on $p timed out: $e")
              if (Thread.currentThread().isInterrupted) run = false
            case _: java.io.InterruptedIOException => run = false
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"[graft] WriterLease: heartbeat on $p failed: $e")
              if (Thread.currentThread().isInterrupted) run = false
          }
        }
      } catch { case _: InterruptedException => () }
    }, s"graft-lease-heartbeat-${p.getName}")
    t.setDaemon(true)
    t.start()
    t
  }

  private def leasePath(rootP: HPath) = new HPath(rootP, fileName)

  private def acquireFile(fs: FileSystem, rootP: HPath, ttlMs: Long): Unit = {
    fs.mkdirs(rootP)
    val p = leasePath(rootP)
    if (tryCreate(fs, p)) return
    val st = try Some(fs.getFileStatus(p))
             catch { case _: java.io.FileNotFoundException => None }
    st match {
      case None =>
        // The holder released between our create attempt and the probe.
        if (!tryCreate(fs, p))
          refuse(rootP, "another writer raced into the just-released lease")
      case Some(s) =>
        val age = System.currentTimeMillis() - s.getModificationTime
        if (age <= ttlMs)
          refuse(rootP, s"held by ${readHolder(fs, p)} (age ${age / 1000}s, ttl ${ttlMs / 1000}s)")
        // Presumed-crashed holder: break the lease, loudly, and take it.
        // (A delete+create pair can race another stealer — the create's
        // overwrite=false keeps exactly one winner.)
        System.err.println(
          s"[graft] WriterLease: breaking stale lease on $rootP " +
            s"(holder ${readHolder(fs, p)}, age ${age / 1000}s > ttl ${ttlMs / 1000}s)")
        fs.delete(p, false)
        if (!tryCreate(fs, p))
          refuse(rootP, "another writer raced this one to a stale lease")
    }
  }

  private def tryCreate(fs: FileSystem, p: HPath): Boolean =
    try {
      val out = fs.create(p, false)
      try out.write(s"$holderId\n".getBytes("UTF-8")) finally out.close()
      true
    } catch { case _: java.io.IOException => false }

  private def readHolder(fs: FileSystem, p: HPath): String =
    try {
      val in = fs.open(p)
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8").trim
      finally in.close()
    } catch { case _: java.io.IOException => "<unreadable holder>" }

  private def refuse(rootP: HPath, why: String): Nothing =
    throw new ConcurrentWriterException(
      s"root $rootP is leased to another writer process ($why); " +
        "index roots are single-writer — schedule one maintenance loop per root")
}
