package graft.testfs

import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import graft.ForkFreeRawLocalFileSystem

/** Hostile-filesystem test mode (round-15: the r14 verdict's item 2 —
  * "exercise the object-store bindings instead of documenting them").
  *
  * A `hostile://` scheme over local disk that models the two
  * object-store behaviors the crash protocols must survive but local
  * POSIX never shows them:
  *
  *  1. **Non-atomic rename**: every rename is COPY-THEN-DELETE (the
  *     S3-mover shape). A crash hook ([[armCrash]]) can fire mid-swap —
  *     after the copy (dest complete, src still present), or with a
  *     torn dest (one data file removed after the copy, the observable
  *     state of dying mid-copy) — turning the protocols' claimed crash
  *     windows into drills. Rename is also STRICT: existing dest or
  *     missing dest parent returns false (HDFS semantics), so code
  *     that leans on POSIX mv leniency fails loudly here.
  *  2. **Metered metadata ops**: list/stat/exists/open/create/delete/
  *     rename/mkdirs counts per operation ([[counts]]) — LIST is the cost
  *     center on object stores, and the fold-manifest work's claim
  *     ("plans scans without listing") is asserted from these counters
  *     rather than believed.
  *
  * Install with [[install]] (sets `fs.hostile.impl`), then use
  * `hostile:///abs/path` roots. All graft protocols reach storage
  * through `path.getFileSystem(conf)`, so they run here unmodified.
  * Test/evidence harness only — never on a production data path.
  * Its raw layer is the session `file:` class's, so creates do not
  * fork `chmod` here either.
  */
class HostileFileSystem extends ForkFreeRawLocalFileSystem {

  import HostileFileSystem._

  override def getScheme: String = "hostile"
  override def getUri: URI = HostileFileSystem.NAME

  override def listStatus(f: Path): Array[org.apache.hadoop.fs.FileStatus] = {
    count("listStatus")
    super.listStatus(f)
  }

  override def getFileStatus(f: Path): org.apache.hadoop.fs.FileStatus = {
    count("getFileStatus")
    super.getFileStatus(f)
  }

  override def open(f: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    count("open")
    // Counted stream (r18): `readBytes` in [[counts]] is the true read
    // amplification through this FS — task inputMetrics don't track
    // custom schemes, and the point-lookup pricing needs bytes, not
    // just op counts. The wrapper drops ByteBufferReadable, so readers
    // fall back to byte[] reads — correct, slightly slower, and every
    // read passes through the counter.
    new org.apache.hadoop.fs.FSDataInputStream(
      new CountingStream(super.open(f, bufferSize)))
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    count("create")
    maybeCrash("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  // RawLocalFileSystem overrides these directly: they never reach the
  // overloads above.

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    count("create")
    maybeCrash("create", f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag], bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    count("create")
    maybeCrash("create", f)
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }

  override def exists(f: Path): Boolean = {
    count("exists")
    super.exists(f)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    count("delete")
    super.delete(f, recursive)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    count("mkdirs")
    super.mkdirs(f, permission)
  }

  override def mkdirs(f: Path): Boolean = {
    count("mkdirs")
    super.mkdirs(f)
  }

  /** Object stores have no mtime mutation: with [[denySetTimes]] armed
    * this throws UnsupportedOperationException (the S3A/ABFS shape),
    * which the WriterLease heartbeat must survive — counted either
    * way. */
  override def setTimes(f: Path, mtime: Long, atime: Long): Unit = {
    count("setTimes")
    if (HostileFileSystem.setTimesDenied)
      throw new UnsupportedOperationException(
        "[hostile] setTimes is not supported on this store")
    super.setTimes(f, mtime, atime)
  }

  /** Copy-then-delete with strict preconditions and crash hooks. The
    * precondition probes are part of the one counted rename. */
  override def rename(src: Path, dst: Path): Boolean = {
    count("rename")
    if (!super.exists(src)) return false
    if (super.exists(dst)) return false
    if (dst.getParent != null && !super.exists(dst.getParent)) return false
    maybeCrash("before-copy", dst)
    val copied = FileUtil.copy(this, src, this, dst, false, getConf)
    // Torn-dest drill: the observable state of dying mid-copy — dest
    // present but incomplete, src untouched.
    if (armed("torn-dest", dst)) {
      firstLeaf(dst).foreach(p => super.delete(p, false))
      fire("torn-dest", src, dst)
    }
    maybeCrash("after-copy", dst)
    copied && super.delete(src, true)
  }

  private def firstLeaf(p: Path): Option[Path] = {
    val st = super.getFileStatus(p)
    if (!st.isDirectory) Some(p)
    else super.listStatus(p).toSeq
      .sortBy(_.getPath.getName)
      .collectFirst(Function.unlift(s =>
        if (s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith(".")) None
        else firstLeaf(s.getPath)))
  }
}

object HostileFileSystem {

  private val NAME = URI.create("hostile:///")

  /** Register the scheme on a Hadoop configuration (a Spark session's
    * `sparkContext.hadoopConfiguration` in the drills). */
  def install(conf: Configuration): Unit = {
    conf.set("fs.hostile.impl", classOf[HostileFileSystem].getName)
    // One shared instance per scheme is fine — counters are global.
    conf.setBoolean("fs.hostile.impl.disable.cache", false)
  }

  // ------------------------------------------------------------ counters

  private val counters = new ConcurrentHashMap[String, AtomicLong]()

  private def count(op: String): Unit = {
    counters.computeIfAbsent(op, _ => new AtomicLong).incrementAndGet()
    ()
  }

  private def addBytes(n: Long): Unit = {
    if (n > 0) { counters.computeIfAbsent("readBytes", _ => new AtomicLong).addAndGet(n); () }
  }

  /** Delegating input stream that feeds the `readBytes` counter.
    * Implements only Seekable + PositionedReadable (the
    * FSDataInputStream minimum) so every read path is counted. */
  private final class CountingStream(in: org.apache.hadoop.fs.FSDataInputStream)
      extends java.io.InputStream
      with org.apache.hadoop.fs.Seekable
      with org.apache.hadoop.fs.PositionedReadable {
    override def read(): Int = {
      val b = in.read(); if (b >= 0) addBytes(1L); b
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val n = in.read(b, off, len); addBytes(n.toLong); n
    }
    override def read(pos: Long, buf: Array[Byte], off: Int, len: Int): Int = {
      val n = in.read(pos, buf, off, len); addBytes(n.toLong); n
    }
    override def readFully(pos: Long, buf: Array[Byte], off: Int, len: Int): Unit = {
      in.readFully(pos, buf, off, len); addBytes(len.toLong)
    }
    override def readFully(pos: Long, buf: Array[Byte]): Unit = {
      in.readFully(pos, buf); addBytes(buf.length.toLong)
    }
    override def seek(pos: Long): Unit = in.seek(pos)
    override def getPos: Long = in.getPos
    override def seekToNewSource(targetPos: Long): Boolean = in.seekToNewSource(targetPos)
    override def available(): Int = in.available()
    override def skip(n: Long): Long = in.skip(n)
    override def close(): Unit = in.close()
  }

  /** Snapshot of per-op counts since the last [[reset]]. */
  def counts: Map[String, Long] = {
    val b = Map.newBuilder[String, Long]
    counters.forEach((k, v) => b += k -> v.get())
    b.result()
  }

  def reset(): Unit = counters.clear()

  // ------------------------------------------------------- setTimes deny

  /** When true, [[HostileFileSystem.setTimes]] throws
    * UnsupportedOperationException — the object-store impls that have
    * no mtime mutation. Drills the WriterLease heartbeat's documented
    * degradation (lease ages out as if pre-heartbeat; refusal within
    * TTL still holds). */
  @volatile private var denySetTimesFlag: Boolean = false

  def denySetTimes(on: Boolean): Unit = denySetTimesFlag = on

  private[testfs] def setTimesDenied: Boolean = denySetTimesFlag

  // ---------------------------------------------------------- crash hook

  /** One-shot injected crash: fires (throws) when a rename whose dest
    * path ENDS WITH `dstSuffix` reaches `phase` — one of
    * "before-copy", "after-copy" (dest complete, src present),
    * "torn-dest" (dest incomplete, src present) — or, with phase
    * "create", when a file whose path ends with `dstSuffix` is about to
    * be created (nothing is created — the commit-marker drill). Suffix
    * matching keeps the hook off unrelated renames and creates.
    * `skip` matching operations pass through unharmed before the next one
    * fires — the lever that targets e.g. a state file's SECOND swap of
    * a batch (the commit-point advance) instead of its first (the
    * intent set). Disarms on fire. */
  private val armLock = new Object
  private var arm: Option[(String, String)] = None
  private var armSkip: Int = 0

  def armCrash(phase: String, dstSuffix: String, skip: Int = 0): Unit =
    armLock.synchronized { arm = Some((phase, dstSuffix)); armSkip = skip }

  def disarm(): Unit = armLock.synchronized { arm = None; armSkip = 0 }

  /** True exactly once per armed (phase, suffix) after `skip` earlier
    * matches — the single decision point for both hook sites, so the
    * skip counter can never double-count one rename. */
  private def shouldFire(phase: String, dst: Path): Boolean =
    armLock.synchronized {
      arm match {
        case Some((p, sub)) if p == phase && dst.toString.endsWith(sub) =>
          if (armSkip > 0) { armSkip -= 1; false }
          else { arm = None; true }
        case _ => false
      }
    }

  private def armed(phase: String, dst: Path): Boolean = shouldFire(phase, dst)

  private def fire(phase: String, src: Path, dst: Path): Nothing =
    throw new java.io.IOException(
      s"[hostile] injected crash at $phase renaming $src -> $dst")

  private def maybeCrash(phase: String, dst: Path): Unit =
    if (shouldFire(phase, dst))
      throw new java.io.IOException(s"[hostile] injected crash at $phase of $dst")

  /** True when `e`, or any of its causes, is an injected crash (Spark
    * wraps a crash inside a task or job commit). */
  def crashedBy(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
      .exists(m => m != null && m.contains("injected crash"))
}
