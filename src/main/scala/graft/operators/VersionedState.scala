package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession

/** Pointer-indirected versioned layout: the ONE commit protocol for
  * every whole-directory state the engine replaces — the index logs'
  * rewrites (compaction and refreeze of the fold logs, sketch tables,
  * label logs) and the snapshots ([[graft.sources.LandingLog.writeSnapshot]]:
  * star tables, source currents, the pinned keeper manifest) — and what
  * makes reads WAIT-FREE under maintenance and star commits. A commit
  * never replaces the table directory in place (the LSM answer: retired
  * state lingers for in-flight readers, GC'd after a grace period); a
  * whole table directory is the version:
  *
  * {{{
  * root/codes/                      # the LOGICAL table dir (pointer)
  *   _versions/00000001/            # one complete table-dir state
  *     batch_key=a00001/...         #   (fold + later increments +
  *     _graft_batched_v1            #    marker + ledgers + the
  *     _tombstones/...              #    version's pending removals)
  *   _versions/00000002/...         # an unmarked version: a stage
  *   _commits/00000001              # marker NAME is the commit
  *   batch_key=b2026.../...         # FLAT state before the first commit
  * }}}                              #   ("v0"), GC'd like any superseded version
  *
  * Readers resolve the newest committed version ONCE at plan time
  * ([[resolve]]) and scan inside it; a root that has never been
  * rewritten resolves to its flat top level. A writer [[stage]]s the
  * NEXT version directory — writing straight into it, invisible to
  * readers until its marker exists — and [[commit]]s it with one marker
  * create plus [[gc]]. The committed state is never deleted, renamed or
  * partially visible, so a reader needs no recovery: a crash before the
  * marker leaves an unmarked stage nobody resolves, and the next stage
  * at that number deletes it. Everything that must change together
  * rides inside the one version: a rewrite's fold, the retired-keys
  * ledger, IVF's `_quantizer`, CosineDedupIndex's `_mask`, and the
  * cleared tombstone set (a new version simply has no `_tombstones`).
  *
  * [[gc]] keeps the newest [[keepVersions]] superseded versions and
  * deletes an older one only once its successor's marker is [[graceMs]]
  * old, so a reader completes against its planned files as long as its
  * scan is shorter than the grace period; the same two knobs are the
  * snapshots' time-travel window
  * ([[graft.sources.LandingLog.readSnapshotAt]]).
  *
  * Increments and tombstones APPEND INSIDE the current version
  * directory (fold directories stay immutable; the version dir gains
  * sibling `batch_key=` dirs and `_tombstones` files) — append-only, so
  * a reader's earlier listing snapshot is never invalidated by them.
  * Only a rewrite advances the version.
  *
  * A raw `spark.read.parquet(<logical dir>)` bypasses the pointer: once
  * the root has been rewritten it reads the superseded flat state until
  * [[gc]] sweeps it, then nothing. Read through [[resolve]] (or
  * [[BatchLog.resolve]]) instead.
  *
  * Storage envelope: each retained superseded version is one full copy
  * of its directory (a fold, or a whole snapshot), so the extra bytes
  * are (commits per grace window) × directory size. Knobs (sys-prop / env):
  * `graft.swap.keep.versions` / `SPARK_GRAFT_SWAP_KEEP_VERSIONS`
  * (superseded versions kept regardless of grace; default 0) and
  * `graft.swap.grace.ms` / `SPARK_GRAFT_SWAP_GRACE_MS` (default
  * 10 min). */
private[graft] object VersionedState {

  private def prop(p: String, e: String): Option[String] =
    sys.props.get(p).orElse(sys.env.get(e)).map(_.trim).filter(_.nonEmpty)

  /** Grace period a superseded version must outlive before GC. */
  def graceMs: Long =
    prop("graft.swap.grace.ms", "SPARK_GRAFT_SWAP_GRACE_MS").map(_.toLong)
      .getOrElse(10L * 60L * 1000L)

  /** Versions retained beyond the current one REGARDLESS of grace
    * (default 0 — grace alone decides; a superseded fold is corpus-
    * sized, so a count-based floor doubles steady-state storage and is
    * opt-in for operators that want it, e.g. time-travel debugging). */
  def keepVersions: Int =
    prop("graft.swap.keep.versions", "SPARK_GRAFT_SWAP_KEEP_VERSIONS").map(_.toInt)
      .getOrElse(0).max(0)

  def vname(v: Long): String = f"$v%08d"
  def versionsDir(dir: String): String = s"$dir/_versions"
  def commitsDir(dir: String): String = s"$dir/_commits"
  def versionDir(dir: String, v: Long): String = s"${versionsDir(dir)}/${vname(v)}"

  def fsOf(spark: SparkSession, path: String): FileSystem =
    new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def list(fs: FileSystem, p: HPath): Seq[org.apache.hadoop.fs.FileStatus] =
    try { if (fs.exists(p)) fs.listStatus(p).toSeq else Seq.empty }
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  /** The local checksummed FS writes `.<name>.crc` siblings; marker
    * scans must key them to their marker, not read them as markers. */
  private def markerNames(fs: FileSystem, dir: String): Seq[(String, Long)] =
    list(fs, new HPath(commitsDir(dir)))
      .filter(s => s.isFile && !s.getPath.getName.startsWith("."))
      .map(s => (s.getPath.getName, s.getModificationTime))

  /** Committed versions ascending: marker present AND data dir present
    * (a half-GC'd version — marker deleted first — drops out). */
  def committedVersions(fs: FileSystem, dir: String): Seq[Long] =
    markerNames(fs, dir).map(_._1)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)
      .filter(v => fs.exists(new HPath(versionDir(dir, v))))
      .sorted

  /** Highest committed version, 0 = a root never rewritten (flat state). */
  def currentVersion(fs: FileSystem, dir: String): Long =
    committedVersions(fs, dir).lastOption.getOrElse(0L)

  /** The physical directory holding the CURRENT committed state: the
    * newest committed version dir, or the logical dir itself for
    * roots never rewritten (and never written). Idempotent and free on
    * an already-resolved path: a directory directly under `_versions`
    * is returned unchanged without a filesystem call. Readers call this
    * ONCE at plan time; the returned directory's committed content is
    * immutable except for append-only `batch_key=` and `_tombstones`
    * additions. */
  def resolve(spark: SparkSession, dir: String): String =
    if (Option(new HPath(dir).getParent).exists(_.getName == "_versions")) dir
    else {
      val v = currentVersion(fsOf(spark, dir), dir)
      if (v > 0) versionDir(dir, v) else dir
    }

  /** Open the next version of `dir` for writing: returns its number
    * and physical directory, which no reader resolves until [[commit]].
    * Anything already at that number is a crashed stage's leftover —
    * the caller's writer lease proves no other writer is mid-stage —
    * and is deleted first. */
  def stage(fs: FileSystem, dir: String): (Long, String) = {
    val next = currentVersion(fs, dir) + 1
    val vdir = versionDir(dir, next)
    fs.delete(new HPath(vdir), true)
    (next, vdir)
  }

  /** Publish a fully written [[stage]]: the marker create is the
    * commit point; the grace GC after it may be cut short by a crash
    * harmlessly (the next commit's GC redoes it). */
  def commit(fs: FileSystem, dir: String, v: Long): Unit = {
    writeMarker(fs, dir, v)
    gc(fs, dir)
  }

  /** Create the commit marker for `v` (idempotent). The marker BODY is
    * the committing driver's wall-clock millis: on an HDFS/object-store
    * root the mtime is the STORE clock, and skew against the GC driver's
    * clock would silently shorten the grace window. [[gc]] takes the MAX
    * of the two, so skew can only LENGTHEN retention; a torn (empty)
    * marker falls back to mtime alone. */
  def writeMarker(fs: FileSystem, dir: String, v: Long): Unit = {
    val c = new HPath(commitsDir(dir))
    fs.mkdirs(c)
    val m = new HPath(c, vname(v))
    if (!fs.exists(m)) {
      val out = fs.create(m, true)
      try out.write(System.currentTimeMillis().toString.getBytes("UTF-8"))
      finally out.close()
    }
  }

  /** The conservative commit time of a marker: max(FS mtime, recorded
    * committing-driver wall time). Torn/empty/garbled body ⇒ mtime. A
    * marker whose mtime is younger than [[graceMs]] is not opened: the
    * max can only be younger still, so the mtime already proves it
    * expires nothing — the common case of a commit within the grace
    * window costs no marker reads. */
  private def markerCommitTime(fs: FileSystem, dir: String, name: String,
      mtime: Long, now: Long): Long =
    if (now - mtime < graceMs) mtime
    else try {
      val in = fs.open(new HPath(commitsDir(dir), name))
      val s = try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8").trim
      finally in.close()
      if (s.nonEmpty && s.length <= 20 && s.forall(_.isDigit)) math.max(mtime, s.toLong)
      else mtime
    } catch { case _: Exception => mtime }

  private val lastGcAllMs =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** [[gcAll]] amortized to the GRACE timescale: retention can only
    * expire at graceMs granularity, so a sweep on EVERY maintenance poll
    * pays driver FS ops that cannot find anything new. A poll sweeps
    * when (a) maintenance just committed (`force`), or (b) at least
    * graceMs/4 passed since this root's last sweep — the last superseded
    * fold of a log that stops compacting still expires within ~1.25× its
    * grace (ReaderMaintenanceSpec pins this), while a steady loop pays
    * ~4 sweeps per grace window instead of one per batch. */
  def gcAllAmortized(spark: SparkSession, root: String, force: Boolean): Unit = {
    // Keyed on the qualified path so `root` and `root/` share one stamp;
    // stamped only after the sweep returns, so a sweep that throws is
    // retried by the next poll instead of skipped for graceMs/4.
    val key = fsOf(spark, root).makeQualified(new HPath(root)).toString
    val now = System.currentTimeMillis()
    val last = Option(lastGcAllMs.get(key)).map(_.longValue).getOrElse(0L)
    if (force || now - last >= graceMs / 4) {
      gcAll(spark, root)
      lastGcAllMs.put(key, now)
    }
  }

  /** Enforce grace retention on EVERY versioned table dir one level
    * under `root` (r19): [[gc]] otherwise runs only on commit paths,
    * so a superseded version whose grace expires AFTER its log's last
    * commit would linger until that log's next compaction — a steady
    * loop that folds each log once then only appends would retain the
    * superseded fold forever (observed: the x100 loop ending at
    * 345 MB root with the old fold pending). Driver-side FS ops only
    * (one listStatus of the root + one `_commits` probe per child +
    * the gc marker scans); call under the root's writer lease — the
    * maintenance loop is where retention enforcement belongs. */
  def gcAll(spark: SparkSession, root: String): Unit = {
    val fs = fsOf(spark, root)
    val rp = new HPath(root)
    if (!fs.exists(rp)) return
    list(fs, rp).filter(_.isDirectory).map(_.getPath).foreach { d =>
      if (fs.exists(new HPath(d, "_commits"))) gc(fs, d.toString)
    }
  }

  /** Superseded-state GC, grace-aware (single-writer contract — runs
    * under the root's lease, from commit paths and the maintenance
    * sweeps):
    *
    *  - the current version always survives;
    *  - the newest [[keepVersions]] superseded versions survive;
    *  - an older superseded version is deleted only once the marker of
    *    its SUCCESSOR (the commit that made it stale) is ≥ [[graceMs]]
    *    old — i.e. every reader that could have planned against it had
    *    a full grace period to finish;
    *  - the FLAT state a root held before its first commit (the logical
    *    dir's own `batch_key=` dirs, marker, ledgers, tombstones —
    *    "version 0") is GC'd by the same rule, keyed to version 1's
    *    marker age;
    *  - an UNMARKED version dir BELOW the current version is a crashed
    *    stage's leftover — deleted. An unmarked dir above current is
    *    never touched here: the next [[stage]] at its number replaces
    *    it. */
  def gc(fs: FileSystem, dir: String): Unit = {
    // Commit times are the conservative max(mtime, recorded wall) —
    // see [[writeMarker]]; marker bodies are read only here, only for
    // markers old enough to matter, and never on reads.
    val now = System.currentTimeMillis()
    val marks = markerNames(fs, dir)
      .filter { case (n, _) => n.nonEmpty && n.forall(_.isDigit) }
      .map { case (n, mt) => (n.toLong, markerCommitTime(fs, dir, n, mt, now)) }
      .sortBy(_._1)
    if (marks.isEmpty) return
    val current = marks.last._1
    // Age since SUPERSEDED = age of the next marker up.
    val successorMtime: Map[Long, Long] =
      marks.sliding(2).collect { case Seq((v, _), (_, mt2)) => v -> mt2 }.toMap
    def expired(v: Long): Boolean =
      successorMtime.get(v).exists(mt => now - mt >= graceMs)
    val superseded = marks.map(_._1).filter(_ < current).sorted
    val protectedNewest = superseded.takeRight(keepVersions).toSet
    superseded.filterNot(protectedNewest).filter(expired).foreach { v =>
      // Marker first: a crash between the two deletes leaves an
      // unmarked old dir the next GC sweeps as an abandoned partial.
      fs.delete(new HPath(commitsDir(dir), vname(v)), false)
      fs.delete(new HPath(commitsDir(dir), s".${vname(v)}.crc"), false)
      fs.delete(new HPath(versionDir(dir, v)), true)
    }
    // Abandoned partials below current (never in-flight work).
    list(fs, new HPath(versionsDir(dir)))
      .filter(s => s.isDirectory && s.getPath.getName.forall(_.isDigit))
      .map(s => s.getPath.getName.toLong)
      .filter(v => v < current && !marks.exists(_._1 == v))
      .foreach(v => fs.delete(new HPath(versionDir(dir, v)), true))
    // Flat "version 0": everything at the logical dir's top level other
    // than the version machinery is the state before the first commit,
    // superseded by version 1.
    val v1Mtime = marks.headOption.map(_._2)
    if (v1Mtime.exists(mt => now - mt >= graceMs))
      list(fs, new HPath(dir))
        .filter { s =>
          val n = s.getPath.getName
          n != "_versions" && n != "_commits"
        }
        .foreach(s => fs.delete(s.getPath, true))
  }
}
