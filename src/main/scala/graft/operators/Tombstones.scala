package graft.operators

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deletion/retraction for the incremental index snapshots
  * ([[SignatureIndex]], [[AnnIndex]]): the snapshots are append-only —
  * a removal must not rewrite them, or batch cost stops being
  * O(increment). The honest middle ground is the standard
  * tombstone-then-compact shape (Delta/Iceberg delete files, Lucene
  * deleted-docs bitmaps): [[append]] records removed ids in a small
  * parquet side table under the snapshot root; every read path
  * anti-joins it ([[exclude]]); a periodic [[SignatureIndex.compact]] /
  * [[AnnIndex.compact]] rewrites the snapshot minus tombstones and
  * clears the side table — after which the snapshot is byte-identical
  * in content to a from-scratch build over the surviving set (spec-
  * pinned).
  *
  * Scale: the tombstone table grows with the number of REMOVED ids,
  * not corpus size, and the anti-join is a plain equi-join that AQE
  * broadcasts while the set is small; compaction is the only full
  * rewrite and is explicitly operator-scheduled, never implicit. The
  * reference's only delete story is a full refresh
  * (`src/warehousing_lambda.py:64-71`, `mode="overwrite"`); this keeps
  * that end state (compaction == rebuild) without paying a rebuild per
  * takedown. */
private[graft] object Tombstones {

  def dir(root: String): String = s"$root/tombstones"

  /** Recorded tombstoned ids as a 1-column `(idCol)` BIGINT frame —
    * empty (but correctly typed) when nothing was ever removed. The
    * existence probe uses the Hadoop FileSystem API like every other
    * probe here — a java.nio probe would always fail on an HDFS/object
    * -store root, silently reading the side table as empty and
    * RESURFACING every removed id.
    *
    * The side table is a [[VersionedState]] dir once any clear ran
    * against it: reads resolve the newest committed version (an EMPTY
    * committed version = cleared), so a compaction's clear never
    * deletes files an in-flight reader planned against. The frame
    * construction here LISTS the resolved directory eagerly (parquet
    * schema inference), pinning the tombstone file set at call time —
    * which is what makes [[excluding]]'s tombstones-before-data
    * ordering a real consistency guarantee, not just a code order. */
  def read(spark: SparkSession, root: String, idCol: String): DataFrame = {
    val resolved = VersionedState.resolve(spark, dir(root))
    val d = new HPath(resolved)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(d) || !BatchLog.hasCommittedFiles(spark, resolved))
      spark.range(0).select(col("id").as(idCol))
    else spark.read.parquet(resolved).select(col(idCol)).distinct()
  }

  /** Record ids as removed — appends a small file (into the current
    * version under a versioned side table), never touches the snapshot
    * (the append-only contract is what the fingerprint specs pin).
    * Idempotent: re-removing an id is a no-op at read time (distinct on
    * read). */
  def append(root: String, ids: DataFrame, idCol: String): Unit =
    ids.select(col(idCol).cast("long").as(idCol)).distinct()
      .coalesce(1).write.mode("append")
      .parquet(VersionedState.resolve(ids.sparkSession, dir(root)))

  /** Zero-job emptiness probe: true iff [[read]] would return the empty
    * frame (side table absent, or its resolved version holds no
    * committed files — the exact gate `read` itself uses). Lets callers
    * that only need "are any takedowns pending?" skip building and
    * counting the frame: with no tombstones pending, a log's live row
    * count equals its committed row count, which the write-time sidecars
    * serve driver-side ([[BatchLog.committedRowCount]]) — the
    * [[DedupPipeline.health]] pattern, reused by the refreeze paths. */
  def isEmpty(spark: SparkSession, root: String): Boolean = {
    val resolved = VersionedState.resolve(spark, dir(root))
    val d = new HPath(resolved)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    !fs.exists(d) || !BatchLog.hasCommittedFiles(spark, resolved)
  }

  /** Total on-disk bytes of the LIVE tombstone state (0 when absent) —
    * the driver-side proxy read paths gate explicit broadcast() hints
    * on: steady-state removals keep the set tiny, but a BULK takedown
    * (the GDPR path) is bounded only by removed-doc count, and a forced
    * broadcast of millions of ids would blow the driver/broadcast
    * limits that AQE's planner-decided join would have avoided. */
  def bytesOnDisk(spark: SparkSession, root: String): Long = {
    val resolved = VersionedState.resolve(spark, dir(root))
    val d = new HPath(resolved)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(d)) 0L
    else fs.getContentSummary(d).getLength
  }

  /** Clear the side table as part of a compaction commit: commit an
    * EMPTY next version instead of deleting — the superseded tombstone
    * files stay on disk for in-flight readers until grace-GC, exactly
    * like the data folds they were planned together with. Idempotent
    * (recovery re-runs it): a side table whose current state is already
    * empty is a no-op. */
  private[operators] def clear(spark: SparkSession, root: String): Unit = {
    val d = dir(root)
    val fs = VersionedState.fsOf(spark, d)
    val resolved = VersionedState.resolve(spark, d)
    if (fs.exists(new HPath(resolved)) && BatchLog.hasCommittedFiles(spark, resolved)) {
      val next = VersionedState.currentVersion(fs, d) + 1
      val vdir = new HPath(VersionedState.versionDir(d, next))
      fs.delete(vdir, true) // a prior crashed clear's partial
      fs.mkdirs(vdir)
      VersionedState.writeMarker(fs, d, next)
    }
    VersionedState.gc(fs, d)
  }

  /** `df` minus tombstoned rows (anti-join on `idCol`).
    *
    * ORDERING CAVEAT (versioned roots): this resolves the tombstone
    * state AFTER the caller already built (and so resolved) `df` — if a
    * compaction commits in between, the anti-join can pair OLD data
    * with a CLEARED side table and resurface removed ids. Read paths
    * over swapped logs must use [[excluding]]; this form is only for
    * frames whose data state cannot be mid-swap (staged tmps, frames
    * derived from an already-pinned read). */
  def exclude(df: DataFrame, root: String, idCol: String): DataFrame = {
    val t = read(df.sparkSession, root, idCol)
    df.join(t, Seq(idCol), "left_anti")
  }

  /** [[exclude]] with the consistency order enforced: the tombstone
    * state is resolved and pinned FIRST, the data frame is built after.
    * Any interleaved compaction commit then errs harmlessly — either
    * old data with the old (full) tombstones, or new data (tombstones
    * already folded out) with the old tombstones, whose anti-join is a
    * no-op. The reverse order is the one silent-wrong interleaving the
    * versioned swap protocol admits. */
  def excluding(spark: SparkSession, root: String, idCol: String)(
      data: => DataFrame): DataFrame = {
    val t = read(spark, root, idCol)
    data.join(t, Seq(idCol), "left_anti")
  }

  /** Commit the fully-written `tmp` directory as the next version of
    * `dest` and clear the tombstone table — the commit step of a
    * compaction (see [[commitSwapImpl]]). Hadoop FileSystem API so the
    * same code runs on HDFS/object-store roots, not just local disk. */
  def commitCompaction(spark: SparkSession, root: String, tmp: String, dest: String): Unit =
    commitSwapImpl(spark, tmp, dest, clearTombstonesOf = Some(root))

  /** Sibling intent marker for [[commitSwap]] — present exactly while
    * a swap is IN FLIGHT, and written before any rename or delete of
    * the commit. It RECORDS the in-flight swap: the `tmp` path, the
    * target version, and the tombstone root the commit clears, when it
    * does. Several protocols swap into the same dest (`__compact_tmp`,
    * `__refreeze_tmp`), so a recoverer probing its OWN tmp cannot tell
    * whose commit crashed; with the swap recorded, ANY recoverer
    * completes exactly the swap that crashed: adopt the RECORDED tmp,
    * clear the RECORDED root's tombstones (or none), never its own
    * guess. On a COPY+DELETE filesystem (object-store movers, the
    * hostile test FS) a crash mid-copy leaves a PARTIAL version dir
    * with tmp still present; the intent says the version is untrusted
    * whatever its state, and tmp (complete by construction while it
    * exists — a copy deletes its source last) re-runs the rename. */
  private def intentPath(dest: String) = new HPath(s"$dest.__swap_intent")

  /** The recorded in-flight swap (intent format "3"). */
  private final case class Intent(tmp: String, root: Option[String], version: Long)

  private def writeIntent(fs: org.apache.hadoop.fs.FileSystem, tmp: String,
      dest: String, clearTombstonesOf: Option[String], version: Long): Unit = {
    val body = graft.sources.MiniJson.renderFlat(Map(
      "v" -> "3",
      "tmp" -> fs.makeQualified(new HPath(tmp)).toString,
      "ver" -> version.toString) ++
      clearTombstonesOf.map(r => "root" -> fs.makeQualified(new HPath(r)).toString))
    val out = fs.create(intentPath(dest), true)
    try out.write((body + "\n").getBytes("UTF-8")) finally out.close()
  }

  /** The recorded in-flight swap, or None when the marker is torn/empty
    * — which can only mean the writer died INSIDE the marker write,
    * i.e. before any rename or delete, so dest is exactly as
    * trustworthy as with no marker at all. */
  private def readIntent(fs: org.apache.hadoop.fs.FileSystem,
      dest: String): Option[Intent] =
    try {
      val in = fs.open(intentPath(dest))
      val s = try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      finally in.close()
      val m = graft.sources.MiniJson.parseFlat(s.trim)
      if (m.getOrElse("v", "") == "3") Some(Intent(m("tmp"), m.get("root"), m("ver").toLong))
      else None
    } catch { case _: Exception => None }

  /** The swap alone — for operators with NO tombstone side table
    * ([[SketchLog]]): deleting `root/tombstones` here would belong to a
    * SIBLING operator sharing the root (the index logs the sketch log
    * is documented to live beside), silently resurrecting its removed
    * ids. Same crash window and recovery contract as
    * [[commitCompaction]]. */
  def commitSwap(spark: SparkSession, tmp: String, dest: String): Unit =
    commitSwapImpl(spark, tmp, dest, clearTombstonesOf = None)

  /** Commit a staged rewrite over `dest` ([[VersionedState]]): create
    * intent (recording the swap AND the target version) → rename tmp
    * into `dest/_versions/<n+1>` → create the commit marker → clear
    * tombstones (compaction only) → grace-GC superseded versions →
    * delete intent. The committed state is NEVER deleted or renamed: a
    * reader that resolved version n before (or during) the window keeps
    * its planned files until grace-GC expires them. The tombstone clear
    * sits INSIDE the intent window, so a crash before it leaves an
    * intent that recovery completes by re-running the clear. */
  private def commitSwapImpl(spark: SparkSession, tmp: String, dest: String,
      clearTombstonesOf: Option[String]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new HPath(dest).getFileSystem(conf)
    val next = VersionedState.currentVersion(fs, dest) + 1
    writeIntent(fs, tmp, dest, clearTombstonesOf, next)
    val vdir = new HPath(VersionedState.versionDir(dest, next))
    fs.delete(vdir, true) // a prior crashed commit's partial
    fs.mkdirs(new HPath(VersionedState.versionsDir(dest)))
    require(fs.rename(new HPath(tmp), vdir),
      s"versioned commit failed: could not move $tmp into $vdir")
    VersionedState.writeMarker(fs, dest, next)
    clearTombstonesOf.foreach(root => clear(spark, root))
    VersionedState.gc(fs, dest)
    fs.delete(intentPath(dest), false)
  }

  /** Crash recovery for [[commitSwap]]/[[commitCompaction]]'s swap
    * window — call before reading `dest`. Intent present means a swap
    * died in flight: re-run it from the (complete) recorded tmp, or,
    * when that tmp is already gone, finish the post-rename steps,
    * clearing the tombstone table exactly when the intent records that
    * the commit clears it. No intent: the commit never started (every
    * commit writes its intent before any rename or delete), so a `tmp`
    * on disk is an abandoned (possibly partial) stage and is dropped.
    * Idempotent and cheap (existence probes). */
  def recoverSwap(spark: SparkSession, tmp: String, dest: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new HPath(dest).getFileSystem(conf)
    val intentP = intentPath(dest)
    if (fs.exists(intentP)) readIntent(fs, dest) match {
      case Some(Intent(recTmp, recRoot, ver)) =>
        // The committed state was never touched — only the NEW version
        // may be absent/partial. Recorded tmp present ⇒ re-run the
        // rename (complete by construction while it exists); absent ⇒
        // the rename finished and only the post-rename steps (marker,
        // clear, GC, intent delete) were lost — finish them. Every step
        // is idempotent.
        val recTmpP = new HPath(recTmp)
        val vdir = new HPath(VersionedState.versionDir(dest, ver))
        if (fs.exists(recTmpP)) {
          fs.delete(vdir, true)
          fs.mkdirs(new HPath(VersionedState.versionsDir(dest)))
          require(fs.rename(recTmpP, vdir),
            s"versioned swap recovery failed: could not adopt $recTmp as $vdir")
        }
        // Marker + tombstone clear only when the version actually
        // landed: with BOTH tmp and vdir gone (outside the crash-only
        // failure model, but cheap to be exact about) nothing
        // committed, and clearing would resurface removed ids.
        if (fs.exists(vdir)) {
          VersionedState.writeMarker(fs, dest, ver)
          recRoot.foreach(root => clear(spark, root))
        }
        VersionedState.gc(fs, dest)
        fs.delete(intentP, false)
      case None =>
        // Torn/empty marker: the writer died INSIDE the marker write,
        // strictly before any rename or delete — dest is exactly as
        // trustworthy as with no marker. Drop it, and drop the stage as
        // below (it may be PARTIAL; it is never adopted).
        fs.delete(intentP, false)
        dropStage(fs, tmp)
    } else dropStage(fs, tmp)
  }

  private def dropStage(fs: org.apache.hadoop.fs.FileSystem, tmp: String): Unit = {
    val tmpP = new HPath(tmp)
    if (fs.exists(tmpP)) fs.delete(tmpP, true)
  }
}
