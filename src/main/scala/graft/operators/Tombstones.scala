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
    * The side table is a [[VersionedState]] dir once any versioned
    * clear ran against it: reads resolve the newest committed version
    * (an EMPTY committed version = cleared), so a compaction's clear
    * never deletes files an in-flight reader planned against. The
    * frame construction here LISTS the resolved directory eagerly
    * (parquet schema inference), pinning the tombstone file set at
    * call time — which is what makes [[excluding]]'s
    * tombstones-before-data ordering a real consistency guarantee, not
    * just a code order. */
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

  /** Clear the side table as part of a compaction commit. Versioned
    * roots (and all new clears while versioning is enabled) commit an
    * EMPTY next version instead of deleting — the superseded tombstone
    * files stay on disk for in-flight readers until grace-GC, exactly
    * like the data folds they were planned together with. Idempotent
    * (recovery re-runs it): a side table whose current state is already
    * empty is a no-op. */
  private[operators] def clear(spark: SparkSession, root: String): Unit = {
    val d = dir(root)
    val fs = VersionedState.fsOf(spark, d)
    if (VersionedState.enabled || VersionedState.isVersioned(fs, d)) {
      val resolved = VersionedState.resolve(spark, d)
      if (fs.exists(new HPath(resolved)) && BatchLog.hasCommittedFiles(spark, resolved)) {
        val next = VersionedState.currentVersion(fs, d) + 1
        val vdir = new HPath(VersionedState.versionDir(d, next))
        fs.delete(vdir, true) // a prior crashed clear's partial
        fs.mkdirs(vdir)
        VersionedState.writeMarker(fs, d, next)
        VersionedState.markUpgraded(fs, d)
      }
      VersionedState.gc(spark, d)
    } else fs.delete(new HPath(d), true)
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

  /** Replace `dest` with the fully-written `tmp` directory and drop the
    * tombstone table — the commit step of a compaction. Hadoop
    * FileSystem API so the same code runs on HDFS/object-store roots,
    * not just local disk.
    *
    * The delete→rename pair has a crash window (dest briefly absent);
    * [[recoverCompaction]] closes it on the READ side, and the window
    * is unambiguous by construction: `tmp` is only ever deleted or
    * renamed AFTER its write fully completed, so `dest missing ∧ tmp
    * present` always means "crashed between delete and rename — adopt
    * tmp", and `dest present ∧ tmp present` always means "crashed
    * before the delete — tmp is an abandoned (possibly partial) stage,
    * drop it". */
  def commitCompaction(spark: SparkSession, root: String, tmp: String, dest: String): Unit =
    commitSwapImpl(spark, tmp, dest, clearTombstonesOf = Some(root))

  /** Sibling intent marker for [[commitSwap]] — present exactly while
    * a swap is IN FLIGHT. Round-15 (the hostile-FS drill's finding):
    * the pre-intent protocol disambiguated crash states by `dest
    * present?` alone, which is sound only when rename is atomic. On a
    * COPY+DELETE filesystem (object-store movers, the hostile test FS)
    * a crash mid-copy leaves a PARTIAL dest with tmp still present —
    * and "dest present ∧ tmp present ⇒ drop tmp as abandoned" would
    * have adopted the torn dest as the log. The intent marker removes
    * the ambiguity with small-file primitives that ARE atomic enough
    * everywhere (create/delete): intent present ⇒ dest is untrusted
    * whatever its state; tmp (complete by construction while it
    * exists — a copy deletes its source last) re-runs the swap.
    *
    * Round-16: the marker RECORDS the in-flight swap (`tmp` path, and
    * the tombstone root the commit clears, when it does). The r15
    * marker was an empty file keyed by dest alone, and SEVERAL
    * protocols swap into the same dest (`__compact_tmp`,
    * `__refreeze_tmp`): a recoverer probing a
    * DIFFERENT protocol's tmp would find it absent, conclude "rename
    * finished", drop the intent, and — on the compaction path — clear
    * the tombstone side table while the crashed swap's own tmp still
    * dangled and the dest still held tombstoned rows (removed ids
    * silently resurfacing). With the swap recorded, ANY recoverer
    * completes exactly the swap that crashed: adopt the RECORDED tmp,
    * clear the RECORDED root's tombstones (or none), never its own
    * guess. */
  private def intentPath(dest: String) = new HPath(s"$dest.__swap_intent")

  /** The recorded in-flight swap. `version` present = the VERSIONED
    * protocol (v3): the committed state is untouched the whole window —
    * readers stay wait-free; absent = the in-place protocol (v2): dest
    * is untrusted while the marker is up. */
  private final case class Intent(tmp: String, root: Option[String],
      version: Option[Long])

  private def writeIntent(fs: org.apache.hadoop.fs.FileSystem, tmp: String,
      dest: String, clearTombstonesOf: Option[String],
      version: Option[Long]): Unit = {
    val body = graft.sources.MiniJson.renderFlat(Map(
      "v" -> (if (version.isDefined) "3" else "2"),
      "tmp" -> fs.makeQualified(new HPath(tmp)).toString) ++
      clearTombstonesOf.map(r => "root" -> fs.makeQualified(new HPath(r)).toString) ++
      version.map(v => "ver" -> v.toString))
    val out = fs.create(intentPath(dest), true)
    try out.write((body + "\n").getBytes("UTF-8")) finally out.close()
  }

  /** The recorded in-flight swap, or None when the marker is torn/empty
    * — which can only mean the writer died INSIDE the marker write,
    * i.e. before any destructive step, so dest is exactly as
    * trustworthy as with no marker at all. */
  private def readIntent(fs: org.apache.hadoop.fs.FileSystem,
      dest: String): Option[Intent] =
    try {
      val in = fs.open(intentPath(dest))
      val s = try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      finally in.close()
      val m = graft.sources.MiniJson.parseFlat(s.trim)
      m.getOrElse("v", "") match {
        case "2" => Some(Intent(m("tmp"), m.get("root"), None))
        case "3" => Some(Intent(m("tmp"), m.get("root"), Some(m("ver").toLong)))
        case _ => None
      }
    } catch { case _: Exception => None }

  /** Whether a live swap-intent marker at `path` records a VERSIONED
    * commit — [[ReadGuard]]'s classification probe: a versioned commit
    * never touches the committed state, so its window is NON-blocking
    * for readers; an in-place (v2) or torn intent keeps the loud-retry
    * contract. */
  private[operators] def intentIsVersioned(spark: SparkSession, path: String): Boolean = {
    val p = new HPath(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dest = path.stripSuffix(".__swap_intent")
    path.endsWith(".__swap_intent") && fs.exists(p) &&
      readIntent(fs, dest).exists(_.version.isDefined)
  }

  /** The swap alone — for operators with NO tombstone side table
    * ([[SketchLog]]): deleting `root/tombstones` here would belong to a
    * SIBLING operator sharing the root (the index logs the sketch log
    * is documented to live beside), silently resurrecting its removed
    * ids. Same crash window and recovery contract as
    * [[commitCompaction]]. */
  def commitSwap(spark: SparkSession, tmp: String, dest: String): Unit =
    commitSwapImpl(spark, tmp, dest, clearTombstonesOf = None)

  /** Commit a staged rewrite over `dest`.
    *
    * VERSIONED protocol (the default; always used once a root is
    * versioned — see [[VersionedState]]): create intent (recording the
    * swap AND the target version) → rename tmp into
    * `dest/_versions/<n+1>` → create the commit marker → clear
    * tombstones versioned (compaction only) → grace-GC superseded
    * versions → delete intent. The committed state is NEVER deleted or
    * renamed: a reader that resolved version n before (or during) the
    * window keeps its planned files until grace-GC expires them —
    * wait-free reads under maintenance, the r17 verdict's top item.
    *
    * IN-PLACE protocol (only when versioning is disabled on a
    * never-versioned root): create intent → delete dest → rename tmp →
    * clear tombstones → delete intent. The tombstone clear moved INSIDE
    * the intent window in round 16: the r15 shape cleared after the
    * intent delete, so a crash between the two left stale tombstones
    * that recovery (no intent, no tmp) could never see — a legitimately
    * re-added id would have been suppressed forever. Inside the window,
    * recovery re-runs the clear. */
  private def commitSwapImpl(spark: SparkSession, tmp: String, dest: String,
      clearTombstonesOf: Option[String]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new HPath(dest).getFileSystem(conf)
    if (VersionedState.enabled || VersionedState.isVersioned(fs, dest)) {
      val next = VersionedState.currentVersion(fs, dest) + 1
      writeIntent(fs, tmp, dest, clearTombstonesOf, Some(next))
      val vdir = new HPath(VersionedState.versionDir(dest, next))
      fs.delete(vdir, true) // a prior crashed commit's partial
      fs.mkdirs(new HPath(VersionedState.versionsDir(dest)))
      require(fs.rename(new HPath(tmp), vdir),
        s"versioned commit failed: could not move $tmp into $vdir")
      VersionedState.writeMarker(fs, dest, next)
      // Pre-upgrade readers must fail LOUDLY from this commit on instead
      // of reading the (now-superseded) flat state — see
      // [[VersionedState.markUpgraded]].
      VersionedState.markUpgraded(fs, dest)
      clearTombstonesOf.foreach(root => clear(spark, root))
      VersionedState.gc(spark, dest)
      fs.delete(intentPath(dest), false)
    } else {
      writeIntent(fs, tmp, dest, clearTombstonesOf, None)
      fs.delete(new HPath(dest), true)
      require(fs.rename(new HPath(tmp), new HPath(dest)),
        s"compaction commit failed: could not move $tmp into $dest")
      clearTombstonesOf.foreach(root => fs.delete(new HPath(dir(root)), true))
      fs.delete(intentPath(dest), false)
    }
  }

  /** Read-side recovery for [[commitSwap]] — intent present means a
    * swap died in flight: re-run it from the (complete) tmp, or, when
    * tmp is already gone, the rename itself completed and only the
    * intent clear was lost. No intent = the pre-swap states: adopt a
    * tmp staged against a missing dest (legacy delete-to-rename window
    * of pre-intent writers), drop an abandoned stage otherwise. Never
    * touches the tombstone side table. */
  def recoverSwap(spark: SparkSession, tmp: String, dest: String): Unit =
    recoverSwapImpl(spark, tmp, dest, clearTombstonesOf = None)

  /** Crash recovery for [[commitCompaction]]'s swap window — call
    * before reading `dest`. Completes a commit that died in flight
    * (adopt tmp, clear the side table exactly as the commit would
    * have), and clears an abandoned stage left by a crash
    * mid-tmp-write. Idempotent and cheap (existence probes). */
  def recoverCompaction(spark: SparkSession, root: String, tmp: String, dest: String): Unit =
    recoverSwapImpl(spark, tmp, dest, clearTombstonesOf = Some(root))

  private def recoverSwapImpl(spark: SparkSession, tmp: String, dest: String,
      clearTombstonesOf: Option[String]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new HPath(dest).getFileSystem(conf)
    val destP = new HPath(dest)
    val intentP = intentPath(dest)
    if (fs.exists(intentP)) {
      readIntent(fs, dest) match {
        case Some(Intent(recTmp, recRoot, Some(ver))) =>
          // VERSIONED commit in flight at the crash. The committed
          // state was never touched — only the NEW version may be
          // absent/partial. Recorded tmp present ⇒ re-run the rename
          // (complete by construction while it exists); absent ⇒ the
          // rename finished and only the post-rename steps (marker,
          // clear, GC, intent delete) were lost — finish them. Every
          // step is idempotent.
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
            VersionedState.markUpgraded(fs, dest)
            recRoot.foreach(root => clear(spark, root))
          }
          VersionedState.gc(spark, dest)
          fs.delete(intentP, false)
        case Some(Intent(recTmp, recRoot, None)) =>
          // IN-PLACE swap in flight at the crash: dest may be absent,
          // partial, or complete — all untrusted. The marker RECORDS
          // which tmp was swapping (several protocols share one dest);
          // complete exactly that swap, never the recoverer's own
          // guess. While the recorded tmp exists it is complete by
          // construction, so re-running the swap from it is always
          // sound; recorded tmp absent means the rename finished (a
          // copy deletes its source only after completing) and dest IS
          // the new state — only the recorded post-rename steps were
          // lost.
          val recTmpP = new HPath(recTmp)
          if (fs.exists(recTmpP)) {
            fs.delete(destP, true)
            require(fs.rename(recTmpP, destP),
              s"swap recovery failed: could not adopt $recTmp as $dest")
          }
          recRoot.foreach(root => fs.delete(new HPath(dir(root)), true))
          fs.delete(intentP, false)
        case None =>
          // Torn/empty marker: the writer died INSIDE the marker write,
          // strictly before any destructive step — dest is exactly as
          // trustworthy as with no marker. Drop it and fall through to
          // the no-intent states (which also correctly drop a PARTIAL
          // abandoned stage instead of adopting it).
          fs.delete(intentP, false)
          recoverNoIntent(fs, tmp, destP, clearTombstonesOf)
      }
    } else recoverNoIntent(fs, tmp, destP, clearTombstonesOf)
  }

  /** The pre-intent crash states: adopt a tmp staged against a missing
    * dest (the legacy delete-to-rename window), drop an abandoned
    * (possibly partial) stage otherwise. */
  private def recoverNoIntent(fs: org.apache.hadoop.fs.FileSystem, tmp: String,
      destP: HPath, clearTombstonesOf: Option[String]): Unit = {
    val tmpP = new HPath(tmp)
    if (fs.exists(tmpP)) {
      if (!fs.exists(destP)) {
        require(fs.rename(tmpP, destP),
          s"compaction recovery failed: could not adopt $tmp as $destP")
        clearTombstonesOf.foreach(root => fs.delete(new HPath(dir(root)), true))
      } else fs.delete(tmpP, true)
    }
  }
}
