package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession

/** Shared plumbing for the index refreeze (ladder-step migration)
  * commits ([[CosineDedupIndex.refreeze]], [[IvfIndex.refreeze]]):
  * stage EVERYTHING, write a completion marker LAST, then run the
  * versioned commit — so recovery can always classify a crash
  * unambiguously (marker present = stage complete, finish the commit
  * idempotently; marker absent = partial stage, drop it). Hadoop
  * FileSystem API throughout, same as the compaction commits. */
private[graft] object RefreezeProtocol {

  val markerName = "_refreeze_complete"

  /** Hidden subdir of a codes stage (or committed codes version) that
    * holds the quantizer artifacts paired with those codes. Staged
    * inside the codes stage so no failure can split the pair; since
    * round 19 it also RIDES THE VERSIONED COMMIT into
    * `codes/_versions/<n>/_quantizer` — quantizer + codes are ONE
    * committed version, so a read entering mid-refreeze resolves
    * either the old pair or the new, never a mix. Underscore-prefixed:
    * invisible to parquet readers and every BatchLog walk. */
  val quantStageName = "_quantizer"

  /** Recursive small-dir copy (quantizer artifacts are a few KB-scale
    * files) — used to carry the current quantizer forward into
    * compaction stages so every committed codes version stays
    * self-contained. Safe ONLY pre-marker: a crash mid-copy leaves an
    * unmarked/unintended stage that recovery drops whole. */
  def copyDir(spark: SparkSession, src: String, dst: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = fsOf(spark, src)
    if (fs.exists(new HPath(src)))
      require(org.apache.hadoop.fs.FileUtil.copy(
        fs, new HPath(src), fs, new HPath(dst), false, true, conf),
        s"could not copy $src into $dst")
  }

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, path: String): Boolean =
    fsOf(spark, path).exists(new HPath(path))

  def deleteIfExists(spark: SparkSession, path: String): Unit = {
    val fs = fsOf(spark, path)
    val p = new HPath(path)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** The completion marker, holding a small state string (e.g. the new
    * mask) the deferred commit needs. Written last in the stage. */
  def writeMarker(spark: SparkSession, tmpDir: String, content: String): Unit = {
    val fs = fsOf(spark, tmpDir)
    val out = fs.create(new HPath(tmpDir, markerName), true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  /** True when the staged directory holds at least one committed
    * (visible) data file — the guard every marked commit must pass:
    * `fs.create` on the marker path auto-creates missing parents, so a
    * stage deleted out from under an in-flight refreeze (e.g. by a
    * concurrent session's recovery) would otherwise resurrect as a
    * MARKER-ONLY directory that the commit then swaps over the live
    * data, destroying the index. */
  def hasStagedData(spark: SparkSession, tmpDir: String): Boolean =
    BatchLog.hasCommittedFiles(spark, tmpDir)

  /** [[writeMarker]] plus the staged-data invariant: refuses loudly
    * (leaving the old index state untouched) when the stage has no
    * committed data files to commit. */
  def sealStage(spark: SparkSession, tmpDir: String, content: String): Unit = {
    require(hasStagedData(spark, tmpDir),
      s"refreeze stage at $tmpDir holds no committed data files — " +
        "the stage was deleted or never wrote; aborting without commit " +
        "(old index state is intact; rerun the refreeze)")
    writeMarker(spark, tmpDir, content)
  }

  /** Marker content if the stage at `tmpDir` completed; None when the
    * tmp dir is absent or the marker never landed. */
  def readMarker(spark: SparkSession, tmpDir: String): Option[String] = {
    val fs = fsOf(spark, tmpDir)
    val m = new HPath(tmpDir, markerName)
    if (!fs.exists(m)) None
    else {
      val in = fs.open(m)
      try Some(new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8").trim)
      finally in.close()
    }
  }
}
