package graft.operators

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deletion/retraction for the incremental index logs
  * ([[SignatureIndex]], [[CosineDedupIndex]], [[IvfIndex]]): the logs
  * are append-only — a removal must not rewrite them, or batch cost
  * stops being O(increment). The honest middle ground is the standard
  * tombstone-then-compact shape (Delta/Iceberg delete files, Lucene
  * deleted-docs bitmaps): [[append]] records removed ids in a small
  * parquet side table; every read path anti-joins it ([[live]]); a
  * periodic compaction rewrites the log minus tombstones — after which
  * the log is content-identical to a from-scratch build over the
  * surviving set (spec-pinned).
  *
  * The side table lives INSIDE the log's committed version, as
  * `<version>/_tombstones` ([[VersionedState]]): [[append]] adds files
  * to the current version the way increments are appended, and a
  * rewrite's new version simply has none — so the clear commits with
  * the fold, by the same one marker, and a reader that resolves the
  * version once gets data and tombstones of the same state. The
  * underscore keeps the table invisible to the log's own parquet reads.
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

  /** The side table of one physical (resolved) log version. */
  def dirIn(version: String): String = s"$version/_tombstones"

  /** Tombstoned ids of one resolved log version as a 1-column `(idCol)`
    * BIGINT frame — empty (but correctly typed) when nothing was
    * removed since that version was written. Hadoop FileSystem probes,
    * so an HDFS/object-store root never reads as "no removals". */
  def read(spark: SparkSession, version: String, idCol: String): DataFrame =
    if (!BatchLog.hasCommittedFiles(spark, dirIn(version)))
      spark.range(0).select(col("id").as(idCol))
    else spark.read.parquet(dirIn(version)).select(col(idCol)).distinct()

  /** The live rows of the log at `logDir`: `data` built over ONE
    * resolution of the current version, minus that version's
    * tombstones. */
  def live(spark: SparkSession, logDir: String, idCol: String)(
      data: String => DataFrame): DataFrame = {
    val v = BatchLog.resolve(spark, logDir)
    data(v).join(read(spark, v, idCol), Seq(idCol), "left_anti")
  }

  /** Record ids as removed from the log at `logDir` — appends a small
    * file into its current version's side table, never touches the
    * log's data (the append-only contract the fingerprint specs pin).
    * Idempotent: re-removing an id is a no-op at read time (distinct on
    * read). */
  def append(logDir: String, ids: DataFrame, idCol: String): Unit =
    ids.select(col(idCol).cast("long").as(idCol)).distinct()
      .coalesce(1).write.mode("append")
      .parquet(dirIn(BatchLog.resolve(ids.sparkSession, logDir)))

  /** Zero-job emptiness probe: true iff the current version of `logDir`
    * has no tombstones. Lets callers that only need "are any takedowns
    * pending?" skip building and counting the frame: with none pending,
    * a log's live row count equals its committed row count, which the
    * write-time sidecars serve driver-side ([[BatchLog.committedRowCount]]). */
  def isEmpty(spark: SparkSession, logDir: String): Boolean =
    !BatchLog.hasCommittedFiles(spark, dirIn(BatchLog.resolve(spark, logDir)))

  /** Total on-disk bytes of the current version's tombstones (0 when
    * none) — the driver-side proxy read paths gate explicit broadcast()
    * hints on: steady-state removals keep the set tiny, but a BULK
    * takedown (the GDPR path) is bounded only by removed-doc count, and
    * a forced broadcast of millions of ids would blow the driver/
    * broadcast limits that AQE's planner-decided join would have
    * avoided. */
  def bytesOnDisk(spark: SparkSession, logDir: String): Long = {
    val d = new HPath(dirIn(BatchLog.resolve(spark, logDir)))
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(d)) 0L else fs.getContentSummary(d).getLength
  }
}
