package graft.operators

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession

/** Reader-vs-maintenance discipline for the persisted index roots —
  * what happens to a reader whose scan is in flight, or just starting,
  * while another driver's compaction/refreeze commits.
  *
  * The CONTRACT (documented in SCALE.md §reader-contract): the swapped
  * logs are POINTER-INDIRECTED VERSIONED directories
  * ([[VersionedState]]) — a commit never deletes or renames the
  * committed state, so reads are WAIT-FREE under compaction/refreeze
  * commits: a reader resolves the current version at plan time, and its
  * planned file set stays on disk until grace-GC expires it. A reader
  * whose scan outlives the GC grace period loses files loudly
  * (FileNotFound), same as every LSM store — the retention knobs are
  * sized against the longest query.
  *
  * Mechanics at a read-only entry point (topK / readIndex / health):
  *
  *  1. ONE listing of the operator root looks for swap debris — every
  *     staged-swap artifact is a root-level sibling whose name contains
  *     the reserved `.__` infix (`.__compact_tmp`, `.__refreeze_tmp`,
  *     `.__swap_intent`).
  *  2. No debris (the steady state): read, zero lease traffic, zero
  *     mutation.
  *  3. Debris present: recovery MUTATES (adopts/drops staged swaps), so
  *     it runs under the root's writer lease — which also keeps two
  *     concurrent READERS from both running recovery and racing each
  *     other's renames.
  *  4. Lease held by a live writer: nothing is recovered (the debris is
  *     that writer's in-flight work, which it cleans up itself), and
  *     the read proceeds against the committed state — no swap window
  *     touches it.
  */
private[graft] object ReadGuard {

  /** Root-level swap-artifact names (one LIST; empty when the root does
    * not exist). */
  private def swapDebris(spark: SparkSession, root: String): Seq[String] = {
    val p = new HPath(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.map(_.getPath.getName).filter(_.contains(".__"))
    } catch { case _: java.io.FileNotFoundException => Seq.empty }
  }

  /** Run `recover` (the operator's `recoverState`) from a READ-ONLY
    * entry point under the contract above: no-op without debris,
    * lease-guarded recovery with it, and a plain read of the committed
    * state when a live writer holds the lease. */
  def recoverForRead(spark: SparkSession, root: String)(recover: => Unit): Unit =
    if (swapDebris(spark, root).nonEmpty)
      try WriterLease.withLease(spark, root)(recover)
      catch { case _: ConcurrentWriterException => () }
}
