package graft.operators

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession

/** Reader-vs-maintenance discipline for the persisted index roots —
  * the round-16 verdict's open contract ("what happens to a reader
  * whose scan is in flight while another driver's compaction/refreeze
  * swap deletes-and-renames the fold under it").
  *
  * The CONTRACT (documented in SCALE.md §reader-contract): since round
  * 18 the swapped logs are POINTER-INDIRECTED VERSIONED directories
  * ([[VersionedState]]) — a commit never deletes or renames the
  * committed state, so reads are WAIT-FREE under compaction/refreeze/
  * migration commits: a reader's planned file set stays on disk until
  * grace-GC expires it. What remains of the loud-retry contract here:
  *
  *  - roots that predate the upgrade (their first versioned commit has
  *    not happened yet) keep the old in-place window — a read either
  *    serves one committed snapshot to completion, or fails LOUDLY with
  *    a retryable error ([[ConcurrentMaintenanceException]] at entry;
  *    Spark's own missing-file failure if the swap lands mid-scan),
  *    never a silent partial or empty result;
  *  - a SEALED refreeze stage blocks at entry ONLY when its commit is
  *    in place (versioning disabled on a never-versioned root): on
  *    versioned roots the staged quantizer rides the codes commit as
  *    ONE `codes/_versions/<n>` state (quantizer + codes resolve
  *    together — [[IvfIndex.quantizerDir]]), so the sealed window is
  *    wait-free too;
  *  - a reader whose scan outlives the GC grace period loses files
  *    loudly (FileNotFound), same as every LSM store — the retention
  *    knobs are sized against the longest query.
  *
  * Mechanics at a read-only entry point (topK / readIndex / health):
  *
  *  1. ONE listing of the operator root classifies swap debris — every
  *     staged-swap artifact is a root-level sibling whose name contains
  *     the reserved `.__` infix (`.__compact_tmp`, `.__refreeze_tmp`,
  *     `.__swap_intent`).
  *  2. No debris (the steady state): read, zero lease traffic, zero
  *     mutation — same cost as before.
  *  3. Debris present: recovery MUTATES (adopts/drops staged swaps), so
  *     it runs under the root's writer lease — which also closes the
  *     pre-existing hole where two concurrent READERS could both run
  *     recovery and race each other's renames.
  *  4. Lease held by a live writer: nothing is recovered (the "debris"
  *     is that writer's in-flight work). If the debris is BLOCKING —
  *     an intent marker (dest untrusted by the swap protocol's own
  *     rules), an orphaned tmp whose destination is missing (the
  *     legacy delete→rename window), or a SEALED refreeze stage (the
  *     two-directory swap may be half-committed: new codes visible,
  *     old quantizer still in place — a silently WRONG mix) — the read
  *     throws [[ConcurrentMaintenanceException]]. If the debris is
  *     non-blocking (an unsealed stage or abandoned tmp beside an
  *     intact destination), the read proceeds against the committed
  *     state and leaves cleanup to the writer.
  *
  * Why unsealed stages are non-blocking: every protocol here keeps the
  * destination complete and committed until its intent marker goes up
  * (stage → seal → intent → delete → rename → clear), so a reader
  * racing the LONG staging phase must not fail — only the small-file
  * commit window blocks, which is what makes the error honestly
  * retryable.
  */
private[graft] object ReadGuard {

  private def fsOf(spark: SparkSession, path: String) =
    new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Root-level swap-artifact names (one LIST; empty when the root does
    * not exist). */
  private def swapDebris(spark: SparkSession, root: String): Seq[String] = {
    val fs = fsOf(spark, root)
    val p = new HPath(root)
    try {
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.map(_.getPath.getName).filter(_.contains(".__"))
    } catch { case _: java.io.FileNotFoundException => Seq.empty }
  }

  /** The debris names that make the committed state UNTRUSTED for a
    * reader (see class doc #4). `names` is the full root listing's
    * debris; bases are checked against a fresh exists probe (cheap,
    * only runs when debris exists at all). */
  private def blocking(spark: SparkSession, root: String,
      names: Seq[String]): Seq[String] = {
    val fs = fsOf(spark, root)
    names.filter { n =>
      val base = n.take(n.indexOf(".__"))
      if (base.isEmpty)
        // A name STARTING with `.__` is not a protocol artifact (every
        // swap artifact is `<base>.__suffix`); classifying it would also
        // probe `new HPath(root, "")`, which throws. Foreign debris —
        // non-blocking, leave it to the writer.
        false
      else if (n.endsWith(".__swap_intent"))
        // Re-probe: the stale root listing may predate a recoverer (the
        // lease holder we just lost the race to) clearing this intent —
        // a cleared intent means the swap committed and the state is
        // readable; only a STILL-PRESENT intent blocks, and only when it
        // records an IN-PLACE (v2) swap. A VERSIONED commit's window
        // never touches the committed state — readers resolve the
        // current version and proceed wait-free (the r17 verdict's
        // grace-GC upgrade; [[VersionedState]]).
        fs.exists(new HPath(root, n)) &&
          !Tombstones.intentIsVersioned(spark, new HPath(root, n).toString)
      else if (!fs.exists(new HPath(root, base))) true // orphan tmp: legacy mid-swap
      else if (n.endsWith(".__refreeze_tmp")) {
        // Sealed stage ⇒ the commit is imminent or half-done; unsealed
        // ⇒ still staging, dest consistent (never blocking). A SEALED
        // stage blocks only when its commit touches live state IN PLACE
        // (versioning disabled on a never-versioned root); a versioned
        // commit lands quantizer + codes as ONE new version — committed
        // state untouched, readers wait-free.
        fs.exists(new HPath(new HPath(root, n), RefreezeProtocol.markerName)) &&
          !(VersionedState.enabled ||
            VersionedState.isVersioned(fs, new HPath(root, base).toString))
      }
      else false
    }
  }

  /** Run `recover` (the operator's `recoverState`) from a READ-ONLY
    * entry point under the contract above. No-op without debris;
    * lease-guarded recovery with it; [[ConcurrentMaintenanceException]]
    * when a live writer holds the root in a blocking state. */
  def recoverForRead(spark: SparkSession, root: String)(recover: => Unit): Unit = {
    val debris = swapDebris(spark, root)
    if (debris.isEmpty) return
    try WriterLease.withLease(spark, root)(recover)
    catch {
      case e: ConcurrentWriterException =>
        val blk = blocking(spark, root, debris)
        if (blk.nonEmpty)
          throw new ConcurrentMaintenanceException(
            s"index root $root is mid-maintenance (${blk.mkString(", ")}) and its " +
              "writer lease is live — the committed state is not readable right " +
              "now; retry after the writer's commit lands (small-file window)", e)
      // Non-blocking debris beside an intact destination: the committed
      // state is readable as-is; the live writer owns the cleanup.
    }
  }
}
