package graft

import java.nio.file.Files

import graft.functions.TextSim
import graft.operators.{BatchLog, CosineDedupIndex}
import graft.testfs.HostileFileSystem
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The BatchLog × refreeze CROSS PRODUCT: each protocol's crash windows
  * are pinned separately (RefreezeSpec, IngestRecoverySpec, BatchLogSpec)
  * — these are the interactions between them, where an at-least-once
  * batch replay meets a refreeze that crashed before its commit. The failure
  * shapes guarded here: a replayed batch double-appending beside a fold
  * that already absorbed it (resurrecting removed rows and duplicating
  * live ones), and a fold commit swallowing a batch it never read. */
class RefreezeChaosSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"
  private def vecs: DataFrame =
    Tables.embeddings(spark, dir).select("vec_id", "embedding")
  private def slice(lo: Long, hi: Long) =
    vecs.where(s"vec_id >= $lo AND vec_id < $hi")

  private def liveIds(root: String): Seq[Long] =
    CosineDedupIndex.readIndex(spark, root)
      .select("vec_id").collect().map(_.getLong(0)).toSeq.sorted

  /** A refreeze that dies AT its commit marker: codes and mask fully
    * staged in the unmarked next version, the committed state intact. */
  private def crashedRefreeze(root: String): Unit = {
    HostileFileSystem.armCrash("create", "/codes/_commits/00000001")
    try intercept[Exception](CosineDedupIndex.refreeze(spark, root))
    finally HostileFileSystem.disarm()
    CacheJanitor.drain()
  }

  private def hostileRoot(tag: String): String = {
    HostileFileSystem.install(spark.sparkContext.hadoopConfiguration)
    s"hostile://${Files.createTempDirectory(tag)}"
  }

  test("a batch replayed over a crashed refreeze lands once; the re-run absorbs it") {
    val root = hostileRoot("graft_chaos_replay")
    CosineDedupIndex.ingest(spark, root, slice(0, 200), batchKey = Some("b1"))
    CosineDedupIndex.ingest(spark, root, slice(200, 400), batchKey = Some("b2"))
    CosineDedupIndex.remove(spark, root, Seq(5L))
    CacheJanitor.drain()
    val oldMask = CosineDedupIndex.frozenMask(spark, root).get
    crashedRefreeze(root)

    // The at-least-once landing layer now REPLAYS batch b2 against this
    // root. The stage is invisible, so the replay resolves against the
    // committed version: it replaces its own directory (no double
    // append) under the old mask, and the tombstone of id 5 holds.
    CosineDedupIndex.ingest(spark, root, slice(200, 400), batchKey = Some("b2"))
    CacheJanitor.drain()
    assert(CosineDedupIndex.frozenMask(spark, root).contains(oldMask))
    assert(liveIds(root) == (0L until 400L).filterNot(_ == 5L))

    // The re-run refreeze restages over the leftover and commits: the
    // fold absorbs b2 (retiring its key), and a further replay no-ops.
    CosineDedupIndex.refreeze(spark, root)
    CacheJanitor.drain()
    val newMask = TextSim.lshMaskValue(399L).toLong
    assert(CosineDedupIndex.frozenMask(spark, root).contains(newMask))
    assert(BatchLog.retiredKeys(spark, s"$root/codes").contains(BatchLog.sanitize("b2")),
      "the fold must retire the absorbed batch key")
    CosineDedupIndex.ingest(spark, root, slice(200, 400), batchKey = Some("b2"))
    CacheJanitor.drain()
    val ids = liveIds(root)
    assert(ids.size == ids.distinct.size,
      "the replayed batch must not double-append beside the fold")
    assert(ids == (0L until 400L).filterNot(_ == 5L),
      s"fold content must survive the replay (got ${ids.size} rows; " +
        s"id 5 present: ${ids.contains(5L)})")

    // A genuinely NEW batch after the dust settles still lands normally.
    CosineDedupIndex.ingest(spark, root, slice(400, 450), batchKey = Some("b3"))
    CacheJanitor.drain()
    assert(liveIds(root).size == 449)
  }

  test("refreeze recovery over a root whose last batch was a replayed (overwritten) key") {
    val root = hostileRoot("graft_chaos_overwrite")
    CosineDedupIndex.ingest(spark, root, slice(0, 200), batchKey = Some("b1"))
    CosineDedupIndex.ingest(spark, root, slice(200, 400), batchKey = Some("b2"))
    // b2 replays once BEFORE any refreeze — mode(overwrite) rewrote its
    // directory with fresh files (new names/mtimes), the state BatchLog's
    // replay idempotence leaves behind.
    CosineDedupIndex.ingest(spark, root, slice(200, 400), batchKey = Some("b2"))
    CosineDedupIndex.remove(spark, root, Seq(5L))
    CacheJanitor.drain()
    assert(liveIds(root).size == 399, "overwrite replay itself must not duplicate")

    // Refreeze stages over those REWRITTEN files, then crashes at its
    // commit marker; an ops poll still sees the committed state.
    crashedRefreeze(root)
    val h0 = CosineDedupIndex.health(spark, root)
    assert(h0.live == 399 && h0.tombstoned == 1, s"the poll must see the committed state: $h0")

    // Recovery is the re-run: the fold's retirement set comes from the
    // files its plan actually read — the overwritten directory's
    // current files.
    CosineDedupIndex.refreeze(spark, root)
    CacheJanitor.drain()
    val h = CosineDedupIndex.health(spark, root)
    assert(h.live == 399 && h.tombstoned == 0,
      s"the re-run refreeze must fold the tombstone: $h")
    assert(h.frozenCells == TextSim.lshMaskValue(399L).toLong, h)

    // b2's SECOND replay, arriving after the recovery: the ledger must
    // veto it even though the key's directory was overwritten (not
    // original) when the fold read it. A resurrection of id 5 here is
    // the tombstone-loss shape this spec exists to catch.
    CosineDedupIndex.ingest(spark, root, slice(200, 400), batchKey = Some("b2"))
    CacheJanitor.drain()
    val ids = liveIds(root)
    assert(ids.size == 399 && !ids.contains(5L),
      s"post-recovery replay must be a no-op (got ${ids.size} rows; " +
        s"id 5 resurrected: ${ids.contains(5L)})")
  }
}
