package graft

import java.nio.file.Files

import graft.functions.TextSim
import graft.operators.{AnnIndex, CosineDedupIndex, IndexHealth, PqIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One ops-snapshot shape across the persisted index family: fields
  * pinned through the ingest → remove → refreeze lifecycle for all
  * three vector operators, so a scheduler can poll any index kind
  * through the same struct ([[IndexHealth]]). */
class IndexHealthSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"
  private def vecs: DataFrame =
    Tables.embeddings(spark, dir).select("vec_id", "embedding")

  test("virgin roots report zeros, never throw") {
    val r = Files.createTempDirectory("graft_ih_virgin").toString
    val want = IndexHealth(0, 0, 0, 0, 0.0, needsRefreeze = false)
    assert(CosineDedupIndex.health(spark, r) == want)
    assert(AnnIndex.health(spark, s"$r/ann") == want)
    assert(PqIndex.health(spark, s"$r/pq") == want)
  }

  test("cosine index: fields track the lifecycle; occupancy agrees with the operator") {
    val root = Files.createTempDirectory("graft_ih_cos").toString
    CosineDedupIndex.ingest(spark, root, vecs.where(col("vec_id") < 100),
      batchKey = Some("b1"))
    CosineDedupIndex.ingest(spark, root, vecs.where(col("vec_id") >= 100),
      batchKey = Some("b2"))
    CosineDedupIndex.remove(spark, root, Seq(3L, 7L, 11L))
    CacheJanitor.drain()

    val h = CosineDedupIndex.health(spark, root)
    assert(h.live == 497 && h.tombstoned == 3, h)
    assert(h.frozenCells == TextSim.lshMaskValue(100L).toLong, h)
    assert(h.occupiedCells > 0 && h.occupiedCells <= h.frozenCells, h)
    assert(math.abs(h.occupancy - CosineDedupIndex.occupancy(spark, root)) < 1e-9, h)
    assert(h.occupancy == h.live.toDouble / h.occupiedCells, h)
    // Drift predicate agrees with the operator's own (497 is two ladder
    // steps past the 100-row freeze).
    assert(h.needsRefreeze && CosineDedupIndex.needsRefreeze(spark, root), h)

    CosineDedupIndex.refreeze(spark, root)
    CacheJanitor.drain()
    val h2 = CosineDedupIndex.health(spark, root)
    assert(h2.live == 497 && h2.tombstoned == 0, s"refreeze folds tombstones: $h2")
    assert(h2.frozenCells == TextSim.lshMaskValue(497L).toLong, h2)
    assert(!h2.needsRefreeze, h2)
    assert(h2.occupancy < h.occupancy,
      s"the wider mask must relieve occupancy: ${h.occupancy} -> ${h2.occupancy}")
  }

  test("IVF-SQ8 and IVF-PQ: same shape, frozen-cell counts from the quantizer") {
    val aroot = Files.createTempDirectory("graft_ih_ann").toString
    AnnIndex.ingest(spark, aroot, vecs.where(col("vec_id") < 100), batchKey = Some("b1"))
    AnnIndex.ingest(spark, aroot, vecs.where(col("vec_id") >= 100), batchKey = Some("b2"))
    AnnIndex.remove(spark, aroot, Seq(5L, 17L))
    CacheJanitor.drain()
    val ha = AnnIndex.health(spark, aroot)
    assert(ha.live == 498 && ha.tombstoned == 2, ha)
    assert(ha.frozenCells == TextSim.ivfCellsValue(100L).toLong, ha)
    assert(ha.occupiedCells > 0 && ha.occupiedCells <= ha.frozenCells, ha)
    assert(ha.occupancy == ha.live.toDouble / ha.occupiedCells, ha)
    assert(ha.needsRefreeze && AnnIndex.needsRefreeze(spark, aroot), ha)
    AnnIndex.refreeze(spark, aroot, vecs)
    CacheJanitor.drain()
    val ha2 = AnnIndex.health(spark, aroot)
    assert(ha2.live == 498 && ha2.tombstoned == 0 && !ha2.needsRefreeze, ha2)
    assert(ha2.frozenCells == TextSim.ivfCellsValue(498L).toLong, ha2)

    val proot = Files.createTempDirectory("graft_ih_pq").toString
    PqIndex.ingest(spark, proot, vecs.where(col("vec_id") < 100), batchKey = Some("b1"))
    PqIndex.remove(spark, proot, Seq(9L))
    CacheJanitor.drain()
    val hp = PqIndex.health(spark, proot)
    assert(hp.live == 99 && hp.tombstoned == 1, hp)
    assert(hp.frozenCells == TextSim.ivfCellsValue(100L).toLong, hp)
    assert(!hp.needsRefreeze && hp.occupancy == hp.live.toDouble / hp.occupiedCells, hp)
  }

  test("maintain: one poll consumes the signals on every index kind; answers invariant") {
    import graft.operators.BatchLog
    // Virgin roots poll safely through maintain too.
    val vroot = Files.createTempDirectory("graft_im_virgin").toString
    val mv = CosineDedupIndex.maintain(spark, vroot, tombstoneRatio = 0.0)
    assert(!mv.refrozen && !mv.compacted, mv)
    val mva = AnnIndex.maintain(spark, s"$vroot/ann",
      { fail("virgin poll must not evaluate the corpus"); vecs })
    assert(!mva.refrozen && !mva.compacted, mva)

    // Cosine: drift fired → refreeze (tombstone folded in the same swap,
    // compaction skipped as redundant); next poll with a fresh tombstone
    // and a forced ratio → compaction; quiet poll → no-op.
    val croot = Files.createTempDirectory("graft_im_cos").toString
    CosineDedupIndex.ingest(spark, croot, vecs.where(col("vec_id") < 100),
      batchKey = Some("b1"))
    CosineDedupIndex.ingest(spark, croot, vecs.where(col("vec_id") >= 100),
      batchKey = Some("b2"))
    CosineDedupIndex.remove(spark, croot, Seq(7L))
    CacheJanitor.drain()
    val m1 = CosineDedupIndex.maintain(spark, croot)
    assert(m1.refrozen && !m1.compacted, m1)
    assert(m1.after.tombstoned == 0 && m1.after.live == 499 && !m1.after.needsRefreeze, m1.after)
    CosineDedupIndex.remove(spark, croot, Seq(9L))
    val m2 = CosineDedupIndex.maintain(spark, croot, tombstoneRatio = 0.0)
    assert(!m2.refrozen && m2.compacted && m2.after.live == 498, m2)
    val m3 = CosineDedupIndex.maintain(spark, croot)
    assert(!m3.refrozen && !m3.compacted, m3)
    CacheJanitor.drain()

    // Quantized family: refreeze needs the original floats; the poll
    // only evaluates the corpus when drift fires. Content == from-scratch
    // is RefreezeSpec's pin; here: signals consumed, replay veto intact
    // after the maintenance-driven rewrite.
    val aroot = Files.createTempDirectory("graft_im_ann").toString
    AnnIndex.ingest(spark, aroot, vecs.where(col("vec_id") < 100), batchKey = Some("b1"))
    AnnIndex.ingest(spark, aroot, vecs.where(col("vec_id") >= 100), batchKey = Some("b2"))
    AnnIndex.remove(spark, aroot, Seq(3L))
    CacheJanitor.drain()
    val a1 = AnnIndex.maintain(spark, aroot, vecs)
    assert(a1.refrozen && !a1.compacted && a1.after.tombstoned == 0, a1)
    assert(a1.after.live == 499 && !a1.after.needsRefreeze, a1.after)
    // The rewrite retired the ingested keys: a crash-re-delivered batch
    // must not double-append or resurrect the takedown.
    AnnIndex.ingest(spark, aroot, vecs.where(col("vec_id") < 100), batchKey = Some("b1"))
    CacheJanitor.drain()
    assert(AnnIndex.health(spark, aroot).live == 499,
      "replayed batch after maintenance must be a no-op")
    assert(BatchLog.retiredKeys(spark, s"$aroot/codes").contains(BatchLog.sanitize("b1")))

    val proot = Files.createTempDirectory("graft_im_pq").toString
    PqIndex.ingest(spark, proot, vecs.where(col("vec_id") < 100), batchKey = Some("b1"))
    PqIndex.remove(spark, proot, Seq(9L))
    CacheJanitor.drain()
    // No drift at 100 rows; the corpus thunk must not even be evaluated.
    val p1 = PqIndex.maintain(spark, proot,
      { fail("corpus must not be evaluated when drift is quiet"); vecs },
      tombstoneRatio = 0.0)
    assert(!p1.refrozen && p1.compacted && p1.after.tombstoned == 0, p1)
    assert(p1.after.live == 99, p1.after)
    CacheJanitor.drain()
  }

  test("maintain: directory-count trigger folds every index kind with zero tombstones") {
    // Endless append loops grow one batch directory per increment per
    // log forever; past maxLogDirs the maintenance poll folds even when
    // no tombstone is pending (the same contract as DedupPipeline
    // .maintainOnce — answers invariant, listing/open tax bounded).
    import graft.operators.BatchLog
    def dirs(path: String) = BatchLog.committedKeys(spark, path).size

    val croot = Files.createTempDirectory("graft_ih_dirs_cos").toString
    CosineDedupIndex.ingest(spark, croot, vecs.where(col("vec_id") < 100), Some("b1"))
    CosineDedupIndex.ingest(spark, croot,
      vecs.where(col("vec_id") >= 100 && col("vec_id") < 200), Some("b2"))
    CacheJanitor.drain()
    val cLive = CosineDedupIndex.readIndex(spark, croot).count()
    val cm = CosineDedupIndex.maintain(spark, croot, maxLogDirs = 1)
    assert(cm.compacted && !cm.refrozen, cm)
    assert(dirs(s"$croot/codes") == 1 &&
      CosineDedupIndex.readIndex(spark, croot).count() == cLive)
    assert(!CosineDedupIndex.maintain(spark, croot, maxLogDirs = 1).compacted,
      "below the threshold nothing fires")

    val aroot = Files.createTempDirectory("graft_ih_dirs_ann").toString
    AnnIndex.ingest(spark, aroot, vecs.where(col("vec_id") < 100), batchKey = Some("b1"))
    AnnIndex.ingest(spark, aroot,
      vecs.where(col("vec_id") >= 100 && col("vec_id") < 200), batchKey = Some("b2"))
    CacheJanitor.drain()
    val am = AnnIndex.maintain(spark, aroot, vecs, maxLogDirs = 1)
    assert(am.compacted && dirs(s"$aroot/codes") == 1, am)

    val proot = Files.createTempDirectory("graft_ih_dirs_pq").toString
    PqIndex.ingest(spark, proot, vecs.where(col("vec_id") < 100), batchKey = Some("b1"))
    PqIndex.ingest(spark, proot,
      vecs.where(col("vec_id") >= 100 && col("vec_id") < 200), batchKey = Some("b2"))
    CacheJanitor.drain()
    val pm = PqIndex.maintain(spark, proot, vecs, maxLogDirs = 1)
    assert(pm.compacted && dirs(s"$proot/codes") == 1, pm)
    CacheJanitor.drain()
  }

  test("bulk takedown: maintain compacts an index to EMPTY and it stays serviceable") {
    // GDPR-style bulk erasure: every indexed row tombstoned, the next
    // maintenance poll folds them all out. The emptied index must stay
    // healthy (no schema-inference throw on the empty fold, no phantom
    // drift) and accept the next batch under its still-frozen parameter.
    val croot = Files.createTempDirectory("graft_im_empty_cos").toString
    CosineDedupIndex.ingest(spark, croot, vecs.where(col("vec_id") < 50),
      batchKey = Some("b1"))
    CosineDedupIndex.remove(spark, croot, (0L until 50L).toSeq)
    CacheJanitor.drain()
    val m = CosineDedupIndex.maintain(spark, croot, tombstoneRatio = 0.0)
    assert(!m.refrozen && m.compacted, m)
    assert(m.after.live == 0 && m.after.tombstoned == 0 && !m.after.needsRefreeze, m.after)
    val b = CosineDedupIndex.ingest(spark, croot,
      vecs.where(col("vec_id") >= 450), batchKey = Some("b2"))
    assert(b.allCodes.count() == 50, "the emptied index must accept the next batch")
    CacheJanitor.drain()

    val aroot = Files.createTempDirectory("graft_im_empty_ann").toString
    AnnIndex.ingest(spark, aroot, vecs.where(col("vec_id") < 50), batchKey = Some("b1"))
    AnnIndex.remove(spark, aroot, (0L until 50L).toSeq)
    CacheJanitor.drain()
    val ma = AnnIndex.maintain(spark, aroot,
      { fail("an all-tombstoned root has no drift; corpus must stay unevaluated"); vecs },
      tombstoneRatio = 0.0)
    assert(!ma.refrozen && ma.compacted && ma.after.live == 0 && ma.after.tombstoned == 0, ma)
    val ba = AnnIndex.ingest(spark, aroot, vecs.where(col("vec_id") >= 450),
      batchKey = Some("b2"))
    assert(ba.allCodes.count() == 50)
    // The quantizer froze on batch 1 and survives the emptying — batch 2
    // encodes under it, not a retrain (the frozen-artifact contract).
    assert(AnnIndex.health(spark, aroot).frozenCells ==
      graft.functions.TextSim.ivfCellsValue(50L).toLong)
    CacheJanitor.drain()
  }

  test("trained-but-unfed roots report pending tombstones; maintain leaves them pending") {
    // A remove() is legal before the first ingest lands (takedown racing
    // the backfill): health must surface the pending tombstones instead
    // of hard-coding 0, and a maintenance poll must NOT fire an empty-log
    // compaction — that would only clear the side table, re-admitting a
    // later ingest of the removed ids.
    // The reachable trained-but-unfed state for the quantized family is
    // "quantizer committed, code log holds no committed files" — exactly
    // what a bulk-erasure compaction leaves behind (the Ann/Pq fold is
    // partitioned by cell, so an empty fold writes no data files).
    val aroot = Files.createTempDirectory("graft_ih_unfed_ann").toString
    AnnIndex.ingest(spark, aroot, vecs.where(col("vec_id") < 100), batchKey = Some("b1"))
    CacheJanitor.drain()
    // Fold the log to empty the committed data via the spec'd bulk path…
    AnnIndex.remove(spark, aroot, (0L until 100L).toSeq)
    CacheJanitor.drain()
    AnnIndex.compact(spark, aroot)
    CacheJanitor.drain()
    // …then the takedown arrives before any new batch.
    AnnIndex.remove(spark, aroot, Seq(400L, 401L))
    CacheJanitor.drain()
    val ha = AnnIndex.health(spark, aroot)
    assert(ha.tombstoned == 2, s"unfed-root tombstones visible: $ha")
    val ma = AnnIndex.maintain(spark, aroot,
      { fail("no drift on an unfed root; corpus must stay unevaluated"); vecs },
      tombstoneRatio = 0.0)
    assert(!ma.refrozen && !ma.compacted, s"no empty-log compaction: $ma")
    assert(AnnIndex.health(spark, aroot).tombstoned == 2, "tombstones stay pending")
    // The pending tombstones still suppress a later ingest of those ids.
    AnnIndex.ingest(spark, aroot, vecs.where(col("vec_id").isin(400L, 401L, 402L)),
      batchKey = Some("b2"))
    CacheJanitor.drain()
    assert(AnnIndex.health(spark, aroot).live == 1,
      "a pre-ingest tombstone must keep suppressing its id after the ingest")

    val proot = Files.createTempDirectory("graft_ih_unfed_pq").toString
    PqIndex.ingest(spark, proot, vecs.where(col("vec_id") < 100), batchKey = Some("b1"))
    PqIndex.remove(spark, proot, (0L until 100L).toSeq)
    CacheJanitor.drain()
    PqIndex.compact(spark, proot)
    PqIndex.remove(spark, proot, Seq(400L, 401L))
    CacheJanitor.drain()
    val hp = PqIndex.health(spark, proot)
    assert(hp.tombstoned == 2, s"unfed-root tombstones visible: $hp")
    val mp = PqIndex.maintain(spark, proot,
      { fail("no drift on an unfed root"); vecs }, tombstoneRatio = 0.0)
    assert(!mp.refrozen && !mp.compacted, mp)
    CacheJanitor.drain()
  }

  test("health recovers a crashed compaction swap before probing (no false live=0)") {
    import java.nio.file.Paths
    import graft.operators.BatchLog
    val root = Files.createTempDirectory("graft_ih_swap").toString
    CosineDedupIndex.ingest(spark, root, vecs.where(col("vec_id") < 100),
      batchKey = Some("b1"))
    CacheJanitor.drain()
    val dest = s"$root/codes"
    // Crash window: fold staged, intent up, rename never ran.
    val tmp = SwapCrash.beforeRename(spark, dest,
      CosineDedupIndex.readIndex(spark, root), clears = Some(root))
    CacheJanitor.drain()
    val h = CosineDedupIndex.health(spark, root)
    assert(h.live == 100, s"health must adopt the staged compaction, got $h")
    assert(!java.nio.file.Files.exists(Paths.get(tmp)),
      "recovery must complete the swap, not leave the stage behind")
    assert(BatchLog.resolve(spark, dest) == s"$dest/_versions/00000001")
  }
}
