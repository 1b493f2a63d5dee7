package graft

import java.nio.file.{Files, Paths}

import graft.functions.TextSim
import graft.operators.{AnnIndex, BatchLog, CosineDedupIndex, PqIndex, RefreezeProtocol}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ladder-step migration (refreeze) for the frozen-parameter indexes:
  * post-refreeze state must equal a from-scratch build over the
  * survivors at the NEW ladder step (tombstones folded out), delta-pair
  * semantics must carry across the migration, occupancy drift must
  * justify the operation, and the marker-gated crash protocol must
  * never mix old codes with new parameters. */
class RefreezeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"
  private def vecs: DataFrame =
    Tables.embeddings(spark, dir).select("vec_id", "embedding")

  test("cosine index: refreeze == from-scratch ingest of survivors at the new ladder step") {
    val root = Files.createTempDirectory("graft_rf_cos").toString
    // Mask frozen on a 100-vector first batch; corpus grows to 500.
    CosineDedupIndex.ingest(spark, root, vecs.where(col("vec_id") < 100))
    CosineDedupIndex.ingest(spark, root, vecs.where(col("vec_id") >= 100))
    CosineDedupIndex.remove(spark, root, Seq(3L, 7L, 11L))
    val oldMask = CosineDedupIndex.frozenMask(spark, root).get
    assert(oldMask == TextSim.lshMaskValue(100L).toLong)
    val occBefore = CosineDedupIndex.occupancy(spark, root)
    CacheJanitor.drain()

    CosineDedupIndex.refreeze(spark, root)

    val liveCount = CosineDedupIndex.readIndex(spark, root).count()
    assert(liveCount == 497)
    val newMask = CosineDedupIndex.frozenMask(spark, root).get
    assert(newMask == TextSim.lshMaskValue(liveCount).toLong && newMask > oldMask,
      s"mask must move up the ladder: $oldMask -> $newMask")
    // Occupancy is the drift signal: the wider mask must relieve it.
    val occAfter = CosineDedupIndex.occupancy(spark, root)
    assert(occAfter < occBefore,
      s"refreeze must reduce bucket occupancy ($occBefore -> $occAfter)")
    assert(graft.operators.Tombstones.bytesOnDisk(spark, root) == 0L,
      "refreeze folds tombstones out and clears the side table")
    CacheJanitor.drain()

    // From-scratch equivalence AND preserved deltaPairs semantics: a
    // fresh index built over the survivors in one batch (same count →
    // same ladder step) must agree on every code row and on the delta
    // pairs of the NEXT increment.
    val survivors = vecs.where(!col("vec_id").isin(3L, 7L, 11L) && col("vec_id") < 450)
    val fresh = Files.createTempDirectory("graft_rf_cos_fresh").toString
    // Align corpora: drop ids >= 450 from the migrated root too, so both
    // indexes hold the same 447 survivors before the probe batch.
    CosineDedupIndex.remove(spark, root, (450L until 500L).toSeq)
    CosineDedupIndex.compact(spark, root)
    CosineDedupIndex.ingest(spark, fresh, survivors)
    assert(CosineDedupIndex.frozenMask(spark, fresh) ==
      CosineDedupIndex.frozenMask(spark, root))
    def codeSet(root0: String) = CosineDedupIndex.readIndex(spark, root0)
      .select("vec_id", "bucket", "n2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(codeSet(root) == codeSet(fresh),
      "migrated codes must equal a from-scratch encode of the survivors")
    def pairSet(b: CosineDedupIndex.Batch) =
      b.deltaPairs.select("vec_a", "vec_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val probe = vecs.where(col("vec_id") >= 450)
    val pMigrated = pairSet(CosineDedupIndex.ingest(spark, root, probe))
    val pFresh = pairSet(CosineDedupIndex.ingest(spark, fresh, probe))
    CacheJanitor.drain()
    assert(pMigrated == pFresh,
      "deltaPairs semantics must be preserved across the migration")
  }

  test("cosine index: crashed refreeze commits iff the completion marker landed") {
    val root = Files.createTempDirectory("graft_rf_crash").toString
    CosineDedupIndex.ingest(spark, root, vecs.where(col("vec_id") < 100))
    CosineDedupIndex.ingest(spark, root, vecs.where(col("vec_id") >= 100))
    val oldMask = CosineDedupIndex.frozenMask(spark, root).get
    val tmp = s"$root/codes.__refreeze_tmp"

    // (a) Crash BEFORE the marker: a partial stage must be dropped and
    // the old state kept intact.
    val live = CosineDedupIndex.readIndex(spark, root)
    val newMask = TextSim.lshMaskValue(live.count()).toLong
    BatchLog.stageRewrite(CosineDedupIndex.encode(
      live.select(col("vec_id"), col("embedding")), newMask), s"$root/codes", tmp)
    CacheJanitor.drain()
    assert(CosineDedupIndex.readIndex(spark, root).count() == 500)
    assert(CosineDedupIndex.frozenMask(spark, root).contains(oldMask),
      "unmarked stage must not change the mask")
    // Readers leave the unmarked partial ALONE — deleting it could race
    // a refreeze legitimately mid-stage in another session, whose later
    // marker write would resurrect an empty stage. Only a fresh
    // refreeze clears partials, before staging anew.
    assert(Files.isDirectory(Paths.get(tmp)),
      "readers must not delete an unmarked stage")
    CosineDedupIndex.refreeze(spark, root)
    CacheJanitor.drain()
    assert(!Files.isDirectory(Paths.get(tmp)),
      "a fresh refreeze clears the prior partial")
    assert(CosineDedupIndex.frozenMask(spark, root).contains(newMask))

    // (b) Crash AFTER the marker but before any commit step: the next
    // read completes the whole commit — new mask AND new codes together.
    val live2 = CosineDedupIndex.readIndex(spark, root)
    BatchLog.stageRewrite(CosineDedupIndex.encode(
      live2.select(col("vec_id"), col("embedding")), newMask), s"$root/codes", tmp)
    RefreezeProtocol.writeMarker(spark, tmp, newMask.toString)
    CacheJanitor.drain()
    val recovered = CosineDedupIndex.readIndex(spark, root)
    assert(CosineDedupIndex.frozenMask(spark, root).contains(newMask),
      "marked stage must commit the new mask on recovery")
    val wantBuckets = CosineDedupIndex.encode(
      vecs, newMask).select("vec_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotBuckets = recovered.select("vec_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    CacheJanitor.drain()
    assert(gotBuckets == wantBuckets,
      "recovered codes must be the re-encoded ones — never old buckets under a new mask")
    assert(!Files.isDirectory(Paths.get(tmp)))
  }

  test("IVF-SQ8 index: refreeze == from-scratch build over survivors; orphan stages are cleaned") {
    val root = Files.createTempDirectory("graft_rf_ann").toString
    AnnIndex.ingest(spark, root, vecs.where(col("vec_id") < 100))
    AnnIndex.ingest(spark, root, vecs.where(col("vec_id") >= 100))
    AnnIndex.remove(spark, root, Seq(5L, 17L))
    CacheJanitor.drain()
    // Drift signal: 498 live rows sit two ladder steps past the
    // 100-row quantizer (8 cells frozen, 16 warranted).
    assert(AnnIndex.needsRefreeze(spark, root), "grown corpus must signal refreeze")

    AnnIndex.refreeze(spark, root, vecs)
    assert(!AnnIndex.needsRefreeze(spark, root), "fresh ladder step must clear the signal")

    val fresh = Files.createTempDirectory("graft_rf_ann_fresh").toString
    val survivors = vecs.where(!col("vec_id").isin(5L, 17L))
    AnnIndex.ingest(spark, fresh, survivors)
    CacheJanitor.drain()
    def codeSet(r0: String) = {
      val b = AnnIndex.ingest(spark, r0,
        vecs.where(lit(false))) // empty increment: read-back handle
      b.allCodes.select("vec_id", "cell", "codes").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
    }
    assert(codeSet(root) == codeSet(fresh),
      "refrozen codes must equal a from-scratch ingest of the survivors")
    CacheJanitor.drain()
    assert(graft.operators.Tombstones.bytesOnDisk(spark, root) == 0L)
    // The retrained quantizer equals the fresh root's (same training set,
    // deterministic k-means) — frozen-artifact parity. Read through the
    // family's resolution: since r19 a refrozen root's CURRENT quantizer
    // lives in-version (`codes/_versions/<n>/_quantizer` — one committed
    // pair with its codes), while the top level keeps the pre-refreeze
    // fallback for pinned readers.
    def quant(r0: String) = spark.read
      .parquet(s"${AnnIndex.quantizerDir(spark, r0)}/centroids")
      .orderBy("cell").collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    assert(quant(root) == quant(fresh))
    // topK agrees end-to-end after the migration.
    val queries = vecs.where(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def top(r0: String) = AnnIndex.topK(spark, r0, queries, k = 3, rerank = Some(vecs))
      .orderBy("rnk").collect().map(_.getAs[Long]("neighbor_id")).toSeq
    assert(top(root) == top(fresh))
    CacheJanitor.drain()
  }

  test("a marker-only refreeze husk is abandoned — never swapped over live codes") {
    val root = Files.createTempDirectory("graft_rf_husk").toString
    CosineDedupIndex.ingest(spark, root, vecs.where(col("vec_id") < 200))
    CacheJanitor.drain()
    val before = CosineDedupIndex.readIndex(spark, root).count()
    assert(before == 200)
    // Adversarial state: the staged data was deleted out from under an
    // in-flight refreeze, whose marker write then recreated the tmp dir
    // holding ONLY the marker (fs.create auto-creates parents). A
    // recovery that trusted the marker alone would swap this husk over
    // the live codes and destroy the index.
    val tmp = s"$root/codes.__refreeze_tmp"
    Files.createDirectories(Paths.get(tmp))
    Files.write(Paths.get(s"$tmp/${RefreezeProtocol.markerName}"),
      "32".getBytes("UTF-8"))
    val after = CosineDedupIndex.readIndex(spark, root).count()
    assert(after == before, "a marker-only husk must never replace live codes")
    assert(!Files.isDirectory(Paths.get(tmp)), "the husk must be dropped")
    // Same guard on the quantized family.
    val aroot = Files.createTempDirectory("graft_rf_husk_ann").toString
    AnnIndex.ingest(spark, aroot, vecs.where(col("vec_id") < 200))
    CacheJanitor.drain()
    val ctmp = s"$aroot/codes.__refreeze_tmp"
    Files.createDirectories(Paths.get(ctmp))
    Files.write(Paths.get(s"$ctmp/${RefreezeProtocol.markerName}"),
      "ann".getBytes("UTF-8"))
    val q0 = vecs.where(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    assert(AnnIndex.topK(spark, aroot, q0, k = 1).count() == 1,
      "the index must keep answering")
    assert(!Files.isDirectory(Paths.get(ctmp)))
    CacheJanitor.drain()
  }

  test("a crash DURING the centroids write reads as never trained, not a bricked quantizer") {
    val root = Files.createTempDirectory("graft_rf_qpartial").toString
    // Crash state: the centroids directory exists but holds only
    // uncommitted _temporary task state — a bare directory probe would
    // classify this as 'trained' and then fail schema inference on
    // every read forever.
    Files.createDirectories(Paths.get(s"$root/quantizer/centroids/_temporary"))
    Files.write(Paths.get(s"$root/quantizer/centroids/_temporary/part-x"),
      "partial".getBytes("UTF-8"))
    val b = AnnIndex.ingest(spark, root, vecs.where(col("vec_id") < 100),
      batchKey = Some("b1"))
    assert(b.allCodes.count() == 100, "the first batch must retrain over the partial")
    CacheJanitor.drain()
  }

  test("a crash between the two quantizer writes retrains cleanly on retry") {
    // Write order contract: stats land before centroids, and the
    // trained-probe is on centroids — so the partial left by a crash
    // between the writes reads as "never trained" and the replayed
    // first batch retrains over it deterministically.
    val clean = Files.createTempDirectory("graft_rf_qclean").toString
    AnnIndex.ingest(spark, clean, vecs.where(col("vec_id") < 100), batchKey = Some("b1"))
    CacheJanitor.drain()
    val crashed = Files.createTempDirectory("graft_rf_qcrash").toString
    AnnIndex.ingest(spark, crashed, vecs.where(col("vec_id") < 100), batchKey = Some("b1"))
    CacheJanitor.drain()
    // Simulate the crash state: stats written, centroids not, no codes.
    def rmrf(p: java.nio.file.Path): Unit = {
      if (Files.isDirectory(p)) {
        val s = Files.list(p); try s.forEach(rmrf(_)) finally s.close()
      }
      Files.deleteIfExists(p)
    }
    rmrf(Paths.get(s"$crashed/quantizer/centroids"))
    rmrf(Paths.get(s"$crashed/codes"))
    // The replayed first batch retrains and lands the identical state.
    val b = AnnIndex.ingest(spark, crashed, vecs.where(col("vec_id") < 100), batchKey = Some("b1"))
    assert(b.allCodes.count() == 100)
    def slurp(r0: String, t: String) = spark.read.parquet(s"$r0/quantizer/$t")
      .collect().map(_.toString).sorted.toSeq
    assert(slurp(crashed, "centroids") == slurp(clean, "centroids"))
    assert(slurp(crashed, "stats") == slurp(clean, "stats"))
    CacheJanitor.drain()
  }

  test("IVF-PQ index: refreeze == from-scratch build over survivors") {
    val root = Files.createTempDirectory("graft_rf_pq").toString
    PqIndex.ingest(spark, root, vecs.where(col("vec_id") < 100))
    PqIndex.ingest(spark, root, vecs.where(col("vec_id") >= 100))
    PqIndex.remove(spark, root, Seq(5L, 17L))
    CacheJanitor.drain()
    assert(PqIndex.needsRefreeze(spark, root))

    PqIndex.refreeze(spark, root, vecs)
    assert(!PqIndex.needsRefreeze(spark, root))

    val fresh = Files.createTempDirectory("graft_rf_pq_fresh").toString
    PqIndex.ingest(spark, fresh, vecs.where(!col("vec_id").isin(5L, 17L)))
    CacheJanitor.drain()
    def codeSet(r0: String) = {
      val b = PqIndex.ingest(spark, r0, vecs.where(lit(false)))
      b.allCodes.select("vec_id", "cell", "codes").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
    }
    assert(codeSet(root) == codeSet(fresh),
      "refrozen PQ codes must equal a from-scratch ingest of the survivors")
    assert(graft.operators.Tombstones.bytesOnDisk(spark, root) == 0L)
    CacheJanitor.drain()
  }
}
