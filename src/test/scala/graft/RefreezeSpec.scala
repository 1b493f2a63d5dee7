package graft

import java.nio.file.{Files, Paths}

import graft.functions.TextSim
import graft.operators.{AnnIndex, CosineDedupIndex, PqIndex, VersionedState}
import graft.testfs.HostileFileSystem
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ladder-step migration (refreeze) for the frozen-parameter indexes:
  * post-refreeze state must equal a from-scratch build over the
  * survivors at the NEW ladder step (tombstones folded out), delta-pair
  * semantics must carry across the migration, occupancy drift must
  * justify the operation, and a crashed refreeze must never mix old
  * codes with new parameters. */
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
    assert(graft.operators.Tombstones.bytesOnDisk(spark, s"$root/codes") == 0L,
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
    HostileFileSystem.install(spark.sparkContext.hadoopConfiguration)
    val root = s"hostile://${Files.createTempDirectory("graft_rf_crash")}"
    val codes = s"$root/codes"
    CosineDedupIndex.ingest(spark, root, vecs.where(col("vec_id") < 100))
    CosineDedupIndex.ingest(spark, root, vecs.where(col("vec_id") >= 100))
    val oldMask = CosineDedupIndex.frozenMask(spark, root).get
    val newMask = TextSim.lshMaskValue(500L).toLong
    def buckets() = CosineDedupIndex.readIndex(spark, root)
      .select("vec_id", "bucket").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val oldBuckets = buckets()

    // (a) Crash AT the commit marker: codes and mask are fully staged in
    // the unmarked next version; the old pair stays in force.
    HostileFileSystem.armCrash("create", "/codes/_commits/00000001")
    try intercept[Exception](CosineDedupIndex.refreeze(spark, root))
    finally HostileFileSystem.disarm()
    CacheJanitor.drain()
    assert(CosineDedupIndex.frozenMask(spark, root).contains(oldMask),
      "an unmarked stage must not change the mask")
    assert(buckets() == oldBuckets, "an unmarked stage must not change the codes")

    // (b) The marker landing IS the commit: new mask and new codes
    // resolve together.
    VersionedState.writeMarker(VersionedState.fsOf(spark, codes), codes, 1)
    assert(CosineDedupIndex.frozenMask(spark, root).contains(newMask),
      "the marked version must carry the new mask")
    val wantBuckets = CosineDedupIndex.encode(vecs, newMask).select("vec_id", "bucket")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(buckets() == wantBuckets,
      "committed codes must be the re-encoded ones — never old buckets under a new mask")
    CacheJanitor.drain()
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
      AnnIndex.readCodes(spark, r0).select("vec_id", "cell", "codes").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
    }
    assert(codeSet(root) == codeSet(fresh),
      "refrozen codes must equal a from-scratch ingest of the survivors")
    CacheJanitor.drain()
    assert(graft.operators.Tombstones.bytesOnDisk(spark, s"$root/codes") == 0L)
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

  test("a crash DURING the centroids write reads as never trained, not a bricked quantizer") {
    val root = Files.createTempDirectory("graft_rf_qpartial").toString
    // Crash state: the centroids directory exists but holds only
    // uncommitted _temporary task state — a bare directory probe would
    // classify this as 'trained' and then fail schema inference on
    // every read forever.
    Files.createDirectories(Paths.get(s"$root/quantizer/centroids/_temporary"))
    Files.write(Paths.get(s"$root/quantizer/centroids/_temporary/part-x"),
      "partial".getBytes("UTF-8"))
    AnnIndex.ingest(spark, root, vecs.where(col("vec_id") < 100), batchKey = Some("b1"))
    assert(AnnIndex.readCodes(spark, root).count() == 100, "the first batch must retrain over the partial")
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
    AnnIndex.ingest(spark, crashed, vecs.where(col("vec_id") < 100), batchKey = Some("b1"))
    assert(AnnIndex.readCodes(spark, crashed).count() == 100)
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
      PqIndex.readCodes(spark, r0).select("vec_id", "cell", "codes").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
    }
    assert(codeSet(root) == codeSet(fresh),
      "refrozen PQ codes must equal a from-scratch ingest of the survivors")
    assert(graft.operators.Tombstones.bytesOnDisk(spark, s"$root/codes") == 0L)
    CacheJanitor.drain()
  }
}
