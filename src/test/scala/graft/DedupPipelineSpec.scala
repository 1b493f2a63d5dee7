package graft

import java.nio.file.Files

import graft.operators.DedupPipeline

/** The packaged dedup maintenance loop: two landing batches through
  * `runOnce`, the atomic keeper manifest after each, and the
  * anti-join application a training-data reader runs. */
class DedupPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  private val batchA = Seq(
    1L -> "the quick brown fox jumps over the lazy dog today",
    2L -> "the quick brown fox jumps over the lazy cat today",
    3L -> "completely different text about spark engines and parquet files",
    7L -> "short doc") // unshingleable → singleton by definition
  private val batchB = Seq(
    4L -> "the quick brown fox jumps over the lazy dog yesterday",
    5L -> "another unrelated document with entirely distinct words inside",
    6L -> "completely different text about spark engines and parquet files")

  test("two batches: incremental manifest equals the from-scratch expectation") {
    val root = Files.createTempDirectory("graft_dedup_pipe").toString

    val s1 = DedupPipeline.runOnce(spark, root, docs(batchA: _*))
    assert(s1.newDocs == 4 && s1.deltaPairs == 1, s1)
    assert(s1.clusters == 3 && s1.keepers == 3, s1) // {1,2}, {3}, {7}
    val m1 = DedupPipeline.keeperManifest(spark, root)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(m1 === Map(1L -> true, 2L -> false, 3L -> true, 7L -> true))

    val s2 = DedupPipeline.runOnce(spark, root, docs(batchB: _*))
    // Delta pairs touch the increment only: (1,4), (2,4), (3,6).
    assert(s2.newDocs == 3 && s2.deltaPairs == 3, s2)
    assert(s2.clusters == 4 && s2.keepers == 4, s2) // {1,2,4}, {3,6}, {5}, {7}
    val m2 = DedupPipeline.keeperManifest(spark, root)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(m2 === Map(1L -> true, 2L -> false, 3L -> true, 4L -> false,
      5L -> true, 6L -> false, 7L -> true))

    // The reader-side application: keepers survive, near-dups drop,
    // docs the index never saw survive a stale manifest.
    val corpus = docs(batchA ++ batchB :+ (99L -> "brand new doc"): _*)
    val kept = DedupPipeline.applyManifest(corpus,
      DedupPipeline.keeperManifest(spark, root))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L, 5L, 7L, 99L))
  }

  test("a batch writes O(increment) bytes — never a corpus-sized manifest") {
    import scala.jdk.CollectionConverters._
    def gen(i: Long) = i ->
      s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i"
    def allFiles(root: String): Map[String, (Long, Long)] =
      Files.walk(java.nio.file.Paths.get(root)).iterator().asScala
        .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
        .map(p => p.toString ->
          (Files.getLastModifiedTime(p).toMillis, Files.size(p))).toMap

    // Same 2-doc increment against a 200-doc corpus and a 10-doc corpus:
    // the bytes a batch writes must not scale with corpus size.
    val bigRoot = Files.createTempDirectory("graft_dp_big").toString
    val smallRoot = Files.createTempDirectory("graft_dp_small").toString
    DedupPipeline.runOnce(spark, bigRoot, docs((1L to 200L).map(gen): _*),
      batchKey = Some("b1"))
    DedupPipeline.runOnce(spark, smallRoot, docs((1L to 10L).map(gen): _*),
      batchKey = Some("b1"))
    val bigAfter1 = allFiles(bigRoot)
    val smallAfter1 = allFiles(smallRoot)
    val increment = docs(501L -> gen(5L)._2, 502L -> gen(501L)._2)
    DedupPipeline.runOnce(spark, bigRoot, increment, batchKey = Some("b2"))
    DedupPipeline.runOnce(spark, smallRoot, increment, batchKey = Some("b2"))
    val bigAfter2 = allFiles(bigRoot)
    val smallAfter2 = allFiles(smallRoot)

    // Batch-1 state is byte-untouched; batch 2 only ADDS files.
    bigAfter1.foreach { case (f, sig) =>
      assert(bigAfter2.get(f).contains(sig), s"batch 2 rewrote $f")
    }
    // No corpus-row manifest is materialized on the batch path at all.
    assert(!Files.exists(java.nio.file.Paths.get(s"$bigRoot/keeper_manifest")),
      "runOnce must not write a manifest snapshot per batch")
    // The bytes batch 2 added over the 200-doc corpus match the bytes
    // the SAME increment added over the 10-doc corpus (2x slack for
    // nondeterministic file splits): per-batch write cost tracks the
    // increment, not the corpus.
    def newBytes(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]) =
      after.filterNot { case (f, _) => before.contains(f) }.values.map(_._2).sum
    val bigNew = newBytes(bigAfter1, bigAfter2)
    val smallNew = newBytes(smallAfter1, smallAfter2)
    assert(bigNew <= 2 * smallNew,
      s"batch-2 bytes over 200-doc corpus ($bigNew) must track the increment " +
        s"(10-doc corpus wrote $smallNew)")
    // And the live manifest over the big corpus is still correct: the
    // exact dup of doc 5 lost to the min-id keeper.
    val m = DedupPipeline.keeperManifest(spark, bigRoot)
      .where($"doc_id" === 501L).collect()
    assert(m.length == 1 && !m(0).getBoolean(2) && m(0).getLong(1) == 5L)
  }

  test("vector twin: runOnceVectors maintains the cosine family end-to-end") {
    val root = Files.createTempDirectory("graft_dp_vec").toString
    // One-hot embeddings by id residue: exact dups inside each of the 8
    // residue classes (cosine 1.0), orthogonal across classes (0.0) —
    // the expected clustering is exactly one cluster per residue with
    // the min id as keeper.
    def vec(i: Long) = (0 until 8).map(d => if (d == (i % 8).toInt) 1.0f else 0.0f)
    val batch1 = (0L until 40L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val batch2 = (40L until 60L).map(i => (i, vec(i))).toDF("vec_id", "embedding")

    val s1 = DedupPipeline.runOnceVectors(spark, root, batch1, batchKey = Some("b1"))
    assert(s1.newDocs == 40 && s1.clusters == 8 && s1.keepers == 8, s1)
    val s2 = DedupPipeline.runOnceVectors(spark, root, batch2, batchKey = Some("b2"))
    assert(s2.newDocs == 20 && s2.deltaPairs > 0, s2)
    assert(s2.clusters == 8 && s2.keepers == 8, s2)

    // The manifest keeps exactly the per-residue min ids (0..7); a
    // corpus application drops everything else, keeps unseen docs.
    val kept = DedupPipeline.applyManifest(
      (0L until 60L).map(i => (i, s"ignored")).toDF("doc_id", "text")
        .union(Seq((999L, "unseen")).toDF("doc_id", "text")),
      DedupPipeline.keeperManifest(spark, root))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === (0L until 8L).toSet + 999L, kept)

    // Replay idempotence rides the same batch-keyed logs.
    val before = graft.operators.ClusterLabels.latestBatch(spark, root)
    DedupPipeline.runOnceVectors(spark, root, batch2, batchKey = Some("b2"))
    assert(graft.operators.ClusterLabels.latestBatch(spark, root) == before)
    assert(DedupPipeline.keeperManifest(spark, root)
      .where($"keep").count() == 8)
  }

  test("vector twin: labels and manifest carry over a mid-loop refreeze unchanged") {
    import graft.operators.{ClusterLabels, CosineDedupIndex, Relational}
    import graft.functions.TextSim
    val root = Files.createTempDirectory("graft_dp_vec_refreeze").toString
    // Real embeddings so the mask ladder actually crosses between
    // |batch 1| = 200 (mask 16) and live = 400 (mask 32).
    val vecs = Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select("vec_id", "embedding")
    def slice(lo: Long, hi: Long) =
      vecs.where(s"vec_id >= $lo AND vec_id < $hi")

    DedupPipeline.runOnceVectors(spark, root, slice(0, 200), batchKey = Some("b1"))
    DedupPipeline.runOnceVectors(spark, root, slice(200, 400), batchKey = Some("b2"))
    assert(CosineDedupIndex.needsRefreeze(spark, root))
    CosineDedupIndex.refreeze(spark, root)
    DedupPipeline.runOnceVectors(spark, root, slice(400, 500), batchKey = Some("b3"))

    // Reference: CC over the ACCUMULATED pair history — batches 1–2
    // surfaced pairs under the frozen mask, batch 3 under the refrozen
    // one. Pre-refreeze pairs are facts about the vectors; the
    // migration must not relabel or drop them.
    val mask1 = TextSim.lshMaskValue(200L).toLong
    val mask2 = TextSim.lshMaskValue(400L).toLong
    val enc1 = graft.CacheJanitor.register(
      CosineDedupIndex.encode(slice(0, 400), mask1).persist())
    val enc2 = graft.CacheJanitor.register(
      CosineDedupIndex.encode(vecs, mask2).persist())
    def ps(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hist =
      ps(CosineDedupIndex.deltaPairs(enc1.where("vec_id < 200"), enc1.where("vec_id < 200"))) ++
      ps(CosineDedupIndex.deltaPairs(enc1, enc1.where("vec_id >= 200"))) ++
      ps(CosineDedupIndex.deltaPairs(enc2, enc2.where("vec_id >= 400")))
    val cc = Relational.connectedComponents(
        hist.toSeq.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (0L until 500L).map(d => d -> cc.getOrElse(d, d)).toMap

    val got = ClusterLabels.read(spark, root)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    CacheJanitor.drain()
    assert(got === want,
      "persisted labels must equal CC over the accumulated pair history across the migration")
    val keepers = DedupPipeline.keeperManifest(spark, root)
      .where($"keep").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keepers === want.values.toSet, "keepers must be the component min-ids")
  }

  test("health: packaged drift/compaction/takedown signals per root") {
    import graft.operators.{ClusterLabels, CosineDedupIndex}
    // The natural FIRST poll happens before any batch lands: zeros,
    // not an exception on the missing log directory.
    val virgin = Files.createTempDirectory("graft_dp_virgin").toString
    assert(DedupPipeline.health(spark, virgin, vector = true) ==
      DedupPipeline.Health(0, 0, 0, 0, 0, needsRefreeze = false, needsCompaction = false))
    val root = Files.createTempDirectory("graft_dp_health").toString
    def vec(i: Long) = (0 until 8).map(d => if (d == (i % 8).toInt) 1.0f else 0.0f)
    val batch1 = (0L until 40L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val batch2 = (40L until 60L).map(i => (i, vec(i))).toDF("vec_id", "embedding")

    DedupPipeline.runOnceVectors(spark, root, batch1, batchKey = Some("b1"))
    val h1 = DedupPipeline.health(spark, root, vector = true)
    assert(h1.liveDocs == 40 && h1.tombstoned == 0 && h1.keepers == 8, h1)
    assert(h1.labelledDocs == 40 && h1.labelLogRows == 40, h1)
    assert(!h1.needsRefreeze && !h1.needsCompaction, h1)

    DedupPipeline.runOnceVectors(spark, root, batch2, batchKey = Some("b2"))
    CosineDedupIndex.remove(spark, root, Seq(39L))
    val h2 = DedupPipeline.health(spark, root, vector = true)
    assert(h2.liveDocs == 59 && h2.tombstoned == 1 && h2.keepers == 8, h2)
    assert(h2.labelledDocs == 60 && h2.labelLogRows > 60,
      s"batch 2 must append touched-component history: $h2")
    assert(h2.needsCompaction == (h2.labelLogRows > 2 * h2.labelledDocs), h2)

    // Compaction repays the delta history: raw == fold afterwards.
    ClusterLabels.compact(spark, root)
    val h3 = DedupPipeline.health(spark, root, vector = true)
    assert(h3.labelLogRows == h3.labelledDocs && !h3.needsCompaction, h3)
    assert(h3.keepers == 8 && h3.liveDocs == 59, h3)

    // Text roots: same surface, needsRefreeze constant false (the
    // signature index freezes no corpus-derived parameter).
    val troot = Files.createTempDirectory("graft_dp_health_text").toString
    DedupPipeline.runOnce(spark, troot, batchA.toDF("doc_id", "text"),
      batchKey = Some("b1"))
    val th = DedupPipeline.health(spark, troot)
    assert(th.liveDocs > 0 && !th.needsRefreeze, th)
  }

  test("health: recovers a crashed compaction swap before probing; refuses legacy roots") {
    import java.nio.file.Paths
    import graft.operators.{SignatureIndex, Tombstones}
    // Crash state: compaction died between commitCompaction's intent
    // and the rename of the fully-staged tmp. Health must run the
    // index's crash recovery first, landing the recorded stage.
    val root = Files.createTempDirectory("graft_dp_health_swap").toString
    DedupPipeline.runOnce(spark, root, docs(batchA: _*), batchKey = Some("b1"))
    CacheJanitor.drain()
    val dest = s"$root/signatures"
    val tmp = SwapCrash.beforeRename(spark, dest,
      SignatureIndex.readIndex(spark, root), clears = Some(root))
    CacheJanitor.drain()
    val h = DedupPipeline.health(spark, root)
    // 3, not 4: doc 7 is unshingleable and never enters the signature
    // log (it is a singleton by definition in the label state).
    assert(h.liveDocs == 3, s"health must adopt the staged compaction, got $h")
    assert(Tombstones.dir(root) != null && !java.nio.file.Files.exists(Paths.get(tmp)),
      "recovery must complete the swap, not leave the stage behind")

    // A legacy flat-append root refuses loudly — a silent liveDocs = 0
    // for a root full of pre-format rows is the bug class the format
    // marker exists to prevent.
    val lroot = Files.createTempDirectory("graft_dp_health_legacy").toString
    SignatureIndex.signatures(docs(batchA: _*))
      .write.mode("append").parquet(s"$lroot/signatures")
    val e = intercept[IllegalArgumentException](DedupPipeline.health(spark, lroot))
    assert(e.getMessage.contains("legacy"), e.getMessage)
    CacheJanitor.drain()
  }

  test("maintainOnce: consumes the health signals; answers invariant; batch path stays O(increment)") {
    import scala.jdk.CollectionConverters._
    import graft.operators.CosineDedupIndex
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    def allFiles(root: String): Map[String, (Long, Long)] =
      Files.walk(java.nio.file.Paths.get(root)).iterator().asScala
        .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
        .map(p => p.toString ->
          (Files.getLastModifiedTime(p).toMillis, Files.size(p))).toMap

    // A virgin root polls safely: the natural first maintenance tick of
    // a scheduler fires nothing and throws nothing.
    val virgin = Files.createTempDirectory("graft_dp_maint_virgin").toString
    val mv = DedupPipeline.maintainOnce(spark, virgin, vector = true,
      tombstoneRatio = 0.0, logDepthRatio = 0.0)
    assert(!mv.refrozen && !mv.indexCompacted && !mv.labelsCompacted, mv)

    val root = Files.createTempDirectory("graft_dp_maint").toString
    val vecs = Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select("vec_id", "embedding")
    def slice(lo: Long, hi: Long) =
      vecs.where(s"vec_id >= $lo AND vec_id < $hi")
    // Mask frozen at 200 rows; live 400 crosses the ladder; two takedowns.
    DedupPipeline.runOnceVectors(spark, root, slice(0, 200), batchKey = Some("b1"))
    DedupPipeline.runOnceVectors(spark, root, slice(200, 400), batchKey = Some("b2"))
    CosineDedupIndex.remove(spark, root, Seq(13L, 42L))
    val manifestBefore = asMap(DedupPipeline.keeperManifest(spark, root))

    // Drift predicate fired → refreeze runs and folds the tombstones into
    // its own swap; the separate index compaction is skipped as redundant.
    val m1 = DedupPipeline.maintainOnce(spark, root, vector = true)
    assert(m1.refrozen && !m1.indexCompacted, m1)
    assert(m1.before.needsRefreeze && m1.before.tombstoned == 2, m1.before)
    assert(!m1.after.needsRefreeze && m1.after.tombstoned == 0, m1.after)
    assert(m1.after.liveDocs == 398, m1.after)
    // Maintenance changes representation, never answers.
    assert(asMap(DedupPipeline.keeperManifest(spark, root)) == manifestBefore)

    // Label-log compaction threshold forced: history repaid, raw == fold.
    val m2 = DedupPipeline.maintainOnce(spark, root, vector = true,
      logDepthRatio = 0.0)
    assert(m2.labelsCompacted && !m2.refrozen && !m2.indexCompacted, m2)
    assert(m2.after.labelLogRows == m2.after.labelledDocs, m2.after)
    assert(asMap(DedupPipeline.keeperManifest(spark, root)) == manifestBefore)

    // Tombstone threshold forced (drift quiet now) → index compaction.
    CosineDedupIndex.remove(spark, root, Seq(77L))
    val m3 = DedupPipeline.maintainOnce(spark, root, vector = true,
      tombstoneRatio = 0.0)
    assert(m3.indexCompacted && !m3.refrozen, m3)
    assert(m3.before.tombstoned == 1 && m3.after.tombstoned == 0, m3)
    assert(m3.after.liveDocs == 397, m3.after)
    assert(asMap(DedupPipeline.keeperManifest(spark, root)) == manifestBefore)

    // Nothing tripped → maintenance is a no-op poll.
    val m4 = DedupPipeline.maintainOnce(spark, root, vector = true)
    assert(!m4.refrozen && !m4.indexCompacted && !m4.labelsCompacted, m4)

    // The batch path after maintenance still only ADDS files — the
    // O(increment) contract survives the maintenance cycle.
    val before = allFiles(root)
    DedupPipeline.runOnceVectors(spark, root, slice(400, 500), batchKey = Some("b3"))
    val after = allFiles(root)
    before.foreach { case (f, sig) =>
      assert(after.get(f).contains(sig), s"post-maintenance batch rewrote $f")
    }
    assert(DedupPipeline.health(spark, root, vector = true).liveDocs == 497)

    // Text roots take the same entry: never refreeze (no frozen
    // parameter), compaction thresholds behave identically.
    val troot = Files.createTempDirectory("graft_dp_maint_text").toString
    DedupPipeline.runOnce(spark, troot, docs(batchA: _*), batchKey = Some("b1"))
    graft.operators.SignatureIndex.remove(spark, troot, Seq(2L))
    val tm = DedupPipeline.maintainOnce(spark, troot,
      tombstoneRatio = 0.0, logDepthRatio = 0.0)
    assert(!tm.refrozen && tm.indexCompacted && tm.labelsCompacted, tm)
    assert(tm.after.tombstoned == 0, tm.after)
    CacheJanitor.drain()
  }

  test("maintainOnce: directory-count trigger folds the logs; answers invariant") {
    // An endless loop accretes one directory per batch per log forever
    // (listing + file-open cost growing with batch count — the residual
    // O(#dirs) term the x100 loop measures in its maintain poll). Past
    // maxLogDirs, maintenance folds even with zero tombstones.
    import graft.operators.{BatchLog, ClusterLabels, SignatureIndex}
    val root = Files.createTempDirectory("graft_dp_dirs").toString
    DedupPipeline.runOnce(spark, root, docs(batchA: _*), batchKey = Some("b1"))
    DedupPipeline.runOnce(spark, root, docs(batchB: _*), batchKey = Some("b2"))
    DedupPipeline.runOnce(spark, root,
      docs(10L -> "yet another entirely unrelated document body right here"),
      batchKey = Some("b3"))
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val manifestBefore = asMap(DedupPipeline.keeperManifest(spark, root))
    assert(BatchLog.committedKeys(spark, s"$root/signatures").size == 3)

    val m = DedupPipeline.maintainOnce(spark, root, maxLogDirs = 2)
    assert(m.indexCompacted && m.labelsCompacted, m)
    assert(BatchLog.committedKeys(spark, s"$root/signatures").size == 1,
      "the signature log must fold to one directory")
    assert(BatchLog.committedKeys(spark, ClusterLabels.dir(root)).size == 1,
      "the label log must fold to one directory")
    assert(SignatureIndex.derivedCovered(spark, root),
      "the derived posting/df cache must be rebuilt with the fold")
    assert(asMap(DedupPipeline.keeperManifest(spark, root)) == manifestBefore,
      "compaction changes representation, never answers")
    // Below the threshold nothing fires.
    val m2 = DedupPipeline.maintainOnce(spark, root, maxLogDirs = 2)
    assert(!m2.indexCompacted && !m2.labelsCompacted, m2)
    CacheJanitor.drain()
  }

  test("pinned snapshot: scheduled materialization, stale until refreshed") {
    // One superseded pin kept by count, none by grace.
    SparkSpec.withProps("graft.swap.grace.ms" -> "0", "graft.swap.keep.versions" -> "1") {
      val root = Files.createTempDirectory("graft_dp_pin").toString
      DedupPipeline.runOnce(spark, root, docs(batchA: _*), batchKey = Some("b1"))
      DedupPipeline.snapshotManifest(spark, root)
      def asMap(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      val pinned1 = asMap(DedupPipeline.pinnedManifest(spark, root))
      assert(pinned1 === asMap(DedupPipeline.keeperManifest(spark, root)),
        "a fresh pin equals the live manifest")

      DedupPipeline.runOnce(spark, root, docs(batchB: _*), batchKey = Some("b2"))
      // The pin is reproducible state: batch 2 must NOT move it...
      assert(asMap(DedupPipeline.pinnedManifest(spark, root)) === pinned1)
      // ...while the live manifest reflects the merge immediately.
      assert(asMap(DedupPipeline.keeperManifest(spark, root)) !== pinned1)
      // A scheduled refresh re-pins; the previous version stays readable
      // under graft.swap.keep.versions = 1 (time travel / overlapping
      // readers).
      DedupPipeline.snapshotManifest(spark, root)
      assert(asMap(DedupPipeline.pinnedManifest(spark, root)) ===
        asMap(DedupPipeline.keeperManifest(spark, root)))
      val versions = graft.operators.VersionedState.committedVersions(
        graft.operators.VersionedState.fsOf(spark, root), s"$root/keeper_manifest")
      assert(versions.size == 2, s"two retained versions expected: $versions")
      assert(asMap(graft.sources.LandingLog.readSnapshotAt(spark, root,
        "keeper_manifest", versions.head)) === pinned1)
    }
  }
}
