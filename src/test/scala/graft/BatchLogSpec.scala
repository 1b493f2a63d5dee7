package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.operators.{AnnIndex, BatchLog, ClusterLabels, CosineDedupIndex, PqIndex, RefreezeProtocol, SignatureIndex, Tombstones, VersionedState}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Replay idempotence of the batch-keyed index logs: a driver that dies
  * AFTER a batch's append committed and then replays the batch (the
  * standard at-least-once retry) must leave every index byte-equivalent
  * to a single ingest — no duplicate signature/code rows, no inflated
  * delta pairs or stats, no burned label batch numbers. Plus the legacy
  * (pre-batch-format) layout gate: unversioned roots are refused loudly. */
class BatchLogSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  private val batchA = Seq(
    1L -> "the quick brown fox jumps over the lazy dog today",
    2L -> "the quick brown fox jumps over the lazy cat today",
    3L -> "completely different text about spark engines and parquet files")
  private val batchB = Seq(
    4L -> "the quick brown fox jumps over the lazy dog yesterday",
    5L -> "another unrelated document with entirely distinct words inside",
    6L -> "completely different text about spark engines and parquet files")

  // Listed through the version pointer: post-swap roots hold their
  // current batch dirs inside _versions/<n> (the superseded flat state
  // lingers for grace-GC and must not be mistaken for the log).
  private def batchDirs(path: String): Seq[String] = {
    val rp = BatchLog.resolve(spark, path)
    if (!Files.isDirectory(Paths.get(rp))) Seq.empty
    else Files.list(Paths.get(rp)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("batch_key=")).toSeq.sorted
  }

  private def pairSet(df: DataFrame) =
    df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("signature index: replaying a keyed batch replaces itself — state equals a single ingest") {
    val root = Files.createTempDirectory("graft_bk_sig").toString
    SignatureIndex.ingest(spark, root, docs(batchA: _*), batchKey = Some("b1"))
    val b2 = SignatureIndex.ingest(spark, root, docs(batchB: _*), batchKey = Some("b2"))
    val wantPairs = pairSet(b2.deltaPairs)
    val wantRows = SignatureIndex.readIndex(spark, root)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    CacheJanitor.drain()

    // Crash-after-commit retry: same increment, same key.
    val replay = SignatureIndex.ingest(spark, root, docs(batchB: _*), batchKey = Some("b2"))
    val replayPairs = pairSet(replay.deltaPairs)
    val gotRows = SignatureIndex.readIndex(spark, root)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    CacheJanitor.drain()

    assert(gotRows == wantRows, "replay must not add rows")
    assert(SignatureIndex.readIndex(spark, root).count() == wantRows.size,
      "no duplicate physical rows after replay")
    assert(replayPairs == wantPairs, "replayed delta pairs must equal the original batch's")
    assert(batchDirs(s"$root/signatures") == Seq("batch_key=bb1", "batch_key=bb2"),
      "replay must reuse its own batch directory, not append a third")
  }

  test("cluster labels: a replayed merge reproduces its own batch number and state") {
    val root = Files.createTempDirectory("graft_bk_lbl").toString
    def labelMap() = ClusterLabels.read(spark, root)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    ClusterLabels.merge(spark, root,
      Seq((1L, 2L)).toDF("doc_a", "doc_b"),
      Seq(1L, 2L, 3L).toDF("doc_id"), batchKey = Some("b1"))
    ClusterLabels.merge(spark, root,
      Seq((2L, 4L)).toDF("doc_a", "doc_b"),
      Seq(4L, 5L).toDF("doc_id"), batchKey = Some("b2"))
    CacheJanitor.drain()
    val want = labelMap()
    val wantBatch = ClusterLabels.latestBatch(spark, root)
    val wantLogRows = spark.read.parquet(BatchLog.resolve(spark, ClusterLabels.dir(root))).count()

    // Replay batch 2 after a simulated crash-after-commit.
    ClusterLabels.merge(spark, root,
      Seq((2L, 4L)).toDF("doc_a", "doc_b"),
      Seq(4L, 5L).toDF("doc_id"), batchKey = Some("b2"))
    CacheJanitor.drain()

    assert(labelMap() == want, "labels must be unchanged by the replay")
    assert(ClusterLabels.latestBatch(spark, root) == wantBatch,
      "replay must not burn a batch number")
    assert(spark.read.parquet(BatchLog.resolve(spark, ClusterLabels.dir(root))).count() == wantLogRows,
      "replay must not grow the label log")
    assert(batchDirs(ClusterLabels.dir(root)) == Seq("batch_key=bb1", "batch_key=bb2"))
    // keeperDelta of the replayed batch is still one coherent delta.
    assert(ClusterLabels.keeperDelta(spark, root, wantBatch).count() > 0)
  }

  test("cosine index: replayed ingest leaves codes, deltas, and mask as a single ingest") {
    val root = Files.createTempDirectory("graft_bk_cos").toString
    def vec(seed: Long) = Array.tabulate(8)(i => if (i == (seed % 8).toInt) 1.0f else 0.0f)
    val va = (0L until 40L).map(i => (i, vec(i).toSeq)).toDF("vec_id", "embedding")
    val vb = (40L until 60L).map(i => (i, vec(i).toSeq)).toDF("vec_id", "embedding")

    CosineDedupIndex.ingest(spark, root, va, batchKey = Some("b1"))
    val b2 = CosineDedupIndex.ingest(spark, root, vb, batchKey = Some("b2"))
    val wantPairs = b2.deltaPairs.select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantCount = CosineDedupIndex.readIndex(spark, root).count()
    val mask = CosineDedupIndex.frozenMask(spark, root).get
    CacheJanitor.drain()

    val replay = CosineDedupIndex.ingest(spark, root, vb, batchKey = Some("b2"))
    val gotPairs = replay.deltaPairs.select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    CacheJanitor.drain()

    assert(CosineDedupIndex.readIndex(spark, root).count() == wantCount)
    assert(gotPairs == wantPairs)
    assert(CosineDedupIndex.frozenMask(spark, root).contains(mask))
    assert(batchDirs(s"$root/codes") == Seq("batch_key=bb1", "batch_key=bb2"))
  }

  test("ANN indexes: replayed ingest leaves codes identical to a single ingest") {
    val dir0 = "/root/testdata/sf0.01"
    val vecs = Tables.embeddings(spark, dir0).select("vec_id", "embedding")
    def codeSet(df: DataFrame) =
      df.select("vec_id", "cell", "codes").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet

    val rootA = Files.createTempDirectory("graft_bk_ann").toString
    AnnIndex.ingest(spark, rootA, vecs.where(col("vec_id") < 250), batchKey = Some("b1"))
    val b2 = AnnIndex.ingest(spark, rootA, vecs.where(col("vec_id") >= 250), batchKey = Some("b2"))
    val want = codeSet(b2.allCodes); CacheJanitor.drain()
    val rep = AnnIndex.ingest(spark, rootA, vecs.where(col("vec_id") >= 250), batchKey = Some("b2"))
    assert(codeSet(rep.allCodes) == want)
    assert(rep.allCodes.count() == want.size, "no duplicate rows after replay")
    CacheJanitor.drain()
    assert(batchDirs(s"$rootA/codes") == Seq("batch_key=bb1", "batch_key=bb2"))

    val rootP = Files.createTempDirectory("graft_bk_pq").toString
    PqIndex.ingest(spark, rootP, vecs.where(col("vec_id") < 250), batchKey = Some("b1"))
    val p2 = PqIndex.ingest(spark, rootP, vecs.where(col("vec_id") >= 250), batchKey = Some("b2"))
    val wantP = codeSet(p2.allCodes); CacheJanitor.drain()
    val repP = PqIndex.ingest(spark, rootP, vecs.where(col("vec_id") >= 250), batchKey = Some("b2"))
    assert(codeSet(repP.allCodes) == wantP)
    assert(repP.allCodes.count() == wantP.size, "no duplicate rows after replay")
    CacheJanitor.drain()
  }

  test("row-count sidecars: driver-side totals == footer counts; any gap falls back") {
    val root = Files.createTempDirectory("graft_bk_rows").toString
    SignatureIndex.ingest(spark, root, docs(batchA: _*), batchKey = Some("b1"))
    SignatureIndex.ingest(spark, root, docs(batchB: _*), batchKey = Some("b2"))
    CacheJanitor.drain()
    val log = s"$root/signatures"
    val footer = spark.read.parquet(BatchLog.resolve(spark, log)).count()
    assert(BatchLog.committedRowCount(spark, log).contains(footer),
      "sidecar total must equal the footer count")

    // Replay overwrites its directory — the sidecar must follow, not stack.
    SignatureIndex.ingest(spark, root, docs(batchB: _*), batchKey = Some("b2"))
    CacheJanitor.drain()
    assert(BatchLog.committedRowCount(spark, log).contains(footer))

    // A crashed sidecar write (simulated): the total must become None —
    // callers fall back to the footer job, never a wrong number.
    val p = Paths.get(BatchLog.dirOf(log, BatchLog.sanitize("b1")), "_row_count.json")
    Files.delete(p)
    assert(BatchLog.committedRowCount(spark, log).isEmpty,
      "a directory without a sidecar must force the footer fallback")
    Files.write(p, "{\"rows\": garbage".getBytes("UTF-8"))
    assert(BatchLog.committedRowCount(spark, log).isEmpty,
      "a torn sidecar must force the footer fallback, loudly, never throw")

    // Compaction rewrites the log into one fold directory WITH a fresh
    // sidecar — the fast path heals along with the stats chain. The
    // footer read must RESOLVE first: a raw read of the logical dir
    // would count the superseded flat state that grace-GC has not swept.
    SignatureIndex.compact(spark, root)
    assert(BatchLog.committedRowCount(spark, log)
      .contains(spark.read.parquet(BatchLog.resolve(spark, log)).count()))
  }

  test("keyless ingests still accumulate distinct auto-keyed batches") {
    val root = Files.createTempDirectory("graft_bk_auto").toString
    SignatureIndex.ingest(spark, root, docs(batchA: _*))
    SignatureIndex.ingest(spark, root, docs(batchB: _*))
    CacheJanitor.drain()
    assert(batchDirs(s"$root/signatures") == Seq("batch_key=a00001", "batch_key=a00002"))
    assert(SignatureIndex.readIndex(spark, root).count() == 6)
    CacheJanitor.drain()
  }

  test("replaying a batch folded away by compaction is a no-op — never a double-append") {
    val root = Files.createTempDirectory("graft_bk_retired").toString
    SignatureIndex.ingest(spark, root, docs(batchA: _*), batchKey = Some("mb0"))
    SignatureIndex.ingest(spark, root, docs(batchB: _*), batchKey = Some("mb1"))
    CacheJanitor.drain()
    SignatureIndex.compact(spark, root)
    assert(SignatureIndex.readIndex(spark, root).count() == 6)
    // At-least-once crash replay of the LAST landing batch arrives
    // AFTER the fold absorbed it: the retirement ledger makes the
    // append a no-op instead of duplicating every row beside the fold.
    SignatureIndex.ingest(spark, root, docs(batchB: _*), batchKey = Some("mb1"))
    CacheJanitor.drain()
    assert(SignatureIndex.readIndex(spark, root).count() == 6,
      "a retired batch key must not double-append across compaction")
    // A genuinely NEW batch still lands normally.
    SignatureIndex.ingest(spark, root,
      docs(7L -> "yet another brand new document with fresh words inside"),
      batchKey = Some("mb2"))
    CacheJanitor.drain()
    assert(SignatureIndex.readIndex(spark, root).count() == 7)
    // Keyless (auto-numbered) appends never re-mint a retired number:
    // their rows must accumulate, not vanish into a no-op.
    SignatureIndex.ingest(spark, root,
      docs(8L -> "one more completely distinct document about file formats"))
    CacheJanitor.drain()
    assert(SignatureIndex.readIndex(spark, root).count() == 8,
      "an auto key colliding with a retired number would silently no-op")
  }

  test("compaction never retires an uncommitted partial — its replay still lands") {
    val root = Files.createTempDirectory("graft_bk_partial_compact").toString
    SignatureIndex.ingest(spark, root, docs(batchA: _*), batchKey = Some("mb0"))
    CacheJanitor.drain()
    // Crash state: batch mb1's append died mid-write — its directory
    // holds only hidden task state, so its rows are NOT in any fold.
    val partial = s"$root/signatures/batch_key=${BatchLog.sanitize("mb1")}/_temporary"
    Files.createDirectories(Paths.get(partial))
    Files.write(Paths.get(s"$partial/part-x"), "partial".getBytes("UTF-8"))
    SignatureIndex.compact(spark, root)
    assert(SignatureIndex.readIndex(spark, root).count() == 3)
    // The at-least-once replay of mb1 must still LAND — retiring the
    // uncommitted key would have turned the replay into a permanent
    // no-op and lost the batch.
    SignatureIndex.ingest(spark, root, docs(batchB: _*), batchKey = Some("mb1"))
    CacheJanitor.drain()
    assert(SignatureIndex.readIndex(spark, root).count() == 6,
      "an uncommitted partial's key must not be retired by compaction")
  }

  test("a new-mapping directory is never hijacked through the legacy fallback") {
    val root = Files.createTempDirectory("graft_bk_hijack").toString
    // Key 1's mapping escapes '_' to _005f: directory bx_005f0abc.
    SignatureIndex.ingest(spark, root, docs(batchA: _*), batchKey = Some("x_0abc"))
    // Key 2 escapes '*' to _002a: bx_002a005f0abc. A lossy mapping that
    // collapsed '*' to '_' would have named it bx_005f0abc — key 1's
    // directory — and overwritten key 1's batch.
    SignatureIndex.ingest(spark, root, docs(batchB: _*), batchKey = Some("x*005f0abc"))
    CacheJanitor.drain()
    assert(batchDirs(s"$root/signatures").size == 2,
      "a fresh root's keys must never resolve through a lossy mapping")
    assert(SignatureIndex.readIndex(spark, root).count() == 6)
  }

  test("compaction retires only the batches its fold actually read") {
    val root = Files.createTempDirectory("graft_bk_race").toString
    val dest = s"$root/signatures"
    val tmp = s"$dest.__compact_tmp"
    SignatureIndex.ingest(spark, root, docs(batchA: _*), batchKey = Some("mb0"))
    CacheJanitor.drain()
    // The fold frame lists the log's files NOW (scan snapshot)…
    val fold = SignatureIndex.readIndex(spark, root)
    // …then a racing at-least-once replay commits batch mb1 — AFTER the
    // listing, so the fold holds none of its rows.
    SignatureIndex.ingest(spark, root, docs(batchB: _*), batchKey = Some("mb1"))
    CacheJanitor.drain()
    BatchLog.stageRewrite(fold, dest, tmp)
    Tombstones.commitCompaction(spark, root, tmp, dest)
    // mb1's directory died in the swap — but its key must NOT be
    // retired (the fold never absorbed it), so the replay still lands
    // the batch instead of being vetoed forever.
    assert(SignatureIndex.readIndex(spark, root).count() == 3)
    SignatureIndex.ingest(spark, root, docs(batchB: _*), batchKey = Some("mb1"))
    CacheJanitor.drain()
    assert(SignatureIndex.readIndex(spark, root).count() == 6,
      "a batch committing after the fold's listing must stay replayable")
  }

  test("a sealed IVF refreeze stage without its in-stage quantizer is dropped, never committed") {
    val root = Files.createTempDirectory("graft_bk_husk").toString
    val vecs = Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select("vec_id", "embedding")
    AnnIndex.ingest(spark, root, vecs.where(col("vec_id") < 100))
    CacheJanitor.drain()
    val q0 = vecs.where(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def top() = AnnIndex.topK(spark, root, q0, k = 3).collect().map(_.toString).toSet
    val clean = top()
    def files(dir: String): Map[String, (Long, Long)] =
      Files.walk(Paths.get(dir)).iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)).toMap
    val before = files(s"$root/codes") ++ files(s"$root/quantizer")
    val resolvedBefore = BatchLog.resolve(spark, s"$root/codes")
    // A husk: staged codes and the completion marker, but no in-stage
    // `_quantizer`. Committing it would install new codes under the old
    // quantizer; recovery must drop it like a marker-only husk.
    val ctmp = s"$root/codes.__refreeze_tmp"
    BatchLog.stageRewrite(
      BatchLog.read(spark, s"$root/codes", "test"), s"$root/codes", ctmp,
      partitionBy = Seq("cell"))
    RefreezeProtocol.sealStage(spark, ctmp, "ann")
    assert(top() == clean)
    CacheJanitor.drain()
    assert(!Files.exists(Paths.get(ctmp)), "recovery must drop the husk")
    assert(BatchLog.resolve(spark, s"$root/codes") == resolvedBefore,
      "the husk must not commit a new codes version")
    assert(files(s"$root/codes") ++ files(s"$root/quantizer") == before,
      "live codes and quantizer must be left untouched")
  }

  test("refreeze refuses a corpus with missing or duplicate live ids") {
    val root = Files.createTempDirectory("graft_bk_refreeze_corpus").toString
    val vecs = Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select("vec_id", "embedding")
    AnnIndex.ingest(spark, root, vecs.where(col("vec_id") < 100))
    CacheJanitor.drain()
    val missing = intercept[IllegalArgumentException](
      AnnIndex.refreeze(spark, root, vecs.where(col("vec_id") < 50)))
    assert(missing.getMessage.contains("missing"), missing.getMessage)
    val dups = intercept[IllegalArgumentException](
      AnnIndex.refreeze(spark, root,
        vecs.where(col("vec_id") < 100).unionAll(vecs.where(col("vec_id") === 7))))
    assert(dups.getMessage.contains("duplicate"), dups.getMessage)
    // The aborts left the index untouched and still answering.
    val q0 = vecs.where(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    assert(AnnIndex.topK(spark, root, q0, k = 1).count() == 1)
    CacheJanitor.drain()
  }

  test("distinct caller keys always land in distinct batch directories") {
    val root = Files.createTempDirectory("graft_bk_inject").toString
    // These two keys differ only in a character the old lossy sanitize
    // collapsed to '_' — a collision would make batch 2 OVERWRITE
    // batch 1 through the replay-idempotent mode(overwrite).
    SignatureIndex.ingest(spark, root, docs(batchA: _*), batchKey = Some("2026:01"))
    SignatureIndex.ingest(spark, root, docs(batchB: _*), batchKey = Some("2026_01"))
    CacheJanitor.drain()
    assert(batchDirs(s"$root/signatures").size == 2,
      "distinct caller keys must map to distinct directories")
    assert(SignatureIndex.readIndex(spark, root).count() == 6)
  }

  test("a crash mid-FIRST-append leaves a partial the replay repairs — reads see empty, not an error") {
    val root = Files.createTempDirectory("graft_bk_partial").toString
    val labels = s"$root/labels"
    // Simulate the crash state: the batch directory exists but holds
    // only uncommitted _temporary task state (no committed data files).
    Files.createDirectories(Paths.get(s"$labels/batch_key=bmb0/_temporary"))
    Files.write(Paths.get(s"$labels/batch_key=bmb0/_temporary/part-x"),
      "partial".getBytes("UTF-8"))
    Files.write(Paths.get(s"$labels/${BatchLog.markerName}"), Array.empty[Byte])
    // Reads must classify this as EMPTY (not throw schema inference
    // errors on a log whose only batch is hidden task state).
    assert(ClusterLabels.read(spark, root).count() == 0)
    assert(ClusterLabels.latestBatch(spark, root) == 0L)
    // The at-least-once replay of the same batch key overwrites the
    // partial directory and the merge proceeds normally.
    ClusterLabels.merge(spark, root,
      Seq((1L, 2L)).toDF("doc_a", "doc_b"),
      Seq(1L, 2L, 3L).toDF("doc_id"), batchKey = Some("mb0"))
    CacheJanitor.drain()
    val got = ClusterLabels.read(spark, root)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L), got)
  }

  test("a legacy flat label log is refused loudly on READ paths") {
    val root = Files.createTempDirectory("graft_bk_legacy_labels").toString
    // Pre-batch-format label log: flat parquet rows, no marker.
    Seq((1L, 1L, 1L), (2L, 1L, 1L), (3L, 3L, 2L))
      .toDF("doc_id", "label", "batch")
      .write.mode("append").parquet(s"$root/labels")
    // Every read path must refuse — a silent empty read here would
    // ignore the entire accumulated label history.
    for (probe <- Seq(
      () => ClusterLabels.read(spark, root).collect(),
      () => { ClusterLabels.latestBatch(spark, root); () },
      () => { ClusterLabels.logDepth(spark, root); () })) {
      val e = intercept[IllegalArgumentException](probe())
      assert(e.getMessage.contains("legacy"), e.getMessage)
    }
  }

  test("a legacy flat-append root is refused loudly") {
    val root = Files.createTempDirectory("graft_bk_legacy").toString
    // Simulate a pre-change index: flat parquet files, UNSORTED shingle
    // arrays (array_distinct order), no format marker.
    val legacyRows = SignatureIndex.signatures(docs(batchA: _*))
      .select(col("doc_id"), reverse(col("shs")).as("shs"))
    legacyRows.write.mode("append").parquet(s"$root/signatures")

    val e = intercept[IllegalArgumentException](
      SignatureIndex.readIndex(spark, root).collect())
    assert(e.getMessage.contains("legacy"), e.getMessage)
    val e2 = intercept[IllegalArgumentException](
      SignatureIndex.ingest(spark, root, docs(batchB: _*)))
    assert(e2.getMessage.contains("legacy"), e2.getMessage)
    assert(e2.getMessage.contains("rebuild"), e2.getMessage)
    CacheJanitor.drain()
  }

  // ----------------------- swap-intent cross-protocol recovery (r16 HIGH)

  /** Stage a full fold of the log at `dest` into `tmp`, as a swap's
    * stage step would (the raw log: tombstoned rows included). */
  private def stageFold(dest: String, tmp: String): Unit = {
    BatchLog.stageRewrite(BatchLog.read(spark, dest, "test"), dest, tmp)
    ()
  }

  test("a finished swap's dangling intent must not make compaction recovery clear tombstones") {
    // The r16 advisory's HIGH finding: several protocols swap into one
    // dest, and a crash after a swap's rename but before its intent
    // delete leaves the marker with NO tmp on disk. A dest-keyed,
    // content-less marker made the next reader's compaction recovery —
    // probing its OWN __compact_tmp, absent — conclude "rename
    // finished" and CLEAR the tombstone side table: removed ids
    // silently resurfacing. The marker records the swap; a swap that
    // records no tombstone root never clears tombstones.
    val root = Files.createTempDirectory("graft_bk_intent1").toString
    val dest = s"$root/signatures"
    SignatureIndex.ingest(spark, root, docs(batchA: _*), batchKey = Some("b1"))
    CacheJanitor.drain()
    SignatureIndex.remove(spark, root, Seq(2L))
    assert(!SignatureIndex.readIndex(spark, root).collect().map(_.getLong(0)).contains(2L))
    // Crash state: another swap (any tmp but the reader's own
    // __compact_tmp) renamed its stage into version 1 — tmp gone — and
    // lost its commit marker and intent delete. Its fold still holds
    // the tombstoned row 2.
    val tmp = s"$dest.__other_tmp"
    stageFold(dest, tmp)
    Files.createDirectories(Paths.get(VersionedState.versionsDir(dest)))
    Files.move(Paths.get(tmp), Paths.get(VersionedState.versionDir(dest, 1)))
    SwapCrash.intent(spark, dest, tmp, ver = 1, clears = None)
    // Any reader path runs recoverSwap(dest.__compact_tmp, dest).
    val ids = SignatureIndex.readIndex(spark, root).collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 3L),
      s"a foreign intent must not clear the tombstone table: $ids")
    assert(!Files.exists(Paths.get(s"$dest.__swap_intent")),
      "recovery must clear the completed swap's intent")
    assert(BatchLog.resolve(spark, dest) == VersionedState.versionDir(dest, 1),
      "recovery must commit the version the intent records")
    CacheJanitor.drain()
  }

  test("a swap crashed mid-rename is completed from ITS recorded tmp by any recoverer") {
    val root = Files.createTempDirectory("graft_bk_intent2").toString
    val dest = s"$root/signatures"
    SignatureIndex.ingest(spark, root, docs(batchA: _*), batchKey = Some("b1"))
    CacheJanitor.drain()
    val want = SignatureIndex.readIndex(spark, root)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    // Crash state: the staged tmp is complete, the intent records it,
    // and a copy-based rename died mid-copy — version 1 holds a torn
    // partial copy and no commit marker.
    val tmp = s"$dest.__other_tmp"
    stageFold(dest, tmp)
    SwapCrash.intent(spark, dest, tmp, ver = 1, clears = None)
    val torn = Paths.get(VersionedState.versionDir(dest, 1))
    Files.createDirectories(torn)
    Files.write(torn.resolve("garbage.parquet"), "torn".getBytes("UTF-8"))
    // The reader's recovery (probing __compact_tmp) must adopt the
    // RECORDED tmp, not conclude completion over the torn version.
    val got = SignatureIndex.readIndex(spark, root)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    assert(got == want, "recovery must complete the recorded swap")
    assert(!Files.exists(Paths.get(tmp)) && !Files.exists(Paths.get(s"$dest.__swap_intent")))
    assert(BatchLog.resolve(spark, dest) == VersionedState.versionDir(dest, 1),
      "the recorded tmp must land as the recorded version")
    CacheJanitor.drain()
  }

  test("a compaction intent whose tombstone clear was lost is completed — table cleared — by recovery") {
    val root = Files.createTempDirectory("graft_bk_intent3").toString
    val dest = s"$root/signatures"
    SignatureIndex.ingest(spark, root, docs(batchA: _*), batchKey = Some("b1"))
    CacheJanitor.drain()
    SignatureIndex.remove(spark, root, Seq(2L))
    SignatureIndex.compact(spark, root) // clean commit: tombstones cleared
    CacheJanitor.drain()
    // Crash state: the rename into version 1 finished, tombstone clear +
    // intent delete lost (the fold already excludes id 2; the side table
    // still lists it).
    Tombstones.append(root, Seq(2L).toDF("doc_id"), "doc_id")
    SwapCrash.intent(spark, dest, s"$dest.__compact_tmp", ver = 1, clears = Some(root))
    val ids = SignatureIndex.readIndex(spark, root).collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 3L))
    assert(graft.operators.Tombstones.bytesOnDisk(spark, root) == 0L,
      "recovery must re-run the recorded compaction's tombstone clear")
    assert(!Files.exists(Paths.get(s"$dest.__swap_intent")))
    CacheJanitor.drain()
  }

  test("a torn (empty) intent marker is dropped and a partial abandoned stage is NOT adopted") {
    val root = Files.createTempDirectory("graft_bk_intent4").toString
    val dest = s"$root/signatures"
    SignatureIndex.ingest(spark, root, docs(batchA: _*), batchKey = Some("b1"))
    CacheJanitor.drain()
    val want = SignatureIndex.readIndex(spark, root)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    // Crash state: a writer died INSIDE the marker write (zero bytes
    // landed) — before any destructive step — with a PARTIAL abandoned
    // stage from an earlier unrelated crash also on disk. Recovery must
    // trust dest (no destructive step ran) and drop the partial stage,
    // never adopt it.
    val tmp = Paths.get(s"$dest.__compact_tmp")
    Files.createDirectories(tmp)
    Files.write(tmp.resolve("garbage.parquet"), "not parquet".getBytes("UTF-8"))
    Files.write(Paths.get(s"$dest.__swap_intent"), Array.empty[Byte])
    val got = SignatureIndex.readIndex(spark, root)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    assert(got == want, "a torn marker must leave dest authoritative")
    assert(!Files.exists(tmp), "the partial abandoned stage must be dropped")
    assert(!Files.exists(Paths.get(s"$dest.__swap_intent")))
    CacheJanitor.drain()
  }
}
