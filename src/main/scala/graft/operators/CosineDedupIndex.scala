package graft.operators

import graft.functions.TextSim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained EMBEDDING-COSINE near-dup index — t54's
  * vector-column dedup under [[SignatureIndex]]'s maintenance contract,
  * completing the incremental story for every dedup family member: a
  * landing increment pays for LSH codes of NEW vectors only, never a
  * recompute (or re-bucketing) of the corpus.
  *
  * Persisted state is one parquet directory of `(vec_id, embedding, n2,
  * bucket)` rows: the random-hyperplane sign code (codegen'd
  * `graft_lsh_code`) masked to the index's bucket count, plus the norm
  * the exact-cosine verify needs. The BUCKET MASK IS FROZEN at the first
  * batch (stored in `meta/`, the same freeze discipline as AnnIndex's
  * quantizer): bucket membership must keep its meaning across appends,
  * so later batches reuse it even as the corpus grows past the ladder
  * step the mask was chosen at. The honest cost is bucket occupancy
  * drifting above the ~16-vectors/bucket design point as the corpus
  * outgrows the first batch; [[refreeze]] is the ladder-step migration
  * that pays it down — re-derive the mask from the live count,
  * re-encode survivors, atomic swap ([[occupancy]] is the drift signal
  * to schedule it on) — exactly FAISS's
  * retrain-when-distribution-shifts contract.
  *
  * [[deltaPairs]] finds the batch's near-dup pairs from the NEW side's
  * probes only: Hamming≤1 bucket probing is symmetric (a probes b's
  * bucket iff their codes differ in ≤1 active plane iff b probes a's),
  * so new-probes ⋈ all-buckets yields exactly the pairs touching an
  * increment vector — new-vs-old and new-vs-new, never old-vs-old. The
  * accumulated pair table is the union of per-batch deltas, and
  * [[ClusterLabels.merge]] folds each delta into cluster assignments
  * (the composition `CosineDedupIndexSpec` pins end-to-end).
  *
  * Scale shape: codes are scan-side (one kernel pass per vector, no
  * shuffle); the probe join is an equi-join on integer bucket keys with
  * ~16 vectors/bucket by construction, so candidates are bounded by
  * |increment| × (log2(mask)+1) live probes × occupancy, independent
  * of corpus size; the
  * snapshot is the big side and never moves. Deletion is
  * tombstone-then-compact ([[Tombstones]]), O(removed) per batch.
  *
  * Give each index family its OWN root: the tombstone side table lives
  * at `root/tombstones`, so a [[SignatureIndex]] sharing this root
  * would share (and corrupt) the removal state.
  */
object CosineDedupIndex {

  /** Exact-cosine keeper threshold (t39/t54's verify stage). */
  val cosineMin = 0.4

  private[operators] def codesDir(root: String): String = s"$root/codes"

  // ------------------------------------------- bucket-group fold layout
  //
  // The r13 x100 vecloop measured the per-batch probe read growing
  // linearly with the corpus (8 -> 232 MB at 200k vectors): candidates
  // are bounded, but plain parquet cannot skip the unprobed rows' bytes
  // — above all the heavy embedding column the verify stage touches.
  // Fold-time layout fix (the AnnIndex `cell=` precedent, adapted to
  // the Hamming-probe shape): compaction and refreeze write their fold
  // under a `pgrp=` partition level (pgrp = bucket mod G), while the
  // small per-batch increment appends stay flat — the LSM shape. A
  // probe then reads [pruned fold dirs ∪ flat increment dirs]: EXACT,
  // because a pair needs the corpus side's bucket in the probe set, so
  // rows outside the probed groups cannot join (and candidates' verify
  // rows live in probed groups by the same argument).
  //
  // The honest arithmetic (the r11 bucketBy lesson — run it BEFORE
  // building directories): K live probe keys over G groups hit
  // G·(1-(1-1/G)^K) of them, so pruning binds only when K ≲ G — the
  // SMALL-increment regime (takedown trickles, low-rate ingest). Bulk
  // batches saturate the groups and are gated to the full read, which
  // is then genuinely output-bound, not waste: at gate density the
  // answer itself touches most buckets. The asymptote stays corpus-
  // linear divided by the pruning factor; a true O(increment) point
  // lookup needs a KV store — the same documented floor as the
  // signature df log.

  /** Fold-layout partition column (bucket mod the fold's group count). */
  private[graft] val pgrpCol = "pgrp"

  /** Group-count sidecar inside a fold's batch directory — the layout
    * self-describes, so a reader NEVER derives G from code that may
    * have changed since the fold was written (a wrong G would prune
    * wrong, i.e. silently drop pairs; an unreadable sidecar just
    * disables pruning for that fold). */
  private val pgrpSidecarName = "_pgrp_groups"

  /** Fold group count for a frozen mask: mask/16 targets ~256 vectors
    * per group at the 16/bucket occupancy design point (directory sizes
    * that stay sane at test scale), capped at 65536 directories so a
    * billion-vector fold keeps ~15k rows (several MB) per group. */
  private[graft] def pgrpGroupsFor(mask: Long): Int =
    math.min(65536L, math.max(1L, mask / 16L)).toInt

  /** Saturation gate: above this expected hit fraction the pruned read
    * would touch most directories anyway — take the plain full read
    * (zero extra jobs, no probe collect). */
  private val pgrpSaturation = 0.7

  private def fsOf(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writePgrpSidecar(spark: SparkSession, batchDir: String, g: Int): Unit =
    BatchLog.writeGroupsSidecar(spark, batchDir, pgrpSidecarName, g)

  private def readPgrpSidecar(spark: SparkSession, batchDir: String): Option[Int] =
    BatchLog.readGroupsSidecar(spark, batchDir, pgrpSidecarName) // unreadable => no pruning, never wrong

  /** The staged fold frame for a rewrite of `live` rows under group
    * count `g`: pgrp derived from the stored bucket, one shuffle so
    * each group lands whole in one task (≤ 1 file per `pgrp=` dir).
    * Rows are vec_id-SORTED within each group (partition-local sort, no
    * extra shuffle — the point-lookup layout adopted r19): together
    * with [[BatchLog.pointLookupWriteOptions]]' bounded row groups, a
    * pushed `In(vec_id)` ([[fetch]]) prunes to ~K row groups. Probe
    * reads are order-blind (they filter on `pgrp` and join on bucket),
    * so the bucket road is untouched. */
  private def foldFrame(live: DataFrame, g: Int): DataFrame =
    live.withColumn(pgrpCol, pmod(col("bucket"), lit(g.toLong)))
      .repartition(col(pgrpCol))
      .sortWithinPartitions(col(pgrpCol), col("vec_id"))

  /** The frozen bucket mask, or None before the first batch. Stored
    * through the atomic snapshot protocol (`LandingLog.writeSnapshot`):
    * a crash mid-write of the 1-row meta can never leave a torn state
    * the next ingest misreads — it either sees the committed mask or
    * none at all (and re-freezes identically from the same first
    * batch). Superseded meta versions (one per refreeze) are retained
    * and expired by [[VersionedState]]'s grace rule, like the codes
    * log beside them. */
  def frozenMask(spark: SparkSession, root: String): Option[Long] =
    graft.sources.LandingLog.readSnapshotIfExists(spark, root, "meta")
      .map(_.head.getLong(0))

  /** Scan-side code frame `(vec_id, embedding, n2, bucket)` for a
    * `(vec_id, embedding)` frame under a given mask — pure (t69's
    * oracle query replays it without touching disk). */
  def encode(vectors: DataFrame, mask: Long): DataFrame = {
    graft.functions.GraftFunctions.registerAll(vectors.sparkSession)
    vectors.selectExpr(
      "vec_id", "embedding",
      s"${TextSim.norm2(TextSim.spark, "embedding")} AS n2",
      s"${TextSim.lshCode(TextSim.spark, "embedding")} % ${mask}L AS bucket")
  }

  /** `allCodes` construct-on-first-use (r20) — same contract as
    * [[IvfIndex.Batch]]: pins the log at first access; the pruned pair
    * path never consumes it. `deltaPairs` stays eager (the batch's
    * verified delta at ingest time). */
  final class Batch private[CosineDedupIndex] (val newCodes: DataFrame,
      allCodesF: () => DataFrame, val deltaPairs: DataFrame) {
    lazy val allCodes: DataFrame = allCodesF()
  }
  object Batch {
    def apply(newCodes: DataFrame, allCodes: => DataFrame,
        deltaPairs: DataFrame): Batch =
      new Batch(newCodes, () => allCodes, deltaPairs)
  }

  /** One maintenance batch: freeze the mask on the first call (ladder
    * over the first increment's count), encode the increment ONLY,
    * append, and detect the batch's delta pairs. Increment vec_ids must
    * be new to the index (keep-last dedup is the landing layer's job).
    * `batchKey` is the replay-idempotence handle ([[BatchLog]]): pass
    * the landing batch id and a crash-after-commit retry replaces its
    * own files instead of double-appending. */
  def ingest(spark: SparkSession, root: String, increment: DataFrame,
      batchKey: Option[String] = None): Batch = WriterLease.withLease(spark, root) {
    // Full recovery (refreeze AND compaction swap) BEFORE the append: an
    // ingest landing inside a crashed compaction's commit window would
    // append to the old version, and readIndex's recovery below would
    // then commit the staged fold over it — this increment lost in this
    // very call.
    recoverState(spark, root)
    val mask = frozenMask(spark, root).getOrElse {
      val m = TextSim.lshMaskValue(increment.count()).toLong
      import spark.implicits._
      graft.sources.LandingLog.writeSnapshot(
        Seq(m).toDF("mask").coalesce(1), root, "meta")
      m
    }
    // Cache BEFORE the write so the append populates the cache and the
    // delta join reads it back instead of re-encoding.
    val newCached = graft.CacheJanitor.register(encode(increment, mask).persist())
    val key = BatchLog.append(newCached, codesDir(root), batchKey, "CosineDedupIndex")
    // Lazy (r20): when the pruned live view serves pair detection, the
    // full-index frame is never built — its schema-inference job +
    // listing FS ops only run on the fallback (or at the caller's first
    // allCodes access). `getOrElse` takes it by name.
    lazy val all = readIndex(spark, root)
    // Pair detection runs against the PRUNED live view when the fold
    // layout + probe density allow it (see the fold-layout note above) —
    // answer-identical to the full read by the probe-join argument; the
    // returned Batch still carries the full index frame.
    val corpus = prunedLive(spark, root, newCached, mask, key).getOrElse(all)
    Batch(newCached, all, deltaPairs(corpus, newCached, Some(mask)))
  }

  /** The live rows a probe of `newCodes` can possibly touch, read with
    * fold-directory pruning: partitioned fold dirs restricted to the
    * probe set's bucket groups, flat increment dirs read whole. None
    * when no sidecar-described fold exists, the increment's row count
    * is unknown, or the probe set saturates the groups — callers then
    * take the plain full read (which is optimal at that density). */
  private[graft] def prunedLive(spark: SparkSession, root: String, newCodes: DataFrame,
      mask: Long, batchKey: String): Option[DataFrame] = {
    val path = codesDir(root)
    val parted = BatchLog.partitionedKeys(spark, path, pgrpCol)
    if (parted.isEmpty) return None
    val withG = parted.toSeq.sorted
      .map(k => k -> readPgrpSidecar(spark, BatchLog.dirOfResolved(spark, path, k)))
    // An un-sidecarred fold's G is unknowable — guessing would prune
    // WRONG (silently dropped pairs). No pruning for this batch; the
    // next compaction re-sidecars the layout.
    if (withG.exists(_._2.isEmpty)) return None
    val incRowsOpt = BatchLog.rowCountOf(spark, path, batchKey)
    if (incRowsOpt.isEmpty) return None // sidecar gap: skip, never guess
    // Live probes per vector = log2(mask) flips + the identity bucket
    // (higher flips map >= mask and are filtered before the join).
    val liveProbes = java.lang.Long.numberOfTrailingZeros(mask) + 1
    val k = incRowsOpt.get * liveProbes
    val minG = withG.map(_._2.get).min
    val expectedHit = 1.0 - math.pow(1.0 - 1.0 / minG, k.toDouble)
    if (expectedHit >= pgrpSaturation) return None
    // The probe set, collected once (bounded: <= min(K, mask) longs,
    // and the saturation gate already bounds the fraction of mask).
    val d = TextSim.spark
    val probesExpr = d.arrayOf("bucket" +: (0 until TextSim.lshPlanes)
      .map(j => d.xor("bucket", (1L << j).toString)))
    val probes = newCodes
      .selectExpr(s"explode($probesExpr) AS p").where(col("p") < lit(mask))
      .distinct().collect().map(_.getLong(0))
    val flat = BatchLog.committedKeys(spark, path).filterNot(parted)
    // Tombstones pinned before the fold/flat reads resolve — see
    // [[Tombstones.excluding]] (hand-rolled here because the data frame
    // is assembled from several reads).
    val tomb = Tombstones.read(spark, root, "vec_id")
    val frames = withG.map { case (fk, g0) =>
      val g = g0.get
      val groups = probes.map(p => (p % g).toInt).distinct.toSeq
      val fold = BatchLog.readKeysPartitioned(spark, path, Seq(fk),
        "CosineDedupIndex.probe")
      (if (groups.size >= pgrpSaturation * g) fold
       else fold.where(col(pgrpCol).isin(groups: _*))).drop(pgrpCol)
    } ++ (if (flat.isEmpty) Nil
          else Seq(BatchLog.readKeys(spark, path, flat, "CosineDedupIndex.probe")))
    Some(frames.reduce(_ unionByName _).join(tomb, Seq("vec_id"), "left_anti"))
  }

  /** Live code rows: the snapshot minus tombstoned vec_ids (compaction
    * crash-recovery probed first — see [[Tombstones.recoverSwap]]).
    * `pgrp` is a fold-layout artifact, never part of the row contract —
    * dropped whatever mix of fold and flat directories the log holds. */
  def readIndex(spark: SparkSession, root: String): DataFrame = {
    ReadGuard.recoverForRead(spark, root)(recoverState(spark, root))
    // Read-only after recovery: one manifest snapshot for the read.
    // Tombstones pinned before the codes read — Tombstones.excluding.
    BatchLog.withManifestSnapshot {
      Tombstones.excluding(spark, root, "vec_id") {
        BatchLog.read(spark, codesDir(root), "CosineDedupIndex").drop(pgrpCol)
      }
    }
  }

  /** Point lookup: the live code rows for exactly `ids` — the takedown
    * -verification road. The fold layout groups by BUCKET (`pgrp` — the
    * probe road's pruning axis), so an id probe has no partition filter
    * to push; the adopted layout still bounds it: fold rows are
    * vec_id-sorted within each group with ~1 MB row groups
    * ([[foldFrame]]), so the pushed `In(vec_id)` (session
    * `inFilterThreshold` = 1024 keeps it a literal set) prunes every
    * non-hit ROW GROUP by min/max — ~K row groups of bytes, footers
    * aside, instead of the whole log. Same rows as
    * `readIndex(...).where(id isin ...)` by construction — the filter
    * rides the same tombstone-pinned read. */
  def fetch(spark: SparkSession, root: String, ids: Seq[Long]): DataFrame =
    readIndex(spark, root).where(col("vec_id").isin(ids.map(Long.box): _*))

  /** Crash recovery alone (refreeze + compaction swap windows) — for
    * callers that probe state without reading rows
    * ([[DedupPipeline.health]]); see `SignatureIndex.recoverState`. */
  private[operators] def recoverState(spark: SparkSession, root: String): Unit = {
    refreezeRecover(spark, root)
    Tombstones.recoverSwap(spark,
      s"${codesDir(root)}.__compact_tmp", codesDir(root))
  }

  /** Tombstone vec_ids out of the index — snapshot files stay
    * byte-untouched; the ids vanish from reads and deltas immediately.
    * (Recovery first: a tombstone recorded between a crashed refreeze's
    * stage and its completion would be silently cleared by the deferred
    * commit.) */
  def remove(spark: SparkSession, root: String, ids: Seq[Long]): Unit = WriterLease.withLease(spark, root) {
    import spark.implicits._
    // Compaction recovery too: a tombstone appended inside a crashed
    // compaction's swap window would be cleared when a later reader
    // adopts the staged fold (the recorded commit clears the side table).
    recoverState(spark, root)
    Tombstones.append(root, ids.toDF("vec_id"), "vec_id")
  }

  /** Rewrite the snapshot minus tombstones (mask unchanged — codes keep
    * their meaning) and clear the side table; content-identical to a
    * from-scratch encode of the survivors under the frozen mask. The
    * fold lands under the `pgrp=` bucket-group layout (sidecar-described)
    * so later probe batches can skip unprobed groups' bytes. */
  def compact(spark: SparkSession, root: String): Unit = WriterLease.withLease(spark, root) {
    val path = codesDir(root)
    val tmp = s"$path.__compact_tmp"
    val g = frozenMask(spark, root).map(pgrpGroupsFor).getOrElse(1)
    val foldKey = BatchLog.stageRewrite(foldFrame(readIndex(spark, root), g),
      path, tmp, partitionBy = Seq(pgrpCol),
      writeOptions = BatchLog.pointLookupWriteOptions)
    writePgrpSidecar(spark, BatchLog.dirOf(tmp, foldKey), g)
    Tombstones.commitCompaction(spark, root, tmp, path)
  }

  // ---------------------------------------------------------------- refreeze

  private def refreezeTmp(root: String): String = s"${codesDir(root)}.__refreeze_tmp"

  /** The documented escape hatch for mask drift, implemented: as the
    * corpus outgrows the first batch's ladder step, bucket occupancy
    * climbs past the ~16-vectors/bucket design point and candidate
    * counts grow with it. [[refreeze]] re-derives the mask from the
    * CURRENT live count, re-encodes the survivors under it (embeddings
    * are stored in the code rows, so no external corpus is needed),
    * folds tombstones out, and swaps — afterwards the on-disk state is
    * content-identical to a from-scratch first-batch ingest of the
    * survivors ([[deltaPairs]] semantics carry over unchanged under the
    * new bucketing). This is FAISS's retrain-when-distribution-shifts
    * contract, scheduled by the operator (see [[occupancy]] for the
    * "when").
    *
    * Crash safety: the re-encoded codes are FULLY staged, then a
    * completion marker lands (its presence = "stage complete, commit
    * intended"), then the commit runs — meta snapshot (atomic), codes
    * swap, tombstone clear. Every read/ingest/remove path first calls
    * [[refreezeRecover]]: marker present → the commit is completed
    * idempotently; marker absent → the partial stage is dropped. A
    * crash can therefore never mix old buckets with a new mask. */
  def refreeze(spark: SparkSession, root: String): Unit = WriterLease.withLease(spark, root) {
    refreezeRecover(spark, root, deletePartial = true) // clear any prior attempt
    // With no takedowns pending, the live count is the committed log row
    // count — served driver-side from the write-time sidecars (r20, the
    // DedupPipeline.health pattern). The fold below is then the frame's
    // ONLY consumer, so the persist + count materialization pass is
    // skipped entirely: one scan-side encode straight into the staged
    // rewrite. With tombstones pending the anti-joined count genuinely
    // differs — persist + count as before (the re-encode reads the
    // cache).
    val sidecarN =
      if (Tombstones.isEmpty(spark, root))
        BatchLog.committedRowCount(spark, codesDir(root))
      else None
    val live =
      if (sidecarN.isDefined) readIndex(spark, root)
      else graft.CacheJanitor.register(readIndex(spark, root).persist())
    // finally, not a happy-path tail call: an abort (sealStage's staged
    // -data require, a failed write) must not leak the corpus-sized
    // persisted frame.
    try {
      val liveN = sidecarN.getOrElse(live.count()) // 0-gate and ladder share it
      if (liveN == 0L) return // nothing to migrate
      val newMask = TextSim.lshMaskValue(liveN).toLong
      val tmp = refreezeTmp(root)
      val g = pgrpGroupsFor(newMask)
      val foldKey = BatchLog.stageRewrite(
        foldFrame(encode(live.select(col("vec_id"), col("embedding")), newMask), g),
        codesDir(root), tmp, partitionBy = Seq(pgrpCol),
        writeOptions = BatchLog.pointLookupWriteOptions)
      writePgrpSidecar(spark, BatchLog.dirOf(tmp, foldKey), g)
      RefreezeProtocol.sealStage(spark, tmp, newMask.toString)
      commitRefreeze(spark, root, newMask)
    } finally graft.CacheJanitor.drain()
  }

  /** Drift predicate: true when the LIVE count's ladder step exceeds
    * the frozen mask — the scheduling signal for [[refreeze]], the
    * mask-family mirror of `IvfIndex.needsRefreeze` (same contract:
    * false on an untrained root, false again right after a refreeze).
    * [[occupancy]] is the continuous form when an operator wants a
    * threshold of its own. */
  def needsRefreeze(spark: SparkSession, root: String): Boolean =
    frozenMask(spark, root).exists(m =>
      TextSim.lshMaskValue(readIndex(spark, root).count()).toLong > m)

  /** Packaged ops snapshot ([[IndexHealth]] — one shape across the
    * index family): live/tombstoned counts, bucket-universe size
    * (`frozenCells` = the frozen modulus), occupancy, and the drift
    * predicate, in one scan of the code log. Crash recovery runs first
    * (same contract as [[DedupPipeline.health]]): during a swap window
    * the log dir is legitimately absent while the staged fold is
    * complete — probing without recovering would report live = 0. */
  def health(spark: SparkSession, root: String): IndexHealth = {
    ReadGuard.recoverForRead(spark, root)(recoverState(spark, root))
    frozenMask(spark, root) match {
      case None => IndexHealth.virgin
      case Some(m) =>
        BatchLog.requireFormat(spark, codesDir(root), "CosineDedupIndex.health")
        if (!BatchLog.hasData(spark, codesDir(root)))
          IndexHealth.emptyLog(spark, root, "vec_id", m)
        else IndexHealth.probe(spark, root, readIndex(spark, root),
          "bucket", "vec_id", m, n => TextSim.lshMaskValue(n).toLong > m)
    }
  }

  /** One scheduled maintenance poll ([[IndexMaintenance]] — the
    * standalone-index mirror of `DedupPipeline.maintainOnce`): refreeze
    * on drift (no external corpus needed — embeddings live in the code
    * rows), else compact past the tombstone ratio. */
  def maintain(spark: SparkSession, root: String,
      tombstoneRatio: Double = 0.1, maxLogDirs: Int = 64): IndexMaintenance = WriterLease.withLease(spark, root) {
    val before = health(spark, root)
    val refrozen = before.needsRefreeze
    if (refrozen) refreeze(spark, root)
    // hasData gate: see [[IvfIndex.maintain]] — unfed-root tombstones
    // stay pending rather than being cleared by an empty-log compact.
    // Directory-count trigger: see [[IvfIndex.maintain]].
    val compacted = !refrozen && BatchLog.hasData(spark, codesDir(root)) && (
      (before.tombstoned > 0 &&
        before.tombstoned >= tombstoneRatio * math.max(before.live, 1L)) ||
      BatchLog.committedKeys(spark, codesDir(root)).size > maxLogDirs)
    if (compacted) compact(spark, root)
    IndexMaintenance(refrozen, compacted, before, health(spark, root))
  }

  /** Average live vectors per occupied bucket — the drift signal an
    * operator schedules [[refreeze]] on (design point ~16; the ladder
    * steps in powers of two, so occupancy past ~32 means the corpus has
    * outgrown the frozen step). */
  def occupancy(spark: SparkSession, root: String): Double = {
    val live = readIndex(spark, root)
    val r = live.agg(count(lit(1)).cast("double").as("n"),
      count_distinct(col("bucket")).cast("double").as("b")).head
    if (r.getDouble(1) == 0.0) 0.0 else r.getDouble(0) / r.getDouble(1)
  }

  private def commitRefreeze(spark: SparkSession, root: String, mask: Long): Unit = {
    import spark.implicits._
    graft.sources.LandingLog.writeSnapshot(
      Seq(mask).toDF("mask").coalesce(1), root, "meta")
    Tombstones.commitCompaction(spark, root, refreezeTmp(root), codesDir(root))
  }

  /** Complete or abandon a crashed [[refreeze]] — see its scaladoc.
    * Read paths pass `deletePartial = false`: an UNMARKED stage is
    * invisible to them, and deleting it from a reader would race a
    * refreeze that is legitimately mid-stage in another session
    * (whose later marker write would then resurrect an EMPTY stage —
    * see [[RefreezeProtocol.hasStagedData]]). Only [[refreeze]] itself
    * clears partials, and only before it starts a fresh stage. A
    * MARKED stage is committed only after the staged-data check — a
    * marker-only husk is dropped, never swapped over live codes. */
  private def refreezeRecover(spark: SparkSession, root: String,
      deletePartial: Boolean = false): Unit = {
    val tmp = refreezeTmp(root)
    if (RefreezeProtocol.exists(spark, tmp))
      RefreezeProtocol.readMarker(spark, tmp) match {
        case Some(mask) if RefreezeProtocol.hasStagedData(spark, tmp) =>
          commitRefreeze(spark, root, mask.toLong)
        case Some(_) => RefreezeProtocol.deleteIfExists(spark, tmp)
        case None => if (deletePartial) RefreezeProtocol.deleteIfExists(spark, tmp)
      }
  }

  /** True when `df` is served from the block-manager cache — directly
    * persisted, OR any covered ancestor subtree (the t69/t70 call
    * shapes are `codes.where(...)` over a persisted frame, whose own
    * `storageLevel` is NONE): the optimized plan is probed because
    * that is where the cache manager substitutes covered subtrees with
    * their InMemoryRelation. */
  private[graft] def planCached(df: DataFrame): Boolean =
    df.storageLevel != org.apache.spark.storage.StorageLevel.NONE ||
      df.queryExecution.optimizedPlan.exists {
        case _: org.apache.spark.sql.execution.columnar.InMemoryRelation => true
        case _ => false
      }

  /** Near-dup pairs touching at least one `newCodes` vector: Hamming≤1
    * probe equi-join → normalized distinct candidates → exact cosine ≥
    * [[cosineMin]] on the stored embeddings. With `newCodes == allCodes`
    * this is the from-scratch t54 pair pipeline under the given mask.
    *
    * `mask` (when the caller knows it — [[ingest]] always does) prunes
    * DEAD probes before the join: a flip of a plane at or above
    * log2(mask) yields a key ≥ mask that can match no bucket, so with
    * the 20-plane code only the log2(mask)+1 live probes ship —
    * answer-identical with or without (the oracle templates join the
    * full probe set and agree), purely a probe-volume saver. */
  def deltaPairs(allCodes: DataFrame, newCodes: DataFrame,
      mask: Option[Long] = None): DataFrame = {
    val d = TextSim.spark
    val probes = d.arrayOf("bucket" +: (0 until TextSim.lshPlanes)
      .map(k => d.xor("bucket", (1L << k).toString)))
    val newPAll = newCodes.selectExpr("vec_id", s"explode($probes) AS probe")
    val newP = mask.map(m => newPAll.where(col("probe") < lit(m))).getOrElse(newPAll)
    // The probe join reads only (vec_id, bucket) — parquet prunes the
    // embedding column out of a disk-backed corpus scan entirely.
    val candRaw = newP.join(
        allCodes.select(col("vec_id").as("other_id"), col("bucket")),
        newP("probe") === col("bucket") && newP("vec_id") =!= col("other_id"))
      .select(least(col("vec_id"), col("other_id")).as("vec_a"),
        greatest(col("vec_id"), col("other_id")).as("vec_b"))
      .distinct()
    // Verify-side cost choice, by the corpus frame's storage: DISK-
    // backed (ingest's readIndex) pays one candidate-semi-joined pass
    // over the heavy embedding column instead of streaming the corpus
    // twice; an already-CACHED frame (t69/t70's replay queries, the
    // spec harnesses) joins the cache directly — the semi-join's extra
    // rounds would only re-read memory it cannot save. Same rows, same
    // fold arithmetic, bit-identical cosines either way.
    // `storageLevel` only reflects persistence of the EXACT Dataset
    // reference, so a filtered child of a cached frame (the t69/t70
    // call shapes, `codes.where(...)`) would be misclassified as
    // disk-backed and pay the wasted candidate persist + semi-join
    // passes — so additionally probe the optimized plan, where the
    // cache manager has substituted any covered subtree with its
    // InMemoryRelation.
    val cached = planCached(allCodes)
    val (cand, ea, eb) =
      if (cached)
        (candRaw,
          allCodes.select(col("vec_id").as("vec_a"),
            col("embedding").as("emb_a"), col("n2").as("n2_a")),
          allCodes.select(col("vec_id").as("vec_b"),
            col("embedding").as("emb_b"), col("n2").as("n2_b")))
      else {
        val c = graft.CacheJanitor.register(candRaw.persist())
        val candIds = c.select(explode(array(col("vec_a"), col("vec_b"))).as("vec_id"))
          .distinct()
        val cv = graft.CacheJanitor.register(
          allCodes.select(col("vec_id"), col("embedding"), col("n2"))
            .join(broadcast(candIds), Seq("vec_id"), "left_semi").persist())
        (c,
          cv.select(col("vec_id").as("vec_a"),
            col("embedding").as("emb_a"), col("n2").as("n2_a")),
          cv.select(col("vec_id").as("vec_b"),
            col("embedding").as("emb_b"), col("n2").as("n2_b")))
      }
    cand.join(ea, "vec_a").join(eb, "vec_b")
      .withColumn("cosine",
        expr(s"${TextSim.dot(d, "emb_a", "emb_b")} / (sqrt(n2_a) * sqrt(n2_b))"))
      .where(col("cosine") >= cosineMin)
      .select("vec_a", "vec_b", "cosine")
  }
}
