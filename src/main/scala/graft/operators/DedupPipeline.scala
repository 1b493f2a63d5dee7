package graft.operators

import graft.sources.LandingLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The incremental dedup MAINTENANCE LOOP as one user-facing entry —
  * what a curation pipeline actually schedules per landing batch
  * (the training-data analog of `star.Runner.runOnce`):
  *
  *   1. [[SignatureIndex.ingest]] — signatures for the increment only,
  *      appended; the batch's near-dup delta pairs (O(increment));
  *   2. [[ClusterLabels.merge]] — the delta folded into the persisted
  *      cluster assignment (CC over delta ∪ touched components only);
  *      every increment doc gets a label, including unshingleable ones
  *      (singletons by definition — a doc with no signature can never
  *      pair).
  *
  * The keeper manifest is NOT a third persisted table: `keep` is a pure
  * function of the label table (`doc_id == label` under the engine's
  * min-id keeper policy), and the label log ALREADY is an append-only
  * keep-last log of exactly the rows each batch (re)defines. So
  * [[keeperManifest]] derives the manifest from
  * [[ClusterLabels.read]]'s fold, [[ClusterLabels.keeperDelta]] serves
  * consumers applying keeper changes incrementally, and per-batch write
  * cost is O(increment ∪ touched components) — nothing corpus-sized is
  * written on the batch path (pre-round-8 this rewrote a corpus-row
  * manifest snapshot every batch, the one write that grew with the
  * corpus instead of the increment). [[snapshotManifest]] still
  * materializes a pinned, versioned manifest snapshot — on the
  * operator's compaction/retention schedule ("the corpus exactly as
  * training run X saw it"), not per batch.
  *
  * `batchKey` threads the landing batch id through both index appends
  * ([[BatchLog]]): a crash-after-commit replay of the same batch leaves
  * every persisted state identical to a single run.
  *
  * Refreeze interplay: [[CosineDedupIndex.refreeze]] between vector
  * batches re-buckets FUTURE candidate generation only — already-merged
  * pairs and labels are facts about the vectors (cosine ≥ threshold),
  * independent of the bucketing that surfaced them, so the label log
  * and manifest carry over unchanged through a migration (the
  * mid-stream composition is pinned in `CosineDedupIndexSpec`).
  */
object DedupPipeline {

  final case class BatchStats(
      newDocs: Long, deltaPairs: Long, clusters: Long, keepers: Long)

  /** One maintenance batch over a `(doc_id, text)` increment; doc_ids
    * must be new to the index (keep-last dedup is the landing layer's
    * job, as in the star pipeline). Returns the batch's observable
    * counts (all metadata-scale aggregates). */
  def runOnce(spark: SparkSession, root: String, increment: DataFrame,
      batchKey: Option[String] = None): BatchStats = WriterLease.withLease(spark, root) {
    val b = SignatureIndex.ingest(spark, root, increment, batchKey = batchKey)
    // One materialization of the batch's pairs, shared by the label
    // merge and, when the merge ran distributed, the stats count —
    // without it the count re-runs the whole posting-join + Jaccard
    // verify (measured ~2.9 s/recompute at sf0.1).
    val pairs = graft.CacheJanitor.register(
      b.deltaPairs.select(col("doc_a"), col("doc_b")).persist())
    val counts = ClusterLabels.mergeBatch(spark, root, pairs,
      increment.select(col("doc_id")), batchKey)
    val stats = batchStats(spark, root, increment, pairs, counts)
    graft.CacheJanitor.drain()
    stats
  }

  /** Post-merge batch stats from the label-stats sidecars (O(1) when
    * the chain is intact, exact fold otherwise — never wrong). The
    * label totals used to be TWO corpus-sized folds of the merge's
    * returned table per batch — a measured corpus-linear term in the
    * x100 loop's runOnce. `clusters == keepers` by the min-id keeper
    * invariant: every component's label is its min member's id, so
    * exactly one doc per cluster satisfies `doc_id == label`. The input
    * counts come from the driver-side merge's collected arrays when it
    * ran (`counts`), else from one count per frame. */
  private def batchStats(spark: SparkSession, root: String, increment: DataFrame,
      pairs: DataFrame, counts: Option[ClusterLabels.BatchCounts]): BatchStats = {
    val (_, _, keepers) = ClusterLabels.labelStats(spark, root)
    BatchStats(
      newDocs = counts.fold(increment.count())(_.newDocs),
      deltaPairs = counts.fold(pairs.count())(_.pairs),
      clusters = keepers, keepers = keepers)
  }

  /** One maintenance batch over a `(vec_id, embedding)` increment — the
    * VECTOR-column twin of [[runOnce]], completing the packaged loop
    * for the cosine dedup family: [[CosineDedupIndex.ingest]] (frozen-
    * mask LSH buckets, O(increment) delta pairs) feeds the same
    * [[ClusterLabels.merge]] under the same root, so text and vector
    * corpora share one maintenance contract and one manifest shape
    * (`doc_id` carries the vec_id). Give the vector family its OWN
    * root — the tombstone side table and label log are per-root state
    * ([[CosineDedupIndex]]'s scaladoc contract). */
  def runOnceVectors(spark: SparkSession, root: String, increment: DataFrame,
      batchKey: Option[String] = None): BatchStats = WriterLease.withLease(spark, root) {
    val b = CosineDedupIndex.ingest(spark, root, increment, batchKey)
    val pairs = graft.CacheJanitor.register(
      b.deltaPairs.select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
        .persist())
    val counts = ClusterLabels.mergeBatch(spark, root, pairs,
      increment.select(col("vec_id").as("doc_id")), batchKey)
    val stats = batchStats(spark, root, increment, pairs, counts)
    graft.CacheJanitor.drain()
    stats
  }

  final case class Health(
      liveDocs: Long, tombstoned: Long,
      labelLogRows: Long, labelledDocs: Long, keepers: Long,
      needsRefreeze: Boolean, needsCompaction: Boolean)

  /** Ops snapshot of a maintenance root — the signals a scheduler
    * consumes between batches, packaged (every field is a
    * metadata-scale aggregate):
    *
    *  - `needsRefreeze`: [[CosineDedupIndex.needsRefreeze]] for vector
    *    roots; constant false for text roots — [[SignatureIndex]]
    *    freezes no corpus-derived parameter, so nothing drifts;
    *  - `needsCompaction`: the label log's raw row count exceeds 2× its
    *    keep-last fold ([[ClusterLabels.logDepth]]) — reads are paying
    *    more than double their useful rows, time to [[ClusterLabels
    *    .compact]];
    *  - `tombstoned`: takedowns pending until the index's `compact`
    *    folds them out of the snapshot files.
    */
  def health(spark: SparkSession, root: String,
      vector: Boolean = false): Health = {
    // Crash recovery BEFORE any probe (the same contract as
    // ClusterLabels.recover): a compaction/refreeze commit that died
    // after its intent is completed first, so the probe reports the
    // state that commit was landing (tombstones cleared with it).
    ReadGuard.recoverForRead(spark, root)(
      if (vector) CosineDedupIndex.recoverState(spark, root)
      else SignatureIndex.recoverState(spark, root))
    val logDir =
      if (vector) CosineDedupIndex.codesDir(root) else s"$root/signatures"
    // Legacy flat roots refuse loudly here too — a silent liveDocs = 0
    // for a root full of pre-format rows is the bug class the format
    // marker exists to prevent (read paths must agree).
    graft.operators.BatchLog.requireFormat(spark, logDir, "DedupPipeline.health")
    // Virgin-root guard: the natural FIRST poll of an ops loop happens
    // before any batch lands — report zeros, don't throw on the missing
    // log directory.
    val tombstoned =
      Tombstones.read(spark, root, if (vector) "vec_id" else "doc_id").count()
    // With no tombstones pending, live == the raw log row count (one row
    // per ingested doc/vec; replays overwrite their own directory) —
    // served from the per-directory row-count sidecars when the chain is
    // complete (driver-side file reads, NO Spark job), else one
    // footer-metadata count; either way the anti-join over the whole log
    // runs only while takedowns are pending (and compaction clears them,
    // restoring the cheap path).
    val liveDocs =
      if (!graft.operators.BatchLog.hasData(spark, logDir)) 0L
      else if (tombstoned == 0L)
        graft.operators.BatchLog.committedRowCount(spark, logDir).getOrElse(
          graft.operators.BatchLog.read(spark, logDir,
            "DedupPipeline.health").count())
      else if (vector) CosineDedupIndex.readIndex(spark, root).count()
      else SignatureIndex.readIndex(spark, root).count()
    // One keep-last fold serves all three label aggregates — a health
    // poll runs between every pair of batches, so a second corpus-sized
    // exchange here would be a per-batch tax that grows with the corpus
    // (visible as the maintain-ramp in STREAMBENCH/SCALEBENCH traces).
    val (logRows, labelled, keepers) = ClusterLabels.labelStats(spark, root)
    Health(
      liveDocs = liveDocs, tombstoned = tombstoned,
      labelLogRows = logRows, labelledDocs = labelled, keepers = keepers,
      // The drift predicate from the ALREADY-COMPUTED live count — not
      // CosineDedupIndex.needsRefreeze, which would re-scan the code log
      // for its own count (an ops probe should cost one scan per log).
      needsRefreeze = vector && CosineDedupIndex.frozenMask(spark, root)
        .exists(m => graft.functions.TextSim.lshMaskValue(liveDocs).toLong > m),
      needsCompaction = labelled > 0 && logRows > 2 * labelled)
  }

  final case class Maintenance(
      refrozen: Boolean, indexCompacted: Boolean, labelsCompacted: Boolean,
      before: Health, after: Health)

  /** Consume the [[health]] signals — the scheduled between-batches
    * maintenance step a real pipeline alternates with [[runOnce]] /
    * [[runOnceVectors]] (nothing consumed the signals before this; ops
    * had to wire the thresholds by hand):
    *
    *  1. refreeze, when the drift predicate fires (vector roots only —
    *     text roots freeze no corpus-derived parameter). Runs FIRST: the
    *     re-encode folds tombstones into its own swap, so a tripped
    *     tombstone threshold is satisfied by the same rewrite;
    *  2. index compaction, when pending tombstones exceed
    *     `tombstoneRatio` × live (skipped when a refreeze just folded
    *     them), OR when the log has accreted more than `maxLogDirs`
    *     batch directories — an endless maintenance loop otherwise
    *     grows one directory (and its listing/open cost) per batch
    *     forever; folding every ~`maxLogDirs` batches bounds the
    *     per-batch file tax at an amortized cost of one corpus rewrite
    *     per `maxLogDirs` increments;
    *  3. label-log compaction, when raw rows exceed `logDepthRatio` ×
    *     the fold (readers are paying more than that multiple of their
    *     useful rows) — or, same as above, past `maxLogDirs`
    *     directories.
    *
    * All three run under the operators' existing crash protocols
    * (marker-gated refreeze, stage-then-swap compaction), so a crash
    * anywhere in maintenance recovers exactly as those specs pin.
    * Answers are invariant by construction — each step is spec-pinned
    * content-identical to from-scratch over the survivors — and the
    * spec re-pins it end-to-end through this entry. Returns what fired
    * plus the before/after snapshots (the ops log line). */
  def maintainOnce(spark: SparkSession, root: String, vector: Boolean = false,
      tombstoneRatio: Double = 0.1, logDepthRatio: Double = 2.0,
      maxLogDirs: Int = 64): Maintenance = WriterLease.withLease(spark, root) {
    val before = health(spark, root, vector)
    val refrozen = vector && before.needsRefreeze
    if (refrozen) CosineDedupIndex.refreeze(spark, root)
    // hasData gate: tombstones recorded before the first committed batch
    // stay pending — compacting a log with no committed files would only
    // clear the side table, and those tombstones must keep suppressing a
    // later ingest of the same ids (same contract as IvfIndex.maintain).
    val logDir =
      if (vector) CosineDedupIndex.codesDir(root) else s"$root/signatures"
    val indexCompacted = !refrozen && BatchLog.hasData(spark, logDir) && (
      (before.tombstoned > 0 &&
        before.tombstoned >= tombstoneRatio * math.max(before.liveDocs, 1L)) ||
      BatchLog.committedKeys(spark, logDir).size > maxLogDirs)
    if (indexCompacted) {
      if (vector) CosineDedupIndex.compact(spark, root)
      else SignatureIndex.compact(spark, root)
    }
    val labelsCompacted = before.labelledDocs > 0 && (
      before.labelLogRows > logDepthRatio * before.labelledDocs ||
      BatchLog.committedKeys(spark, ClusterLabels.dir(root)).size > maxLogDirs)
    if (labelsCompacted) ClusterLabels.compact(spark, root)
    // Retention enforcement rides the maintenance loop (r19): grace-GC
    // on commit paths alone leaves the LAST superseded fold pending
    // forever once a log stops compacting — the loop is the natural
    // place to expire it (driver-side FS ops, under this lease).
    // Amortized to the grace timescale (r20): a sweep per batch cannot
    // expire anything a quarter-grace-later sweep wouldn't, and the
    // per-batch marker reads were steady-state protocol tax.
    VersionedState.gcAllAmortized(spark, root,
      force = refrozen || indexCompacted || labelsCompacted)
    Maintenance(refrozen, indexCompacted, labelsCompacted,
      before, health(spark, root, vector))
  }

  /** The LIVE keeper manifest `(doc_id, label, keep)`: derived from the
    * label log's keep-last fold — always current, no per-batch
    * materialization to go stale or to pay for. */
  def keeperManifest(spark: SparkSession, root: String): DataFrame =
    ClusterLabels.keeperManifest(ClusterLabels.read(spark, root))

  /** Materialize a PINNED manifest snapshot through the atomic
    * versioned-snapshot protocol — the scheduled (compaction-cadence)
    * operation for consumers that need reproducibility or a plain-scan
    * read path. Superseded pins follow [[VersionedState]]'s retention,
    * the rule [[maintainOnce]]'s sweep applies to the whole root. */
  def snapshotManifest(spark: SparkSession, root: String): Unit =
    WriterLease.withLease(spark, root) {
      LandingLog.writeSnapshot(keeperManifest(spark, root), root, "keeper_manifest")
    }

  /** Read back the newest pinned snapshot from [[snapshotManifest]]. */
  def pinnedManifest(spark: SparkSession, root: String): DataFrame =
    LandingLog.readSnapshot(spark, root, "keeper_manifest")

  /** Deduplicate a corpus frame against the manifest: keep exactly the
    * per-cluster keepers plus every doc the index has never seen (new
    * docs are not dropped by a stale manifest). */
  def applyManifest(corpus: DataFrame, manifest: DataFrame): DataFrame = {
    val drop = manifest.where(!col("keep")).select(col("doc_id"))
    corpus.join(drop, Seq("doc_id"), "left_anti")
  }
}
