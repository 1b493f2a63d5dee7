package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One ops-snapshot shape across the persisted index family
  * ([[CosineDedupIndex.health]], [[IvfIndex.health]]),
  * mirroring [[DedupPipeline.health]] for pipeline roots — so a scheduler
  * polls every index kind through the same fields:
  *
  *  - `live` / `tombstoned`: rows serving reads vs takedowns pending a
  *    compaction fold;
  *  - `frozenCells`: the frozen partition-parameter's size — coarse cell
  *    count for the IVF indexes, the frozen bucket modulus (= bucket
  *    count; codes are assigned `lshCode % modulus`) for the LSH dedup
  *    index;
  *  - `occupiedCells` / `occupancy`: how the live rows actually spread
  *    over that frozen geometry (occupancy = live per occupied cell) —
  *    the continuous drift signal; the ladder steps in powers of two, so
  *    occupancy far past the design point means the corpus outgrew the
  *    frozen step;
  *  - `needsRefreeze`: the discrete drift predicate (live count's ladder
  *    step exceeds the frozen parameter) — the scheduling signal for the
  *    operator's `refreeze`.
  *
  * Every field is a metadata-scale aggregate; the probe costs one scan of
  * the live code log (count + distinct-cell together) plus the side-table
  * read — never more, whatever the corpus size.
  */
final case class IndexHealth(
    live: Long, tombstoned: Long,
    frozenCells: Long, occupiedCells: Long, occupancy: Double,
    needsRefreeze: Boolean)

/** What one index-maintenance poll did ([[CosineDedupIndex.maintain]],
  * [[IvfIndex.maintain]] — the standalone-index
  * mirror of [[DedupPipeline.maintainOnce]]): refreeze when the drift
  * predicate fired (the rewrite folds tombstones into its own swap, so
  * the separate compaction is skipped as redundant), else compaction
  * when pending tombstones exceeded the caller's ratio of live rows.
  * Both run under the operators' existing marker-gated / stage-swap
  * crash protocols. */
final case class IndexMaintenance(
    refrozen: Boolean, compacted: Boolean,
    before: IndexHealth, after: IndexHealth)

object IndexHealth {

  /** The untrained/empty-root snapshot — the natural FIRST poll of an
    * ops loop happens before any batch lands; report zeros, don't throw. */
  private[operators] val virgin: IndexHealth =
    IndexHealth(0L, 0L, 0L, 0L, 0.0, needsRefreeze = false)

  /** The trained-but-unfed snapshot: the code log has no committed data,
    * but the side table may already carry tombstones (a `remove` is legal
    * before the first ingest — it wins over a later re-add of the same
    * id), so report them instead of hard-coding 0; otherwise an ops
    * consumer alerting on pending takedowns never sees them. */
  private[operators] def emptyLog(spark: SparkSession, root: String,
      idCol: String, frozenCells: Long): IndexHealth =
    virgin.copy(
      tombstoned = Tombstones.read(spark, root, idCol).count(),
      frozenCells = frozenCells)

  /** Shared probe: ONE aggregate over the live log computes row count
    * and occupied-cell count together ("an ops probe should cost one
    * scan per log" — the [[DedupPipeline.health]] contract); the drift
    * predicate is evaluated from that already-computed count, never a
    * second scan. */
  private[operators] def probe(spark: SparkSession, root: String,
      live: DataFrame, cellCol: String, idCol: String,
      frozenCells: Long, drift: Long => Boolean): IndexHealth = {
    val r = live.agg(count(lit(1)).as("n"),
      count_distinct(col(cellCol)).as("c")).head
    val (n, occ) = (r.getLong(0), r.getLong(1))
    IndexHealth(
      live = n,
      tombstoned = Tombstones.read(spark, root, idCol).count(),
      frozenCells = frozenCells, occupiedCells = occ,
      occupancy = if (occ == 0L) 0.0 else n.toDouble / occ,
      needsRefreeze = drift(n))
  }
}
