package graft.operators

import graft.functions.TextSim
import graft.functions.TextSim.{spark => sprk}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained near-dup signature index — the piece that
  * makes the dedup layer incremental the way the star layer already is
  * (watermarks + selective rebuild): a landing increment should pay for
  * signatures of NEW documents only, never a recompute of the corpus.
  *
  * The persisted state is one parquet directory of `(doc_id, shs)`
  * signature rows (distinct 3-word shingle hashes per doc, the same
  * scan-side signature t35 computes). [[ingest]] appends the
  * increment's signatures into its own `batch_key=` directory
  * ([[BatchLog]]) — prior rows stay byte-untouched on disk, batch cost
  * is O(increment) (pinned by `SignatureIndexSpec` row counts and
  * on-disk file fingerprints), and a caller-keyed batch replayed after
  * a crash replaces itself instead of double-appending. Pair detection for the batch ([[deltaPairs]]) joins
  * only the NEW side's df-capped postings against the full posting
  * list, yielding exactly the pairs that touch an increment doc
  * (new-vs-old + new-vs-new) — the accumulated pair table is the union
  * of per-batch deltas.
  *
  * Scale shape: signatures are scan-side (codegen'd `graft_poly_hash`,
  * no shuffle); the posting-list join is an equi-join on 8-byte shingle
  * hashes with the same document-frequency cap as t35 (hot shingles
  * carry no similarity signal but quadratic cost); the candidate set is
  * bounded by |increment| × dfCap per shingle, independent of corpus
  * size. At 100 TB the snapshot is the big side and never moves — only
  * increment postings shuffle.
  *
  * Honest caveat on cap boundaries: each batch's delta is evaluated
  * against the document frequencies AT THAT BATCH — a shingle crossing
  * the df cap later does not retract earlier pairs. That monotone
  * accumulation is the standard contract for incremental dedup indexes;
  * a from-scratch [[deltaPairs]](all, all) recompute is the escape
  * hatch when exact cap semantics matter.
  *
  * No refreeze here, by construction: unlike the vector family
  * ([[CosineDedupIndex]]'s batch-1 mask, [[AnnIndex]]/[[PqIndex]]'s
  * batch-1 quantizers) this index freezes NO corpus-derived parameter —
  * shingle hashes are content-only and the df cap is re-evaluated
  * against live frequencies every batch — so nothing drifts as the
  * corpus grows and there is nothing to migrate.
  *
  * Deletion (takedowns, re-crawls, keeper changes) is tombstone-then-
  * compact ([[Tombstones]]): [[remove]] records ids in a side table
  * that every read anti-joins; [[compact]] folds them into a rewritten
  * snapshot. Removal is O(removed ids) per batch; only compaction pays
  * a corpus rewrite, on the operator's schedule.
  */
object SignatureIndex {

  /** Same hot-shingle document-frequency cap as t35's batch pipeline. */
  val dfCap = 20

  /** Exact-Jaccard keeper threshold (t35/t36's verify stage). */
  val jaccardMin = 0.5

  /** Scan-side signature frame `(doc_id, shs)` from a `(doc_id, text)`
    * frame; docs with <3 words have no shingles and produce no row.
    * Shingle sets are SORTED at build time (once per document, same as
    * t35's pipeline) so the pair-verify path can count overlap with the
    * two-pointer `graft_inter_count` kernel instead of a per-pair hash
    * build — the value is order-insensitive, so nothing downstream
    * changes except the verify cost. */
  def signatures(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.registerAll(docs.sparkSession)
    docs
      .selectExpr("doc_id", s"${TextSim.wordHashes(sprk, "text")} AS wh")
      .where("size(wh) >= 3")
      .selectExpr("doc_id",
        s"sort_array(array_distinct(${TextSim.shingleHashes(sprk, "wh")})) AS shs")
  }

  /** `allSigs` is construct-on-first-use (r20, same contract as
    * [[IvfIndex.Batch]]): its construction costs a schema-inference job
    * + the log's listing FS ops, and on the indexed pair path nothing
    * consumes it. It pins the log state at FIRST ACCESS — read it before
    * further mutations of the root (every existing caller does).
    * `deltaPairs` stays EAGER: it is the batch's verified delta at
    * ingest time, and specs legitimately read an old batch's pairs after
    * later appends. */
  final class Batch private[SignatureIndex] (val newSigs: DataFrame,
      allSigsF: () => DataFrame, val deltaPairs: DataFrame) {
    lazy val allSigs: DataFrame = allSigsF()
  }
  object Batch {
    def apply(newSigs: DataFrame, allSigs: => DataFrame,
        deltaPairs: DataFrame): Batch =
      new Batch(newSigs, () => allSigs, deltaPairs)
  }

  /** One maintenance batch: signatures for `increment` ONLY, appended to
    * the snapshot at `root/table`; returns the new-side signatures, the
    * full index as read back from disk, and the batch's verified delta
    * pairs. The increment must carry doc_ids not already in the index
    * (keep-last dedup is the landing layer's job, upstream of this).
    *
    * `batchKey` is the replay-idempotence handle ([[BatchLog]]): pass
    * the landing batch id and a crash-after-commit retry of the same
    * batch REPLACES its own files instead of double-appending; `None`
    * mints a fresh auto key (not replay-idempotent). */
  def ingest(spark: SparkSession, root: String, increment: DataFrame,
      table: String = "signatures", batchKey: Option[String] = None): Batch = WriterLease.withLease(spark, root) {
    val path = s"$root/$table"
    // Recovery BEFORE the append: an ingest landing inside a crashed
    // compaction's commit window would otherwise append to the old
    // version — and the recovery probe below (readIndex) would commit
    // the staged fold over it: this increment lost in this very call.
    recoverState(spark, root, table)
    // Cache BEFORE the write so the append populates the cache and the
    // delta join below reads it back instead of re-scanning the text.
    val newCached = graft.CacheJanitor.register(signatures(increment).persist())
    val key = BatchLog.resolveKey(spark, path, batchKey)
    val coveredBefore = derivedCovered(spark, root, table)
    BatchLog.appendResolved(newCached, path, key, "SignatureIndex")
    maintainDerived(spark, root, table, key, newCached, coveredBefore)
    // Lazy (r20): the indexed pair path below never touches the full-
    // index frame, so its schema-inference job + listing FS ops only
    // run on the frame path (or at the caller's first allSigs access).
    lazy val all = readIndex(spark, root, table)
    // Cost-based path choice, decided from the row-count sidecars
    // (driver-side file reads, zero Spark jobs): the indexed path's
    // per-batch cost is FLAT (broadcast-round scheduling ~constant,
    // slim-columnar scans) while the frame path's grows with the corpus
    // (explode + shuffle of every posting) but has ~3× less fixed
    // overhead — measured crossover on local[32] is ~100k signature
    // rows. Below it the frame recompute is simply faster; above it the
    // indexed path caps the corpus term. Both are spec-pinned equal, so
    // this is a plan choice, not a semantic one. A sidecar gap reports
    // "unknown" and takes the indexed path (safe at any size).
    val corpusRows = BatchLog.committedRowCount(spark, path).getOrElse(Long.MaxValue)
    // The indexed path BROADCASTS increment- and candidate-bounded
    // frames; a BULK increment (a large first load, a backfill) breaks
    // that boundedness — its postings are the broadcast. Such batches
    // take the frame path, whose shuffle joins handle any increment
    // size; the indexed path is for the steady state the maintenance
    // loop measures (small increments against a large corpus). The
    // count comes from the sidecar the append just wrote (driver-side
    // file read) — the r14 bench adjudication attributed part of t74's
    // regressed constant to this having been a per-batch Spark job.
    val incrementRows = BatchLog.rowCountOf(spark, path, key)
      .getOrElse(newCached.count())
    val pairs =
      if (corpusRows >= indexedPathMinRows && incrementRows <= indexedPathMaxIncrementRows)
        deltaPairsIndexed(spark, root, table, newCached, Some(key))
      else deltaPairs(all, newCached)
    Batch(newCached, all, pairs)
  }

  /** Signature-log row count at which [[ingest]] switches pair
    * detection from the frame recompute to the posting/df side tables
    * (see the path-choice comment in [[ingest]]). */
  val indexedPathMinRows: Long = 100000L

  /** Increment-size ceiling for the indexed path: above this many
    * signature rows the increment's own postings stop being a sane
    * broadcast (~100k docs × ~150 shingles ≈ 15M 8-byte keys ≈ a few
    * hundred MB of broadcast relation) and the frame path's shuffle
    * joins take over. */
  val indexedPathMaxIncrementRows: Long = 100000L

  /** On-disk byte bound under which the pending tombstone side table is
    * explicitly broadcast inside [[deltaPairsIndexed]] (8-byte ids
    * compress well — 32 MB is several million pending removals; a
    * steady loop compacts long before that). */
  val tombstoneBroadcastMaxBytes: Long = 32L << 20

  /** Live signature rows: the snapshot minus tombstoned doc_ids. Every
    * read path goes through this, so a removed doc stops contributing
    * postings, candidates, and exact-verify rows immediately — without
    * touching the append-only snapshot files. A pre-batch-format root is
    * refused here (its arrays predate the sorted-at-build contract the
    * intersect kernel needs). */
  def readIndex(spark: SparkSession, root: String, table: String = "signatures"): DataFrame = {
    ReadGuard.recoverForRead(spark, root)(recoverState(spark, root, table))
    // Read-only from here: one manifest snapshot for the whole read
    // (repeat consults cost zero FS ops). Starts AFTER recovery — a
    // heal rewrites directories, which a snapshot must never straddle.
    BatchLog.withManifestSnapshot {
      // `dgrp` is a fold-layout artifact, never part of the row contract
      // (BatchLog.read drops it in mixed layouts; an all-fold log keeps
      // common partition columns, so drop explicitly). Tombstones pinned
      // before the log read — Tombstones.excluding.
      Tombstones.excluding(spark, root, "doc_id") {
        BatchLog.read(spark, s"$root/$table", "SignatureIndex").drop(dgrpCol)
      }
    }
  }

  /** Point lookup: the LIVE signature rows for exactly `ids` — the
    * takedown-verification / spot-audit road, reading through every
    * layer of the adopted layout instead of scanning the log:
    *
    *  - static `dgrp=` partition pruning on group-fold directories
    *    (ids hash to their groups via the fold's own sidecar G —
    *    non-candidate groups' heavy shingle bytes are never opened);
    *  - a pushed `In(doc_id)` predicate (the session default
    *    `inFilterThreshold` = 1024 keeps it a literal id set, not a
    *    useless [min,max] range — the r18 pricing's measured catch),
    *    which prunes ROW GROUPS by min/max inside the hit group: fold
    *    files are id-sorted with ~1 MB row groups since r19, so a K-id
    *    probe reads ~K row groups (~K MB), not K whole group files;
    *  - tombstones pinned BEFORE the data read (the versioned-swap
    *    consistency order), so a removed id can never resurface.
    *
    * Exactness does not depend on the layout: flat-era increments are
    * read whole (filter applied in the scan) and pre-r19 folds simply
    * prune less — the answer is the same rows [[readIndex]] would
    * produce filtered to `ids`. */
  def fetch(spark: SparkSession, root: String, ids: Seq[Long],
      table: String = "signatures"): DataFrame = {
    // Above this many hit groups the probe unions one scan LEG per
    // group; the cap bounds plan size — past it, one global-In scan
    // (the saturated regime: with that many spread ids most row groups
    // match their own group's ids anyway).
    val maxLegs = 64
    ReadGuard.recoverForRead(spark, root)(recoverState(spark, root, table))
    BatchLog.withManifestSnapshot {
      val path = s"$root/$table"
      val inIds = (df: DataFrame) => df.where(col("doc_id").isin(ids.map(Long.box): _*))
      Tombstones.excluding(spark, root, "doc_id") {
        val ks = BatchLog.committedKeys(spark, path)
        if (ks.isEmpty)
          inIds(BatchLog.read(spark, path, "SignatureIndex.fetch").drop(dgrpCol))
        else {
          val parted = BatchLog.partitionedKeys(spark, path, dgrpCol)
          val gs = sidecarGs(spark, path, ks.toSet.filter(parted), dgrpSidecarName)
          val byG = ks.filter(parted).sorted.groupBy(k => gs.getOrElse(k, None))
          val flat = ks.filterNot(parted)
          val frames = byG.toSeq.sortBy(_._1).map { case (gOpt, ksame) =>
            val base = BatchLog.readKeysWithKey(spark, path, ksame,
              "SignatureIndex.fetch")
            gOpt match {
              case Some(g) =>
                // One union LEG per hit group, each pushing ONLY that
                // group's ids: a global In across several group files
                // saturates min/max geometry (every spread id matches
                // one row group in EVERY scanned file — the value
                // windows can't express the mod-G structure; measured
                // re-reading the whole fold at k=16, r19 pricing),
                // while a per-group id set matches only its own rows'
                // groups — ~ids-per-group row groups per file.
                val byGrp = ids.groupBy(i => java.lang.Math.floorMod(i, g.toLong).toInt)
                if (byGrp.size <= maxLegs)
                  byGrp.toSeq.sortBy(_._1).map { case (grp, gids) =>
                    base.where(col(dgrpCol) === lit(grp) &&
                      col("doc_id").isin(gids.map(Long.box): _*))
                  }.reduce(_ unionByName _).drop(dgrpCol)
                else inIds(base.where(col(dgrpCol)
                  .isin(byGrp.keys.toSeq.sorted.map(Int.box): _*))).drop(dgrpCol)
              case _ => inIds(base).drop(dgrpCol)
            }
          } ++ (if (flat.isEmpty) Nil
                else Seq(inIds(BatchLog.readKeysWithKey(spark, path, flat,
                  "SignatureIndex.fetch")).drop(dgrpCol)))
          frames.reduce(_ unionByName _).drop("batch_key")
        }
      }
    }
  }

  /** Crash recovery alone (the compaction swap window) — for callers
    * that probe state without reading rows ([[DedupPipeline.health]]):
    * an existence probe during the swap window would otherwise misread
    * a fully-staged compaction as an empty index. */
  private[operators] def recoverState(spark: SparkSession, root: String,
      table: String = "signatures"): Unit =
    Tombstones.recoverSwap(spark, s"$root/$table.__compact_tmp", s"$root/$table")

  /** Tombstone doc_ids out of the index. Appends to the side table only
    * — snapshot files stay byte-untouched (spec-pinned); the ids vanish
    * from [[readIndex]]/[[deltaPairs]] results from this call on.
    * Pair deltas ALREADY emitted in prior batches are the caller's
    * accumulated table, not index state — filter them there or rerun
    * `deltaPairs(all, all)` when retroactive exactness matters. */
  def remove(spark: SparkSession, root: String, ids: DataFrame): Unit = WriterLease.withLease(spark, root) {
    // Recovery first: a tombstone appended inside a crashed compaction's
    // swap window would be cleared when a later reader adopts the staged
    // fold (the recorded commit clears the side table, whose removals the
    // fold already absorbed — this id's removal would vanish with them).
    recoverState(spark, root)
    Tombstones.append(root, ids, "doc_id")
  }

  def remove(spark: SparkSession, root: String, ids: Seq[Long]): Unit = {
    import spark.implicits._
    remove(spark, root, ids.toDF("doc_id"))
  }

  /** Rewrite the snapshot minus tombstones and clear the side table.
    * After this the on-disk state is content-identical to a
    * from-scratch [[signatures]] build over the surviving docs
    * (spec-pinned) — the reference's full-refresh end state
    * (`src/warehousing_lambda.py:64-71`) at a schedule the operator
    * chooses instead of per takedown. */
  def compact(spark: SparkSession, root: String, table: String = "signatures"): Unit = WriterLease.withLease(spark, root) {
    val path = s"$root/$table"
    val tmp = s"$path.__compact_tmp"
    val live = readIndex(spark, root, table)
    // Corpus-scale folds land under the `dgrp=` doc-group layout (see
    // the fold-layout note) so later verify reads can skip non-candidate
    // groups' heavy shingle arrays. G from the live log's MEASURED
    // bytes with the byte floor (the fold ≈ the live log; a
    // tombstone-heavy log only oversizes groups, never undersizes the
    // floor); row floor keeps gate-scale folds flat.
    val rowsOpt = BatchLog.committedRowCount(spark, path)
    // Bytes over the RESOLVED current version, not the logical dir: a
    // versioned root's top-level content summary includes retained
    // superseded `_versions` and the first swap's flat state inside the
    // grace window — 2-3× the live log, silently oversizing G (the r18
    // advisory's sibling of the Tombstones.bytesOnDisk fix).
    val g = groupsForBytes(dirBytes(spark, BatchLog.resolve(spark, path)))
    // Point-lookup layout ADOPTED (r18 pricing, shipped r19): rows are
    // id-sorted WITHIN each group (partition-local sort, no extra
    // shuffle — the repartition above already co-located the group) and
    // row groups byte-bounded, so [[fetch]]'s pushed In(doc_id) prunes
    // to ~K row groups instead of K whole group files (×0.08 bytes at
    // k=1, SCALEBENCH_r18_pointlookup). Row SET unchanged — the
    // content-identical-to-rebuild contract is order-free.
    val opts = BatchLog.pointLookupWriteOptions
    if (g >= 2 && rowsOpt.exists(_ >= foldLayoutMinRows)) {
      val fk = BatchLog.stageRewrite(
        live.withColumn(dgrpCol, pmod(col("doc_id"), lit(g.toLong)).cast("int"))
          .repartition(col(dgrpCol)).sortWithinPartitions(col(dgrpCol), col("doc_id")),
        path, tmp, partitionBy = Seq(dgrpCol), writeOptions = opts)
      BatchLog.writeGroupsSidecar(spark, BatchLog.dirOf(tmp, fk), dgrpSidecarName, g)
    } else BatchLog.stageRewrite(live.sortWithinPartitions(col("doc_id")),
      path, tmp, writeOptions = opts)
    Tombstones.commitCompaction(spark, root, tmp, path)
    // Rebuild the derived posting/df logs from the fold eagerly —
    // maintenance does the corpus-sized work, not the next batch. A
    // crash mid-rebuild only leaves the coverage markers stale, and the
    // next ingest heals (rebuilds) them.
    rebuildDerived(spark, root, table)
  }

  /** Near-dup pairs touching at least one `newSigs` doc: df-capped
    * posting-list equi-join (df over the FULL index, so the cap sees
    * global frequencies) → normalized distinct candidates → exact
    * Jaccard ≥ [[jaccardMin]] on full shingle sets. With
    * `newSigs == allSigs` this IS the from-scratch t35 pipeline. */
  def deltaPairs(allSigs: DataFrame, newSigs: DataFrame): DataFrame = {
    val post = allSigs.select(col("doc_id"), explode(col("shs")).as("h"))
    val keep = post.groupBy("h").agg(count(lit(1)).as("df"))
      .where(col("df") <= dfCap).select("h")
    val postF = post.join(keep, "h")
    val newPost = newSigs.select(col("doc_id").as("new_id"), explode(col("shs")).as("h"))
      .join(keep, "h")
    val cand = newPost.join(postF, "h")
      .where(col("new_id") =!= col("doc_id"))
      .select(least(col("new_id"), col("doc_id")).as("doc_a"),
        greatest(col("new_id"), col("doc_id")).as("doc_b"))
      .distinct()
    val sa = allSigs.select(col("doc_id").as("doc_a"), col("shs").as("shs_a"))
    val sb = allSigs.select(col("doc_id").as("doc_b"), col("shs").as("shs_b"))
    graft.functions.GraftFunctions.registerAll(allSigs.sparkSession)
    // Two-pointer kernel over the build-time-sorted sets (precondition
    // held by [[signatures]]); same count as size(array_intersect).
    cand.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("c", expr("graft_inter_count(shs_a, shs_b)"))
      .withColumn("jaccard",
        col("c").cast("double") /
          (size(col("shs_a")).cast("long") + size(col("shs_b")).cast("long") - col("c")).cast("double"))
      .where(col("jaccard") >= jaccardMin)
      .select("doc_a", "doc_b", "jaccard")
  }

  // ------------------------------------ derived posting/df side tables

  /** The round-10 x100 maintenance loop measured [[deltaPairs]]'s
    * per-batch cost growing ~21–30 µs/doc with the CORPUS: every batch
    * re-exploded the whole signature log and re-aggregated shingle
    * document frequencies over it (one corpus-sized explode+shuffle for
    * the df cap, another full posting join for candidates). These two
    * side tables make the batch path O(increment) in shuffle and
    * broadcast-filtered-scan in disk:
    *
    *  - `<table>_postings`: `(doc_id, h)` — the signature arrays
    *    pre-exploded, appended per batch under the SAME batch key as
    *    the signature log (replay replaces all three together);
    *  - `<table>_dfcounts`: `(h, n)` — each batch's per-shingle doc
    *    counts. Live df(h) = Σ n over the log, minus pending-tombstoned
    *    docs' posting rows at READ time — so [[remove]] stays a pure
    *    O(removed) tombstone append (no crash window between a df
    *    adjustment and the tombstone write can exist, because there is
    *    no df adjustment), and the live-df takedown semantics t72 pins
    *    hold exactly: compaction folds the subtraction away.
    *
    * CONSISTENCY: both logs are a derived cache of the signature log,
    * never a second source of truth. A per-signature-batch marker file
    * (`_covers_<key>` inside the postings log) is written only after
    * that batch's derived rows committed; the cache is CURRENT iff the
    * marker set equals the signature log's committed key set. Any crash
    * between the signature append and the marker — or a legacy root, or
    * a crashed compaction rebuild — fails that check, and the next
    * ingest REBUILDS both logs from the raw signature log (the exact
    * corpus-sized derivation, paid once per anomaly instead of every
    * batch). Wrong is impossible, slow is the recovery mode.
    *
    * Scale ledger, honest (r13 revision): per batch the increment's
    * rows shuffle (tiny); the DF log is scanned once (2-column longs
    * against the broadcast increment-shingle set); and the posting +
    * signature logs are read ONLY in the batch directories that scan
    * proves relevant — the df log doubles as a batch-level inverted
    * index, so "which directories can hold a candidate or verify row"
    * is answered before any heavy column is touched (see
    * [[deltaPairsIndexed]]). The residual corpus term is therefore the
    * df-log scan alone: uniformly-hashed shingle keys defeat min/max
    * row-group pruning and a 100k-key probe set hits every feasible
    * hash-bucket directory (B buckets, K probes: expected hit fraction
    * 1-(1-1/B)^K ≈ 1 for K >> B), which is why the r11 verdict's
    * `bucketBy(h)` layout would NOT have cut bytes for this probe
    * shape — batch-granular skipping via the summary the log already
    * maintains does. Worst case (every batch shares a shingle with the
    * increment) degrades to r11's full slim scans; a novel-content
    * crawl batch reads ~its own directory. */
  private[graft] def postingsDir(root: String, table: String = "signatures"): String =
    s"$root/${table}_postings"
  private[graft] def dfDir(root: String, table: String = "signatures"): String =
    s"$root/${table}_dfcounts"

  // --------------------------------------- shingle-group fold layout
  //
  // Matched-batch pruning (above) skips whole batch DIRECTORIES a probe
  // cannot touch — but after a compaction the whole corpus lives under
  // ONE fold key, and any increment sharing a single shingle with it
  // read that fold's posting/df rows in full: the r13 scale ledger's
  // "residual corpus term". Same fix as [[CosineDedupIndex]]'s `pgrp=`
  // bucket groups, one level down: rebuild-written posting/df
  // directories big enough to matter carry an `hgrp = h mod G`
  // partition level (G from the batch's own row-count sidecar,
  // self-described by a sidecar so a reader never derives G from code
  // that may have drifted — a wrong modulus would prune WRONG), while
  // the per-batch increment appends stay flat — the LSM shape. Both
  // logs are consumed ONLY after an equi-join on `h` against the
  // increment's shingle set (df fold, candidate join, tombstone df
  // adjustment all alike), so reading just the groups the increment's
  // shingles hash into is EXACT: a row outside them cannot survive any
  // of those joins.
  //
  // The honest arithmetic (same as the cosine fold's): K distinct
  // increment shingles over G groups hit G·(1-(1-1/G)^K) of them, so
  // pruning binds only when K ≲ G — single-document probes, takedown
  // checks, trickle ingest. Bulk batches saturate the groups and are
  // gated to the plain full read (zero extra jobs). The asymptote
  // stays corpus-linear divided by the pruning factor; a true
  // O(increment) point lookup needs a KV store — documented floor.

  /** Fold-layout partition column on the posting/df logs. */
  private[graft] val hgrpCol = "hgrp"

  /** Group-count sidecar name inside a partitioned batch directory. */
  private[graft] val hgrpSidecarName = "_hgrp_groups"

  /** Saturation gate: above this expected hit fraction the pruned read
    * would touch most group directories anyway — take the plain read. */
  private val hgrpSaturation = 0.7

  /** Sys-prop/env long knob with the same "unreadable ⇒ safe default"
    * convention as every sidecar read in this path: a malformed override
    * warns and falls back instead of throwing NumberFormatException deep
    * inside a compaction. */
  private def longKnob(prop: String, env: String, default: Long): Long = {
    val raw = sys.props.get(prop).orElse(sys.env.get(env))
    raw.flatMap { s =>
      scala.util.Try(s.trim.toLong).toOption.orElse {
        System.err.println(
          s"[graft] SignatureIndex: malformed $prop/$env value '$s'; using default $default")
        None
      }
    }.getOrElse(default)
  }

  /** Fold group count for a directory expected to hold `bytes`: groups
    * are FLOORED IN BYTES (default 512 KB, `graft.fold.group.bytes` /
    * `SPARK_GRAFT_FOLD_GROUP_BYTES` override — specs shrink it to get
    * real group counts out of KB-scale corpora), capped at 65536
    * directories. The byte floor is the load-bearing invariant, learned
    * the measured way: the first cut sized groups by ROW count
    * (rows/256), which at 325k docs laid the df fold out as 1269 × 10 KB
    * files — and the x100 loop's post-compaction batches, whose
    * saturated probes read the fold IN FULL, jumped from ~11 s to
    * ~23–26 s per batch (listing + per-file open + parquet small-file
    * bloat, root 102 → 238 MB). With groups floored in bytes the
    * per-file overhead is a bounded fraction of the byte cost in EVERY
    * regime, and the pruned probe's read converges to ≈ K probe keys ×
    * groupBytes — constant in the corpus once the fold outgrows
    * K × groupBytes, which is the O(increment) shape the maintenance
    * loop pins. (A sorted-fold + pushed-In design was measured as the
    * alternative: zero file tax, but the page-pruning savings are
    * invisible on warm local storage and the per-row In evaluation made
    * probes SLOWER than full scans — rejected on wall-clock evidence.) */
  private[graft] def foldGroupBytes: Long =
    longKnob("graft.fold.group.bytes", "SPARK_GRAFT_FOLD_GROUP_BYTES", 512L * 1024L)

  private[graft] def groupsForBytes(bytes: Long): Int =
    math.min(65536L, math.max(1L, bytes / foldGroupBytes)).toInt

  /** Expected on-disk fraction of a signature batch directory's bytes
    * for its derived logs (posting rows drop the array nesting; df rows
    * collapse repeats). Sizing precision only moves group size within
    * the byte-floor band — the per-directory sidecar is authoritative
    * for every read, so a 3× corpus-dependent drift here is harmless. */
  private val postingsBytesFrac = 0.4
  private val dfBytesFrac = 0.1

  private[graft] def dirBytes(spark: SparkSession, dir: String): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    } catch { case _: Exception => 0L }

  /** Row count below which a directory is written FLAT, no group
    * layout: at gate scale the whole log is a couple of MB, pruning
    * saves nothing, and hundreds of near-empty `hgrp=` files are a
    * file-open tax every probe pays (the same class as the r14 t74
    * adjudication's job-count findings). 64k rows aligns with the
    * frame-vs-indexed crossover's order of magnitude — the fold regime
    * is where the layout earns its directories. System property
    * `graft.fold.min.rows` overrides (specs exercise the layout on
    * 8k-doc corpora). */
  private[graft] def foldLayoutMinRows: Long =
    longKnob("graft.fold.min.rows", "SPARK_GRAFT_FOLD_MIN_ROWS", 65536L)

  /** Doc-group fold layout on the SIGNATURE log itself (`dgrp = doc_id
    * mod G`, compaction-written): the verify stage reads signature rows
    * ONLY for candidate docs (a bounded set), so restricting the fold
    * scan to the groups the candidate ids hash into is exact by the
    * same argument as `hgrp` — with an even stronger regime, since
    * |candidates| is increment-bounded while the fold holds the corpus'
    * heavy shingle arrays. */
  private[graft] val dgrpCol = "dgrp"
  private[graft] val dgrpSidecarName = "_dgrp_groups"

  /** Each partitioned key's group-count sidecar, read ONCE per probe —
    * [[hgrpProbeSet]] gates on the values and [[groupPrunedRead]] groups
    * directories by them, without re-reading the same sidecar twice
    * (driver-side FS round-trips are the probe's object-store budget). */
  private def sidecarGs(spark: SparkSession, dir: String, ks: Set[String],
      name: String): Map[String, Option[Int]] =
    ks.iterator.map(k =>
      k -> BatchLog.readGroupsSidecar(spark,
        BatchLog.dirOfResolved(spark, dir, k), name)).toMap

  /** The increment's distinct shingle hashes, collected — `Some` only
    * when some posting/df directory is `hgrp=`-partitioned AND every
    * such directory's sidecar is readable AND the probe set does not
    * saturate the smallest group count (K from the increment's own df
    * sidecar when `batchKey` is known — a driver-side file read — else
    * one tiny job over the increment). Collect bounded by K, which the
    * saturation gate has just bounded by ~1.2·G. None ⇒ callers take
    * the unpruned reads (optimal at saturating density, and the only
    * sound choice when a sidecar is missing). */
  private def hgrpProbeSet(spark: SparkSession, root: String, table: String,
      incShingles: DataFrame, batchKey: Option[String],
      dfGs: Map[String, Option[Int]],
      postGs: Map[String, Option[Int]]): Option[Array[Long]] = {
    val gs = (dfGs.values ++ postGs.values).toSeq
    if (gs.isEmpty) return None
    if (gs.exists(_.isEmpty)) return None // un-sidecarred fold: never guess
    // Early gate on the LARGEST group count: its only job is to skip
    // the collect when NO log can benefit. Byte-floored sizing gives
    // the slim df log far fewer groups than the postings log, so a
    // min-G gate would let the df fold's early saturation veto a
    // perfectly prunable postings read; each directory's own
    // saturation is re-checked against its own G in the read.
    val maxG = gs.flatten.max
    val k = batchKey.flatMap(BatchLog.rowCountOf(spark, dfDir(root, table), _))
      .getOrElse(incShingles.count())
    val expectedHit = 1.0 - math.pow(1.0 - 1.0 / maxG, k.toDouble)
    if (expectedHit >= hgrpSaturation) None
    else Some(incShingles.collect().map(_.getLong(0)))
  }

  /** Read `ks` from a group-fold-capable log: partitioned directories
    * are read with their own sidecar G and restricted to the groups the
    * probe keys hash into (per-directory saturation re-checked against
    * that G); flat directories are read whole. `probe` None ⇒ no group
    * filtering, just the mixed-layout-safe union. `keepKey` keeps the
    * `batch_key` column (the df probe needs it; the others do not).
    * Shared by the `hgrp` (shingle-keyed posting/df) and `dgrp`
    * (doc-keyed signature fold) layouts — same exactness argument,
    * different join column. `partedAll` is the log's partitioned key
    * set, listed ONCE by the caller per probe, and `gByKey` its group
    * sidecars, read ONCE by the caller per probe (three logs × one
    * listing + one sidecar pass each — not re-read here, object-store
    * round-trips are the probe's driver-side budget). [[fetch]] does
    * NOT route here — an id probe keeps its group filter past
    * saturation (it is a static partition filter, zero per-row cost)
    * and pushes per-group id subsets, which this shared shingle-probe
    * road has no use for. */
  private def groupPrunedRead(spark: SparkSession, path: String, ks: Seq[String],
      partedAll: Set[String], partCol: String, gByKey: Map[String, Option[Int]],
      probe: Option[Array[Long]], keepKey: Boolean, op: String): DataFrame = {
    val parted = ks.filter(partedAll)
    val flat = ks.filterNot(partedAll)
    // One scan per distinct sidecar G, not per key: directories sharing
    // a modulus share their group filter, and all partitioned dirs
    // share the layout, so they batch into one parquet read.
    val byG = parted.sorted.groupBy(k => gByKey.getOrElse(k, None))
    val frames = byG.toSeq.sortBy(_._1).map { case (gOpt, ksame) =>
      val base = BatchLog.readKeysWithKey(spark, path, ksame, op)
      val pruned = for {
        hs <- probe
        g <- gOpt
        groups = hs.map(h => java.lang.Math.floorMod(h, g.toLong).toInt).distinct
        if groups.length < hgrpSaturation * g
      } yield base.where(col(partCol).isin(groups.map(Int.box): _*))
      pruned.getOrElse(base).drop(partCol)
    } ++ (if (flat.isEmpty) Nil
          else Seq(BatchLog.readKeysWithKey(spark, path, flat, op)))
    val out = frames.reduce(_ unionByName _)
    if (keepKey) out else out.drop("batch_key")
  }

  private def fsOf(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val coversPrefix = "_covers_"

  private def markerPath(spark: SparkSession, root: String, table: String,
      key: String) =
    new org.apache.hadoop.fs.Path(
      BatchLog.resolve(spark, postingsDir(root, table)), s"$coversPrefix$key")

  /** Signature-batch keys whose derived rows are committed (marker set). */
  private[graft] def coveredKeys(spark: SparkSession, root: String,
      table: String = "signatures"): Set[String] = {
    val dir = new org.apache.hadoop.fs.Path(
      BatchLog.resolve(spark, postingsDir(root, table)))
    val fs = fsOf(spark, postingsDir(root, table))
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).toSeq.filter(_.isFile).map(_.getPath.getName)
      .filter(_.startsWith(coversPrefix)).map(_.stripPrefix(coversPrefix)).toSet
  }

  /** True iff the derived cache covers exactly the signature log's
    * committed batches — the fast path's soundness gate. */
  private[graft] def derivedCovered(spark: SparkSession, root: String,
      table: String = "signatures"): Boolean = {
    val sigKeys = BatchLog.committedKeys(spark, s"$root/$table").toSet
    sigKeys.nonEmpty && coveredKeys(spark, root, table) == sigKeys
  }

  private def writeMarker(spark: SparkSession, root: String, table: String,
      key: String): Unit =
    fsOf(spark, postingsDir(root, table))
      .create(markerPath(spark, root, table, key), true).close()

  /** Bring the derived logs up to date after this batch's signature
    * append: the incremental path appends the increment's posting/df
    * rows under the same key; any coverage anomaly rebuilds instead. */
  private[graft] def maintainDerived(spark: SparkSession, root: String, table: String,
      key: String, newSigs: DataFrame, coveredBefore: Boolean): Unit = {
    // A compaction-retired key's rows already live in the fold — the
    // signature append above was vetoed, and appending derived rows
    // here would double them beside the fold.
    if (BatchLog.retiredKeys(spark, s"$root/$table").contains(key)) return
    // A replay of an already-covered key does NOT early-return: the
    // signature append above just overwrote the batch directory, and a
    // contract-violating replay with DIVERGENT content would leave the
    // old derived rows (and the coverage marker) silently poisoning
    // deltaPairsIndexed until something forced a rebuild. Falling
    // through re-derives the key's posting/df rows from the frame that
    // actually landed (mode-overwrite replaces the key's derived
    // directories) — a byte-identical replay rewrites identical rows,
    // a divergent one HEALS, both at O(increment).
    if (coveredBefore) {
      // ONE file per batch directory (the frames are increment-sized by
      // contract): at shuffle-partition granularity each batch would
      // add ~32 near-empty files to a log every later batch re-scans —
      // a file-open tax growing linearly with batch count. HOW the one
      // file lands is size-gated (r14 bench adjudication: the
      // unconditional exchange was part of t74's regressed per-batch
      // constant): a SMALL increment — the steady state, row count free
      // from the sidecar the signature append just wrote — serializes
      // its tiny explode through coalesce(1) (no shuffle, one task,
      // bounded by the gate); only a big one pays the repartition
      // exchange that keeps the explode parallel while the (small)
      // write lands in one task.
      val newPost = newSigs.select(col("doc_id"), explode(col("shs")).as("h"))
      val smallIncrement = BatchLog.rowCountOf(spark, s"$root/$table", key)
        .exists(_ <= 50000L)
      BatchLog.appendResolved(
        if (smallIncrement) newPost.coalesce(1) else newPost.repartition(1),
        postingsDir(root, table), key, "SignatureIndex.postings")
      BatchLog.appendResolved(
        newPost.groupBy("h").agg(count(lit(1)).as("n")).coalesce(1),
        dfDir(root, table), key, "SignatureIndex.dfcounts")
      writeMarker(spark, root, table, key)
    } else rebuildDerived(spark, root, table)
  }

  /** Re-derive both side tables from the raw signature log (coverage
    * markers last — a crash anywhere leaves the cache stale, never
    * wrong, and the next ingest lands here again). One derived
    * directory PER signature batch key, under the SAME key: the
    * identity mapping sig-key == posting-key == df-key is what lets
    * [[deltaPairsIndexed]] translate "df batches sharing a shingle
    * with the increment" directly into the posting/signature
    * directories it must read — including the post-compaction fold,
    * which is just one more key preserved through here. */
  private[graft] def rebuildDerived(spark: SparkSession, root: String,
      table: String = "signatures"): Unit = {
    val path = s"$root/$table"
    val fs = fsOf(spark, postingsDir(root, table))
    fs.delete(new org.apache.hadoop.fs.Path(postingsDir(root, table)), true)
    fs.delete(new org.apache.hadoop.fs.Path(dfDir(root, table)), true)
    if (!BatchLog.hasData(spark, path)) return
    // RAW log, not readIndex: pending tombstones stay a read-side
    // subtraction — deriving from the live view would double-subtract.
    BatchLog.committedKeys(spark, path).foreach { k =>
      val raw = BatchLog.readKeys(spark, path, Seq(k), "SignatureIndex.rebuildDerived")
      val post = raw.select(col("doc_id"), explode(col("shs")).as("h"))
      val df = post.groupBy("h").agg(count(lit(1)).as("n"))
      val rows = BatchLog.rowCountOf(spark, path, k)
      // Group counts from the sig batch directory's MEASURED bytes
      // (driver-side content summary) times the per-log fraction — the
      // byte floor, not a row heuristic, decides the layout (see
      // [[foldGroupBytes]] for why).
      val sigKeyBytes = dirBytes(spark, BatchLog.dirOfResolved(spark, path, k))
      val gPost = groupsForBytes((sigKeyBytes * postingsBytesFrac).toLong)
      val gDf = groupsForBytes((sigKeyBytes * dfBytesFrac).toLong)
      val foldScale = rows.exists(_ >= foldLayoutMinRows)
      // One shuffle per grouped write — every group's rows hash to one
      // task, so each `hgrp=` directory holds exactly one file; sidecar
      // AFTER the data (a crash in between leaves a partitioned dir
      // without its sidecar, which readers treat as unprunable, never
      // wrong — and the coverage markers land later still, so the next
      // ingest re-runs this rebuild anyway).
      def writeLog(frame: DataFrame, dir: String, g: Int, op: String): Unit =
        if (g >= 2 && foldScale) {
          // Sidecar gated on the append actually writing: a retired-key
          // no-op (unreachable today only because rebuild deletes the
          // derived dirs and their ledgers first) must not leave a
          // sidecar-only batch directory behind.
          val wrote = BatchLog.appendResolved(
            frame.withColumn(hgrpCol, pmod(col("h"), lit(g.toLong)).cast("int"))
              .repartition(col(hgrpCol)),
            dir, k, op, partitionBy = Seq(hgrpCol))
          if (wrote) {
            // Sidecar/manifest through the SAME resolution as the append
            // (appendResolved lands inside the resolved version dir) —
            // the unresolved dirOf would split-brain a versioned derived
            // log: sidecar invisible to readers, stray flat batch dir
            // swept by flat-v0 GC (the r18 advisory).
            BatchLog.writeGroupsSidecar(spark,
              BatchLog.dirOfResolved(spark, dir, k), hgrpSidecarName, g)
            // Manifest over the G group files — later probes (pruned
            // AND saturated) plan their scans without listing them.
            BatchLog.writeFoldManifest(spark, BatchLog.dirOfResolved(spark, dir, k))
          }
        } else {
          // File-count discipline as in [[maintainDerived]], but sized
          // to the directory: a steady increment folds to one file;
          // bigger unsized directories keep data-proportional files
          // instead of funnelling through a single write task.
          val nFiles = rows.map(n => math.max(1L, n / 200000L).toInt).getOrElse(1)
          if (BatchLog.appendResolved(frame.repartition(nFiles), dir, k, op))
            BatchLog.writeFoldManifest(spark, BatchLog.dirOfResolved(spark, dir, k))
        }
      writeLog(post, postingsDir(root, table), gPost, "SignatureIndex.postings")
      writeLog(df, dfDir(root, table), gDf, "SignatureIndex.dfcounts")
    }
    BatchLog.committedKeys(spark, path).foreach(k => writeMarker(spark, root, table, k))
  }

  /** [[deltaPairs]]'s exact semantics served from the persisted side
    * tables — the large-corpus path [[ingest]] uses. Identical output
    * (pair set AND jaccard values, spec-pinned): the df cap folds the
    * df log restricted to the increment's shingles; candidates come
    * from ONE streamed pass over the postings log against the broadcast
    * cap-set and new side; the exact verify is [[deltaPairs]]'s own
    * two-pointer array kernel, but over a candidate-semi-joined scan of
    * the signature log instead of two full array scans. The signature
    * arrays are never re-EXPLODED, and every join broadcasts an
    * increment/candidate-bounded side — the corpus-side logs are only
    * ever scanned, never shuffled. */
  private[graft] def deltaPairsIndexed(spark: SparkSession, root: String,
      table: String, newSigs: DataFrame,
      batchKey: Option[String] = None): DataFrame = BatchLog.withManifestSnapshot {
    // Read-only probe: one manifest snapshot across the df gate, the
    // posting read, and the verify scan — the repeat consults the three
    // helper calls otherwise each pay (a stat per directory per call,
    // the probe's object-store round-trip budget). Recovery runs in the
    // CALLER (ingest) before this; the one internal path that can run
    // recovery itself (the full-scan fallback below) executes OUTSIDE
    // this snapshot via withoutManifestSnapshot, so a snapshot entry
    // can never alias a healed directory — belt on top of the existing
    // braces (recovery only adopts never-seen batch keys).
    // Tombstone state pinned FIRST — before ANY data resolution in this
    // path (the r18 advisory: the df-log read below resolved before the
    // tombstone pin, the exact data-before-tombstones order the
    // versioned swap protocol's one silent-wrong interleaving needs;
    // lease-held ingest was safe, but the unleased tool/query callers —
    // TrainingData, FsOpsBench — racing a compaction could
    // pair old df counts with a cleared side table). Tombstones.read
    // lists the resolved side table eagerly, so the set is pinned here.
    val tombRaw = Tombstones.read(spark, root, "doc_id")
    val tombBytes = Tombstones.bytesOnDisk(spark, root)
    val tombPending = tombBytes > 0L
    // Degenerate-root guard: a first batch whose increment produced no
    // signature rows can leave the derived logs absent (an empty write
    // may commit no data file) — there is nothing to pair against, and
    // reading an absent parquet dir would throw instead.
    if (!BatchLog.hasData(spark, postingsDir(root, table)) ||
        !BatchLog.hasData(spark, dfDir(root, table)))
      return spark.range(0).selectExpr("id AS doc_a", "id AS doc_b",
        "CAST(0.0 AS DOUBLE) AS jaccard").where(lit(false))
    val newPost = newSigs.select(col("doc_id"), explode(col("shs")).as("h"))
    val incShingles = newPost.select("h").distinct()
    // Live df for the increment's shingles: fold the df deltas, minus
    // pending-tombstoned docs' posting rows (t72's live-df contract with
    // remove() still a pure tombstone append). The df log is one row per
    // (batch, shingle) — a hot shingle costs #batches rows here, never
    // its df, which is what lets the cap be known BEFORE the posting
    // join touches any hot shingle's rows.
    //
    // The SAME one slim scan doubles as the batch-level inverted index
    // (round-12 verdict item: the posting/df scans were the last
    // corpus-linear term): `matched` is exactly the batch keys sharing
    // ANY shingle with the increment, and — because the incremental
    // append AND the rebuild both write posting/df rows under the
    // SIGNATURE log's own batch keys — only those posting/signature
    // directories can contribute a candidate or a verify row. Every
    // other directory is skipped unread. Exact, not approximate: a
    // batch with no shingle overlap can neither change a candidate set
    // nor a Jaccard value. Worst case (every batch shares a shingle)
    // degrades to the previous full scan; the steady state of a
    // novel-content crawl reads ~the increment's own directory.
    // Shingle-group pruning (see the fold-layout note above): when a
    // rebuild-written directory carries the `hgrp=` level and the
    // increment's probe set does not saturate it, both the df scan and
    // the posting scan below read only the groups the increment's
    // shingles hash into — exact, because every consumer of either log
    // equi-joins on `h` against the increment's shingle set first.
    val dfParted = BatchLog.partitionedKeys(spark, dfDir(root, table), hgrpCol)
    val postParted = BatchLog.partitionedKeys(spark, postingsDir(root, table), hgrpCol)
    val dfGs = sidecarGs(spark, dfDir(root, table), dfParted, hgrpSidecarName)
    val postGs = sidecarGs(spark, postingsDir(root, table), postParted, hgrpSidecarName)
    val hProbe = hgrpProbeSet(spark, root, table, incShingles, batchKey,
      dfGs, postGs)
    val dfHits = graft.CacheJanitor.register(
      groupPrunedRead(spark, dfDir(root, table),
        BatchLog.committedKeys(spark, dfDir(root, table)), dfParted,
        hgrpCol, dfGs, hProbe,
        keepKey = true, "SignatureIndex.dfcounts")
        .join(broadcast(incShingles), Seq("h")).persist())
    val dfBase = dfHits.groupBy("h").agg(sum(col("n")).as("df"))
    val matched = dfHits.select("batch_key").distinct()
      .collect().map(_.getString(0)).toSeq
    // Identity-mapping guard: the restriction is sound only when the
    // derived logs' keys ARE signature-log keys (true for every root
    // written by the per-key rebuild; a root whose derived logs predate
    // it carries one independently-minted fold key instead). Misaligned
    // roots fall back to the previous full scans — never a silent
    // under-read — until their next rebuild re-keys them.
    val sigKeys = BatchLog.committedKeys(spark, s"$root/$table").toSet
    val postKeys = BatchLog.committedKeys(spark, postingsDir(root, table)).toSet
    val aligned = matched.nonEmpty && matched.forall(k => sigKeys(k) && postKeys(k))
    if (matched.isEmpty) {
      // An increment WITH shingles always matches at least its own batch
      // — ingest runs maintainDerived before this, so its df rows are in
      // the log. An empty match with a non-empty increment therefore
      // means the derived logs LAG the increment (a direct call on a
      // root whose cache is stale): that is a misalignment, and it takes
      // the same full-scan fallback as a mis-keyed root — returning the
      // empty frame would silently drop increment-internal pairs.
      if (incShingles.isEmpty)
        return spark.range(0).selectExpr("id AS doc_a", "id AS doc_b",
          "CAST(0.0 AS DOUBLE) AS jaccard").where(lit(false))
      // ESCAPE the manifest snapshot for the fallback: readIndex may run
      // recovery (replace fold directories), and a consult answered from
      // the snapshot opened above could alias a just-healed directory.
      // Today's recovery only adopts NEVER-seen batch keys, but the
      // fallback must stay sound without that non-local invariant
      // (the r16 advisory).
      return BatchLog.withoutManifestSnapshot {
        deltaPairs(readIndex(spark, root, table), newSigs)
      }
    }
    // (Tombstone state was pinned at entry, before the df read resolved
    // — the versioned-swap consistency order. Its LIVE bytes probe goes
    // through the version pointer: a cleared-but-versioned side table —
    // empty current version — reads as 0 bytes, so the pending branches
    // below switch off exactly as the old dir-existence probe did on a
    // deleted table.)
    val post =
      if (aligned) groupPrunedRead(spark, postingsDir(root, table), matched,
        postParted, hgrpCol, postGs, hProbe,
        keepKey = false, "SignatureIndex.postings")
      else BatchLog.read(spark, postingsDir(root, table), "SignatureIndex.postings")
        .drop(hgrpCol)
    // The broadcast hint is gated on the side table's measured on-disk
    // size: steady-state removals are tiny and the hint saves a
    // shuffle, but a BULK takedown's pending set is bounded only by
    // removed-doc count — past the bound the strategy is left to the
    // planner, mirroring the frame path's Tombstones.exclude.
    val tomb =
      if (tombBytes <= tombstoneBroadcastMaxBytes) broadcast(tombRaw)
      else tombRaw
    val dfLive =
      if (!tombPending) dfBase
      else {
        val gone = post.join(tomb, Seq("doc_id"), "left_semi")
          .join(broadcast(incShingles), Seq("h"))
          .groupBy("h").agg(count(lit(1)).as("gone"))
        dfBase.join(gone, Seq("h"), "left")
          .select(col("h"), (col("df") - coalesce(col("gone"), lit(0L))).as("df"))
      }
    // No persist on `keep`: its two broadcast uses are identical
    // subplans, deduped by ReuseExchange into one build — a persist
    // would only add a materialization job to the fixed per-batch cost.
    val keep = dfLive.where(col("df") <= dfCap).select("h")
    val postLive =
      if (!tombPending) post
      else post.join(tomb, Seq("doc_id"), "left_anti")
    // Candidates in ONE streamed pass over the postings log: both the
    // df-cap set and the new side broadcast, so the big side never
    // shuffles and never re-partitions (newKeep is increment × dfCap
    // bounded by construction).
    val newKeep = newPost.join(broadcast(keep), Seq("h"))
      .select(col("doc_id").as("new_id"), col("h"))
    val cand = graft.CacheJanitor.register(
      postLive.join(broadcast(keep), Seq("h"))
        .join(broadcast(newKeep), Seq("h"))
        .where(col("new_id") =!= col("doc_id"))
        .select(least(col("new_id"), col("doc_id")).as("doc_a"),
          greatest(col("new_id"), col("doc_id")).as("doc_b"))
        .distinct().persist())
    val candIds = cand.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    // Exact verify exactly as [[deltaPairs]]'s tail — the two-pointer
    // kernel over the stored arrays — but over ONLY the candidate docs'
    // signature rows (one semi-joined scan of the signature log instead
    // of two full array scans). A candidate doc with no live signature
    // row (tombstoned) drops its pairs in these inner joins — the same
    // place the full-frame form drops them.
    // The verify scan obeys the same matched-batch restriction: a
    // candidate doc's signature row lives in the batch directory whose
    // posting rows surfaced it (same key, by the identity-mapping
    // invariant) — recovery/tombstone semantics unchanged
    // (recoverState ran at entry; exclusion applied to the restricted
    // read exactly as readIndex applies it to the full one).
    // Doc-group pruning on the verify scan (the fold's HEAVY shingle
    // arrays): the read only has to produce candidate docs' rows, and a
    // candidate id outside its `dgrp=` groups cannot exist — exact. The
    // candidate set is increment-bounded (it is already broadcast into
    // the verify joins below), so collecting it costs one job over the
    // persisted `cand` frame, paid only when a partitioned fold is
    // among the matched directories.
    val sigParted = BatchLog.partitionedKeys(spark, s"$root/$table", dgrpCol)
    val sigGs = sidecarGs(spark, s"$root/$table", sigParted, dgrpSidecarName)
    val candProbe =
      if (!aligned || !matched.exists(sigParted)) None
      else Some(candIds.collect().map(_.getLong(0)))
    val sigsBase =
      if (aligned)
        groupPrunedRead(spark, s"$root/$table", matched, sigParted,
          dgrpCol, sigGs,
          candProbe, keepKey = false, "SignatureIndex.verify")
          .join(tombRaw, Seq("doc_id"), "left_anti") // pinned above, pre-read
      else readIndex(spark, root, table)
    val sigs = graft.CacheJanitor.register(
      sigsBase.join(broadcast(candIds), Seq("doc_id"), "left_semi").persist())
    val sa = sigs.select(col("doc_id").as("doc_a"), col("shs").as("shs_a"))
    val sb = sigs.select(col("doc_id").as("doc_b"), col("shs").as("shs_b"))
    graft.functions.GraftFunctions.registerAll(spark)
    cand.join(broadcast(sa), Seq("doc_a")).join(broadcast(sb), Seq("doc_b"))
      .withColumn("c", expr("graft_inter_count(shs_a, shs_b)"))
      .withColumn("jaccard",
        col("c").cast("double") /
          (size(col("shs_a")).cast("long") + size(col("shs_b")).cast("long") - col("c")).cast("double"))
      .where(col("jaccard") >= jaccardMin)
      .select("doc_a", "doc_b", "jaccard")
  }
}
