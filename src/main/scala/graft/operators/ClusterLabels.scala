package graft.operators

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Incrementally-maintained near-dup CLUSTER LABELS — the resolution
  * half of the incremental dedup story [[SignatureIndex]] starts: the
  * index makes PAIR detection O(increment) per batch (t67 proves the
  * semantics); this operator turns each batch's delta pairs into an
  * updated `(doc_id, label)` assignment WITHOUT rerunning connected
  * components over the full accumulated pair graph.
  *
  * The trick is that a committed label is itself a certificate of
  * connectivity: `label(d) = min doc_id of d's component`, so the edge
  * `(d, label(d))` reconstructs the old component exactly. A batch
  * therefore resolves CC over only
  *
  *   delta pairs  ∪  (doc_id, label) edges of components the delta touches
  *
  * — O(increment ∪ touched components) rows, never the full graph. New
  * docs with no pair become their own singleton cluster. Untouched
  * components keep their rows bit-identically (spec-pinned).
  *
  * Persistence is the same append-only shape as [[SignatureIndex]]: each
  * batch appends only the rows it (re)defines, stamped with a monotone
  * batch number; [[read]] folds the log keep-last per doc (one shuffle on
  * doc_id); [[compact]] rewrites the fold and atomically swaps it in (the
  * same versioned commit as [[Tombstones.commitCompaction]]).
  * Batch write cost is O(changed rows); only compaction pays a corpus
  * rewrite, on the operator's schedule.
  *
  * Correctness contract (ClusterLabelsSpec pins it per batch): after any
  * sequence of merges, [[read]] equals from-scratch
  * [[Relational.connectedComponents]] over ALL accumulated pairs, plus
  * `label = doc_id` for every ingested doc in no pair.
  */
object ClusterLabels {

  def dir(root: String): String = s"$root/labels"

  private def emptyLabels(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").as("doc_id"), col("id").as("label"))

  /** Crash recovery for [[compact]]'s swap window, run before every
    * read: the shared intent-recorded protocol
    * ([[Tombstones.recoverSwap]]). A compaction that died after its
    * intent is completed from its recorded stage — on a copy+delete FS
    * a crash mid-copy leaves a TORN version dir, which recovery
    * replaces from the complete stage instead of adopting; a stage
    * without an intent never began its commit and is dropped. */
  private def recover(spark: SparkSession, root: String): Unit =
    Tombstones.recoverSwap(spark, s"${dir(root)}.__compact_tmp", dir(root))

  /** Current labels `(doc_id, label)`: keep-last per doc over the
    * append-only delta log (later batches win). Empty frame when no
    * batch was ever merged. */
  def read(spark: SparkSession, root: String): DataFrame = {
    ReadGuard.recoverForRead(spark, root)(recover(spark, root))
    // Refuse a legacy (pre-batch-keyed) log BEFORE the hasData probe:
    // hasData sees no batch_key= dirs in a flat-append root and would
    // otherwise report the log as EMPTY — silently ignoring the entire
    // accumulated label history (merge() already refuses via
    // requireFormat; read paths must agree).
    BatchLog.requireFormat(spark, dir(root), "ClusterLabels.read")
    if (!BatchLog.hasData(spark, dir(root))) emptyLabels(spark)
    else
      BatchLog.read(spark, dir(root), "ClusterLabels")
        .groupBy(col("doc_id"))
        .agg(max_by(col("label"), col("batch")).as("label"))
  }

  /** Raw append-log row count vs its keep-last fold's size `(logRows,
    * liveDocs)` — the COMPACTION signal: the gap is the delta history
    * [[compact]] repays (reads fold `logRows` rows to produce
    * `liveDocs`). Both are metadata-scale counts. */
  def logDepth(spark: SparkSession, root: String): (Long, Long) = {
    ReadGuard.recoverForRead(spark, root)(recover(spark, root))
    BatchLog.requireFormat(spark, dir(root), "ClusterLabels.logDepth")
    if (!BatchLog.hasData(spark, dir(root))) (0L, 0L)
    else {
      val raw = BatchLog.read(spark, dir(root), "ClusterLabels")
      (raw.count(), raw.select("doc_id").distinct().count())
    }
  }

  /** All three ops-poll aggregates `(logRows, labelledDocs, keepers)`.
    * `logRows` is a parquet metadata count (no shuffle). The label
    * totals come from the newest STATS SIDECAR when that sidecar is
    * CURRENT — it exists and saw exactly today's committed-directory
    * set (O(1) metadata reads — see [[LabelStats]]; older batches'
    * sidecars may be missing, only the newest is consulted). A stale or
    * missing newest sidecar — legacy dirs, a merge that crashed between
    * its append and its sidecar write, a torn file — falls back to the
    * exact keep-last fold (ONE shuffle over the log), and the next
    * merge's heal fold restores the fast path. The fallback is why a
    * sidecar anomaly can never produce a wrong answer, only a slower
    * poll; the x100 loop measured the fold at ~16 µs/doc/poll, which
    * is the corpus-linear maintain tax this fast path removes. */
  def labelStats(spark: SparkSession, root: String): (Long, Long, Long) = {
    val (rows, labelled, keepers, _) = labelStatsDetail(spark, root)
    (rows, labelled, keepers)
  }

  /** [[labelStats]] plus whether the sidecar fast path served the
    * totals — exposed for the spec that pins fast path == fold. */
  private[graft] def labelStatsDetail(
      spark: SparkSession, root: String): (Long, Long, Long, Boolean) = {
    ReadGuard.recoverForRead(spark, root)(recover(spark, root))
    BatchLog.requireFormat(spark, dir(root), "ClusterLabels.labelStats")
    if (!BatchLog.hasData(spark, dir(root))) (0L, 0L, 0L, false)
    else {
      lazy val raw = BatchLog.read(spark, dir(root), "ClusterLabels")
      // Row-count sidecars first (driver-side reads): with the stats
      // chain also intact, the whole poll runs ZERO Spark jobs.
      val logRows = BatchLog.committedRowCount(spark, dir(root))
        .getOrElse(raw.count())
      val committed = BatchLog.committedKeys(spark, dir(root))
      val sidecars = committed.flatMap(k => readStats(spark, root, k))
      // Exact iff the NEWEST sidecar saw exactly today's directory SET
      // (key-set hash, not a count — a vanished directory plus a
      // crashed merge cancel out in a count). Only the newest matters:
      // every sidecar ever written carries EXACT post-merge totals (by
      // induction — see [[LabelStats]]), so its values serve the poll
      // regardless of gaps in OLDER batches' sidecars. A crashed-merge
      // gap at the TAIL fails the hash check and we fold instead — and
      // the next merge's heal fold writes a fresh newest sidecar,
      // restoring the fast path without waiting for a compaction.
      if (sidecars.nonEmpty &&
          sidecars.maxBy(_.batch).keysHash == keySetHash(committed)) {
        val top = sidecars.maxBy(_.batch)
        (logRows, top.labelled, top.keepers, true)
      } else {
        val (labelled, keepers) = foldTotals(raw)
        (logRows, labelled, keepers, false)
      }
    }
  }

  /** The exact keep-last fold `(labelled, keepers)` — the fallback and
    * the source of truth every sidecar must equal. */
  private def foldTotals(raw: DataFrame): (Long, Long) = {
    val folded = raw
      .groupBy(col("doc_id"))
      .agg(max_by(col("label"), col("batch")).as("label"))
      .agg(count(lit(1)).as("labelled"),
        sum(when(col("doc_id") === col("label"), 1L).otherwise(0L)).as("keepers"))
      .head
    (folded.getLong(0), if (folded.isNullAt(1)) 0L else folded.getLong(1))
  }

  // ---------------------------------------------------- stats sidecars

  /** Per-batch label totals, stowed as `_label_stats.json` INSIDE the
    * batch directory (underscore name — parquet readers skip it) so it
    * rides the directory's whole lifecycle: committed with it (written
    * just after the data commit), replaced by a replay's overwrite,
    * dropped by a compaction fold. `batch` is the merge's batch number,
    * `labelled`/`keepers` the post-merge corpus totals, `nKeys` the
    * committed-directory count the writer saw — the completeness check
    * [[labelStats]] uses to detect a later batch whose sidecar never
    * landed. A sidecar is only ever written with EXACT totals:
    * incrementally from an exact predecessor when the chain is intact,
    * from the full fold otherwise (first batch, replay of an existing
    * key, healing a gap) — so by induction any readable sidecar is
    * exact for its batch. */
  private[graft] final case class LabelStats(
      batch: Long, labelled: Long, keepers: Long, nKeys: Long,
      keysHash: String)

  /** Order-insensitive fingerprint of a committed-directory key SET —
    * what a sidecar records as "the directories I saw". A COUNT is not
    * enough: a vanished directory plus a crashed merge cancel out in
    * the count, and the fast paths would then mint a next-batch number
    * colliding with the crashed merge's rows (ambiguous keep-last
    * folds) or serve stale totals. SHA-256, not a 32-bit hash: this
    * check is the fast path's ONLY soundness gate, and a 32-bit
    * collision between a stale sidecar's set and the current set would
    * silently validate it — serving stale totals or minting a colliding
    * batch number, the exact failure the hash exists to prevent. Keys
    * are length-delimited (NUL can't appear in sanitized keys) so two
    * different sets can never concatenate to one digest input. Pre-SHA
    * sidecars (r11's 32-bit values) simply fail the equality and fold
    * once — slow, never wrong. */
  private[graft] def keySetHash(keys: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    keys.sorted.foreach { k =>
      md.update(k.getBytes("UTF-8")); md.update(0.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  private val statsName = "_label_stats.json"

  private def statsPath(spark: SparkSession, root: String, key: String): HPath =
    new HPath(BatchLog.dirOfResolved(spark, dir(root), key), statsName)

  private def readStats(spark: SparkSession, root: String, key: String): Option[LabelStats] = {
    val p = statsPath(spark, root, key)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val s = try new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
        finally in.close()
        val m = graft.sources.MiniJson.parseFlat(s)
        // Pre-r11 sidecars lack keys_hash: the getOrElse("") can never
        // match a real hash, so old-format sidecars read as stale and
        // the poll folds until the next merge/compaction rewrites them
        // — slow once, never wrong.
        Some(LabelStats(m("batch").toLong, m("labelled").toLong,
          m("keepers").toLong, m("n_keys").toLong,
          m.getOrElse("keys_hash", "")))
      }
    } catch {
      // A torn/garbled sidecar (crash mid-write) means SLOW, not wrong:
      // the poll folds instead, and the next merge or compaction
      // overwrites the file. Loud because it should be rare.
      case e: Exception =>
        System.err.println(s"[graft] ClusterLabels: unreadable stats sidecar $p ($e); falling back to fold")
        None
    }
  }

  private def writeStats(spark: SparkSession, root: String, key: String,
      st: LabelStats): Unit = {
    val p = statsPath(spark, root, key)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val s = graft.sources.MiniJson.renderFlat(Map(
      "batch" -> st.batch.toString, "labelled" -> st.labelled.toString,
      "keepers" -> st.keepers.toString, "n_keys" -> st.nKeys.toString,
      "keys_hash" -> st.keysHash))
    val out = fs.create(p, true)
    try out.write((s + "\n").getBytes("UTF-8")) finally out.close()
  }

  /** Pure-frame merge (no I/O — also the form t68's oracle query runs):
    * the FULL new label table from the old one plus one batch of delta
    * pairs `(doc_a, doc_b)` and the batch's ingested doc ids. */
  def mergeFrames(old: DataFrame, pairs: DataFrame, newDocs: DataFrame): DataFrame = {
    val parts = mergeParts(old, pairs, newDocs)
    parts.untouched.unionByName(parts.delta)
  }

  /** The split the persisted path needs: `delta` = rows this batch
    * (re)defines (relabeled members of touched components + new docs),
    * `untouched` = old rows in components the batch never touches. */
  private final case class Parts(untouched: DataFrame, delta: DataFrame)

  private def mergeParts(old: DataFrame, pairs: DataFrame, newDocs: DataFrame): Parts = {
    // Persist the pair frame: it is referenced by `touched` (twice, via
    // the union) and by `edges`, and a caller typically hands us the
    // UNMATERIALIZED output of SignatureIndex.deltaPairs — without the
    // persist each reference re-runs the whole posting-join + Jaccard
    // verify (measured 2.9 s/recompute at sf0.1; t68 spent 27 s here).
    val p = graft.CacheJanitor.register(
      pairs.select(col("doc_a").cast("long").as("doc_a"),
        col("doc_b").cast("long").as("doc_b")).persist())
    val o = old.select(col("doc_id").cast("long").as("doc_id"),
      col("label").cast("long").as("label"))
    val touched = p.select(col("doc_a").as("doc_id"))
      .union(p.select(col("doc_b").as("doc_id"))).distinct()
    // Labels of every component the batch touches (a join against the
    // increment-sized touched set — broadcastable), then ALL members of
    // those components: the only old rows that can possibly relabel.
    val touchedLabels = o.join(touched, "doc_id").select("label").distinct()
    val members = o.join(touchedLabels, "label").select(col("doc_id"), col("label"))
    // CC input: delta pairs ∪ old-label edges of touched components.
    // label(d) is the min doc_id of d's old component, so (d, label(d))
    // is a real doc-doc edge and the resolved label is the min doc_id
    // over the merged component — the exact contract of a from-scratch
    // run over all accumulated pairs.
    val edges = p.union(members.select(col("doc_id"), col("label")))
    val relabeled = Relational.connectedComponents(edges)
      .select(col("node").cast("long").as("doc_id"), col("label").cast("long").as("label"))
    val singletons = newDocs.select(col("doc_id").cast("long").as("doc_id")).distinct()
      .join(relabeled.select("doc_id"), Seq("doc_id"), "left_anti")
      .join(o.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("label"))
    val untouched = o.join(touchedLabels, Seq("label"), "left_anti")
      .select(col("doc_id"), col("label"))
    Parts(untouched, relabeled.unionByName(singletons))
  }

  /** Keep-last fold of a (doc_id, label, batch) row subset. */
  private def currentOf(rows: DataFrame): DataFrame =
    rows.groupBy(col("doc_id"))
      .agg(max_by(col("label"), col("batch")).as("label"))

  /** One maintenance batch: resolve this batch's `pairs` (e.g.
    * [[SignatureIndex.deltaPairs]] output) against the persisted labels
    * and APPEND only the changed/new rows. Returns the updated full
    * label table (LAZY — materializing it costs the full [[read]] fold;
    * a caller that only maintains state never pays it).
    *
    * Unlike [[mergeFrames]] (which takes the full old table), the
    * persisted path never folds the whole log: it keep-last-folds ONLY
    * the log rows of touched docs, then the rows carrying a
    * touched-component label. The label filter is sound because RETIRED
    * LABEL VALUES NEVER RETURN: a label is the min doc_id of its
    * component, components only ever merge (per-doc labels are monotone
    * non-increasing), so when a component is absorbed its old label
    * value stops being ANY doc's current label forever. A doc whose
    * STALE row matched the filter would have left that label behind in
    * a merge — retiring it — contradicting the label being in the
    * touched set (which holds only CURRENT labels). So every matched
    * doc's LATEST row is in the filtered subset, and the keep-last fold
    * yields exactly the touched components' current membership
    * (ClusterLabelsSpec pins equality with a from-scratch resolve,
    * including re-touching a component that holds stale retired-label
    * rows).
    *
    * Two paths, one result. Below the small-graph gate
    * ([[Relational.ccSmallGraphMaxEdges]]: 2·|pairs| and the new-doc
    * count both within it, and the touched components' members too) the
    * batch resolves ON THE DRIVER: the pairs and new doc ids are
    * collected once, the log is read twice through pushed-down filters
    * (`doc_id IN (touched ∪ new)`, then `label IN (touched labels)`),
    * each read folded keep-last on the driver, one
    * [[Relational.unionFind]] runs over pairs ∪ member edges, and one
    * local frame, sorted on `doc_id`, is appended with
    * [[BatchLog.pointLookupWriteOptions]] — so later id reads can skip
    * the batch's row groups by min/max. A handful of Spark jobs per
    * batch instead of ~26; the reads still scan every row group their
    * filters cannot prune (SCALE.md prices them at 100 TB, where the
    * label read scans the log). Above the gate the same
    * resolution runs as Spark joins (semi-joins against the log, the
    * distributed [[Relational.connectedComponents]]), O(increment ∪
    * touched components' history) shuffle, never the corpus.
    *
    * A NULL doc id in `pairs` or `newDocs` is refused with an
    * `IllegalArgumentException` on both paths, before anything is
    * written (it would otherwise land as a NULL label row).
    *
    * `batchKey` is the replay-idempotence handle ([[BatchLog]]): the
    * delta lands under `batch_key=<key>` and the state computation
    * EXCLUDES any rows already stored under that key, so a
    * crash-after-commit retry of the same landing batch reproduces the
    * pre-append state exactly — same delta, same batch number,
    * overwriting itself. `None` mints a fresh auto key (not
    * replay-idempotent, the pre-change behavior). */
  def merge(spark: SparkSession, root: String, pairs: DataFrame,
      newDocs: DataFrame, batchKey: Option[String] = None): DataFrame =
    merge(spark, root, pairs, newDocs, batchKey, Relational.ccSmallGraphMaxEdges)

  /** [[merge]] with an explicit driver-path gate: `0` forces the
    * distributed path (specs run both, as RelationalSpec does for CC). */
  private[graft] def merge(spark: SparkSession, root: String, pairs: DataFrame,
      newDocs: DataFrame, batchKey: Option[String],
      smallGraphMaxEdges: Long): DataFrame = WriterLease.withLease(spark, root) {
    mergeBatch(spark, root, pairs, newDocs, batchKey, smallGraphMaxEdges)
    read(spark, root)
  }

  /** Row counts of a merge's inputs (`newDocs` rows, `pairs` rows), known
    * for free when the driver path collected them. */
  private[graft] final case class BatchCounts(newDocs: Long, pairs: Long)

  /** [[merge]] without building its returned [[read]] frame (one
    * schema-inference job a maintenance loop discards). Returns the
    * input row counts when the driver path ran, `None` on the
    * distributed path. */
  private[graft] def mergeBatch(spark: SparkSession, root: String, pairs: DataFrame,
      newDocs: DataFrame, batchKey: Option[String],
      smallGraphMaxEdges: Long = Relational.ccSmallGraphMaxEdges): Option[BatchCounts] =
      WriterLease.withLease(spark, root) {
    recover(spark, root)
    BatchLog.requireFormat(spark, dir(root), "ClusterLabels")
    val key = BatchLog.resolveKey(spark, dir(root), batchKey)
    val pairCols = pairs.select(col("doc_a").cast("long").as("doc_a"),
      col("doc_b").cast("long").as("doc_b"))
    val docCols = newDocs.select(col("doc_id").cast("long").as("doc_id"))
    val hasLog = BatchLog.hasData(spark, dir(root))
    val log =
      if (hasLog)
        // Through the version pointer: a compacted label log serves its
        // committed state from the current _versions/<n> dir. Declared
        // schema: no footer-inference job per read.
        spark.read.schema(logSchema).parquet(BatchLog.resolve(spark, dir(root)))
          .where(col("batch_key") =!= lit(key)).drop("batch_key")
      else spark.range(0).select(col("id").as("doc_id"),
        col("id").as("label"), col("id").as("batch"))
    val collected =
      if (smallGraphMaxEdges <= 0) None
      else for {
        ps <- boundedCollect(pairCols, smallGraphMaxEdges / 2)
        ds <- boundedCollect(docCols, smallGraphMaxEdges)
      } yield (ps, ds)
    val resolved = collected
      .flatMap { case (ps, ds) => resolveOnDriver(root, log, hasLog, ps, ds, smallGraphMaxEdges) }
      .getOrElse(resolveDistributed(root, log, pairCols, docCols, smallGraphMaxEdges))
    val committedBefore = BatchLog.committedKeys(spark, dir(root))
    // Read BEFORE the append: for a replayed key the append overwrites
    // the directory (and its old sidecar) — the replay branch below
    // must not see its own half-replaced state.
    val prevSidecars = committedBefore.flatMap(k => readStats(spark, root, k))
    val sidecarCurrent = prevSidecars.nonEmpty &&
      prevSidecars.maxBy(_.batch).keysHash == keySetHash(committedBefore)
    // Max over the log MINUS this key's own rows: a replay computes the
    // same next batch number its first run did. Served from the newest
    // sidecar when it is current and this is NOT a replay (the newest
    // sidecar's batch IS the log's max batch then) — the max-batch
    // aggregate was one more per-batch job scanning the whole log.
    val nextBatch =
      if (!hasLog) 1L
      else if (sidecarCurrent && !committedBefore.contains(key))
        prevSidecars.maxBy(_.batch).batch + 1L
      else {
        val r = log.agg(max(col("batch"))).head
        if (r.isNullAt(0)) 1L else r.getLong(0) + 1L
      }
    // ONE file per batch directory (both paths hand over a
    // single-partition delta): every later merge/fold re-opens every
    // label file, so near-empty shuffle-partition files were a file-open
    // tax growing with batch count (3.7k label files by batch 55 of the
    // x100 loop before the collapse).
    BatchLog.appendResolved(resolved.delta.withColumn("batch", lit(nextBatch)),
      dir(root), key, "ClusterLabels", writeOptions = resolved.writeOptions)
    // Stats sidecar for the O(1) health poll ([[labelStats]]). Only
    // written when the append actually landed (the retired-keys ledger
    // can veto a replay of a compaction-absorbed batch — no dir, no
    // sidecar). Totals are EXACT by construction: incremental from an
    // intact predecessor chain, full fold otherwise.
    val committedAfter = BatchLog.committedKeys(spark, dir(root))
    if (committedAfter.contains(key)) {
      val replay = committedBefore.contains(key)
      // Intact iff the NEWEST predecessor sidecar is current (saw every
      // pre-merge directory, carries the immediately-preceding batch
      // number): the incremental arithmetic below only consumes that one
      // sidecar's totals, and any written sidecar is exact by induction
      // — gaps in OLDER batches' sidecars don't matter.
      val chainIntact = committedBefore.isEmpty || (sidecarCurrent &&
        prevSidecars.maxBy(_.batch).batch == nextBatch - 1)
      val (labelled, keepers) =
        if (!replay && chainIntact) {
          // delta replaces EXACTLY the members rows and adds the batch's
          // new docs (relabeled ⊇ members; singletons are new): so
          //   labelled' = labelled − |members| + |delta|
          //   keepers'  = keepers − keepers(members) + keepers(delta)
          val ((mN, mK), (dN, dK)) = resolved.totals()
          val (pL, pK) =
            if (committedBefore.isEmpty) (0L, 0L)
            else { val t = prevSidecars.maxBy(_.batch); (t.labelled, t.keepers) }
          (pL - mN + dN, pK - mK + dK)
        } else
          // Replay of an existing key (its old rows left the fold) or a
          // stale/missing newest sidecar (crashed sidecar write, legacy
          // dirs): pay one exact fold NOW. The sidecar written below is
          // then the NEWEST with nKeys == the post-merge directory count,
          // so the very next poll and merge are back on the fast path —
          // one fold heals the chain; compaction is not needed for it.
          foldTotals(BatchLog.read(spark, dir(root), "ClusterLabels"))
      writeStats(spark, root, key,
        LabelStats(nextBatch, labelled, keepers, committedAfter.size,
          keySetHash(committedAfter)))
    }
    collected.map { case (ps, ds) => BatchCounts(ds.length.toLong, ps.length.toLong) }
  }

  /** Label-log file schema, `batch_key` being the batch-directory
    * partition column. */
  private val logSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("label", LongType),
    StructField("batch", LongType), StructField("batch_key", StringType)))

  /** One batch resolved against the log: `delta` = the single-partition
    * `(doc_id, label)` rows it (re)defines, written with `writeOptions`;
    * `totals` = `(count, keepers)` of the touched components' old
    * members and of the delta — the sidecar arithmetic's inputs, only
    * evaluated when the chain is intact. */
  private final case class Resolved(delta: DataFrame,
      writeOptions: Map[String, String], totals: () => ((Long, Long), (Long, Long)))

  /** At most `max` rows of `df` on the driver, or `None` when it holds
    * more — a size gate paid by the collect the driver path needs anyway. */
  private def boundedCollect(df: DataFrame, max: Long): Option[Array[Row]] = {
    val cap = math.max(0L, math.min(max, Int.MaxValue - 1L))
    val rows = df.limit(cap.toInt + 1).collect()
    if (rows.length > cap) None else Some(rows)
  }

  private def refuseNullIds(root: String, what: String): Nothing =
    throw new IllegalArgumentException(
      s"ClusterLabels.merge on $root: NULL doc id in the batch's $what — " +
        "every pair endpoint and new doc needs an id")

  /** Keep-last per doc over collected `(doc_id, label, batch)` rows. */
  private def keepLast(rows: Array[Row]): Map[Long, Long] = {
    val best = scala.collection.mutable.HashMap.empty[Long, (Long, Long)]
    rows.foreach { r =>
      val (d, b) = (r.getLong(0), r.getLong(2))
      if (best.get(d).forall(_._1 < b)) best(d) = (b, r.getLong(1))
    }
    best.iterator.map { case (d, (_, l)) => d -> l }.toMap
  }

  private def totalsOf(rows: Iterable[(Long, Long)]): (Long, Long) =
    (rows.size.toLong, rows.count { case (d, l) => d == l }.toLong)

  /** The driver path: `None` when the touched components' members
    * would overflow the gate (the caller then runs the distributed
    * path). */
  private def resolveOnDriver(root: String, log: DataFrame, hasLog: Boolean,
      ps: Array[Row], ds: Array[Row], gate: Long): Option[Resolved] = {
    if (ps.exists(r => r.isNullAt(0) || r.isNullAt(1))) refuseNullIds(root, "pairs")
    if (ds.exists(_.isNullAt(0))) refuseNullIds(root, "newDocs")
    val pairIds = ps.map(r => (r.getLong(0), r.getLong(1)))
    val touched = pairIds.iterator.flatMap { case (a, b) => Iterator(a, b) }.toSet
    val nd = ds.iterator.map(_.getLong(0)).toSet
    val rowCols = Seq(col("doc_id"), col("label"), col("batch"))
    // First read: every log row of a touched or new doc.
    val probed = touched ++ nd
    val seen =
      if (!hasLog || probed.isEmpty) Array.empty[Row]
      else log.where(col("doc_id").isin(probed.toSeq: _*)).select(rowCols: _*).collect()
    val touchedLabels = keepLast(seen.filter(r => touched(r.getLong(0)))).values.toSet
    val knownNew = seen.iterator.map(_.getLong(0)).filter(nd).toSet
    // Second read: every member row of the touched components.
    val memberRows =
      if (touchedLabels.isEmpty) Some(Array.empty[Row])
      else boundedCollect(
        log.where(col("label").isin(touchedLabels.toSeq: _*)).select(rowCols: _*),
        gate / 2 - pairIds.length)
    memberRows.map { rows =>
      val members = keepLast(rows)
      // label(d) is the min doc_id of d's old component, so (d, label(d))
      // is a real doc-doc edge and the resolved label is the min doc_id
      // over the merged component — a from-scratch run's contract.
      val relabeled = Relational.unionFind(pairIds.iterator ++ members.iterator)
      val singletons = nd.iterator.filterNot(d => relabeled.contains(d) || knownNew(d))
      val delta = (relabeled.iterator ++ singletons.map(d => d -> d)).toArray.sortBy(_._1)
      val spark = log.sparkSession
      Resolved(
        spark.createDataFrame(delta.toSeq).toDF("doc_id", "label")
          .coalesce(1).sortWithinPartitions("doc_id"),
        BatchLog.pointLookupWriteOptions,
        () => (totalsOf(members), totalsOf(delta)))
    }
  }

  /** The distributed path: the same resolution as Spark joins. */
  private def resolveDistributed(root: String, log: DataFrame, pairCols: DataFrame,
      docCols: DataFrame, gate: Long): Resolved = {
    val p = graft.CacheJanitor.register(pairCols.persist())
    if (!p.where(col("doc_a").isNull || col("doc_b").isNull).isEmpty)
      refuseNullIds(root, "pairs")
    if (!docCols.where(col("doc_id").isNull).isEmpty) refuseNullIds(root, "newDocs")
    val touched = p.select(col("doc_a").as("doc_id"))
      .union(p.select(col("doc_b").as("doc_id"))).distinct()
    val touchedLabels = currentOf(log.join(touched, Seq("doc_id"), "left_semi"))
      .select("label").distinct()
    // Persisted: feeds the CC edge set AND the stats-sidecar counts
    // (touched-component-sized, never the corpus).
    val members = graft.CacheJanitor.register(
      currentOf(log.join(touchedLabels, Seq("label"), "left_semi")).persist())
    val edges = p.union(members.select(col("doc_id"), col("label")))
    val relabeled = Relational.connectedComponents(edges, smallGraphMaxEdges = gate)
      .select(col("node").cast("long").as("doc_id"), col("label").cast("long").as("label"))
    val nd = docCols.distinct()
    val knownNew = log.join(nd, Seq("doc_id"), "left_semi")
      .select("doc_id").distinct()
    val singletons = nd
      .join(relabeled.select("doc_id"), Seq("doc_id"), "left_anti")
      .join(knownNew, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("label"))
    val delta = graft.CacheJanitor.register(
      relabeled.unionByName(singletons).persist())
    // Two touched-sized aggregates over frames the merge already
    // materialized — never a corpus fold.
    def agg2(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        sum(when(col("doc_id") === col("label"), 1L).otherwise(0L))).head
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    // repartition, not coalesce: the single-file collapse must not
    // serialize the upstream CC/singleton stages into one task.
    Resolved(delta.repartition(1), Map.empty, () => (agg2(members), agg2(delta)))
  }

  /** Keeper manifest under the engine's min-id policy (t34/t42/t54):
    * `keep` iff the doc IS its component's label. */
  def keeperManifest(labels: DataFrame): DataFrame =
    labels.select(col("doc_id"), col("label"),
      (col("doc_id") === col("label")).as("keep"))

  /** Highest merged batch number (0 = never merged). */
  def latestBatch(spark: SparkSession, root: String): Long = {
    ReadGuard.recoverForRead(spark, root)(recover(spark, root))
    BatchLog.requireFormat(spark, dir(root), "ClusterLabels.latestBatch")
    if (!BatchLog.hasData(spark, dir(root))) 0L
    else {
      val r = BatchLog.read(spark, dir(root), "ClusterLabels")
        .agg(max(col("batch"))).head
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
  }

  /** The keeper-manifest DELTA of one merge batch: keep/demote flags for
    * exactly the rows that batch (re)defined — what a downstream
    * manifest consumer applies incrementally (a keeper that loses its
    * component-min status on a merge shows up here with `keep = false`,
    * without rescanning the corpus manifest). O(changed rows): the log
    * is batch-stamped, so this is one filtered read. */
  def keeperDelta(spark: SparkSession, root: String, batch: Long): DataFrame = {
    ReadGuard.recoverForRead(spark, root)(recover(spark, root))
    keeperManifest(BatchLog.read(spark, dir(root), "ClusterLabels")
      .where(col("batch") === batch).select(col("doc_id"), col("label")))
  }

  /** Fold the delta log to one row per doc and atomically swap it in —
    * the end state is identical to [[read]] (and to a from-scratch
    * resolve), with the log's history dropped. Same stage-then-rename
    * commit as snapshot compaction. */
  def compact(spark: SparkSession, root: String): Unit = WriterLease.withLease(spark, root) {
    val dest = dir(root)
    val tmp = s"$dest.__compact_tmp"
    BatchLog.stageRewrite(read(spark, root).withColumn("batch", lit(1L)), dest, tmp)
    // The shared versioned swap; ClusterLabels has no tombstone side
    // table, so the swap-only form.
    Tombstones.commitSwap(spark, tmp, dest)
    // Fresh stats sidecar for the folded directory (the fold dropped any
    // per-batch sidecars with the history) — this is also what HEALS a
    // chain gap left by a crashed sidecar write: post-compaction the
    // poll is O(1) again. One aggregate over the just-written single
    // fold; a crash before this write only costs the poll its fast path.
    BatchLog.committedKeys(spark, dest) match {
      case Seq(k) =>
        val (labelled, keepers) =
          foldTotals(BatchLog.read(spark, dest, "ClusterLabels.compact"))
        writeStats(spark, root, k,
          LabelStats(1L, labelled, keepers, 1L, keySetHash(Seq(k))))
      case ks =>
        System.err.println(
          s"[graft] ClusterLabels.compact: expected one folded batch dir, saw $ks; skipping stats sidecar")
    }
  }
}
