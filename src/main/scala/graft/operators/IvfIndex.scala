package graft.operators

import graft.functions.TextSim
import graft.functions.TextSim.{spark => sprk}
import graft.queries.TrainingData
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The persisted, incrementally-maintained IVF index lifecycle, shared
  * by its two codecs — [[AnnIndex]] (SQ8 int8 codes) and [[PqIndex]]
  * (4-bit product-quantizer codes): one index structure with pluggable
  * compression. A codec supplies the quantizer artifact it freezes
  * beside the coarse centroids (`Q`), its training, encoding and
  * scoring, and its re-rank pool; recovery, ingest, remove, compact,
  * health, maintain, the refreeze protocol and the probe/rank/re-rank
  * query live here once.
  *
  * State layout under `root/`: `quantizer/centroids` (`(cell, centroid)`
  * coarse cells, t41's bounded deterministic k-means) and the codec's
  * artifact, both trained ONCE on the first batch and FROZEN; `codes/`,
  * `cell=<id>/`-partitioned code rows, append-only. The freeze is the
  * production contract (FAISS-style: retraining means reindexing, see
  * [[refreeze]]) and what makes incrementality EXACT — N batches encode
  * byte-identically to one encode of the union (spec-pinned per codec).
  *
  * Queries assign their probe cells scan-side; the probed cell set (a
  * bounded collect) becomes a STATIC partition filter, so only probed
  * `cell=` directories are read at any index size. Deletion is
  * tombstone-then-compact ([[Tombstones]]): [[remove]] is O(removed
  * ids); only [[compact]] rewrites, under the unchanged quantizer. */
private[graft] abstract class IvfIndex[Q] {

  /** Operator name (`AnnIndex`) — the [[BatchLog]] op tag; its short
    * form (`ann`) tags the seal marker, temp views and errors. */
  protected def name: String
  private def tag = name.stripSuffix("Index").toLowerCase
  /** Exact re-rank pool per query (never below k). */
  val rerankPool: Int
  /** Declared-schema read / write of the codec's artifact inside a
    * quantizer directory (beside `centroids`). */
  protected def readArtifact(spark: SparkSession, quantDir: String): Q
  protected def writeArtifact(spark: SparkSession, q: Q, quantDir: String): Unit
  /** Train both quantizers on a temp view, in the family's job order.
    * `knownN` is the view's validated row count when the caller has it. */
  protected def train(spark: SparkSession, view: String,
      knownN: Option[Long]): (Array[Array[Double]], Q)
  protected def encodeWith(vecs: DataFrame, cents: Array[Array[Double]], q: Q): DataFrame
  /** Extra first-stage query columns (inputs of [[queryExtras]]). */
  protected def queryInputs: Seq[String] = Nil
  /** Extra per-query columns carried to scoring, as (name, expr). */
  protected def queryExtras(q: Q): Seq[(String, String)] = Nil
  /** Codes-side projection ahead of the scoring join. */
  protected def scoreSide(codes: DataFrame, q: Q): DataFrame = codes
  /** The `approx_cosine` expression over a (query, codes) row. */
  protected def approxCosine(q: Q): String

  val probeCells = 3

  /** Probe count for a cell ladder step: recall tracks the scanned
    * corpus FRACTION (FAISS scales nprobe with nlist), so the persisted
    * index probes max(3, cells/4) — ~25% of cells at every ladder step.
    * A fixed nprobe=3 halved recall across a refreeze's cell doubling
    * (0.62 -> 0.32 at 2000 vectors). The registry queries (t41/t49/t63)
    * keep their pinned nprobe=3 form. */
  def probesFor(cells: Int): Int = math.max(probeCells, cells / 4)

  /** An ingest's result. `allCodes` is CONSTRUCT-ON-FIRST-USE (r20): the
    * full-index frame costs a schema-inference job plus listing FS ops
    * and no production caller consumes it; it pins the log state at
    * FIRST ACCESS, not at ingest return. */
  final class Batch private[IvfIndex] (val newCodes: DataFrame,
      allCodesF: () => DataFrame) {
    lazy val allCodes: DataFrame = allCodesF()
  }
  object Batch {
    def apply(newCodes: DataFrame, allCodes: => DataFrame): Batch =
      new Batch(newCodes, () => allCodes)
  }

  private val quantStage = RefreezeProtocol.quantStageName

  /** The directory the CURRENT quantizer lives in: inside the resolved
    * codes version (`codes/_versions/<n>/_quantizer` — written by every
    * refreeze and carried forward by compaction, so quantizer
    * + codes resolve as ONE committed pair), else the first batch's
    * top-level `root/quantizer`. Resolution goes through [[BatchLog]]'s
    * snapshot cache, so a read section pins ONE version for both. */
  private[graft] def quantizerDir(spark: SparkSession, root: String): String = {
    val inVersion = s"${BatchLog.resolve(spark, s"$root/codes")}/$quantStage"
    if (BatchLog.hasCommittedFiles(spark, s"$inVersion/centroids")) inVersion
    else s"$root/quantizer"
  }

  /** Load the frozen quantizer if present. */
  private def loadQuantizer(spark: SparkSession, root: String)
      : Option[(Array[Array[Double]], Q)] = {
    val qd = quantizerDir(spark, root)
    // Committed-data probe, not a bare directory probe: a crash DURING
    // the centroids write leaves the directory holding only _temporary
    // task state, which must read as "never trained" (the next first
    // batch retrains over it) rather than as a half-quantizer that
    // fails schema inference forever.
    if (!BatchLog.hasCommittedFiles(spark, s"$qd/centroids")) None
    else {
      // Driver-side sort, NOT `.orderBy(...).collect()` (r20): a global
      // sort on KB-scale artifacts costs ~3 extra driver jobs. Declared
      // schemas skip the footer-inference job.
      val cents = spark.read.schema("cell BIGINT, centroid ARRAY<DOUBLE>")
        .parquet(s"$qd/centroids")
        .collect().sortBy(_.getLong(0)).map(_.getSeq[Double](1).toArray)
      Some((cents, readArtifact(spark, qd)))
    }
  }

  /** WRITE ORDER is the crash contract: the codec artifact lands first,
    * centroids LAST, and [[loadQuantizer]] probes the centroids
    * directory — so a crash between the two writes leaves a partial
    * that reads as "never trained", never a half-quantizer. */
  private def writeQuantizer(spark: SparkSession, dir: String,
      cents: Array[Array[Double]], q: Q): Unit = {
    import spark.implicits._
    writeArtifact(spark, q, dir)
    cents.zipWithIndex.map { case (c, i) => ((i + 1).toLong, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
  }

  /** True when the live corpus has outgrown the frozen quantizer's
    * ladder step (`ivfCells(live) > frozen cells`) — the signal an
    * operator schedules [[refreeze]] on, mirroring
    * [[CosineDedupIndex.occupancy]]. */
  def needsRefreeze(spark: SparkSession, root: String): Boolean =
    loadQuantizer(spark, root).exists { case (cents, _) =>
      TextSim.ivfCellsValue(readCodes(spark, root).count()) > cents.length
    }

  /** Packaged ops snapshot ([[IndexHealth]] — one shape across the
    * index family): live/tombstoned counts, frozen coarse-cell count,
    * occupied cells + occupancy, and the drift predicate, in one scan
    * of the code log (the predicate reuses the probe's live count
    * instead of re-scanning like [[needsRefreeze]] would). Crash
    * recovery runs before any probe — a swap-window poll reports the
    * state the crashed commit was landing. */
  def health(spark: SparkSession, root: String): IndexHealth = {
    ReadGuard.recoverForRead(spark, root)(recoverState(spark, root))
    loadQuantizer(spark, root) match {
      case None => IndexHealth.virgin
      case Some((cents, _)) =>
        BatchLog.requireFormat(spark, s"$root/codes", s"$name.health")
        if (!BatchLog.hasData(spark, s"$root/codes"))
          IndexHealth.emptyLog(spark, root, "vec_id", cents.length.toLong)
        else IndexHealth.probe(spark, root, readCodes(spark, root),
          "cell", "vec_id", cents.length.toLong,
          n => TextSim.ivfCellsValue(n) > cents.length)
    }
  }

  /** One scheduled maintenance poll ([[IndexMaintenance]] — the
    * standalone-index mirror of `DedupPipeline.maintainOnce`): refreeze
    * on drift — `corpus` is only evaluated then (retraining needs the
    * original floats; codes are lossy) — else compact past the
    * tombstone ratio. */
  def maintain(spark: SparkSession, root: String, corpus: => DataFrame,
      tombstoneRatio: Double = 0.1, maxLogDirs: Int = 64): IndexMaintenance = WriterLease.withLease(spark, root) {
    val before = health(spark, root)
    val refrozen = before.needsRefreeze
    if (refrozen) refreeze(spark, root, corpus)
    // hasData gate: tombstones on a trained-but-unfed root stay pending
    // (an empty-log compact would only clear the side table they must
    // keep suppressing later ingests from). Past maxLogDirs committed
    // batch directories the log folds even with zero tombstones,
    // bounding the listing tax of an endless append loop.
    val compacted = !refrozen && BatchLog.hasData(spark, s"$root/codes") && (
      (before.tombstoned > 0 &&
        before.tombstoned >= tombstoneRatio * math.max(before.live, 1L)) ||
      BatchLog.committedKeys(spark, s"$root/codes").size > maxLogDirs)
    if (compacted) compact(spark, root)
    IndexMaintenance(refrozen, compacted, before, health(spark, root))
  }

  /** One maintenance batch: encode `increment` ONLY (first batch also
    * trains the quantizer from it), append its code files under their
    * `cell=` directories, return the new codes and the full index. The
    * increment must carry vec_ids not already indexed — keep-last dedup
    * is the landing layer's job, upstream of this (same contract as
    * [[SignatureIndex.ingest]]). `batchKey` is the replay-idempotence
    * handle ([[BatchLog]]). */
  def ingest(spark: SparkSession, root: String, increment: DataFrame,
      batchKey: Option[String] = None): Batch = WriterLease.withLease(spark, root) {
    // Full recovery BEFORE the append: appending inside a crashed
    // compaction's swap window would recreate the codes dir with only
    // this increment, and the staged fold would then be dropped as
    // abandoned — the corpus lost in this very call.
    recoverState(spark, root)
    // The first batch trains and persists the quantizer (a crashed first
    // write retrains deterministically over the partial); later load it.
    val (cents, q) = loadQuantizer(spark, root).getOrElse {
      increment.createOrReplaceTempView(s"graft_${tag}_train")
      val trained = train(spark, s"graft_${tag}_train", None)
      writeQuantizer(spark, s"$root/quantizer", trained._1, trained._2)
      trained
    }
    val enc = graft.CacheJanitor.register(encodeWith(increment, cents, q).persist())
    // Batch-keyed append: `batch_key=<key>/cell=<id>/` directories, so a
    // caller-keyed batch replayed after a crash replaces its own files
    // instead of double-appending; `cell` stays a partition column one
    // level down, so the static cell pruning is unchanged.
    BatchLog.append(enc, s"$root/codes", batchKey, name, partitionBy = Seq("cell"))
    Batch(enc, readCodes(spark, root))
  }

  /** Crash recovery alone (refreeze + compaction swap windows) — run
    * by every mutating or reading entry point before touching state. */
  private[operators] def recoverState(spark: SparkSession, root: String): Unit = {
    refreezeRecover(spark, root)
    Tombstones.recoverSwap(spark, s"$root/codes.__compact_tmp", s"$root/codes")
  }

  /** Live code rows: the snapshot (cell cast back to its canonical
    * BIGINT — partition-column inference reads `cell=` dirs as INT)
    * minus tombstoned vec_ids. */
  private def readCodes(spark: SparkSession, root: String): DataFrame = {
    ReadGuard.recoverForRead(spark, root)(recoverState(spark, root))
    // Tombstones pinned BEFORE the codes read resolves (excluding): the
    // versioned swap protocol's one silent-wrong interleaving is old
    // codes paired with a just-cleared side table.
    Tombstones.excluding(spark, root, "vec_id") {
      BatchLog.read(spark, s"$root/codes", name)
        .withColumn("cell", col("cell").cast("long"))
    }
  }

  /** Tombstone vec_ids out of the index (takedowns, re-embeds, dedup
    * keeper changes). Appends to the side table only — `cell=` code
    * files stay byte-untouched (spec-pinned); the ids stop appearing as
    * [[topK]] neighbors from this call on. The frozen quantizer is
    * unaffected: removal never retrains (same contract as ingest). */
  def remove(spark: SparkSession, root: String, ids: DataFrame): Unit = WriterLease.withLease(spark, root) {
    // Compaction recovery too: a tombstone appended inside a crashed
    // compaction's swap window would be cleared when a later reader
    // adopts the staged fold (the recorded commit clears the side table).
    recoverState(ids.sparkSession, root)
    Tombstones.append(root, ids, "vec_id")
  }

  def remove(spark: SparkSession, root: String, ids: Seq[Long]): Unit = {
    import spark.implicits._
    remove(spark, root, ids.toDF("vec_id"))
  }

  /** Rewrite `codes/` minus tombstones (same `cell=` layout, so the
    * probed-partition-only read path is unchanged) and clear the side
    * table. Content-identical to a frozen-quantizer encode of the
    * surviving vectors (spec-pinned). */
  def compact(spark: SparkSession, root: String): Unit = WriterLease.withLease(spark, root) {
    val dest = s"$root/codes"
    val tmp = s"$root/codes.__compact_tmp"
    BatchLog.stageRewrite(readCodes(spark, root), dest, tmp, partitionBy = Seq("cell"))
    copyQuantizerIntoStage(spark, root, tmp)
    Tombstones.commitCompaction(spark, root, tmp, dest)
  }

  /** Carry the current quantizer into a codes stage (`_quantizer`
    * subdir): every committed codes version is then SELF-CONTAINED —
    * without this, a compaction committed after a versioned refreeze
    * would create a version whose quantizer fallback resolves to the
    * stale top-level dir (silently wrong cells). KB-scale copy. */
  private def copyQuantizerIntoStage(spark: SparkSession, root: String,
      tmp: String): Unit = {
    val src = quantizerDir(spark, root)
    if (BatchLog.hasCommittedFiles(spark, s"$src/centroids"))
      RefreezeProtocol.copyDir(spark, src, s"$tmp/$quantStage")
  }

  // ---------------------------------------------------------------- refreeze

  private def codesRefreezeTmp(root: String): String = s"$root/codes.__refreeze_tmp"

  /** Ladder-step migration for a quantizer frozen on a first batch the
    * corpus has outgrown: retrains both quantizers on the SURVIVING
    * vectors (`corpus` supplies `(vec_id, embedding)` floats for at least
    * the live ids — codes are lossy), re-encodes every survivor, folds
    * tombstones out, and atomically swaps quantizer + codes. The result
    * is content-identical to a from-scratch first ingest of the
    * survivors.
    *
    * Crash safety: the codes are FULLY staged, then the quantizer lands
    * INSIDE the same stage (`_quantizer` — one directory, so no failure
    * can split the pair), a completion marker lands last, then
    * [[commitRefreeze]] runs. [[refreezeRecover]] completes a marked,
    * whole stage idempotently and drops anything else. */
  def refreeze(spark: SparkSession, root: String, corpus: DataFrame): Unit = WriterLease.withLease(spark, root) {
    refreezeRecover(spark, root, deletePartial = true) // clear any prior attempt
    val liveIds = readCodes(spark, root).select("vec_id")
    // With no tombstones pending, live == committed log rows, served
    // driver-side from the write-time sidecars (the DedupPipeline.health
    // pattern, r20) — the full-scan count job runs only while takedowns
    // are pending (when the anti-joined count genuinely differs).
    val liveN =
      if (Tombstones.isEmpty(spark, root))
        BatchLog.committedRowCount(spark, s"$root/codes").getOrElse(liveIds.count())
      else liveIds.count()
    if (liveN == 0L) return // nothing to migrate
    val survivors = graft.CacheJanitor.register(
      corpus.select(col("vec_id"), col("embedding"))
        .join(liveIds, Seq("vec_id"), "left_semi").persist())
    try {
      // The corpus must supply exactly the live ids, once each: missing
      // ids would silently SHRINK the index on commit (the semi-join
      // just drops them); duplicate ids would commit duplicate code
      // rows. Refuse both loudly, before anything destructive. One
      // fused agg (count + exact countDistinct), one pass over the
      // persisted survivors.
      val chk = survivors.agg(count(lit(1)).as("n"),
        countDistinct(col("vec_id")).as("nd")).head
      val matched = chk.getLong(1)
      require(matched == liveN,
        s"refreeze corpus is missing ${liveN - matched} of $liveN live " +
          "vec_ids — it must supply embeddings for every live id; " +
          "aborting before any commit")
      require(chk.getLong(0) == liveN,
        "refreeze corpus supplies duplicate vec_ids; aborting before any commit")
      survivors.createOrReplaceTempView(s"graft_${tag}_refreeze")
      // The validated liveN IS the view's row count (the require above
      // pinned count == liveN) — no trainer re-count job (r20).
      val (cents, q) = train(spark, s"graft_${tag}_refreeze", Some(liveN))
      val ctmp = codesRefreezeTmp(root)
      RefreezeProtocol.deleteIfExists(spark, ctmp)
      BatchLog.stageRewrite(encodeWith(survivors, cents, q),
        s"$root/codes", ctmp, partitionBy = Seq("cell"))
      writeQuantizer(spark, s"$ctmp/$quantStage", cents, q)
      RefreezeProtocol.sealStage(spark, ctmp, tag)
      commitRefreeze(spark, root)
    } finally graft.CacheJanitor.drain()
  }

  /** Commit a sealed stage: one versioned codes commit lands quantizer
    * + codes together as `codes/_versions/<n+1>` — a read resolves the
    * old pair or the new, never a mix, never a retry. The top-level
    * `root/quantizer` stays as the fallback of readers pinned to
    * versions that predate the first refreeze. Idempotent under
    * crash-and-rerun. */
  private def commitRefreeze(spark: SparkSession, root: String): Unit =
    Tombstones.commitCompaction(spark, root, codesRefreezeTmp(root), s"$root/codes")

  /** Complete or abandon a crashed [[refreeze]]. A marked stage commits
    * only when whole: staged codes with committed data files AND its
    * in-stage quantizer (the commit never moves it out of the stage).
    * Anything else is a husk — its stage deleted out from under an
    * in-flight refreeze — and committing it would install new codes
    * under the old quantizer, so it is dropped. Unmarked partials are
    * dropped only by a fresh refreeze (`deletePartial`): a reader could
    * race one legitimately mid-stage. */
  private def refreezeRecover(spark: SparkSession, root: String,
      deletePartial: Boolean = false): Unit = {
    val ctmp = codesRefreezeTmp(root)
    if (RefreezeProtocol.exists(spark, ctmp)) {
      if (RefreezeProtocol.readMarker(spark, ctmp).isDefined) {
        val whole = RefreezeProtocol.hasStagedData(spark, ctmp) &&
          BatchLog.hasCommittedFiles(spark, s"$ctmp/$quantStage/centroids")
        if (whole) commitRefreeze(spark, root)
        else RefreezeProtocol.deleteIfExists(spark, ctmp)
      } else if (deletePartial) RefreezeProtocol.deleteIfExists(spark, ctmp)
    }
  }

  /** Approximate (or exactly re-ranked) top-k neighbors for a
    * `(query_id, embedding)` frame against the persisted index. */
  def topK(spark: SparkSession, root: String, queries: DataFrame, k: Int = 3,
      rerank: Option[DataFrame] = None, nprobe: Option[Int] = None): DataFrame = {
    // FULL recovery (refreeze AND compaction swap), matching readCodes.
    // Lease-guarded (ReadGuard): with a live writer mid-swap the read
    // serves the committed version and leaves the debris to the writer.
    ReadGuard.recoverForRead(spark, root)(recoverState(spark, root))
    topKRecovered(spark, root, queries, k, rerank, nprobe)
  }

  /** [[topK]] after recovery — read-only, so the whole query runs
    * against one manifest snapshot (repeat consults of the codes log's
    * fold manifests cost zero FS ops). */
  private def topKRecovered(spark: SparkSession, root: String, queries: DataFrame,
      k: Int, rerank: Option[DataFrame],
      nprobe: Option[Int]): DataFrame = BatchLog.withManifestSnapshot {
    // Tombstones pinned FIRST, before the quantizer load resolves the
    // codes version ([[Tombstones.excluding]]'s order): the reverse could
    // pair old codes with a just-cleared side table. The codes read
    // shares this section's snapshot, so quantizer and codes pin ONE
    // version.
    val tomb = Tombstones.read(spark, root, "vec_id")
    val (cents, q) = loadQuantizer(spark, root).getOrElse(sys.error(
      s"no ${tag.toUpperCase} index at $root — ingest at least one batch first"))
    val d = sprk
    val cl = TrainingData.centsLit(cents)
    val np = nprobe.getOrElse(probesFor(cents.length))
    val extras = queryExtras(q)
    val carried = Seq("query_id", "embedding", "n2") ++ extras.map(_._1)
    val qs = queries
      .selectExpr(Seq("query_id", "embedding") ++ queryInputs ++ Seq(
        s"${TextSim.dotHof(d, "embedding", "embedding")} AS n2",
        s"transform(sequence(1, ${cents.length}), ci -> ${TextSim.dist2(d, "embedding", s"element_at($cl, ci)")}) AS ds"): _*)
      .selectExpr(Seq("query_id", "embedding", "n2") ++
        extras.map { case (n, e) => s"$e AS $n" } ++
        Seq(s"${TrainingData.topNCells(d, "ds", np)} AS probes"): _*)
    val qp = graft.CacheJanitor.register(
      qs.selectExpr(carried :+ "explode(probes) AS cell": _*).persist())
    // Bounded collect (≤ np·|Q| longs) → static partition filter: only
    // probed cell= directories are read.
    val probed = qp.select("cell").distinct().collect().map(_.getLong(0)).toSeq
    // Partition filter FIRST, on the raw inferred partition column (static
    // `cell=` pruning within each batch_key dir; folds serve their files
    // from the fold manifest, zero listings), then the tombstone
    // anti-join against the side table pinned at entry.
    val codes = BatchLog.read(spark, s"$root/codes", name)
      .where(col("cell").isin(probed: _*))
      .withColumn("cell", col("cell").cast("long"))
      .join(tomb, Seq("vec_id"), "left_anti")
    val scored = qp.join(scoreSide(codes, q), Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .selectExpr("query_id", "vec_id AS neighbor_id", "cell",
        s"${approxCosine(q)} AS approx_cosine")
    val byApprox = Window.partitionBy("query_id")
      .orderBy(col("approx_cosine").desc, col("neighbor_id"))
    rerank match {
      case None =>
        scored.withColumn("rnk", row_number().over(byApprox).cast("long"))
          .where(col("rnk") <= k)
      case Some(corpus) =>
        // Pool never smaller than k: a k > rerankPool call must return k
        // rows (short only when the probed cells hold fewer candidates),
        // not silently cap at the default pool size.
        val pool = scored.withColumn("rka", row_number().over(byApprox))
          .where(col("rka") <= math.max(k, rerankPool))
        val vn = corpus.selectExpr("vec_id",
          "embedding", s"${TextSim.dotHof(d, "embedding", "embedding")} AS fn2")
        val qn = vn.toDF("q_id", "q_emb", "q_n2")
        val nn = vn.toDF("n_id", "n_emb", "n_n2")
        val exact = pool
          .join(qn, pool("query_id") === qn("q_id"))
          .join(nn, pool("neighbor_id") === nn("n_id"))
          .selectExpr("query_id", "neighbor_id", "cell", "approx_cosine",
            s"${TextSim.dotHof(d, "q_emb", "n_emb")} / (sqrt(q_n2) * sqrt(n_n2)) AS cosine")
        val byExact = Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("neighbor_id"))
        exact.withColumn("rnk", row_number().over(byExact).cast("long"))
          .where(col("rnk") <= k)
    }
  }
}
