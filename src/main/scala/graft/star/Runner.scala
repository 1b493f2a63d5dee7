package graft.star

import graft.model.Schemas
import graft.operators.WriterLease
import graft.sources.{Extract, LandingLog, WatermarkStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration.Duration

/** The incremental batch driver — the three reference Lambdas collapsed
  * into one Spark application (SURVEY.md §3: the process-boundary hops,
  * their async-invoke defects included, become plain function calls).
  *
  *  ingest:  per-table change gate (P3) → incremental extract (S1/P2) →
  *           immutable CSV landing increment (S3) → watermark bump (S14)
  *  process: selective rebuild of only the star tables whose inputs
  *           changed (the reference's hand-rolled dependency graph,
  *           src/process_lambda.py:449-474) → parquet snapshot overwrite
  *           (S7), reference key naming (`dim-location`, F9)
  *  load:    full-refresh warehouse tables with the `dim-`/`fact-` prefix
  *           stripped (src/warehousing_lambda.py:49-50) → LIMIT-10
  *           preview (S12) + CSV extract (S13)
  */
object Runner {

  /** Which star tables each source table feeds
    * (src/process_lambda.py:449-474). */
  val dependencies: Map[String, Set[String]] = Map(
    "address" -> Set("dim-location", "dim-counterparty"),
    "counterparty" -> Set("dim-counterparty"),
    "currency" -> Set("dim-currency"),
    "design" -> Set("dim-design"),
    "payment_type" -> Set("dim-payment_type"),
    "staff" -> Set("dim-staff"),
    "department" -> Set("dim-staff"),
    "transaction" -> Set("dim-transaction"),
    "payment" -> Set("dim-date", "fact-payment"),
    "purchase_order" -> Set("dim-date", "fact-purchase_order"),
    "sales_order" -> Set("dim-date", "fact-sales_order"))

  val factSources = Set("payment", "purchase_order", "sales_order")

  /** Row bound under which the preview CSV extract is a single file
    * (the reference's S13 shape); above it the export is a directory of
    * part files — never one task for a fact-sized table. */
  val singleFileExportMaxRows: Long = 1000000L

  /** Combined landing-log byte size of the fact inputs under which
    * processBatch caches its deduped fact snapshots in memory
    * (MEMORY_AND_DISK). Above it, the shared-read optimization keeps
    * only DISK_ONLY persistence: three builders still share one log
    * replay + dedup, but a 100 TB replay never competes with shuffle
    * memory — spill would make the default level safe, not fast. The
    * log size is a MEASURED driver-side listing (the honest proxy for
    * the deduped snapshot, which is never larger). */
  val factCacheMemoryBoundBytes: Long = 8L << 30

  /** Per-table record of the landing batch keys a full-log replay has
    * ALREADY absorbed into the processed snapshots (`folded|<table>` →
    * max landing key, the merge runner's convention) — the Runner-side
    * closure of the ingest-before-process crash window. Without it, a
    * batch that died between its landing commit + watermark bump and
    * its snapshot publish stranded those tables: the retry's ingest
    * gate sees no new source rows, `updates` stays empty, and the
    * snapshot serves stale data until the source happens to change
    * again (found by the round-16 hostile end-to-end drill). With it,
    * [[processBatch]] folds landed-but-unprocessed tables into every
    * batch, so the RETRY itself converges. Absent state (a pre-upgrade
    * processed root) reads as "nothing recorded" and triggers one full
    * rebuild of every landed table — slower once, never stale. */
  private val replayStateName = "_replay_state.json"

  /** Keys whose snapshots have been (re)published but not yet absorbed
    * by a warehouse load (`_load_pending.json` at the processed root) —
    * the WAREHOUSE leg of the same stranding class [[replayStateName]]
    * closes for the processed root (the r16 advisory): without it, a
    * crash between [[processBatch]]'s replay-state commit and
    * [[runOnce]]'s load step left the processed root converged but the
    * warehouse stale, and the retry no-op'd until that source next
    * changed. [[processBatch]] MERGES its written keys into the marker
    * BEFORE committing replay state (so no window exists between the
    * two commits); [[runOnce]]/[[fullReload]] clear it only after a
    * completed load. Full-refresh loads are idempotent, so a crash
    * mid-load just reloads the marker's whole set on retry. */
  private val loadPendingName = "_load_pending.json"

  private[graft] def readLoadPending(processedRoot: String): Set[String] =
    graft.sources.StateFile.read(s"$processedRoot/$loadPendingName")(txt =>
      graft.sources.MiniJson.parseFlat(txt.trim).getOrElse("pending", ""))
      .map(_.split(',').filter(_.nonEmpty).toSet).getOrElse(Set.empty)

  private[graft] def writeLoadPending(processedRoot: String, keys: Set[String]): Unit =
    graft.sources.StateFile.write(s"$processedRoot/$loadPendingName",
      graft.sources.MiniJson.renderFlat(
        Map("pending" -> keys.toSeq.sorted.mkString(","))) + "\n")

  /** Tables whose landing log holds batch keys newer than the last
    * replay recorded for them — landed but never folded into the
    * processed snapshots. Driver-side listings only, no Spark jobs. */
  def pendingReplay(spark: SparkSession, landingRoot: String,
      processedRoot: String): Set[String] = {
    val state = new WatermarkStore(s"$processedRoot/$replayStateName").read()
    Schemas.sources.keys.filter { t =>
      val ks = LandingLog.logKeys(spark, landingRoot, t)
      ks.nonEmpty && state.get(s"folded|$t").forall(_ < ks.max)
    }.toSet
  }

  /** Total on-disk bytes of a landing-log table directory (0 if absent).
    * Hadoop FS, not java.nio — a non-local landing root must measure
    * correctly, not read as 0 (the merge path's byte gate already made
    * this choice). */
  private def logBytes(landingRoot: String, table: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$landingRoot/$table")
    val fs = p.getFileSystem(org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L else fs.getContentSummary(p).getLength
  }

  /** Width of the driver pool every per-table fan-out in this package
    * runs from (ingest gates, star builds, warehouse loads, merge
    * stages). A pool thread only schedules Spark jobs, so the bound caps
    * driver-side fan-out (source connections, concurrent commits), not
    * executor work. */
  private[graft] val driverPoolWidth = 8

  /** Run `f` over `items` from a pool of at most `width` driver threads;
    * results come back in input order. Items START in input order, so an
    * item may wait on a signal from an earlier item without deadlock.
    *
    * Every item is awaited before the call returns, even after one fails;
    * then the first failure in input order is rethrown. A fail-fast join
    * would return while siblings still write snapshots, CSVs or
    * watermarks behind a caller that has moved on (and, in
    * [[runOnce]], released its writer lease).
    *
    * `f` runs on pool threads, which do not hold the caller's
    * [[WriterLease]] (the lease is per-thread): `f` must never call
    * `WriterLease.withLease` on the caller's root, or it is refused. */
  private[graft] def inParallel[A, B](items: Seq[A], width: Int)(f: A => B): Seq[B] =
    if (items.size <= 1) items.map(f)
    else {
      import java.util.concurrent.{Callable, ExecutionException, Executors}
      val pool = Executors.newFixedThreadPool(math.min(items.size, width))
      try {
        val running = items.map(i => pool.submit(new Callable[B] { def call(): B = f(i) }))
        val outcomes = running.map { r =>
          try Right(r.get()) catch { case e: ExecutionException => Left(e.getCause) }
        }
        outcomes.collectFirst { case Left(t) => throw t }
        outcomes.collect { case Right(b) => b }
      } finally pool.shutdown()
    }

  /** Stage 1 — ingest: for each source relation, gate on max(last_updated)
    * vs the stored watermark, extract the strict increment, land it as an
    * immutable CSV batch, bump the watermark. Returns updated tables
    * (deterministic name order regardless of completion order).
    *
    * The per-table gates run CONCURRENTLY from [[inParallel]]'s bounded
    * pool, each thread scheduling its own probe + extract jobs: the gates
    * are independent — separate watermark keys (updates serialize inside
    * the synchronized, atomic [[WatermarkStore.update]]), separate
    * landing directories — and the dominant cost is source round-trip
    * latency (a JDBC max-probe per table in production), so running the
    * reference's 11-table loop serially puts wall-clock on the floor at
    * 100× source count. Crash semantics are unchanged from the serial
    * loop: each table commits its landing file before its watermark
    * bump, independently, and a failing gate is rethrown only once every
    * other gate has settled. */
  def ingestOnce(
      sources: Map[String, DataFrame],
      landingRoot: String,
      store: WatermarkStore,
      batchId: String): Seq[String] =
    inParallel(sources.toSeq.sortBy(_._1), driverPoolWidth) { case (table, src) =>
      val wm = store.watermark(table)
      // Compare TIMESTAMP VALUES, not strings: Timestamp.toString emits
      // variable-length fractions ("…00.0" vs the sentinel's "…000000"),
      // so a lexicographic gate can skip an epoch-exact max or break on
      // format drift — the reference's P2 defect, fixed here like the
      // extract filter (Extract.increment parses the watermark too).
      val wmTs = java.sql.Timestamp.valueOf(wm)
      Extract.maxLastUpdated(src) match {
        case Some(maxTs) if maxTs.after(wmTs) =>
          val projection = Schemas.sources(table)._1.fieldNames.toSeq
          val inc = Extract.increment(src, projection, wm)
          LandingLog.writeIncrement(inc, landingRoot, table, batchId)
          store.update(Map(table -> maxTs.toString))
          Some(table)
        case _ => None
      }
    }.flatten

  /** Stage 2 — process: rebuild exactly the star tables whose inputs
    * changed; any fact-input change also rebuilds dim_date and (under
    * dense reference ids) every non-empty fact. Returns written keys.
    *
    * `stableDateIds` defaults to TRUE — the scale policy: yyyymmdd ids
    * are a pure function of the date value, so a rebuild that discovers
    * a new earlier date never renumbers existing ids, and the selective
    * rebuild can skip unchanged facts (StableIdRebuildSpec pins that no
    * unchanged fact is ever rewritten). Pass `false` for the reference's
    * dense 1..n policy (parity mode), which forces every non-empty fact
    * to rebuild with dim_date — that renumbering-vs-stale-FK tradeoff is
    * exactly why stable ids are the default. Flipping the policy over an
    * EXISTING snapshot is detected from the stored dim_date's id range
    * and forces a one-time full fact rebuild, so pre-flip FKs can never
    * dangle (the round-3 advisory's migration hazard).
    *
    * The per-table builds run CONCURRENTLY from [[inParallel]]'s bounded
    * pool: each dimension and dim_date builds, stages and commits its
    * snapshot on its own thread. The fact builds depend on dim_date:
    * each starts only after dim_date's write returns, because that write
    * fills the shared fact-input and dim_date caches (an earlier start
    * would replay the landing logs again). Replay state, the load-pending
    * marker and the cache release stay after the pool, so a crash at any
    * per-table commit leaves some complete per-table commits and no
    * replay record — the retry rebuilds them all. The pool threads do not
    * hold this call's writer lease (it is per-thread), so nothing they
    * run may call `WriterLease.withLease` on the processed root. */
  def processBatch(
      spark: SparkSession,
      landingRoot: String,
      processedRoot: String,
      updates: Set[String],
      stableDateIds: Boolean = true,
      cacheMemoryBound: Long = factCacheMemoryBoundBytes,
      stableRecordIds: Boolean = false): Seq[String] = WriterLease.withLease(spark, processedRoot) {
    // Snapshot commits are atomic against READERS, but two concurrent
    // WRITERS could still stage the same next version directory or
    // interleave GC with a commit — the same second-writer class the
    // index roots close with this lease (one rebuild per processed root;
    // a second refuses loudly instead of corrupting a stage).
    def log(table: String): DataFrame =
      LandingLog.readLog(spark, landingRoot, table, Schemas.sources(table)._1)

    // Fold landed-but-unprocessed tables (a prior batch crashed between
    // its landing commit and its snapshot publish) into this batch: the
    // replay reads full logs anyway, so absorbing a stranded increment
    // costs exactly one rebuild of its table — and the retry of a
    // crashed batch converges instead of gating out on the already-
    // bumped source watermark. Keys are listed ONCE and the same list
    // is recorded after the writes, so a landing committing mid-batch
    // is never marked folded before a replay actually read it.
    val replayStore = new WatermarkStore(s"$processedRoot/$replayStateName")
    val replayState = replayStore.read()
    val keysByTable = Schemas.sources.keys.toSeq.sorted
      .map(t => t -> LandingLog.logKeys(spark, landingRoot, t)).toMap
    val ups = updates ++ keysByTable.collect { case (t, ks)
      if ks.nonEmpty && replayState.get(s"folded|$t").forall(_ < ks.max) => t }

    def put(key: String, df: DataFrame, partitionBy: Seq[String] = Nil): Option[String] = {
      LandingLog.writeSnapshot(df, processedRoot, key, partitionBy)
      Some(key)
    }

    // One pool item per star table to rebuild: its build, stage and
    // commit. The dimension items are independent of each other.
    val dims: Seq[() => Option[String]] = Seq(
      (ups("address"), () => put("dim-location", StarSchema.dimLocation(log("address")))),
      (ups("address") || ups("counterparty"), () =>
        put("dim-counterparty", StarSchema.dimCounterparty(log("counterparty"), log("address")))),
      (ups("currency"), () => put("dim-currency", StarSchema.dimCurrency(log("currency")))),
      (ups("design"), () => put("dim-design", StarSchema.dimDesign(log("design")))),
      (ups("payment_type"), () =>
        put("dim-payment_type", StarSchema.dimPaymentType(log("payment_type")))),
      (ups("staff") || ups("department"), () =>
        put("dim-staff", StarSchema.dimStaff(log("staff"), log("department")))),
      (ups("transaction"), () =>
        put("dim-transaction", StarSchema.dimTransaction(log("transaction")))))
      .collect { case (true, item) => item }

    val (factItems, factCaches) = if ((ups & factSources).isEmpty) (Nil, Nil) else {
      // One-time id-policy migration guard: if the STORED dim_date was
      // built under the OTHER id policy (dense ids are 1..n < 10^7;
      // stable ids are yyyymmdd >= 19700101), facts skipped by the
      // selective rebuild would keep FKs minted under the old policy and
      // their dim_date joins would silently go dangling. Detect the
      // stored policy from max(date_id) (a one-row agg over the small
      // dim) and force every non-empty fact to rebuild once; after that
      // batch the snapshot is self-consistent and selective skipping
      // resumes.
      // The record-id policy can't be sniffed from stored values (stable
      // ids ARE the natural keys, which may themselves be dense), so it
      // is recorded in a marker at the processed root; absence means the
      // root predates the marker — always dense. A flip forces the same
      // one-time full fact rebuild as a date-policy flip: facts skipped
      // by the selective rebuild would otherwise keep ids minted under
      // the other policy, silently mixing the two in one star schema.
      val storedPolicyMismatch =
        LandingLog.readSnapshotIfExists(spark, processedRoot, "dim-date").exists { prev =>
          val mx = prev.agg(max(col("date_id").cast("long"))).collect()(0)
          !mx.isNullAt(0) && (mx.getLong(0) >= 10000000L) != stableDateIds
        } || (storedRecordPolicy(spark, processedRoot) != stableRecordIds &&
          LandingLog.readSnapshotIfExists(spark, processedRoot, "dim-date").isDefined)
      // dim_date is built from the full current snapshots of all three fact
      // inputs, then cached: three fact builders each broadcast-join it.
      // One log replay + dedup per fact input, shared by dim_date and the
      // fact builders (the log replay is the dominant read at scale).
      // The persistence LEVEL is size-gated on the measured landing-log
      // bytes: in-memory while the inputs fit comfortably, DISK_ONLY
      // beyond the bound — the shared-read structure survives either way,
      // but a 100 TB replay never claims executor memory from shuffles.
      val factLevel =
        if (factSources.toSeq.map(logBytes(landingRoot, _)).sum <= cacheMemoryBound)
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        else org.apache.spark.storage.StorageLevel.DISK_ONLY
      val pay = StarSchema.currentSnapshot("payment")(log("payment")).persist(factLevel)
      val po = StarSchema.currentSnapshot("purchase_order")(log("purchase_order")).persist(factLevel)
      val so = StarSchema.currentSnapshot("sales_order")(log("sales_order")).persist(factLevel)
      val dates = StarSchema.dimDate(pay, po, so, stableDateIds).cache()
      // The dim_date write is the job that fills the four caches, so the
      // fact items wait for it: a fact starting earlier would replay and
      // dedup the landing logs a second time. dim_date precedes the facts
      // in the item list, so it always starts before any of them waits.
      val datesWritten = Promise[Unit]()
      val dateItem = () =>
        try { val k = put("dim-date", dates); datesWritten.success(()); k }
        catch { case t: Throwable => datesWritten.failure(t); throw t }
      // Dense (reference) date ids renumber when a rebuild discovers a new
      // earlier date, which would leave any fact NOT rebuilt this batch
      // holding stale FKs (the reference's live defect). So under dense
      // ids every non-empty fact is rebuilt alongside dim_date; with
      // stableDateIds (yyyymmdd, value-determined) the selective rebuild
      // is safe and only updated facts are rewritten.
      // Facts are date-partitioned on created_date (the 100 TB layout —
      // replay/downstream reads prune date directories, incl. via DPP
      // through the dim_date join).
      def fact(src: String, key: String, snap: DataFrame, build: => DataFrame) = () => {
        Await.result(datesWritten.future, Duration.Inf)
        if (ups(src) || ((!stableDateIds || storedPolicyMismatch) && !snap.isEmpty))
          put(key, build, partitionBy = Seq("created_date"))
        else None
      }
      (Seq(dateItem,
        fact("payment", "fact-payment", pay,
          StarSchema.factPayment(pay, dates, stableRecordIds)),
        fact("purchase_order", "fact-purchase_order", po,
          StarSchema.factPurchaseOrder(po, dates, stableRecordIds)),
        fact("sales_order", "fact-sales_order", so,
          StarSchema.factSalesOrder(so, dates, stableRecordIds))),
        Seq(dates, pay, po, so))
    }
    val w =
      try inParallel(dims ++ factItems, driverPoolWidth)(_.apply()).flatten
      finally factCaches.foreach(_.unpersist())
    if (factCaches.nonEmpty) writeRecordPolicy(spark, processedRoot, stableRecordIds)
    // Record the landing keys this replay absorbed — AFTER every
    // snapshot write, through the crash-safe state swap, so a crash
    // anywhere above re-detects the batch as pending and replays it
    // again (idempotent: the replay is a pure function of the log).
    // The load-pending marker lands FIRST: once replay state says
    // "folded", nothing re-runs this replay, so the written keys must
    // already be durably owed to the warehouse (see [[loadPendingName]]).
    if (w.nonEmpty)
      writeLoadPending(processedRoot, readLoadPending(processedRoot) ++ w)
    replayStore.update(keysByTable.collect { case (t, ks)
      if ups(t) && ks.nonEmpty => s"folded|$t" -> ks.max }.toMap)
    // Release operator-internal persists (sequentialId's sorted frames)
    // now that every snapshot write has materialized them.
    graft.CacheJanitor.drain(blocking = true)
    sweepVersions(spark, processedRoot)
    w
  }

  /** Grace-GC every snapshot table under the processed root and its
    * source currents, amortized to the grace timescale
    * ([[graft.operators.VersionedState.gcAllAmortized]]). A snapshot's
    * own commit GCs only its own table, so without this sweep a table
    * that stops changing keeps its last superseded version (a full
    * copy) until it is rewritten. Runs under the batch's lease. */
  private[star] def sweepVersions(spark: SparkSession, processedRoot: String): Unit =
    Seq(processedRoot, s"$processedRoot/${MergeRunner.sourcesDir}").foreach(
      graft.operators.VersionedState.gcAllAmortized(spark, _, force = false))

  /** Stored record-id policy marker (`_id_policy.json` at the processed
    * root, atomic-rename committed like every state file here): true =
    * facts were last written with stable (natural-key) record ids.
    * Absent = a pre-marker root, which can only hold dense ids. */
  private[star] def storedRecordPolicy(spark: SparkSession, processedRoot: String): Boolean =
    graft.sources.StateFile.read(s"$processedRoot/_id_policy.json")(txt =>
      graft.sources.MiniJson.parseFlat(txt.trim)
        .get("stable_record_ids").contains("true")).getOrElse(false)

  private[star] def writeRecordPolicy(spark: SparkSession, processedRoot: String,
      stableRecordIds: Boolean): Unit =
    graft.sources.StateFile.write(s"$processedRoot/_id_policy.json",
      graft.sources.MiniJson.renderFlat(
        Map("stable_record_ids" -> stableRecordIds.toString)) + "\n")

  /** The warehouse database every load registers its tables under (S11:
    * the reference's information_schema.tables surface becomes the Spark
    * catalog — a metastore on a real cluster, in-memory in local mode). */
  val warehouseDb = "graft_wh"

  /** Stage 3 — warehouse load: full refresh of each changed star table
    * under its warehouse name (prefix stripped, `-`→`_`), registered as an
    * EXTERNAL CATALOG TABLE over its parquet path so the SQL layer sees
    * named tables, plus the preview/export surface (S11–S13). Parquet
    * stands in for the JDBC warehouse here; `Extract.jdbcOverwrite` is the
    * production sink.
    *
    * The per-key loads run CONCURRENTLY from [[inParallel]]'s bounded
    * pool (full refreshes of distinct tables are independent); the
    * LIMIT-10 previews are printed after the pool, in key order, so
    * their output never interleaves. Pool threads do not hold the
    * caller's writer lease, so nothing they run may call
    * `WriterLease.withLease` on the processed root. */
  def loadWarehouse(
      spark: SparkSession,
      processedRoot: String,
      warehouseRoot: String,
      keys: Seq[String],
      preview: Boolean = false): Seq[String] = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $warehouseDb")
    val loaded = inParallel(keys, driverPoolWidth) { key =>
      val table = key.replaceFirst("^dim-", "").replaceFirst("^fact-", "").replace("-", "_")
      // One read shared by the emptiness probe, the warehouse write, and
      // the preview export: the probe's partial scan and the write both
      // populate the cache, so the CSV extract never re-reads the
      // snapshot (previously preview mode read it twice end-to-end).
      val df = LandingLog.readSnapshot(spark, processedRoot, key).persist()
      val nonEmpty = try {
        val has = !df.isEmpty
        if (has) {
          df.write.mode("overwrite")
            .option("path", s"$warehouseRoot/$table")
            .format("parquet")
            .saveAsTable(s"$warehouseDb.$table")
          if (preview) {
            // Single-file CSV only for dimension-sized tables (measured on
            // the cached frame — free here); a fact table exports as a
            // DIRECTORY of part files at full parallelism. The reference's
            // one-file extract is faithful at its scale but funnels the
            // whole table through one task at 100× — the one remaining
            // scale-killer the round-6 audit flagged.
            val out = if (df.count() <= singleFileExportMaxRows) df.coalesce(1) else df
            out.write.mode("overwrite").option("header", "true")
              .csv(s"$warehouseRoot/extracts/$table")
          }
        }
        has
      } finally df.unpersist(blocking = false)
      (table, nonEmpty)
    }
    if (preview)
      loaded.filter(_._2).foreach { case (table, _) => previewTable(spark, table).show(truncate = false) }
    // Every load path absorbs the keys it just loaded from the pending-
    // load marker (not only Runner.runOnce/fullReload): a composed caller
    // (StarBench, MergeRunner's dense-policy delegation) that pairs
    // processBatch with its own load otherwise leaves the marker
    // permanently set, and the next runOnce on the root never no-ops.
    absorbLoadPending(processedRoot, keys)
    loaded.map(_._1)
  }

  /** Subtract `loaded` keys from the pending-load marker (no-op when the
    * marker is already clear). Atomic tmp+rename write like every state
    * file here. */
  private def absorbLoadPending(processedRoot: String, loaded: Seq[String]): Unit = {
    val pending = readLoadPending(processedRoot)
    if (pending.nonEmpty && loaded.nonEmpty)
      writeLoadPending(processedRoot, pending -- loaded)
  }

  /** S11: list the loaded warehouse tables from the catalog (reference
    * `information_schema.tables` probe, src/warehousing_lambda.py:87-91). */
  def listWarehouseTables(spark: SparkSession): Seq[String] =
    if (!spark.catalog.databaseExists(warehouseDb)) Seq.empty
    else spark.catalog.listTables(warehouseDb).collect()
      .filter(!_.isTemporary).map(_.name).toSeq.sorted

  /** S12: LIMIT-10 preview through the catalog's named-table SQL surface. */
  def previewTable(spark: SparkSession, table: String): DataFrame =
    spark.sql(s"SELECT * FROM $warehouseDb.`$table` LIMIT 10")

  /** Stage 3, JDBC form (reference §3.3 verbatim: full-refresh
    * `to_sql(if_exists='replace')` per star table into the warehouse DB,
    * src/warehousing_lambda.py:48-77): same name munging as
    * [[loadWarehouse]], sink = batched JDBC overwrite. */
  def loadWarehouseJdbc(
      spark: SparkSession,
      processedRoot: String,
      keys: Seq[String],
      url: String,
      props: java.util.Properties): Seq[String] = {
    val loaded = keys.map { key =>
      val table = key.replaceFirst("^dim-", "").replaceFirst("^fact-", "").replace("-", "_")
      val df = LandingLog.readSnapshot(spark, processedRoot, key)
      if (!df.isEmpty) Extract.jdbcOverwrite(df, url, table, props)
      table
    }
    absorbLoadPending(processedRoot, keys) // see loadWarehouse
    loaded
  }

  /** Manual full reload (reference C4): scan every written snapshot and
    * load the whole star schema into the warehouse. */
  def fullReload(spark: SparkSession, processedRoot: String, warehouseRoot: String,
      preview: Boolean = false): Seq[String] = WriterLease.withLease(spark, processedRoot) {
    val loaded = loadWarehouse(spark, processedRoot, warehouseRoot,
      LandingLog.listSnapshots(processedRoot), preview)
    // A full reload covers every published snapshot — any pending-load
    // strand is absorbed by construction.
    writeLoadPending(processedRoot, Set.empty)
    loaded
  }

  /** One end-to-end micro-batch: ingest → process → load. With
    * `jdbcWarehouse = Some((url, props))` the load stage targets the JDBC
    * warehouse (the reference's production sink) instead of the
    * parquet/catalog warehouse. */
  def runOnce(
      spark: SparkSession,
      sources: Map[String, DataFrame],
      landingRoot: String,
      processedRoot: String,
      warehouseRoot: String,
      statePath: String,
      batchId: String,
      jdbcWarehouse: Option[(String, java.util.Properties)] = None,
      stableDateIds: Boolean = true,
      stableRecordIds: Boolean = false): Seq[String] = WriterLease.withLease(spark, processedRoot) {
    // The composed batch holds ONE lease on the processed root for all
    // three stages (reentrant with processBatch's own acquisition), so
    // two pipeline drivers pointed at the same root serialize at the
    // batch boundary: the second refuses before touching landing files
    // or watermark state rather than interleaving CSV appends, state
    // merges, and snapshot stages with the holder. Pipelines with
    // distinct processed roots (and distinct landing/state paths — the
    // deployment unit) stay fully concurrent.
    val store = new WatermarkStore(statePath)
    val updated = ingestOnce(sources, landingRoot, store, batchId)
    // Proceed when the sources gated out but a PRIOR batch left landed-
    // but-unprocessed increments (crashed between its landing commit and
    // its snapshot publish) OR published-but-unloaded snapshots (crashed
    // between the replay-state commit and the warehouse load): the retry
    // must converge, not no-op.
    if (updated.isEmpty && pendingReplay(spark, landingRoot, processedRoot).isEmpty &&
        readLoadPending(processedRoot).isEmpty)
      Seq.empty
    else {
      processBatch(spark, landingRoot, processedRoot, updated.toSet,
        stableDateIds, stableRecordIds = stableRecordIds)
      // Load the marker's full set (this batch's keys PLUS any key a
      // prior batch published but never loaded), then clear it. A crash
      // anywhere before the clear leaves the marker intact — the retry
      // reloads the whole set (full-refresh loads are idempotent).
      val toLoad = readLoadPending(processedRoot).toSeq.sorted
      val loaded = jdbcWarehouse match {
        case Some((url, props)) => loadWarehouseJdbc(spark, processedRoot, toLoad, url, props)
        case None => loadWarehouse(spark, processedRoot, warehouseRoot, toLoad)
      }
      writeLoadPending(processedRoot, Set.empty)
      loaded
    }
  }
}
