package graft

import java.nio.file.Files

import graft.sources.{LandingLog, WatermarkStore}
import graft.star.{MergeRunner, Runner}
import graft.testfs.HostileFileSystem
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end STAR-pipeline drills on the hostile filesystem (round-16:
  * r15 verdict item 2 — HostileFsSpec covers the protocols piecewise;
  * this runs the composed pipelines, landing + processed + state roots
  * ALL on `hostile://`, and crashes them mid-batch):
  *
  *  1. [[Runner.processBatch]]: a batch crashed at ANY parquet
  *     job-commit rename of its concurrent per-table builds (a sweep
  *     over every commit point) leaves each snapshot serving a whole
  *     version — the previous one or this batch's — and no replay
  *     record, and the RETRY converges to exactly the snapshots a clean
  *     run produces;
  *  2. [[MergeRunner.runOnce]]: a batch crashed mid-merge (intent flag
  *     set, merge state not advanced) heals through the intent-replay
  *     on the next batch; a batch crashed at the MERGE-STATE ADVANCE
  *     itself (the commit point, targeted with the skip-counting crash
  *     hook so the intent-set swap passes) recovers the advanced state
  *     through the complete `.tmp`; both timelines converge bit-for-bit
  *     with a clean run (the MergeStarSpec equality oracle reused).
  *
  * The convergence contract these drills pin is the honest one for the
  * ingest-before-process ordering: a crash AFTER the landing commit +
  * watermark bump means the retry of the SAME batch is a no-op (the
  * gate sees no new rows) and the processed store is stale-but-
  * consistent until the next batch's full-log rebuild (Runner) /
  * unfolded-key merge (MergeRunner) absorbs the landed increments —
  * "converges at the next batch", never torn, never lost.
  */
class HostileStarSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)
  private def dt(s: String) = java.sql.Date.valueOf(s)

  private def hostileRoot(tag: String): String = {
    HostileFileSystem.install(spark.sparkContext.hadoopConfiguration)
    val local = java.nio.file.Files.createTempDirectory(s"graft_hstar_$tag")
    s"hostile://$local"
  }

  override def afterAll(): Unit = { HostileFileSystem.disarm(); super.afterAll() }

  // ---- versioned sources (the "Postgres" side), v = 1..4 ------------

  private def addressSrc(v: Int): DataFrame = {
    val rows = Seq(
      (15, "1 Alpha Way", null, "West", "Leeds", "LS1", "UK", "111", ts("2025-09-01 08:00:00")),
      (23, "9 Beta Rd", "Unit 4", null, "York", "YO1", "UK", "222", ts("2025-09-01 08:00:00"))) ++
      (if (v >= 2) Seq((15, "1 Alpha Way", "Floor 2", "West", "Leeds", "LS1", "UK", "111",
        ts("2025-09-01 11:00:00"))) else Nil) ++
      (if (v >= 4) Seq((23, "9 Beta Rd", "Unit 9", null, "York", "YO1", "UK", "222",
        ts("2025-09-01 13:00:00"))) else Nil)
    rows.toDF("address_id", "address_line_1", "address_line_2", "district",
      "city", "postal_code", "country", "phone", "last_updated")
  }

  private def counterpartySrc: DataFrame = Seq(
    (23, "Acme Ltd", 23, ts("2025-09-01 08:00:00")),
    (31, "Orphan Co", 15, ts("2025-09-01 08:00:00")))
    .toDF("counterparty_id", "counterparty_legal_name", "legal_address_id", "last_updated")

  private def salesOrderSrc(v: Int): DataFrame = {
    val base = Seq(
      (101, ts("2025-09-01 09:15:00"), ts("2025-09-01 09:15:00"), 7, 12, 23, 100,
        BigDecimal("3.25"), 1, dt("2025-09-10"), dt("2025-09-12"), 15))
    val v2 = if (v >= 2) Seq(
      (101, ts("2025-09-01 09:15:00"), ts("2025-09-01 10:41:00"), 7, 12, 23, 120,
        BigDecimal("3.25"), 1, dt("2025-09-10"), dt("2025-09-12"), 15),
      (102, ts("2025-09-01 10:35:00"), ts("2025-09-01 10:35:00"), 8, 14, 23, 40,
        BigDecimal("9.99"), 2, dt("2025-09-11"), dt("2025-09-13"), 16)) else Nil
    val v3 = if (v >= 3) Seq(
      (103, ts("2025-09-01 12:05:00"), ts("2025-09-01 12:05:00"), 7, 12, 23, 55,
        BigDecimal("1.10"), 1, dt("2025-09-14"), dt("2025-09-16"), 15)) else Nil
    val v4 = if (v >= 4) Seq(
      (102, ts("2025-09-01 10:35:00"), ts("2025-09-01 13:05:00"), 8, 14, 23, 44,
        BigDecimal("9.99"), 2, dt("2025-09-11"), dt("2025-09-13"), 16)) else Nil
    (base ++ v2 ++ v3 ++ v4).toDF("sales_order_id", "created_at", "last_updated",
      "design_id", "staff_id", "counterparty_id", "units_sold", "unit_price",
      "currency_id", "agreed_delivery_date", "agreed_payment_date",
      "agreed_delivery_location_id")
  }

  private def emptySrc(name: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      graft.model.Schemas.sources(name)._1)

  private def sources(v: Int): Map[String, DataFrame] = Map(
    "address" -> addressSrc(v),
    "counterparty" -> counterpartySrc,
    "sales_order" -> salesOrderSrc(v),
    "payment" -> emptySrc("payment"),
    "purchase_order" -> emptySrc("purchase_order"))

  private val batchIds = Seq("2025-09-01 10:00:00.000", "2025-09-01 11:30:00.000",
    "2025-09-01 12:30:00.000", "2025-09-01 13:30:00.000")

  private val starKeys = Seq("dim-location", "dim-counterparty", "dim-date",
    "fact-sales_order")

  private def dump(root: String, key: String): (Seq[String], Seq[String]) = {
    val df = LandingLog.readSnapshot(spark, root, key)
    (df.schema.map(f => s"${f.name}:${f.dataType.sql}").toSeq,
      df.collect().map(_.toString).toSeq.sorted)
  }

  private def assertEqualStar(gotRoot: String, wantRoot: String): Unit =
    starKeys.foreach { key =>
      val (gs, gr) = dump(gotRoot, key)
      val (ws, wr) = dump(wantRoot, key)
      assert(gs == ws, s"$key schema: $gs != $ws")
      assert(gr == wr, s"$key rows diverged for $key:\n${gr.mkString("\n")}\n-- vs clean --\n${wr.mkString("\n")}")
    }

  private def crashMessage(e: Throwable): Option[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
      .find(m => m != null && m.contains("injected crash"))

  private def crashedBy(e: Throwable): Boolean = crashMessage(e).isDefined

  test("Runner: a crash at any process-stage commit rename leaves whole per-table snapshots and converges on RETRY") {
    // Clean arm, local roots: the batch-1 and batch-2 snapshots every
    // crashed root is held against.
    val cleanRoot = Files.createTempDirectory("graft_hstar_clean").toString
    def cleanBatch(v: Int): Unit = {
      Runner.runOnce(spark, sources(v), s"$cleanRoot/landing", s"$cleanRoot/processed",
        s"$cleanRoot/warehouse", s"$cleanRoot/state/tracking.json", batchIds(v - 1))
      ()
    }
    def snapshots(root: String) = starKeys.map(k => k -> dump(root, k)).toMap
    cleanBatch(1)
    val batch1 = snapshots(s"$cleanRoot/processed")
    cleanBatch(2)
    val batch2 = snapshots(s"$cleanRoot/processed")
    starKeys.foreach(k => assert(batch1(k) != batch2(k),
      s"spec shape broken: batch 2 must change $k, or a torn state could pass as batch 1"))

    // The process stage builds and commits its tables concurrently, so
    // which table a given crash hits varies from run to run. Sweep every
    // commit point instead: crash the k-th job-commit rename of batch 2's
    // process stage, for k = 0, 1, ... until a k passes every rename.
    // Unpartitioned snapshots commit part files (".parquet"); the
    // date-partitioned fact commits whole partition directories. Ingest,
    // which lands CSV, runs before the arm. Returns the crashed table.
    var lastCrashed = ""
    def drill(suffix: String, k: Int): Option[String] = {
      val root = hostileRoot("runner")
      val landing = s"$root/landing"
      val processed = s"$root/processed"
      val warehouse = s"$root/warehouse"
      val state = s"$root/state/tracking.json"
      val at = s"$suffix, k=$k"
      assert(Runner.runOnce(spark, sources(1), landing, processed, warehouse,
        state, batchIds(0)).nonEmpty, "first hostile batch must write")
      val updated = Runner.ingestOnce(sources(2), landing, new WatermarkStore(state), batchIds(1))
      HostileFileSystem.armCrash("after-copy", suffix, skip = k)
      val crash =
        try { Runner.processBatch(spark, landing, processed, updated.toSet); None }
        catch { case e: Exception => Some(e) }
        finally HostileFileSystem.disarm()
      crash.map { e =>
        assert(crashedBy(e), s"$at: expected the injected crash, got: $e")
        CacheJanitor.drain()
        // Each table serves a whole snapshot: batch 1's, or batch 2's
        // when its own commit landed before or beside the crash.
        starKeys.foreach { key =>
          val got = dump(processed, key)
          assert(got == batch1(key) || got == batch2(key),
            s"$at: $key serves neither its batch-1 nor its batch-2 snapshot")
        }
        // The replay marker lands only after every table: still pending.
        assert(Runner.pendingReplay(spark, landing, processed).nonEmpty,
          s"$at: the replay marker must not land in a crashed process stage")
        assert(new WatermarkStore(state).watermark("address") > "2025-09-01 08:00:00")
        // THE RETRY CONVERGES: the source gates see no new rows
        // (watermarks already bumped), but the replay state detects the
        // landed-but-unprocessed increments and rebuilds their tables.
        assert(Runner.runOnce(spark, sources(2), landing, processed, warehouse,
          state, batchIds(1)).nonEmpty, s"$at: the retry must fold the stranded landing increments")
        assertEqualStar(processed, s"$cleanRoot/processed")
        lastCrashed = root
        crashMessage(e).flatMap("""/processed/([^/]+)/""".r.findFirstMatchIn)
          .map(_.group(1)).getOrElse(s"$at: no table in $e")
      }
    }
    val crashed = Seq(".parquet", "/__p_created_date=202509").flatMap { suffix =>
      Iterator.range(0, 64).map(drill(suffix, _)).takeWhile(_.isDefined).flatten.toSeq
    }
    assert(crashed.toSet == starKeys.toSet,
      s"spec shape broken: the sweep must crash every table's commit, crashed $crashed")

    // A further clean batch on both arms stays converged.
    Runner.runOnce(spark, sources(3), s"$lastCrashed/landing", s"$lastCrashed/processed",
      s"$lastCrashed/warehouse", s"$lastCrashed/state/tracking.json", batchIds(2))
    cleanBatch(3)
    assertEqualStar(s"$lastCrashed/processed", s"$cleanRoot/processed")
  }

  test("Runner: a crash between the replay-state commit and the warehouse load converges on RETRY") {
    // The r16 advisory's residual window: processBatch commits its
    // replay state, THEN runOnce loads the warehouse — a batch dying
    // between the two leaves the processed root converged (pendingReplay
    // empty) but the warehouse stale, and before the load-pending marker
    // the retry no-op'd until the source next changed. The crash is
    // simulated at exactly that boundary: run runOnce's first two stages
    // (ingestOnce + processBatch) and stop.
    val root = hostileRoot("whleg")
    val landing = s"$root/landing"
    val processed = s"$root/processed"
    val warehouse = s"$root/warehouse"
    val state = s"$root/state/tracking.json"

    def whRows(table: String): Seq[String] =
      spark.read.parquet(s"$warehouse/$table").collect().map(_.toString).toSeq.sorted

    // Batch 1, clean end-to-end: warehouse loaded, marker cleared.
    assert(Runner.runOnce(spark, sources(1), landing, processed, warehouse,
      state, batchIds(0)).nonEmpty)
    assert(Runner.readLoadPending(processed).isEmpty,
      "a completed load must clear the pending marker")
    val factBefore = whRows("sales_order")

    // Batch 2, "crashed" after the replay-state commit: landing +
    // watermark + snapshots + replay state all committed, NO load.
    val store = new WatermarkStore(state)
    val updated = Runner.ingestOnce(sources(2), landing, store, batchIds(1))
    assert(updated.nonEmpty, s"batch 2 must extract increments: $updated")
    val written = Runner.processBatch(spark, landing, processed, updated.toSet)
    assert(written.nonEmpty)
    assert(Runner.pendingReplay(spark, landing, processed).isEmpty,
      "the processed root is fully converged — this window is PAST the replay state")
    assert(Runner.readLoadPending(processed) == written.toSet,
      "the written keys must be durably owed to the warehouse")
    assert(whRows("sales_order") == factBefore, "the warehouse still serves batch 1")

    // THE RETRY CONVERGES: ingest gates out, replay state is folded —
    // only the load-pending marker routes the retry through the load.
    val retried = Runner.runOnce(spark, sources(2), landing, processed, warehouse,
      state, batchIds(1))
    assert(retried.nonEmpty, "the retry must reload the stranded snapshots")
    assert(Runner.readLoadPending(processed).isEmpty, "the retry must clear the marker")
    // Warehouse now equals the processed snapshots it was owed.
    written.foreach { key =>
      val table = key.replaceFirst("^dim-", "").replaceFirst("^fact-", "").replace("-", "_")
      val snap = LandingLog.readSnapshot(spark, processed, key)
        .collect().map(_.toString).toSeq.sorted
      assert(whRows(table) == snap, s"$table must serve batch 2 after the retry")
    }
    assert(whRows("sales_order") != factBefore,
      "spec shape broken: batch 2 must actually change the fact")

    // A further unchanged run is a true no-op again.
    assert(Runner.runOnce(spark, sources(2), landing, processed, warehouse,
      state, batchIds(2)).isEmpty)
  }

  test("MergeRunner.runOnce on hostile roots: mid-merge crash (intent replay) and state-advance crash both converge") {
    val root = hostileRoot("merge")
    val landing = s"$root/landing"
    val processed = s"$root/processed"
    val state = s"$root/state/tracking.json"
    def mergeState: Map[String, String] =
      new WatermarkStore(s"$processed/_merge_state.json").read()

    // Batch 1, clean.
    assert(MergeRunner.runOnce(spark, sources(1), landing, processed, state,
      batchIds(0)).nonEmpty)
    CacheJanitor.drain()

    // Batch 2: crash INSIDE the merge (first parquet job-commit rename
    // of the current-snapshot upsert) — intent flag set, merge state
    // not advanced, landing + ingest watermark committed.
    HostileFileSystem.armCrash("after-copy", ".parquet")
    val e2 = intercept[Exception] {
      MergeRunner.runOnce(spark, sources(2), landing, processed, state, batchIds(1))
    }
    HostileFileSystem.disarm()
    assert(crashedBy(e2), s"expected the injected crash, got: $e2")
    CacheJanitor.drain()
    assert(mergeState.get("intent").exists(_.nonEmpty),
      "a mid-merge crash must leave the intent flag set")

    // THE RETRY CONVERGES: the ingest gates out (watermarks bumped), but
    // the merge consults its folded watermark, sees the crashed batch's
    // unfolded keys, detects the intent, and runs the recovery replay.
    assert(MergeRunner.runOnce(spark, sources(2), landing, processed, state,
      batchIds(1)).nonEmpty,
      "the retry must fold the stranded increments through intent recovery")
    CacheJanitor.drain()
    assert(mergeState.get("intent").forall(_.isEmpty), "recovery must clear the intent")

    // Batch 3, clean.
    assert(MergeRunner.runOnce(spark, sources(3), landing, processed, state,
      batchIds(2)).nonEmpty)
    CacheJanitor.drain()

    // Batch 4: crash the MERGE-STATE ADVANCE itself — the batch's commit
    // point. skip=1 lets the intent-set swap through; the next
    // _merge_state.json rename is the advance. torn-dest is the worst
    // copy+delete state: main deleted, fully-written .tmp left behind.
    HostileFileSystem.armCrash("torn-dest", "/_merge_state.json", skip = 1)
    val e4 = intercept[Exception] {
      MergeRunner.runOnce(spark, sources(4), landing, processed, state, batchIds(3))
    }
    HostileFileSystem.disarm()
    assert(crashedBy(e4), s"expected the injected crash, got: $e4")
    CacheJanitor.drain()
    // The advance recovers through the complete tmp: state reads as
    // ADVANCED (intent cleared), because the tmp was fully written
    // before the swap began — the batch is committed, not lost.
    assert(mergeState.get("intent").forall(_.isEmpty),
      "the state advance must recover through the complete .tmp")

    // A retry is a no-op (ingest gates out; merge state already folded).
    assert(MergeRunner.runOnce(spark, sources(4), landing, processed, state,
      batchIds(3)).isEmpty)
    CacheJanitor.drain()

    // Clean arm: same four batches, local roots, no crashes.
    val cleanRoot = Files.createTempDirectory("graft_hstar_mclean").toString
    (1 to 4).foreach { v =>
      MergeRunner.runOnce(spark, sources(v), s"$cleanRoot/landing",
        s"$cleanRoot/processed", s"$cleanRoot/state/tracking.json", batchIds(v - 1))
      CacheJanitor.drain()
    }
    assertEqualStar(processed, s"$cleanRoot/processed")
  }
}
