package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import graft.operators.SketchLog
import org.apache.spark.sql.DataFrame

/** Incremental maintenance contract for the per-batch HLL sketch log:
  * batch 2 pays a sketch-sized write and leaves batch 1's files
  * byte-untouched; merged estimates equal a single-shot build over the
  * union (sketch-union associativity); a replayed caller key replaces
  * itself instead of double-counting; compaction folds to one row per
  * scope with identical estimates; rebuild (the deletion escape hatch)
  * swaps in survivors-only sketches atomically. */
class SketchLogSpec extends SparkSpec {
  import spark.implicits._

  private def events(rows: (String, Long)*): DataFrame =
    rows.toDF("event_type", "user_id")

  private val batchA = Seq(
    "click" -> 1L, "click" -> 2L, "click" -> 2L, "view" -> 1L, "view" -> 3L)
  private val batchB = Seq(
    "click" -> 2L, "click" -> 9L, "view" -> 4L, "view" -> 4L, "buy" -> 5L)

  private def parquetFiles(path: Path): Map[String, Long] =
    Files.walk(path).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis)
      .toMap

  private def estimates(root: String): Map[String, (Long, Long)] =
    SketchLog.estimate(spark, root, "event_type").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  test("per-batch sketches merge to the union's counts; prior batch files stay byte-untouched") {
    val root = Files.createTempDirectory("graft_sklog").toString
    SketchLog.ingest(spark, root, events(batchA: _*), "event_type", "user_id",
      batchKey = Some("b1"))
    val afterB1 = parquetFiles(java.nio.file.Paths.get(root))
    SketchLog.ingest(spark, root, events(batchB: _*), "event_type", "user_id",
      batchKey = Some("b2"))
    val afterB2 = parquetFiles(java.nio.file.Paths.get(root))
    afterB1.foreach { case (f, ts) =>
      assert(afterB2.get(f).contains(ts), s"batch 1 file rewritten by batch 2: $f")
    }
    // At these cardinalities the sketch is in exact (sparse) mode: the
    // merged estimate IS the exact distinct count of the union.
    assert(estimates(root) === Map(
      "click" -> ((3L, 5L)), "view" -> ((3L, 4L)), "buy" -> ((1L, 1L))))
  }

  test("a replayed caller key replaces its own rows instead of double-counting") {
    val root = Files.createTempDirectory("graft_sklog").toString
    SketchLog.ingest(spark, root, events(batchA: _*), "event_type", "user_id",
      batchKey = Some("b1"))
    val once = estimates(root)
    SketchLog.ingest(spark, root, events(batchA: _*), "event_type", "user_id",
      batchKey = Some("b1"))
    assert(estimates(root) === once)
    // n_rows would double under a flat append; the keyed replay keeps it.
    assert(once("click")._2 === 3L)
  }

  test("compact folds to one row per scope with identical estimates") {
    val root = Files.createTempDirectory("graft_sklog").toString
    SketchLog.ingest(spark, root, events(batchA: _*), "event_type", "user_id",
      batchKey = Some("b1"))
    SketchLog.ingest(spark, root, events(batchB: _*), "event_type", "user_id",
      batchKey = Some("b2"))
    val before = estimates(root)
    SketchLog.compact(spark, root, "event_type")
    assert(estimates(root) === before)
    val rows = graft.operators.BatchLog.read(spark, s"$root/sketches", "SketchLog").count()
    assert(rows === 3L, s"expected one folded row per scope, got $rows")
    // A post-compaction replay of a folded key must be a no-op (ledger).
    SketchLog.ingest(spark, root, events(batchA: _*), "event_type", "user_id",
      batchKey = Some("b1"))
    assert(estimates(root) === before)
  }

  test("compact and ingest leave a sibling operator's tombstone table untouched") {
    // The table param invites co-locating the sketch log under an index
    // root; a commit/recovery that cleared root/tombstones would
    // silently resurrect the index's removed ids.
    val root = Files.createTempDirectory("graft_sklog").toString
    graft.operators.Tombstones.append(root, Seq(99L).toDF("doc_id"), "doc_id")
    SketchLog.ingest(spark, root, events(batchA: _*), "event_type", "user_id",
      batchKey = Some("b1"))
    SketchLog.compact(spark, root, "event_type")
    SketchLog.rebuild(spark, root, events(batchA: _*), "event_type", "user_id")
    val ids = graft.operators.Tombstones
      .read(spark, root, "doc_id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(99L), "sketch-log maintenance must not clear a sibling's tombstones")
  }

  test("an ingest landing inside a crashed compaction swap adopts the staged fold first") {
    val root = Files.createTempDirectory("graft_sklog").toString
    SketchLog.ingest(spark, root, events(batchA: _*), "event_type", "user_id",
      batchKey = Some("b1"))
    val before = estimates(root)
    // Simulate the swap window: fold fully staged, intent up, crash
    // before the rename.
    val path = java.nio.file.Paths.get(root, "sketches")
    val folded = graft.operators.BatchLog.read(spark, path.toString, "SketchLog")
    SwapCrash.beforeRename(spark, path.toString, folded, clears = None)
    // Without recovery-first this ingest would append batch B to the
    // old state, and the next reader's recovery would commit the staged
    // fold (batch A only) over it.
    SketchLog.ingest(spark, root, events(batchB: _*), "event_type", "user_id",
      batchKey = Some("b2"))
    assert(estimates(root) === Map(
      "click" -> ((3L, 5L)), "view" -> ((3L, 4L)), "buy" -> ((1L, 1L))))
    assert(before.keySet.subsetOf(estimates(root).keySet))
  }

  test("rebuild swaps in survivors-only sketches (the deletion escape hatch)") {
    val root = Files.createTempDirectory("graft_sklog").toString
    SketchLog.ingest(spark, root, events(batchA: _*), "event_type", "user_id",
      batchKey = Some("b1"))
    SketchLog.ingest(spark, root, events(batchB: _*), "event_type", "user_id",
      batchKey = Some("b2"))
    // Takedown: drop user 2 everywhere; re-sketch the survivors.
    val survivors = events((batchA ++ batchB).filterNot(_._2 == 2L): _*)
    SketchLog.rebuild(spark, root, survivors, "event_type", "user_id")
    assert(estimates(root) === Map(
      "click" -> ((2L, 2L)), "view" -> ((3L, 4L)), "buy" -> ((1L, 1L))))
  }
}
