package graft

import java.nio.file.{Files, Paths}

import graft.operators.{AnnIndex, BatchLog, CosineDedupIndex, PqIndex, SignatureIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Mutating entry points must run swap recovery BEFORE touching state.
  *
  * The failure this pins (found in review, fixed across every index):
  * a compaction that crashed between its intent and its rename leaves
  * the fold fully staged in `__compact_tmp` and the intent recording it.
  * An ingest landing in that window without recovering first appends
  * its increment to the OLD version — after which recovery commits the
  * staged fold as the next version, and the increment is silently
  * lost. Likewise a tombstone appended in the window is cleared when
  * the fold is adopted (the intent records the tombstone clear). Each
  * test stages the window for real and proves the sequencing: adopt
  * first, then mutate. */
class IngestRecoverySpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.01"

  private def vecs: DataFrame =
    Tables.embeddings(spark, dir).select("vec_id", "embedding")

  /** Stage a compaction fold of `path` into its tmp and put up its
    * intent — the exact on-disk state of a compact() that died before
    * its rename. */
  private def stageCrashWindow(path: String, op: String,
      partitionBy: Seq[String] = Nil): Unit = {
    SwapCrash.beforeRename(spark, path, BatchLog.read(spark, path, op),
      clears = Some(Paths.get(path).getParent.toString), partitionBy)
    ()
  }

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  private val batchA = Seq(
    1L -> "the quick brown fox jumps over the lazy dog today",
    2L -> "completely different text about spark engines and parquet files")
  private val batchB = Seq(
    3L -> "rain in spain falls mainly on the plain every year")

  test("SignatureIndex: ingest inside a crashed compaction window adopts the fold first") {
    val root = Files.createTempDirectory("graft_recov").toString
    SignatureIndex.ingest(spark, root, docs(batchA: _*), batchKey = Some("b1"))
    stageCrashWindow(s"$root/signatures", "SignatureIndex")
    SignatureIndex.ingest(spark, root, docs(batchB: _*), batchKey = Some("b2"))
    val ids = SignatureIndex.readIndex(spark, root)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L, 2L, 3L),
      s"pre-compaction corpus must survive an in-window ingest, got $ids")
  }

  test("SignatureIndex: remove inside a crashed compaction window keeps the tombstone") {
    val root = Files.createTempDirectory("graft_recov").toString
    SignatureIndex.ingest(spark, root, docs(batchA: _*), batchKey = Some("b1"))
    stageCrashWindow(s"$root/signatures", "SignatureIndex")
    SignatureIndex.remove(spark, root, Seq(1L))
    val ids = SignatureIndex.readIndex(spark, root)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(2L),
      s"the in-window tombstone must survive fold adoption, got $ids")
  }

  test("CosineDedupIndex: ingest inside a crashed compaction window adopts the fold first") {
    val root = Files.createTempDirectory("graft_recov").toString
    CosineDedupIndex.ingest(spark, root, vecs.where(col("vec_id") < 100),
      batchKey = Some("b1"))
    CacheJanitor.drain()
    stageCrashWindow(s"$root/codes", "CosineDedupIndex")
    val b2 = CosineDedupIndex.ingest(spark, root,
      vecs.where(col("vec_id") >= 100 && col("vec_id") < 120), batchKey = Some("b2"))
    assert(b2.allCodes.count() === 120,
      "pre-compaction code rows must survive an in-window ingest")
    CacheJanitor.drain()
  }

  test("AnnIndex: ingest inside a crashed compaction window adopts the fold first") {
    val root = Files.createTempDirectory("graft_recov").toString
    AnnIndex.ingest(spark, root, vecs.where(col("vec_id") < 100), batchKey = Some("b1"))
    CacheJanitor.drain()
    stageCrashWindow(s"$root/codes", "AnnIndex", partitionBy = Seq("cell"))
    val b2 = AnnIndex.ingest(spark, root,
      vecs.where(col("vec_id") >= 100 && col("vec_id") < 120), batchKey = Some("b2"))
    assert(b2.allCodes.count() === 120,
      "pre-compaction code rows must survive an in-window ingest")
    CacheJanitor.drain()
  }

  test("PqIndex: ingest inside a crashed compaction window adopts the fold first") {
    val root = Files.createTempDirectory("graft_recov").toString
    PqIndex.ingest(spark, root, vecs.where(col("vec_id") < 100), batchKey = Some("b1"))
    CacheJanitor.drain()
    stageCrashWindow(s"$root/codes", "PqIndex", partitionBy = Seq("cell"))
    val b2 = PqIndex.ingest(spark, root,
      vecs.where(col("vec_id") >= 100 && col("vec_id") < 120), batchKey = Some("b2"))
    assert(b2.allCodes.count() === 120,
      "pre-compaction code rows must survive an in-window ingest")
    CacheJanitor.drain()
  }
}
