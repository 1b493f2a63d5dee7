package graft

import java.nio.file.Files

import graft.operators.{AnnIndex, BatchLog, CosineDedupIndex, PqIndex, SignatureIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Mutating entry points after a crashed rewrite land on the committed
  * version, and the next rewrite converges.
  *
  * A compaction that crashed before its commit marker leaves its fold
  * written into the log's unmarked next version. An ingest or remove in
  * that state must act on the committed version (the only one readers
  * resolve), and the re-run compaction must restage over the leftover —
  * neither the increment nor the tombstone may be lost to the stale
  * stage. Each test writes the crashed stage for real. */
class IngestRecoverySpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.01"

  private def vecs: DataFrame =
    Tables.embeddings(spark, dir).select("vec_id", "embedding")

  /** Write a compaction fold of `path` into its unmarked next version —
    * the exact on-disk state of a compact() that died before its
    * commit marker. */
  private def stageCrashWindow(path: String, op: String,
      partitionBy: Seq[String] = Nil): Unit = {
    SparkSpec.crashedStage(spark, path, BatchLog.read(spark, path, op), partitionBy)
    ()
  }

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  private val batchA = Seq(
    1L -> "the quick brown fox jumps over the lazy dog today",
    2L -> "completely different text about spark engines and parquet files")
  private val batchB = Seq(
    3L -> "rain in spain falls mainly on the plain every year")

  private def sigIds(root: String) = SignatureIndex.readIndex(spark, root)
    .select("doc_id").collect().map(_.getLong(0)).toSet

  test("SignatureIndex: ingest after a crashed compaction stage is kept") {
    val root = Files.createTempDirectory("graft_recov").toString
    SignatureIndex.ingest(spark, root, docs(batchA: _*), batchKey = Some("b1"))
    stageCrashWindow(s"$root/signatures", "SignatureIndex")
    SignatureIndex.ingest(spark, root, docs(batchB: _*), batchKey = Some("b2"))
    assert(sigIds(root) === Set(1L, 2L, 3L),
      s"the corpus and the increment must both be live, got ${sigIds(root)}")
    SignatureIndex.compact(spark, root)
    assert(sigIds(root) === Set(1L, 2L, 3L), "the re-run compaction must keep the increment")
    CacheJanitor.drain()
  }

  test("SignatureIndex: remove inside a crashed compaction window keeps the tombstone") {
    val root = Files.createTempDirectory("graft_recov").toString
    SignatureIndex.ingest(spark, root, docs(batchA: _*), batchKey = Some("b1"))
    stageCrashWindow(s"$root/signatures", "SignatureIndex")
    SignatureIndex.remove(spark, root, Seq(1L))
    assert(sigIds(root) === Set(2L), s"the tombstone must apply, got ${sigIds(root)}")
    SignatureIndex.compact(spark, root)
    assert(sigIds(root) === Set(2L), "the re-run compaction must fold the tombstone out")
    CacheJanitor.drain()
  }

  test("CosineDedupIndex: ingest after a crashed compaction stage is kept") {
    val root = Files.createTempDirectory("graft_recov").toString
    CosineDedupIndex.ingest(spark, root, vecs.where(col("vec_id") < 100),
      batchKey = Some("b1"))
    CacheJanitor.drain()
    stageCrashWindow(s"$root/codes", "CosineDedupIndex")
    CosineDedupIndex.ingest(spark, root,
      vecs.where(col("vec_id") >= 100 && col("vec_id") < 120), batchKey = Some("b2"))
    assert(CosineDedupIndex.readIndex(spark, root).count() === 120,
      "the corpus and the increment must both be live")
    CosineDedupIndex.compact(spark, root)
    assert(CosineDedupIndex.readIndex(spark, root).count() === 120,
      "the re-run compaction must keep the increment")
    CacheJanitor.drain()
  }

  test("AnnIndex: ingest after a crashed compaction stage is kept") {
    val root = Files.createTempDirectory("graft_recov").toString
    AnnIndex.ingest(spark, root, vecs.where(col("vec_id") < 100), batchKey = Some("b1"))
    CacheJanitor.drain()
    stageCrashWindow(s"$root/codes", "AnnIndex", partitionBy = Seq("cell"))
    AnnIndex.ingest(spark, root,
      vecs.where(col("vec_id") >= 100 && col("vec_id") < 120), batchKey = Some("b2"))
    assert(AnnIndex.readCodes(spark, root).count() === 120,
      "the corpus and the increment must both be live")
    AnnIndex.compact(spark, root)
    assert(AnnIndex.readCodes(spark, root).count() === 120,
      "the re-run compaction must keep the increment")
    CacheJanitor.drain()
  }

  test("PqIndex: ingest after a crashed compaction stage is kept") {
    val root = Files.createTempDirectory("graft_recov").toString
    PqIndex.ingest(spark, root, vecs.where(col("vec_id") < 100), batchKey = Some("b1"))
    CacheJanitor.drain()
    stageCrashWindow(s"$root/codes", "PqIndex", partitionBy = Seq("cell"))
    PqIndex.ingest(spark, root,
      vecs.where(col("vec_id") >= 100 && col("vec_id") < 120), batchKey = Some("b2"))
    assert(PqIndex.readCodes(spark, root).count() === 120,
      "the corpus and the increment must both be live")
    PqIndex.compact(spark, root)
    assert(PqIndex.readCodes(spark, root).count() === 120,
      "the re-run compaction must keep the increment")
    CacheJanitor.drain()
  }
}
