package graft

import java.nio.file.Files

import graft.operators.SignatureIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The streaming→dedup seam: a document stream maintains the persisted
  * signature index through `foreachBatch` — the same composition
  * StreamingStarSpec pins for the star layer. Each micro-batch pays for
  * its increment only, and the accumulated per-batch delta pairs equal
  * the from-scratch recompute over everything streamed so far. */
class StreamingDedupIndexSpec extends SparkSpec {
  import spark.implicits._

  test("a document stream maintains the signature index incrementally via foreachBatch") {
    val root = Files.createTempDirectory("graft_stream_sig").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val newCounts = scala.collection.mutable.ArrayBuffer.empty[Long]
    val deltas = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]

    val q = input.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        // The micro-batch id is the replay-idempotence key: foreachBatch
        // is at-least-once (a sink crash re-delivers the batch), and the
        // batch-keyed log turns the re-delivery into an overwrite of
        // itself — the exactly-once recipe Structured Streaming documents
        // for idempotent sinks.
        val b = SignatureIndex.ingest(spark, root, df, batchKey = Some(s"mb$batchId"))
        newCounts += b.newSigs.count()
        deltas ++= b.deltaPairs.select("doc_a", "doc_b").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        CacheJanitor.drain()
        ()
      }
      .option("checkpointLocation", s"$root/ckpt")
      .start()
    try {
      input.addData(
        1L -> "the quick brown fox jumps over the lazy dog today",
        2L -> "the quick brown fox jumps over the lazy cat today",
        3L -> "completely different text about spark engines and parquet files")
      q.processAllAvailable()
      input.addData(
        4L -> "the quick brown fox jumps over the lazy dog yesterday",
        5L -> "another unrelated document with entirely distinct words inside",
        6L -> "completely different text about spark engines and parquet files")
      q.processAllAvailable()
      // No new data → the checkpointed stream schedules no extra batch,
      // so the index ingests nothing twice.
      q.processAllAvailable()
    } finally q.stop()

    assert(newCounts.toSeq == Seq(3L, 3L),
      s"each micro-batch must encode exactly its increment: $newCounts")
    // Crash-re-delivery of the LAST micro-batch (at-least-once
    // foreachBatch): replaying it under its own key must leave the
    // index byte-equivalent — no duplicate signature rows.
    SignatureIndex.ingest(spark, root,
      Seq(
        4L -> "the quick brown fox jumps over the lazy dog yesterday",
        5L -> "another unrelated document with entirely distinct words inside",
        6L -> "completely different text about spark engines and parquet files")
        .toDF("doc_id", "text"),
      batchKey = Some("mb1"))
    assert(SignatureIndex.readIndex(spark, root).count() == 6,
      "re-delivered micro-batch must not double-append")
    val allSigs = spark.read.parquet(graft.operators.BatchLog.resolve(spark, s"$root/signatures"))
    val full = SignatureIndex.deltaPairs(allSigs, allSigs)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    CacheJanitor.drain()
    assert(deltas.toSet == full,
      s"streamed per-batch deltas ${deltas.toSet} != full recompute $full")
    assert(full.contains((1L, 2L)) && full.contains((3L, 6L)),
      "within-batch and cross-batch pairs must both be present")
  }

  test("the full maintenance loop runs inside the stream: runOnce + maintainOnce + takedown") {
    import graft.operators.{ClusterLabels, DedupPipeline, SignatureIndex}
    // The production composition end-to-end: each micro-batch runs the
    // packaged pipeline step, then the health-driven maintenance step
    // (thresholds forced so compaction actually fires mid-stream), with a
    // takedown landing between micro-batches. Pins that maintenance
    // inside the streaming loop changes representation only, the removed
    // doc never pairs afterwards, and a crash-re-delivered micro-batch
    // whose key the compaction RETIRED is a no-op (the BatchLog ×
    // maintenance interaction, inside the stream).
    val root = Files.createTempDirectory("graft_stream_maint").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val fired = scala.collection.mutable.ArrayBuffer.empty[DedupPipeline.Maintenance]

    val q = input.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        DedupPipeline.runOnce(spark, root, df, batchKey = Some(s"mb$batchId"))
        fired += DedupPipeline.maintainOnce(spark, root,
          tombstoneRatio = 0.0, logDepthRatio = 0.0)
        CacheJanitor.drain()
        ()
      }
      .option("checkpointLocation", s"$root/ckpt")
      .start()
    try {
      input.addData(
        1L -> "the quick brown fox jumps over the lazy dog today",
        2L -> "the quick brown fox jumps over the lazy cat today",
        3L -> "completely different text about spark engines and parquet files")
      q.processAllAvailable()
      // Takedown between micro-batches: doc 2 leaves the live index; the
      // next batch's maintenance compacts it out. Its recorded pair
      // (1,2) and label are facts and persist.
      SignatureIndex.remove(spark, root, Seq(2L))
      input.addData(
        4L -> "the quick brown fox jumps over the lazy dog yesterday",
        5L -> "another unrelated document with entirely distinct words inside",
        6L -> "completely different text about spark engines and parquet files")
      q.processAllAvailable()
    } finally q.stop()

    // Batch 1: no tombstones yet, labels compacted (forced threshold).
    // Batch 2: the takedown's tombstone trips the forced ratio → index
    // compaction folds doc 2 out; never a refreeze on a text root.
    assert(fired.map(m => (m.refrozen, m.indexCompacted, m.labelsCompacted)).toSeq ==
      Seq((false, false, true), (false, true, true)), fired)
    assert(fired.last.after.tombstoned == 0 && fired.last.after.liveDocs == 5, fired.last)

    // Takedown semantics across the stream (t72's answer shape): doc 4
    // pairs with 1 only (2 was live-excluded), 6 duplicates 3, recorded
    // labels for 2 persist.
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 1L, 5L -> 5L, 6L -> 3L)
    def labels() = ClusterLabels.read(spark, root)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels() === want)

    // Crash-re-delivery of micro-batch 0 AFTER its key was retired by
    // the in-stream compactions: both appends must no-op — doc 2 must
    // not resurrect into the live index, labels must not move.
    val (rawBefore, _) = ClusterLabels.logDepth(spark, root)
    DedupPipeline.runOnce(spark, root,
      Seq(
        1L -> "the quick brown fox jumps over the lazy dog today",
        2L -> "the quick brown fox jumps over the lazy cat today",
        3L -> "completely different text about spark engines and parquet files")
        .toDF("doc_id", "text"),
      batchKey = Some("mb0"))
    CacheJanitor.drain()
    assert(SignatureIndex.readIndex(spark, root).count() == 5,
      "re-delivered batch must not resurrect the compacted-out takedown")
    assert(labels() === want, "re-delivered batch must not move labels")
    assert(ClusterLabels.logDepth(spark, root)._1 == rawBefore,
      "re-delivered batch must not append beside the compacted fold")
  }

  test("a document stream resolves clusters incrementally alongside the index") {
    // The complete incremental dedup story in one stream: each micro-batch
    // appends signatures, detects its delta pairs, AND folds them into the
    // persisted label table (ClusterLabels.merge — CC over the delta ∪
    // touched components only). The final labels must equal a from-scratch
    // resolve over everything streamed.
    val root = Files.createTempDirectory("graft_stream_labels").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]

    val q = input.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        // Same replay-idempotence key on BOTH persisted logs: a
        // re-delivered micro-batch overwrites its own signature and
        // label appends instead of double-appending.
        val b = SignatureIndex.ingest(spark, root, df, batchKey = Some(s"mb$batchId"))
        graft.operators.ClusterLabels.merge(spark, root,
          b.deltaPairs.select("doc_a", "doc_b"), b.newSigs.select("doc_id"),
          batchKey = Some(s"mb$batchId"))
        CacheJanitor.drain()
        ()
      }
      .option("checkpointLocation", s"$root/ckpt")
      .start()
    try {
      input.addData(
        1L -> "the quick brown fox jumps over the lazy dog today",
        2L -> "the quick brown fox jumps over the lazy cat today",
        3L -> "completely different text about spark engines and parquet files")
      q.processAllAvailable()
      // Batch 2: doc 4 near-dups batch 1's cluster (cross-batch MERGE into
      // an existing component), doc 6 duplicates doc 3, doc 5 is a
      // singleton.
      input.addData(
        4L -> "the quick brown fox jumps over the lazy dog yesterday",
        5L -> "another unrelated document with entirely distinct words inside",
        6L -> "completely different text about spark engines and parquet files")
      q.processAllAvailable()
    } finally q.stop()

    val got = graft.operators.ClusterLabels.read(spark, root)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // From-scratch oracle: CC over ALL pairs of the full corpus plus
    // self-labels for pairless docs with signatures.
    val allSigs = spark.read.parquet(graft.operators.BatchLog.resolve(spark, s"$root/signatures"))
    val pairs = SignatureIndex.deltaPairs(allSigs, allSigs).select("doc_a", "doc_b")
    val cc = graft.operators.Relational.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docs = allSigs.select("doc_id").collect().map(_.getLong(0))
    CacheJanitor.drain()
    val want = docs.map(d => d -> cc.getOrElse(d, d)).toMap
    assert(got === want, s"streamed labels $got != from-scratch resolve $want")
    assert(got(4L) === got(1L) && got(6L) === got(3L),
      "cross-batch merge and duplicate must share their cluster labels")
    assert(got(5L) === 5L, "pairless doc stays a singleton cluster")
  }
}
