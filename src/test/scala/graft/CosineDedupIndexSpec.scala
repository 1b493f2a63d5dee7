package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import graft.operators.{ClusterLabels, CosineDedupIndex, Relational}

/** Incremental maintenance contract for the embedding-cosine dedup
  * index — [[SignatureIndexSpec]]'s pins on the vector column: batch 2
  * pays for the increment only (append-only files, frozen mask), the
  * accumulated per-batch deltas equal a from-scratch recompute under
  * the frozen mask, tombstones hide vectors immediately, and the
  * ClusterLabels composition resolves streamed pairs into the same
  * clusters a from-scratch CC produces. */
class CosineDedupIndexSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 64
  /** Orthogonal block bases: base k is 1.0 on dims [16k, 16k+16). */
  private def base(k: Int): Array[Float] =
    Array.tabulate(dim)(i => if (i >= 16 * k && i < 16 * (k + 1)) 1f else 0f)
  private def jitter(v: Array[Float], seed: Int): Array[Float] = {
    val r = new scala.util.Random(seed)
    v.map(x => x + (r.nextFloat() - 0.5f) * 0.02f)
  }
  private def vecs(rows: (Long, Array[Float])*) =
    rows.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")

  // Batch A: near-dup pair (1,2) on base 0; singleton 3 on base 1.
  private val batchA = Seq(
    1L -> base(0), 2L -> jitter(base(0), 2), 3L -> base(1))
  // Batch B: 4 near-dups A's pair (new-vs-old), 5 unrelated (base 2),
  // 6 exactly duplicates 3 (new-vs-old), 8/9 a new-vs-new pair (base 3).
  private val batchB = Seq(
    4L -> jitter(base(0), 4), 5L -> base(2),
    6L -> base(1), 8L -> base(3), 9L -> jitter(base(3), 9))

  private def parquetFiles(path: Path): Map[String, Long] =
    Files.walk(path).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis)
      .toMap

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("planCached sees filtered children of a cached frame (the t69/t70 call shape)") {
    // The verify-plan choice must not misclassify `codes.where(...)`
    // over a persisted frame as disk-backed: identical answers, but the
    // semi-join branch's extra candidate persist + passes are pure
    // waste against an in-memory corpus.
    val codes = CosineDedupIndex.encode(vecs(batchA: _*), 4L).persist()
    try {
      codes.count()
      assert(CosineDedupIndex.planCached(codes), "the persisted frame itself")
      assert(CosineDedupIndex.planCached(
        codes.where(org.apache.spark.sql.functions.col("vec_id") > 0L)),
        "a filtered child served from the cache")
      assert(!CosineDedupIndex.planCached(CosineDedupIndex.encode(vecs(batchA: _*), 8L)),
        "an uncached plan (different mask, no covered subtree) must read as disk-backed")
    } finally codes.unpersist()
  }

  test("batch 2 encodes only the increment, reuses the frozen mask, appends files") {
    val root = Files.createTempDirectory("graft_cosidx").toString
    val b1 = CosineDedupIndex.ingest(spark, root, vecs(batchA: _*))
    assert(b1.newCodes.count() == 3)
    val mask1 = CosineDedupIndex.frozenMask(spark, root).get
    assert(mask1 == graft.functions.TextSim.lshMaskValue(3).toLong)
    b1.deltaPairs.count()
    CacheJanitor.drain()
    val filesAfter1 = parquetFiles(java.nio.file.Paths.get(s"$root/codes"))
    assert(filesAfter1.nonEmpty)

    val b2 = CosineDedupIndex.ingest(spark, root, vecs(batchB: _*))
    assert(b2.newCodes.count() == batchB.size)
    assert(CosineDedupIndex.readIndex(spark, root).count() == batchA.size + batchB.size)
    assert(CosineDedupIndex.frozenMask(spark, root).get == mask1,
      "the bucket mask must stay frozen across batches")
    CacheJanitor.drain()
    val filesAfter2 = parquetFiles(java.nio.file.Paths.get(s"$root/codes"))
    filesAfter1.foreach { case (f, mtime) =>
      assert(filesAfter2.get(f).contains(mtime), s"batch-1 file rewritten: $f")
    }
    assert(filesAfter2.size > filesAfter1.size)
  }

  test("accumulated deltas == from-scratch recompute; labels == from-scratch CC") {
    val root = Files.createTempDirectory("graft_cosidx").toString
    val b1 = CosineDedupIndex.ingest(spark, root, vecs(batchA: _*))
    ClusterLabels.merge(spark, root,
      b1.deltaPairs.withColumnRenamed("vec_a", "doc_a").withColumnRenamed("vec_b", "doc_b"),
      vecs(batchA: _*).select($"vec_id".as("doc_id")))
    val d1 = pairSet(b1.deltaPairs)
    CacheJanitor.drain()
    val b2 = CosineDedupIndex.ingest(spark, root, vecs(batchB: _*))
    ClusterLabels.merge(spark, root,
      b2.deltaPairs.withColumnRenamed("vec_a", "doc_a").withColumnRenamed("vec_b", "doc_b"),
      vecs(batchB: _*).select($"vec_id".as("doc_id")))
    val d2 = pairSet(b2.deltaPairs)
    CacheJanitor.drain()

    // Delta pairs never revisit old-vs-old.
    assert(d2.forall { case (a, b) => batchB.exists(_._1 == a) || batchB.exists(_._1 == b) })
    // Expected structure: (1,2) within batch A; batch B links 4 to both,
    // 6 to 3, and (8,9) to each other.
    assert(d1 === Set((1L, 2L)))
    assert(d2 === Set((1L, 4L), (2L, 4L), (3L, 6L), (8L, 9L)), s"got $d2")

    // Union of deltas == from-scratch under the SAME frozen mask.
    val all = CosineDedupIndex.readIndex(spark, root)
    val full = pairSet(CosineDedupIndex.deltaPairs(all, all))
    CacheJanitor.drain()
    assert((d1 ++ d2) === full)

    // Incremental labels == from-scratch CC + singletons.
    val got = ClusterLabels.read(spark, root)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cc = Relational.connectedComponents(full.toSeq.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    CacheJanitor.drain()
    val want = (batchA ++ batchB).map(_._1).map(d => d -> cc.getOrElse(d, d)).toMap
    assert(got === want)
    assert(got(4L) == 1L && got(9L) == 8L && got(5L) == 5L)
  }

  test("an embedding stream maintains the index incrementally via foreachBatch") {
    val root = Files.createTempDirectory("graft_cosidx_stream").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])]
    val deltas = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = input.toDF().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
        // Micro-batch id as the replay-idempotence key ([[BatchLog]]).
        val b = CosineDedupIndex.ingest(spark, root, df, batchKey = Some(s"mb$batchId"))
        deltas ++= b.deltaPairs.select("vec_a", "vec_b").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        CacheJanitor.drain()
        ()
      }
      .option("checkpointLocation", s"$root/ckpt")
      .start()
    try {
      input.addData(batchA.map { case (id, v) => (id, v.toSeq) }: _*)
      q.processAllAvailable()
      input.addData(batchB.map { case (id, v) => (id, v.toSeq) }: _*)
      q.processAllAvailable()
      q.processAllAvailable() // checkpointed no-op: nothing ingests twice
    } finally q.stop()

    assert(spark.read.parquet(graft.operators.BatchLog.resolve(spark, s"$root/codes")).count() == batchA.size + batchB.size,
      "checkpointed re-run must not re-ingest")
    val all = CosineDedupIndex.readIndex(spark, root)
    val full = pairSet(CosineDedupIndex.deltaPairs(all, all))
    CacheJanitor.drain()
    assert(deltas.toSet === full, s"streamed deltas ${deltas.toSet} != full recompute $full")
  }

  test("a mid-stream refreeze composes with foreachBatch ingestion") {
    val root = Files.createTempDirectory("graft_cosidx_refreeze").toString
    val refRoot = Files.createTempDirectory("graft_cosidx_refreeze_ref").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // Real embeddings: the mask ladder must actually cross between
    // |batch 1| = 200 (mask 16) and live = 400 (mask 32) — the tiny
    // synthetic fixtures never leave the bottom clamp.
    val vecs = Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select("vec_id", "embedding")
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val batch3Deltas = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = input.toDF().toDF("vec_id")
      .writeStream
      .foreachBatch { (ids: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val b = CosineDedupIndex.ingest(spark, root, vecs.join(ids, "vec_id"),
          batchKey = Some(s"mb$batchId"))
        if (batchId == 2L)
          batch3Deltas ++= b.deltaPairs.select("vec_a", "vec_b").collect()
            .map(r => (r.getLong(0), r.getLong(1)))
        CacheJanitor.drain()
        ()
      }
      .option("checkpointLocation", s"$root/ckpt")
      .start()
    try {
      input.addData(0L until 200L: _*)
      q.processAllAvailable()
      input.addData(200L until 400L: _*)
      q.processAllAvailable()
      assert(CosineDedupIndex.needsRefreeze(spark, root),
        "live count past the frozen mask's ladder step must raise the drift signal")
      CosineDedupIndex.refreeze(spark, root)
      assert(!CosineDedupIndex.needsRefreeze(spark, root),
        "refreeze must clear the drift signal")
      assert(CosineDedupIndex.frozenMask(spark, root).contains(
        graft.functions.TextSim.lshMaskValue(400L).toLong),
        "refrozen mask must sit at the live count's ladder step")
      input.addData(400L until 500L: _*)
      q.processAllAvailable()
    } finally q.stop()

    // Reference: a root whose FIRST batch is the 400 vectors the
    // refreeze re-derived the mask from — identical mask, identical
    // codes — then the stream's batch 3. Its delta pairs must equal
    // the streamed batch-3 deltas, and the full pair closures match.
    CosineDedupIndex.ingest(spark, refRoot, vecs.where("vec_id < 400"))
    val refB3 = CosineDedupIndex.ingest(spark, refRoot, vecs.where("vec_id >= 400"))
    val wantB3 = pairSet(refB3.deltaPairs)
    assert(batch3Deltas.toSet === wantB3,
      "post-refreeze streamed deltas must equal the reference root's batch deltas")
    val closure = pairSet(CosineDedupIndex.deltaPairs(
      CosineDedupIndex.readIndex(spark, root), CosineDedupIndex.readIndex(spark, root)))
    val refClosure = pairSet(CosineDedupIndex.deltaPairs(
      CosineDedupIndex.readIndex(spark, refRoot), CosineDedupIndex.readIndex(spark, refRoot)))
    CacheJanitor.drain()
    assert(closure === refClosure, "refrozen index closure must match the reference root")
  }

  test("a compaction killed mid-swap recovers on the next read") {
    val root = Files.createTempDirectory("graft_cosidx").toString
    CosineDedupIndex.ingest(spark, root, vecs(batchA: _*))
    val before = CosineDedupIndex.readIndex(spark, root)
      .collect().map(_.toString).sorted.toSeq
    val dest = s"$root/codes"
    // Crashed before the commit's marker: the fold complete in the
    // unmarked next version.
    SparkSpec.crashedStage(spark, dest, graft.operators.BatchLog.read(spark, dest, "test"))
    def now() = CosineDedupIndex.readIndex(spark, root).collect().map(_.toString).sorted.toSeq
    assert(now() === before, "read must serve the committed codes")
    assert(graft.operators.BatchLog.resolve(spark, dest) == dest)
    // The re-run compaction commits over the leftover.
    CosineDedupIndex.compact(spark, root)
    assert(now() === before)
    CacheJanitor.drain()
  }

  test("tombstoned vectors vanish from deltas; compact folds them out, mask survives") {
    val root = Files.createTempDirectory("graft_cosidx").toString
    CosineDedupIndex.ingest(spark, root, vecs(batchA: _*))
    CosineDedupIndex.remove(spark, root, Seq(3L))
    val b2 = CosineDedupIndex.ingest(spark, root, vecs(batchB: _*))
    // Doc 6 duplicates tombstoned 3 — the pair must NOT appear.
    assert(!pairSet(b2.deltaPairs).contains((3L, 6L)))
    assert(CosineDedupIndex.readIndex(spark, root).count() == batchA.size + batchB.size - 1)
    CacheJanitor.drain()
    val mask = CosineDedupIndex.frozenMask(spark, root).get
    CosineDedupIndex.compact(spark, root)
    assert(CosineDedupIndex.frozenMask(spark, root).get == mask)
    // batch_key and pgrp are layout artifacts (batch commit dirs / the
    // fold's bucket-group pruning level), not content.
    val compacted = spark.read.parquet(graft.operators.BatchLog.resolve(spark, s"$root/codes"))
      .drop("batch_key").drop(CosineDedupIndex.pgrpCol)
    assert(compacted.count() == batchA.size + batchB.size - 1)
    assert(compacted.where($"vec_id" === 3L).isEmpty)
    // Compacted content == from-scratch encode of survivors, frozen mask.
    val survivors = vecs((batchA.filterNot(_._1 == 3L) ++ batchB): _*)
    val want = CosineDedupIndex.encode(survivors, mask)
      .collect().map(_.toString).sorted.toSeq
    val gotRows = compacted.collect().map(_.toString).sorted.toSeq
    CacheJanitor.drain()
    assert(gotRows === want)
  }
}
