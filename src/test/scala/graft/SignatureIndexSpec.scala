package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import graft.operators.SignatureIndex

/** Incremental maintenance contract for the near-dup signature index:
  * batch 2 pays for the increment only (row counts + on-disk file
  * fingerprints), and the accumulated per-batch deltas equal a
  * from-scratch recompute over the union corpus. */
class SignatureIndexSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  // Batch A: one near-dup pair (1,2) and two singletons.
  private val batchA = Seq(
    1L -> "the quick brown fox jumps over the lazy dog today",
    2L -> "the quick brown fox jumps over the lazy cat today",
    3L -> "completely different text about spark engines and parquet files",
    7L -> "short doc") // <3 words after tokenization → no signature
  // Batch B: a near-dup of A's pair (new-vs-old), an exact dup of doc 3
  // (new-vs-old, jaccard 1.0), an unrelated doc, and a new-vs-new pair.
  private val batchB = Seq(
    4L -> "the quick brown fox jumps over the lazy dog yesterday",
    5L -> "another unrelated document with entirely distinct words inside",
    6L -> "completely different text about spark engines and parquet files",
    8L -> "rain in spain falls mainly on the plain every year",
    9L -> "rain in spain falls mainly on the plain every month")

  private def parquetFiles(path: Path): Map[String, Long] =
    Files.walk(path).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis)
      .toMap

  test("batch 2 computes signatures only for the increment and leaves prior files untouched") {
    val root = Files.createTempDirectory("graft_sigidx").toString
    val b1 = SignatureIndex.ingest(spark, root, docs(batchA: _*))
    assert(b1.newSigs.count() == 3) // doc 7 is too short to shingle
    b1.deltaPairs.count() // materialize before fingerprinting
    CacheJanitor.drain()
    val filesAfter1 = parquetFiles(java.nio.file.Paths.get(root))
    assert(filesAfter1.nonEmpty)

    val b2 = SignatureIndex.ingest(spark, root, docs(batchB: _*))
    // The increment side is exactly batch B — no corpus recompute.
    assert(b2.newSigs.count() == batchB.size)
    assert(SignatureIndex.readIndex(spark, root).count() == 3 + batchB.size)
    CacheJanitor.drain()
    // Append-only: every batch-1 file still present, byte-untouched.
    val filesAfter2 = parquetFiles(java.nio.file.Paths.get(root))
    filesAfter1.foreach { case (f, mtime) =>
      assert(filesAfter2.get(f).contains(mtime), s"batch-1 file rewritten: $f")
    }
    assert(filesAfter2.size > filesAfter1.size, "batch 2 must add its own files")
  }

  test("accumulated per-batch deltas equal the from-scratch recompute on the union corpus") {
    val root = Files.createTempDirectory("graft_sigidx2").toString
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val b1 = SignatureIndex.ingest(spark, root, docs(batchA: _*))
    val d1 = pairSet(b1.deltaPairs)
    val b2 = SignatureIndex.ingest(spark, root, docs(batchB: _*))
    val d2 = pairSet(b2.deltaPairs)
    // From-scratch: deltaPairs(all, all) IS the t35 batch pipeline.
    val full = pairSet(SignatureIndex.deltaPairs(SignatureIndex.readIndex(spark, root), SignatureIndex.readIndex(spark, root)))
    CacheJanitor.drain()

    assert(d1 == Set((1L, 2L)))
    assert(d2.contains((3L, 6L)), "exact dup across batches must be a delta pair")
    assert(d2.contains((8L, 9L)), "new-vs-new pair inside the increment must be found")
    assert(d2.exists { case (a, b) => a <= 2 && b == 4L },
      "near-dup of an old doc must be found as new-vs-old")
    assert(d2.forall { case (a, b) => b >= 4L || a >= 4L },
      "a delta must always touch an increment doc")
    assert(d1 ++ d2 == full, s"incremental union ${d1 ++ d2} != full recompute $full")
  }

  private def pairMap(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
    df.select("doc_a", "doc_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  test("indexed delta pairs == the frame-level recompute, bit-for-bit incl. jaccard") {
    // The per-batch fast path (persisted posting/df side tables, no
    // signature-array re-explode) must be answer-identical to
    // deltaPairs(allSigs, newSigs) — same pair set, same jaccard DOUBLES
    // (the verify arithmetic divides the same longs).
    val root = Files.createTempDirectory("graft_sigidx_fast").toString
    SignatureIndex.ingest(spark, root, docs(batchA: _*), batchKey = Some("b1"))
    CacheJanitor.drain()
    val b2 = SignatureIndex.ingest(spark, root, docs(batchB: _*), batchKey = Some("b2"))
    // Call the indexed path DIRECTLY: ingest's size switch would route a
    // corpus this small to the frame path, and the equality would test
    // nothing.
    val fast = pairMap(SignatureIndex.deltaPairsIndexed(spark, root, b2.newSigs))
    val truth = pairMap(SignatureIndex.deltaPairs(SignatureIndex.readIndex(spark, root), b2.newSigs))
    CacheJanitor.drain()
    assert(fast.nonEmpty && fast == truth, s"fast $fast != frame $truth")
  }

  test("live-df takedown: a shingle pulled back under the cap pairs again (fast == frame)") {
    // 25 identical docs push every shingle to df 25 > dfCap. A takedown
    // of 6 brings live df to 19; a new identical doc must then pair with
    // ALL 19 survivors — the live-df re-evaluation t72 pins, served from
    // the df log MINUS the tombstoned docs' posting rows at read time.
    val root = Files.createTempDirectory("graft_sigidx_livedf").toString
    val text = "alpha beta gamma delta epsilon"
    SignatureIndex.ingest(spark, root,
      docs((1L to 25L).map(_ -> text): _*), batchKey = Some("b1"))
    CacheJanitor.drain()
    SignatureIndex.remove(spark, root, (20L to 25L))
    val b2 = SignatureIndex.ingest(spark, root, docs(26L -> text), batchKey = Some("b2"))
    val fast = pairMap(SignatureIndex.deltaPairsIndexed(spark, root, b2.newSigs))
    val truth = pairMap(SignatureIndex.deltaPairs(SignatureIndex.readIndex(spark, root), b2.newSigs))
    CacheJanitor.drain()
    assert(fast == truth, s"fast $fast != frame $truth")
    assert(fast.keySet == (1L to 19L).map(i => (i, 26L)).toSet, fast)
    assert(fast.values.forall(_ == 1.0), fast)
  }

  test("a coverage gap (crashed derived append, simulated) heals by rebuild; answers unchanged") {
    val root = Files.createTempDirectory("graft_sigidx_heal").toString
    SignatureIndex.ingest(spark, root, docs(batchA: _*), batchKey = Some("b1"))
    CacheJanitor.drain()
    assert(SignatureIndex.derivedCovered(spark, root))
    // The crash shape: the signature batch committed but its derived
    // rows (or the coverage marker) never landed.
    org.apache.commons.io.FileUtils.deleteDirectory(
      java.nio.file.Paths.get(SignatureIndex.dfDir(root)).toFile)
    java.nio.file.Files.delete(java.nio.file.Paths.get(
      SignatureIndex.postingsDir(root), "_covers_bb1"))
    assert(!SignatureIndex.derivedCovered(spark, root),
      "a gapped cache must fail the coverage check")
    val b2 = SignatureIndex.ingest(spark, root, docs(batchB: _*), batchKey = Some("b2"))
    val fast = pairMap(SignatureIndex.deltaPairsIndexed(spark, root, b2.newSigs))
    val truth = pairMap(SignatureIndex.deltaPairs(SignatureIndex.readIndex(spark, root), b2.newSigs))
    CacheJanitor.drain()
    assert(SignatureIndex.derivedCovered(spark, root),
      "the next ingest must heal the cache")
    assert(fast == truth, s"post-heal fast $fast != frame $truth")
  }

  test("degenerate first batch (no shingleable docs): indexed path returns empty, never throws") {
    val root = Files.createTempDirectory("graft_sigidx_degenerate").toString
    val b = SignatureIndex.ingest(spark, root, docs(7L -> "short doc"), batchKey = Some("b1"))
    assert(b.newSigs.count() == 0)
    val fast = SignatureIndex.deltaPairsIndexed(spark, root, b.newSigs)
    assert(fast.count() == 0)
    assert(fast.columns.toSeq == Seq("doc_a", "doc_b", "jaccard"))
    CacheJanitor.drain()
  }

  test("replay of a committed batch leaves the derived cache exact (no double rows)") {
    val root = Files.createTempDirectory("graft_sigidx_replay").toString
    SignatureIndex.ingest(spark, root, docs(batchA: _*), batchKey = Some("b1"))
    CacheJanitor.drain()
    SignatureIndex.ingest(spark, root, docs(batchB: _*), batchKey = Some("b2"))
    CacheJanitor.drain()
    // Crash-retry shape: batch b2 lands again.
    val b2r = SignatureIndex.ingest(spark, root, docs(batchB: _*), batchKey = Some("b2"))
    val fast = pairMap(SignatureIndex.deltaPairsIndexed(spark, root, b2r.newSigs))
    val truth = pairMap(SignatureIndex.deltaPairs(SignatureIndex.readIndex(spark, root), b2r.newSigs))
    CacheJanitor.drain()
    assert(fast == truth, s"replayed fast $fast != frame $truth")
    // df must not have double-counted the replayed batch: a doubled df
    // would push shared shingles over the cap and drop pairs.
    assert(fast.keySet.contains((8L, 9L)), fast)
    // And compaction keeps the cache consistent (eager rebuild).
    SignatureIndex.compact(spark, root)
    assert(SignatureIndex.derivedCovered(spark, root),
      "compaction must rebuild the derived cache eagerly")
  }

  test("a DIVERGENT replay of a covered key heals the derived cache (fast == frame)") {
    // Contract-violating shape: a replay of batch key b2 lands with
    // DIFFERENT content. The signature batch directory is replaced by
    // the append's mode(overwrite); the derived posting/df rows must be
    // replaced with it — a skip-on-covered-replay would leave the old
    // rows (and marker) silently poisoning deltaPairsIndexed.
    val root = Files.createTempDirectory("graft_sigidx_divreplay").toString
    SignatureIndex.ingest(spark, root, docs(batchA: _*), batchKey = Some("b1"))
    CacheJanitor.drain()
    SignatureIndex.ingest(spark, root, docs(batchB: _*), batchKey = Some("b2"))
    CacheJanitor.drain()
    // Divergent replay: doc 8 now pairs with nobody, doc 10 dups doc 5.
    val divergent = Seq(
      4L -> "the quick brown fox jumps over the lazy dog yesterday",
      5L -> "another unrelated document with entirely distinct words inside",
      6L -> "completely different text about spark engines and parquet files",
      8L -> "thunder over iceland wakes the glacier birds at dawn sometimes",
      10L -> "another unrelated document with entirely distinct words inside")
    val b2r = SignatureIndex.ingest(spark, root, docs(divergent: _*), batchKey = Some("b2"))
    val fast = pairMap(SignatureIndex.deltaPairsIndexed(spark, root, b2r.newSigs))
    val truth = pairMap(SignatureIndex.deltaPairs(SignatureIndex.readIndex(spark, root), b2r.newSigs))
    CacheJanitor.drain()
    assert(fast == truth, s"divergent-replay fast $fast != frame $truth")
    assert(fast.keySet.contains((5L, 10L)), fast)
    assert(!fast.keySet.contains((8L, 9L)),
      "the pre-replay (8,9) pair must not survive the divergent replay")
  }

  test("tombstone side-table size probe: 0 when absent, >0 after appends (the broadcast-gate input)") {
    val root = Files.createTempDirectory("graft_sigidx_tombsize").toString
    assert(graft.operators.Tombstones.bytesOnDisk(spark, s"$root/signatures") == 0L)
    SignatureIndex.ingest(spark, root, docs(batchA: _*), batchKey = Some("b1"))
    CacheJanitor.drain()
    SignatureIndex.remove(spark, root, Seq(1L, 2L))
    assert(graft.operators.Tombstones.bytesOnDisk(spark, s"$root/signatures") > 0L)
    assert(graft.operators.Tombstones.bytesOnDisk(spark, s"$root/signatures") <=
      SignatureIndex.tombstoneBroadcastMaxBytes,
      "a 2-id side table must stay far under the broadcast bound")
  }

  test("remove tombstones a doc out of pairs without touching snapshot files; compact == rebuild") {
    val root = Files.createTempDirectory("graft_sigidx3").toString
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    SignatureIndex.ingest(spark, root, docs(batchA: _*))
    CacheJanitor.drain()
    val snapshotDir = java.nio.file.Paths.get(root, "signatures")
    val before = parquetFiles(snapshotDir)

    // (a) Removal: doc 2 (the near-dup of 1) disappears from reads and
    // from every subsequent delta — including new-vs-old pairs it would
    // otherwise have matched.
    SignatureIndex.remove(spark, root, Seq(2L))
    val live = SignatureIndex.readIndex(spark, root)
    assert(live.where("doc_id = 2").count() == 0)
    assert(live.count() == 2)
    val b2 = SignatureIndex.ingest(spark, root, docs(batchB: _*))
    val d2 = pairSet(b2.deltaPairs)
    CacheJanitor.drain()
    assert(!d2.exists { case (a, b) => a == 2L || b == 2L },
      s"tombstoned doc 2 must not appear in any delta pair: $d2")
    assert(d2.exists { case (a, b) => a == 1L && b == 4L },
      "surviving near-dup pair (1,4) must still be found")

    // (c) Tombstoning never rewrites snapshot files.
    before.foreach { case (f, mtime) =>
      assert(parquetFiles(snapshotDir).get(f).contains(mtime), s"remove() rewrote $f")
    }

    // (b) Compaction == from-scratch signatures over the surviving docs,
    // and the tombstone side table is gone afterwards.
    SignatureIndex.compact(spark, root)
    def sigSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    val surviving = (batchA ++ batchB).filterNot(_._1 == 2L)
    val rebuilt = sigSet(SignatureIndex.signatures(docs(surviving: _*)))
    assert(sigSet(spark.read.parquet(graft.operators.BatchLog.resolve(spark, s"$root/signatures"))) == rebuilt,
      "compacted snapshot must equal a from-scratch build on the surviving set")
    assert(graft.operators.Tombstones.bytesOnDisk(spark, s"$root/signatures") == 0L,
      "compaction must clear the tombstone table (empty current version)")
    // Post-compaction reads no longer depend on the side table.
    assert(SignatureIndex.readIndex(spark, root).count() == rebuilt.size)
    CacheJanitor.drain()
  }

  // ---- matched-batch pruning (r13): the df log as the batch index ----

  private def scanFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.inputFiles.toSeq
          case _ => Nil
        }
    }.flatten

  // Vocabulary fully disjoint from batchA/batchB (no shared words, so
  // no shared shingles beyond hash collisions the spec corpus is far
  // too small to produce).
  private val batchDisjoint = Seq(
    21L -> "zebra quokka wombat capuchin lemur gibbon macaque tamarin howler",
    22L -> "zebra quokka wombat capuchin lemur gibbon macaque tamarin colobus")

  test("matched-batch pruning: a disjoint-vocabulary increment reads no prior posting/signature dir") {
    val root = Files.createTempDirectory("graft_sigidx_prune").toString
    SignatureIndex.ingest(spark, root, docs(batchA: _*), batchKey = Some("b1"))
    CacheJanitor.drain()
    val b2 = SignatureIndex.ingest(spark, root, docs(batchDisjoint: _*), batchKey = Some("b2"))
    val pairs = SignatureIndex.deltaPairsIndexed(spark, root, b2.newSigs)
    val truth = pairMap(SignatureIndex.deltaPairs(SignatureIndex.readIndex(spark, root), b2.newSigs))
    assert(pairMap(pairs) == truth && truth.keySet == Set((21L, 22L)),
      "pruned fast path must still equal the frame recompute")
    val k1 = graft.operators.BatchLog.sanitize("b1")
    val files = scanFiles(pairs)
    assert(files.exists(_.contains(s"signatures_dfcounts/batch_key=$k1")),
      "the df log IS the batch index — every batch's df rows are scanned")
    assert(!files.exists(_.contains(s"signatures_postings/batch_key=$k1")),
      s"disjoint batch must not read b1's postings: $files")
    assert(!files.exists(_.contains(s"signatures/batch_key=$k1")),
      s"disjoint batch must not read b1's signature arrays: $files")
    CacheJanitor.drain()
  }

  test("matched-batch pruning survives compaction: the fold keeps one shared key across all three logs") {
    val root = Files.createTempDirectory("graft_sigidx_prunec").toString
    SignatureIndex.ingest(spark, root, docs(batchA: _*), batchKey = Some("b1"))
    SignatureIndex.ingest(spark, root, docs(batchB: _*), batchKey = Some("b2"))
    CacheJanitor.drain()
    SignatureIndex.compact(spark, root)
    // Identity mapping after the fold: sig/posting/df logs hold the
    // SAME single key (the per-key rebuild preserves it).
    val sigKeys = graft.operators.BatchLog.committedKeys(spark, s"$root/signatures")
    assert(sigKeys.size == 1)
    assert(graft.operators.BatchLog.committedKeys(
      spark, SignatureIndex.postingsDir(root)).toSet == sigKeys.toSet)
    assert(graft.operators.BatchLog.committedKeys(
      spark, SignatureIndex.dfDir(root)).toSet == sigKeys.toSet)
    // A disjoint increment skips the fold's posting/signature dirs...
    val b3 = SignatureIndex.ingest(spark, root, docs(batchDisjoint: _*), batchKey = Some("b3"))
    val pairs = SignatureIndex.deltaPairsIndexed(spark, root, b3.newSigs)
    assert(pairMap(pairs) == pairMap(SignatureIndex.deltaPairs(SignatureIndex.readIndex(spark, root), b3.newSigs)))
    val foldKey = sigKeys.head
    val files = scanFiles(pairs)
    assert(!files.exists(_.contains(s"signatures_postings/batch_key=$foldKey")),
      s"disjoint batch must not read the fold's postings: $files")
    assert(!files.exists(_.contains(s"signatures/batch_key=$foldKey")),
      s"disjoint batch must not read the fold's signature arrays: $files")
    CacheJanitor.drain()
    // ...while an OVERLAPPING increment still finds its new-vs-old pair
    // through the fold (the pruning is exact, not lossy).
    val b4 = SignatureIndex.ingest(spark, root,
      docs(10L -> "the quick brown fox jumps over the lazy dog tonight"),
      batchKey = Some("b4"))
    val d4 = pairMap(SignatureIndex.deltaPairsIndexed(spark, root, b4.newSigs))
    assert(d4 == pairMap(SignatureIndex.deltaPairs(SignatureIndex.readIndex(spark, root), b4.newSigs)))
    assert(d4.keySet.exists { case (a, b) => b == 10L && a <= 4L },
      s"new-vs-old pair through the fold must survive pruning: $d4")
    CacheJanitor.drain()
  }
}
