package graft

import java.nio.file.Files

import graft.operators.{BatchLog, SignatureIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** The shingle-group (`hgrp=`) fold layout + pruned probe reads on the
  * posting/df side tables (round-14: the scale ledger's "residual
  * corpus term" — the df-log scan — gets the cosine log's bucket-group
  * treatment). Pins, on a synthetic corpus of 8192 unique-vocabulary
  * docs whose group counts come from its bytes: the df log gets
  * G_df = ⌊0.1 · sigBytes / groupBytes⌋, where sigBytes is the first
  * signature batch's on-disk size (~345 KB plus ~0.9 KB per writer
  * file, one file per local core) — about 33–36 at 1–32 cores with the
  * first test's 1024-byte group floor:
  *
  *  1. the first-batch rebuild writes BOTH side tables under `hgrp=`
  *     directories with group-count sidecars, one file per occupied
  *     group, while increment appends stay flat (the LSM shape);
  *  2. a small increment's `deltaPairsIndexed` answer EQUALS the
  *     frame recompute exactly — including a planted near-dup pair
  *     that must survive pruning;
  *  3. the executed plan's df and posting scans read EXACTLY the
  *     groups the increment's shingles hash into (plus the flat
  *     increment dirs) — asserted from `numFiles` metrics, descending
  *     into cache-materialization plans where the df probe persists;
  *  4. compaction folds everything back into one partitioned key per
  *     log and pruning re-engages through the new fold;
  *  5. a bulk (group-saturating) increment gates back to the full
  *     read, and a missing group sidecar disables pruning for the
  *     batch — unpruned, never wrong.
  */
class SignaturePruneSpec extends SparkSpec {

  /** `n` docs with doc-unique vocabulary (no cross-doc shingles), plus
    * optional overrides for planted near-dups. */
  private def corpus(ids: Seq[Long], text: Long => String): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, text(i))).toDF("doc_id", "text")
  }

  private def uniqueText(i: Long): String =
    (0 until 9).map(j => s"w${i}x$j").mkString(" ")

  /** Files actually read by the frame's scans over relations whose
    * root path contains `substr` — from the EXECUTED plan's numFiles
    * metric (partition-filter pruning is only visible there),
    * descending into AQE stages and cache-materialization plans (the
    * df probe and verify frames are persisted inside
    * deltaPairsIndexed). */
  private def scannedFiles(df: DataFrame, substr: String): Long = {
    df.queryExecution.toRdd.count()
    // A persisted frame (the df probe, the verify rows) is SHARED: the
    // same InMemoryRelation appears under several InMemoryTableScanExec
    // nodes, but its file scans executed ONCE — dedupe by reference
    // identity or every occurrence re-counts the cached plan's files.
    val seenRel = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case c: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        if (seenRel.add(c.relation.cachedPlan)) scans(c.relation.cachedPlan) else Nil
      case f: FileSourceScanExec => if (seenRel.add(f)) Seq(f) else Nil
      case o => o.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains(substr)))
      .map(_.metrics("numFiles").value).sum
  }

  private def pairMap(df: DataFrame): Map[(Long, Long), Double] =
    df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap

  private def occupiedGroups(log: String, key: String): Set[Int] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(BatchLog.dirOfResolved(spark, log, key)))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("hgrp="))
      .map(_.getPath.getName.stripPrefix("hgrp=").toInt).toSet
  }

  /** The frame's distinct shingle hashes (the probe keys, K of them). */
  private def shingleHashes(sigs: DataFrame): Set[Long] = {
    import org.apache.spark.sql.functions._
    sigs.select(explode(col("shs")).as("h")).distinct().collect()
      .map(_.getLong(0)).toSet
  }

  private def hitGroups(sigs: DataFrame, g: Int): Set[Int] =
    shingleHashes(sigs).map(h => java.lang.Math.floorMod(h, g.toLong).toInt)

  /** The production fold-layout threshold is 64k rows (gate-scale dirs
    * stay flat — see `foldLayoutMinRows`); these specs exercise the
    * layout on 8k/1k-doc corpora via the documented override, restored
    * afterwards so sibling suites see production behavior. */
  private def withFoldProps[T](rowsFloor: Long, groupBytes: Long)(body: => T): T = {
    val keys = Seq("graft.fold.min.rows" -> rowsFloor.toString,
      "graft.fold.group.bytes" -> groupBytes.toString)
    val prev = keys.map { case (k, _) => k -> sys.props.get(k) }
    keys.foreach { case (k, v) => sys.props(k) = v }
    try body
    finally prev.foreach {
      case (k, Some(v)) => sys.props(k) = v
      case (k, None) => sys.props -= k
    }
  }

  private def sidecarG(log: String, key: String, name: String): Int =
    BatchLog.readGroupsSidecar(spark, BatchLog.dirOfResolved(spark, log, key), name)
      .getOrElse(fail(s"missing group sidecar in $log/$key"))

  // Group floor from the saturation bound, not the writer count: the
  // increment below has K = 14 distinct shingles, and hits <= K for any
  // placement, so the shape guard holds once G_df·7/10 > 14, i.e.
  // G_df >= 22, i.e. groupBytes <= ⌊0.1 · 344 994 / 22⌋ = 1568 at any
  // core count (sigBytes is smallest at one core). 1024 gives G_df 33–36.
  test("hgrp fold layout: pruned df/posting scans read only hit groups; answer == frame recompute") { withFoldProps(1024L, 1024L) {
    val root = Files.createTempDirectory("graft_sigprune").toString
    val n = 8192L
    SignatureIndex.ingest(spark, root,
      corpus(0L until n, uniqueText), batchKey = Some("b1"))
    CacheJanitor.drain()
    val dfLog = SignatureIndex.dfDir(root)
    val postLog = SignatureIndex.postingsDir(root)
    val k1 = BatchLog.sanitize("b1")
    assert(BatchLog.partitionedKeys(spark, dfLog, SignatureIndex.hgrpCol) == Set(k1))
    assert(BatchLog.partitionedKeys(spark, postLog, SignatureIndex.hgrpCol) == Set(k1))
    // Per-log byte-derived group counts, read back from the sidecars
    // (the authoritative source every probe uses).
    val gDf = sidecarG(dfLog, k1, SignatureIndex.hgrpSidecarName)
    val gPost = sidecarG(postLog, k1, SignatureIndex.hgrpSidecarName)
    assert(gDf >= 8 && gPost > gDf,
      s"byte sizing should give real per-log group counts: df=$gDf post=$gPost")
    // ~57k distinct uniform hashes occupy all groups, one file each.
    val occDf = occupiedGroups(dfLog, k1)
    val occPost = occupiedGroups(postLog, k1)
    assert(occDf.size == gDf && occPost.size == gPost,
      s"unique-vocab corpus should occupy all groups: df=${occDf.size}/$gDf post=${occPost.size}/$gPost")

    // Tiny increment: 9001 near-dups doc 7 (one word changed → shared
    // shingles, Jaccard 0.75), 9002 is novel.
    val inc = corpus(Seq(9001L, 9002L), i =>
      if (i == 9001L) uniqueText(7L).split(" ").init.mkString(" ") + " changed"
      else uniqueText(i))
    val b2 = SignatureIndex.ingest(spark, root, inc, batchKey = Some("b2"))
    CacheJanitor.drain()
    // Increment appends stay FLAT — the LSM shape.
    assert(BatchLog.partitionedKeys(spark, dfLog, SignatureIndex.hgrpCol) == Set(k1))

    val pairs = SignatureIndex.deltaPairsIndexed(spark, root,
      b2.newSigs, Some(BatchLog.sanitize("b2")))
    val truth = pairMap(SignatureIndex.deltaPairs(SignatureIndex.readIndex(spark, root), b2.newSigs))
    assert(pairMap(pairs) == truth,
      "pruned indexed path must equal the frame recompute exactly")
    assert(truth.contains((7L, 9001L)),
      s"the planted near-dup pair must survive pruning: ${truth.keySet}")

    // Placement-free shape guard: hits <= K under ANY hash placement,
    // so K below both gates means the guard after it cannot trip on
    // where the K hashes happen to land — a fixture drifting toward
    // saturation fails here, at the cause.
    val k = shingleHashes(b2.newSigs).size
    assert(k < gDf * 7 / 10 && k < gPost * 7 / 10,
      s"spec shape broken: K=$k increment shingles reach a gate (df G=$gDf, post G=$gPost)")
    // Scan-file pins from the executed plan: the partitioned b1 dirs
    // contribute exactly the hit groups' files; b2's flat dirs (one
    // file each) are read whole.
    val hitsDf = hitGroups(b2.newSigs, gDf)
    val hitsPost = hitGroups(b2.newSigs, gPost)
    assert(hitsDf.size < gDf * 7 / 10 && hitsPost.size < gPost * 7 / 10,
      s"spec shape broken: hit groups saturate a gate (df ${hitsDf.size}/$gDf post ${hitsPost.size}/$gPost)")
    val dfFiles = scannedFiles(pairs, "signatures_dfcounts")
    assert(dfFiles == (hitsDf & occDf).size + 1L,
      s"df scan must read ${(hitsDf & occDf).size} pruned fold files + b2's flat file, read $dfFiles")
    val postFiles = scannedFiles(pairs, "signatures_postings")
    assert(postFiles == (hitsPost & occPost).size + 1L,
      s"posting scan must read ${(hitsPost & occPost).size} pruned fold files + b2's flat file, read $postFiles")
    CacheJanitor.drain()

    // Compaction: one fold key per log, re-partitioned — the SIGNATURE
    // fold now carries the `dgrp=` doc-group layout too — and pruning
    // re-engages; answers stay exact through the re-fold.
    SignatureIndex.compact(spark, root)
    val sigLog = s"$root/signatures"
    val foldKey = BatchLog.committedKeys(spark, sigLog).head
    assert(BatchLog.partitionedKeys(spark, dfLog, SignatureIndex.hgrpCol) == Set(foldKey))
    assert(BatchLog.partitionedKeys(spark, postLog, SignatureIndex.hgrpCol) == Set(foldKey))
    assert(BatchLog.partitionedKeys(spark, sigLog, SignatureIndex.dgrpCol) == Set(foldKey))
    val gSig = sidecarG(sigLog, foldKey, SignatureIndex.dgrpSidecarName)
    assert(gSig >= 8, s"sig fold should carry a real group count, got $gSig")
    assert(!SignatureIndex.readIndex(spark, root).columns.contains("dgrp"),
      "dgrp is a layout artifact, never a row column")
    assert(SignatureIndex.readIndex(spark, root).count() == n + 2)

    val b3 = SignatureIndex.ingest(spark, root,
      corpus(Seq(9003L), _ => uniqueText(7L).split(" ").init.mkString(" ") + " altered"),
      batchKey = Some("b3"))
    val pairs3 = SignatureIndex.deltaPairsIndexed(spark, root,
      b3.newSigs, Some(BatchLog.sanitize("b3")))
    val p3 = pairMap(pairs3)
    assert(p3 == pairMap(SignatureIndex.deltaPairs(SignatureIndex.readIndex(spark, root), b3.newSigs)))
    assert(p3.keySet.contains((7L, 9003L)) && p3.keySet.contains((9001L, 9003L)),
      s"near-dup pairs through the re-fold must survive pruning: ${p3.keySet}")
    // dgrp verify pin: the signature fold contributes exactly the
    // candidate docs' groups' files (candidates of 9003 are docs 7 and
    // 9001), plus b3's own flat signature file.
    val sigOcc = {
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(BatchLog.dirOfResolved(spark, sigLog, foldKey)))
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("dgrp="))
        .map(_.getPath.getName.stripPrefix("dgrp=").toInt).toSet
    }
    val candGroups = Set(7L, 9001L, 9003L)
      .map(d => java.lang.Math.floorMod(d, gSig.toLong).toInt)
    // "signatures/" matches the sig log at any version depth (the
    // post-compaction fold lives under signatures/_versions/<n>/) and
    // never the derived logs (signatures_dfcounts/_postings).
    val sigFiles = scannedFiles(pairs3, "signatures/")
    assert(sigFiles == (candGroups & sigOcc).size + 1L,
      s"verify scan must read ${(candGroups & sigOcc).size} candidate groups' fold files " +
        s"+ b3's flat file, read $sigFiles")
    CacheJanitor.drain()
  }}

  test("saturating increments and sidecar-less folds gate to the full read — never a wrong prune") { withFoldProps(1024L, 1024L) {
    val root = Files.createTempDirectory("graft_sigprune_gate").toString
    val n = 1024L // small corpus + small groupBytes: few groups, easy to saturate
    SignatureIndex.ingest(spark, root,
      corpus(0L until n, uniqueText), batchKey = Some("b1"))
    CacheJanitor.drain()
    val dfLog = SignatureIndex.dfDir(root)
    val k1 = BatchLog.sanitize("b1")
    assert(BatchLog.partitionedKeys(spark, dfLog, SignatureIndex.hgrpCol) == Set(k1),
      "spec shape broken: the df log must be partitioned for the gate to be testable")
    val gDf = sidecarG(dfLog, k1, SignatureIndex.hgrpSidecarName)
    assert(gDf >= 2 && gDf <= 32, s"want a small, saturable group count, got $gDf")
    val occDf = occupiedGroups(dfLog, k1)

    // A 64-doc increment carries ~450 distinct shingles over 4 groups:
    // saturated, so the df scan must read ALL fold files (+ its own).
    val bulk = corpus(8000L until 8064L, i =>
      if (i == 8000L) uniqueText(5L).split(" ").init.mkString(" ") + " changed"
      else uniqueText(i))
    val bb = SignatureIndex.ingest(spark, root, bulk, batchKey = Some("bb"))
    val pairsB = SignatureIndex.deltaPairsIndexed(spark, root,
      bb.newSigs, Some(BatchLog.sanitize("bb")))
    assert(pairMap(pairsB) == pairMap(SignatureIndex.deltaPairs(SignatureIndex.readIndex(spark, root), bb.newSigs)))
    assert(pairMap(pairsB).keySet.contains((5L, 8000L)))
    assert(scannedFiles(pairsB, "signatures_dfcounts") == occDf.size + 1L,
      "a saturating probe set must take the full df read")
    CacheJanitor.drain()

    // Remove b1's df sidecar: the layout is no longer self-described,
    // so pruning must disable for the whole probe — full read, same
    // answer (a fresh near-dup increment would otherwise tempt a
    // wrong-modulus guess).
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(
      BatchLog.dirOfResolved(spark, dfLog, k1), SignatureIndex.hgrpSidecarName), false))
    val tiny = corpus(Seq(9100L), _ => uniqueText(6L).split(" ").init.mkString(" ") + " shifted")
    val bt = SignatureIndex.ingest(spark, root, tiny, batchKey = Some("bt"))
    val pairsT = SignatureIndex.deltaPairsIndexed(spark, root,
      bt.newSigs, Some(BatchLog.sanitize("bt")))
    assert(pairMap(pairsT) == pairMap(SignatureIndex.deltaPairs(SignatureIndex.readIndex(spark, root), bt.newSigs)))
    assert(pairMap(pairsT).keySet.contains((6L, 9100L)))
    assert(scannedFiles(pairsT, "signatures_dfcounts") >= occDf.size + 2L,
      "an un-sidecarred fold must be read in full (no pruning)")
    CacheJanitor.drain()
  }}

  test("SQL pmod (fold writer) and JVM floorMod (probe) agree on every sign/magnitude") {
    // The layout writes hgrp/dgrp with Spark's pmod and the probe maps
    // its keys with Math.floorMod — if they ever disagreed (negative
    // hashes, extreme longs), the probe would prune WRONG. Pin the
    // equivalence over hostile values at every group count in use.
    import spark.implicits._
    val vals = Seq(Long.MinValue, Long.MinValue + 7, -65537L, -1953L, -32L,
      -5L, -1L, 0L, 1L, 31L, 1952L, Long.MaxValue - 2, Long.MaxValue)
    for (g <- Seq(2, 4, 32, 1953, 65536)) {
      val fromSql = vals.toDF("h").selectExpr(s"pmod(h, ${g}L) AS p")
        .collect().map(_.getLong(0)).toSeq
      val fromJvm = vals.map(h => java.lang.Math.floorMod(h, g.toLong))
      assert(fromSql == fromJvm, s"pmod/floorMod diverge at g=$g")
    }
  }

  test("gate-scale directories stay FLAT at the production threshold — no layout below foldLayoutMinRows") {
    val root = Files.createTempDirectory("graft_sigprune_flat").toString
    // No override here: 8192 docs < the 64k production floor, so the
    // rebuild must write plain directories (the r14 t74 lesson — at
    // gate scale the layout is a file-open tax, not a win).
    SignatureIndex.ingest(spark, root,
      corpus(0L until 2048L, uniqueText), batchKey = Some("b1"))
    CacheJanitor.drain()
    assert(BatchLog.partitionedKeys(spark, SignatureIndex.dfDir(root),
      SignatureIndex.hgrpCol).isEmpty)
    assert(BatchLog.partitionedKeys(spark, SignatureIndex.postingsDir(root),
      SignatureIndex.hgrpCol).isEmpty)
    SignatureIndex.compact(spark, root)
    assert(BatchLog.partitionedKeys(spark, s"$root/signatures",
      SignatureIndex.dgrpCol).isEmpty)
    assert(SignatureIndex.readIndex(spark, root).count() == 2048L)
    CacheJanitor.drain()
  }
}
