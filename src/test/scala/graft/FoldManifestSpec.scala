package graft

import java.nio.file.Files

import graft.SparkSpec.withProps
import graft.operators.{BatchLog, CosineDedupIndex, SignatureIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fold-file manifests (round-15: the r14 verdict's top item — the
  * measured +~4 s/batch post-compaction LISTING tax, ~280 fold files
  * listed per log per saturated probe). Pins:
  *
  *  1. every fold write (signature compaction's three logs, the cosine
  *     fold) lands a `_fold_manifest.json` whose file list EQUALS an
  *     independent recursive listing (relative path + length);
  *  2. manifest-backed reads are answer-identical to the
  *     force-disabled listing reads (`graft.fold.manifest.disable`) —
  *     full-log read AND the pruned probe path;
  *  3. a deleted manifest falls back to the listing read, same answer
  *     (absent/unreadable ⇒ slower, never wrong);
  *  4. a compaction whose source was READ through manifests still
  *     retires exactly the absorbed keys (stageRewrite's analyzed-plan
  *     file accounting sees ManifestFileIndex.inputFiles).
  */
class FoldManifestSpec extends SparkSpec {

  private def corpus(ids: Seq[Long], text: Long => String): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, text(i))).toDF("doc_id", "text")
  }

  private def uniqueText(i: Long): String =
    (0 until 9).map(j => s"w${i}x$j").mkString(" ")

  private def fs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)

  /** Independent recursive (relPath, len) listing of a batch dir,
    * hidden names excluded — what the manifest must reproduce. */
  private def listed(batchDir: String): Set[(String, Long)] = {
    val base = fs.makeQualified(new org.apache.hadoop.fs.Path(batchDir))
    def walk(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap { s =>
        val n = s.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Nil
        else if (s.isDirectory) walk(s.getPath) else Seq(s)
      }
    walk(base).map(s => (fs.makeQualified(s.getPath).toString
      .stripPrefix(base.toString + "/"), s.getLen)).toSet
  }

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("signature fold manifests equal the listing; reads match with manifests on, off, and deleted") {
    withProps("graft.fold.min.rows" -> "1024", "graft.fold.group.bytes" -> "2048") {
      val root = Files.createTempDirectory("graft_manifest_sig").toString
      val n = 4096L
      SignatureIndex.ingest(spark, root, corpus(0L until n, uniqueText),
        batchKey = Some("b1"))
      CacheJanitor.drain()
      SignatureIndex.compact(spark, root)
      // A post-fold increment so the log is mixed fold+flat.
      val inc = corpus(Seq(9001L, 9002L), i =>
        if (i == 9001L) uniqueText(7L).split(" ").init.mkString(" ") + " changed"
        else uniqueText(i))
      val b2 = SignatureIndex.ingest(spark, root, inc, batchKey = Some("b2"))
      CacheJanitor.drain()

      // 1. Manifests exist on all three fold dirs and equal the listing.
      val logs = Seq(s"$root/signatures", SignatureIndex.postingsDir(root),
        SignatureIndex.dfDir(root))
      for (log <- logs) {
        val foldKeys = BatchLog.committedKeys(spark, log).filter { k =>
          BatchLog.readFoldManifest(spark, BatchLog.dirOfResolved(spark, log, k)).isDefined
        }
        assert(foldKeys.nonEmpty, s"no manifested fold dir in $log")
        for (k <- foldKeys) {
          val d = BatchLog.dirOfResolved(spark, log, k)
          val m = BatchLog.readFoldManifest(spark, d).get
          assert(m.files.map(f => (f._1, f._2)).toSet == listed(d),
            s"manifest != listing for $d")
          assert(m.files.forall(_._3 > 0L), "mtimes must be recorded")
        }
      }

      // 2. Full-log read and pruned probe: manifest arm == listing arm.
      val viaManifest = rows(SignatureIndex.readIndex(spark, root))
      val pairsManifest = rows(SignatureIndex.deltaPairsIndexed(spark, root,
        "signatures", b2.newSigs, Some(BatchLog.sanitize("b2"))))
      CacheJanitor.drain()
      val (viaListing, pairsListing) =
        withProps("graft.fold.manifest.disable" -> "true") {
          val a = rows(SignatureIndex.readIndex(spark, root))
          val b = rows(SignatureIndex.deltaPairsIndexed(spark, root,
            "signatures", b2.newSigs, Some(BatchLog.sanitize("b2"))))
          (a, b)
        }
      CacheJanitor.drain()
      assert(viaManifest == viaListing, "full-log read diverged between arms")
      assert(pairsManifest == pairsListing, "pruned probe diverged between arms")
      assert(pairsManifest.nonEmpty, "spec shape broken: no pairs to compare")

      // 3. Delete one manifest: reads fall back to the listing, same rows.
      val sigLog = s"$root/signatures"
      val foldKey = BatchLog.committedKeys(spark, sigLog).find { k =>
        BatchLog.readFoldManifest(spark, BatchLog.dirOfResolved(spark, sigLog, k)).isDefined
      }.get
      assert(fs.delete(new org.apache.hadoop.fs.Path(
        BatchLog.dirOfResolved(spark, sigLog, foldKey), BatchLog.foldManifestName), false))
      assert(BatchLog.readFoldManifest(spark,
        BatchLog.dirOfResolved(spark, sigLog, foldKey)).isEmpty)
      assert(rows(SignatureIndex.readIndex(spark, root)) == viaListing,
        "manifest-less fold must read identically via the listing")
      CacheJanitor.drain()
    }
  }

  test("manifest cache revalidates by stat: a replaced fold re-reads, a deleted manifest falls back") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_manifest_cache").toString +
      "/batch_key=a00001"
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1).write.parquet(dir)
    BatchLog.writeFoldManifest(spark, dir)
    val m1 = BatchLog.readFoldManifest(spark, dir).get
    assert(m1.files.map(f => (f._1, f._2)).toSet == listed(dir))
    // Second consult is served from the cache — must be the same parse.
    assert(BatchLog.readFoldManifest(spark, dir).contains(m1))
    // Replace the directory wholesale (what a re-run copy-based swap or
    // a root rebuilt from scratch produces): the manifest FILE is
    // rewritten, its stat changes, and the cached entry must be
    // revalidated away — a stale file list here would corrupt reads.
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    (0L until 64L).map(i => (i, s"string$i")).toDF("id", "s")
      .repartition(3).write.parquet(dir)
    BatchLog.writeFoldManifest(spark, dir)
    val m2 = BatchLog.readFoldManifest(spark, dir).get
    assert(m2.files.map(f => (f._1, f._2)).toSet == listed(dir),
      "replaced fold must serve the NEW manifest, not the cached one")
    assert(m2 != m1, "spec shape broken: replacement produced an identical manifest")
    // Deleting the manifest must defeat the cache too (fallback, not
    // a stale positive).
    fs.delete(new org.apache.hadoop.fs.Path(dir, BatchLog.foldManifestName), false)
    assert(BatchLog.readFoldManifest(spark, dir).isEmpty,
      "deleted manifest must read as absent even when previously cached")
  }

  test("a same-length same-tick manifest rewrite cannot serve the stale cached parse") {
    // The r16 advisory window: object stores report LastModified at
    // 1-second granularity, so a root deleted and rebuilt inside one
    // tick whose new manifest happens to be the SAME length stats
    // identically to the cached entry. The mtime-trust-lag guard must
    // route such a consult to a re-read. Simulated exactly: rewrite the
    // manifest with same-length different bytes, then force the file's
    // mtime back to the cached stat's value.
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_manifest_tick").toString +
      "/batch_key=a00001"
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1).write.parquet(dir)
    BatchLog.writeFoldManifest(spark, dir)
    val mPath = new org.apache.hadoop.fs.Path(dir, BatchLog.foldManifestName)
    val m1 = BatchLog.readFoldManifest(spark, dir).get // parse now cached
    val st1 = fs.getFileStatus(mPath)
    // Same-length different-content rewrite: flip one digit of the data
    // file's recorded LENGTH inside the manifest body (parses fine,
    // yields a visibly different file list).
    val body = {
      val in = fs.open(mPath)
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      finally in.close()
    }
    val lenStr = m1.files.head._2.toString
    val flipped = lenStr.init + (if (lenStr.last == '1') '2' else '1')
    // MiniJson escapes the tab separators, so the on-disk flanks are the
    // two-character sequence \t — handle either representation.
    val body2 = body.replace("\t" + lenStr + "\t", "\t" + flipped + "\t")
      .replace("\\t" + lenStr + "\\t", "\\t" + flipped + "\\t")
    assert(body2 != body && body2.length == body.length,
      "spec shape broken: rewrite must be same-length, different bytes")
    val out = fs.create(mPath, true)
    try out.write(body2.getBytes("UTF-8")) finally out.close()
    fs.setTimes(mPath, st1.getModificationTime, -1) // same-tick: stat identical
    assert(fs.getFileStatus(mPath).getLen == st1.getLen,
      "spec shape broken: lengths must match for the stat to collide")
    val m2 = BatchLog.readFoldManifest(spark, dir).get
    assert(m2.files.head._2 == flipped.toLong,
      s"stat-identical rewrite served the STALE cached parse: $m2")
  }

  test("a compaction reading THROUGH manifests retires exactly the absorbed keys") {
    withProps("graft.fold.min.rows" -> "1024", "graft.fold.group.bytes" -> "2048") {
      val root = Files.createTempDirectory("graft_manifest_retire").toString
      SignatureIndex.ingest(spark, root, corpus(0L until 2048L, uniqueText),
        batchKey = Some("b1"))
      CacheJanitor.drain()
      SignatureIndex.compact(spark, root)
      val sigLog = s"$root/signatures"
      val fold1 = BatchLog.committedKeys(spark, sigLog).head
      assert(BatchLog.readFoldManifest(spark,
        BatchLog.dirOfResolved(spark, sigLog, fold1)).isDefined, "first fold must be manifested")
      SignatureIndex.ingest(spark, root,
        corpus(Seq(9001L), _ => uniqueText(3L)), batchKey = Some("b2"))
      CacheJanitor.drain()
      // Second compaction reads fold1 via its manifest; its key (and
      // b2's) must land in the retirement ledger — a replay is a no-op.
      SignatureIndex.compact(spark, root)
      val retired = BatchLog.retiredKeys(spark, sigLog)
      assert(retired.contains(fold1) && retired.contains(BatchLog.sanitize("b2")),
        s"absorbed keys missing from the ledger: $retired")
      val before = rows(SignatureIndex.readIndex(spark, root))
      SignatureIndex.ingest(spark, root,
        corpus(Seq(9001L), _ => uniqueText(3L)), batchKey = Some("b2")) // replay
      CacheJanitor.drain()
      assert(rows(SignatureIndex.readIndex(spark, root)) == before,
        "a replay of a retired key must not double-append beside the fold")
    }
  }

  test("cosine fold manifest equals the listing; probe parity across arms") {
    val root = Files.createTempDirectory("graft_manifest_cos").toString
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def vec() = Array.fill(8)(rnd.nextFloat() * 2f - 1f)
    val base = (0L until 400L).map(i => (i, vec()))
    CosineDedupIndex.ingest(spark, root, base.toDF("vec_id", "embedding"),
      batchKey = Some("v1"))
    CacheJanitor.drain()
    CosineDedupIndex.compact(spark, root)
    val codes = s"$root/codes"
    val foldKey = BatchLog.committedKeys(spark, codes).head
    val d = BatchLog.dirOfResolved(spark, codes, foldKey)
    val m = BatchLog.readFoldManifest(spark, d)
    assert(m.isDefined, "cosine fold must be manifested")
    assert(m.get.files.map(f => (f._1, f._2)).toSet == listed(d))
    // A near-dup increment probes the fold: same pairs both arms.
    val clone = base.take(3).map { case (i, v) =>
      (10000L + i, v.map(x => x * 1.0001f)) }
    val inc = clone.toDF("vec_id", "embedding")
    val got = rows(CosineDedupIndex.ingest(spark, root, inc,
      batchKey = Some("v2")).deltaPairs)
    CacheJanitor.drain()
    val root2 = Files.createTempDirectory("graft_manifest_cos2").toString
    val want = sys.props.synchronized {
      sys.props("graft.fold.manifest.disable") = "true"
      try {
        CosineDedupIndex.ingest(spark, root2, base.toDF("vec_id", "embedding"),
          batchKey = Some("v1"))
        CacheJanitor.drain()
        CosineDedupIndex.compact(spark, root2)
        rows(CosineDedupIndex.ingest(spark, root2, inc,
          batchKey = Some("v2")).deltaPairs)
      } finally sys.props -= "graft.fold.manifest.disable"
    }
    CacheJanitor.drain()
    assert(got == want, "cosine probe diverged between manifest and listing arms")
    assert(got.nonEmpty, "spec shape broken: planted clones must pair")
  }
}
