package graft

import graft.operators.{AnnIndex, BatchLog, SignatureIndex, VersionedState}
import graft.sources.{LandingLog, StateFile, WatermarkStore}
import graft.testfs.HostileFileSystem
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The object-store drills (round-15: r14 verdict item 2 — "exercise
  * the object-store bindings instead of documenting them"). Every case
  * runs on a `hostile://` root: rename is copy-then-delete with
  * injectable crashes, strict HDFS-style preconditions, and metered
  * list/stat/open counts.
  *
  *  1. snapshot versioning: stage-without-commit invisible, marker
  *     commit publishes, GC respects retention — all on hostile paths;
  *  2. watermark state: crashes at every swap phase (before-copy,
  *     after-copy, torn-dest) leave a recoverable state — the landing
  *     batch's watermark is never silently lost NOR torn;
  *  3. the index rewrite: a compaction crashed AFTER a commit rename's
  *     copy and with a TORN dest both leave the committed version as
  *     the only state a read sees (RewriteCrashSpec sweeps every
  *     rename and the marker create of every rewrite);
  *  4. manifest listing economics: the manifest-backed probe issues
  *     strictly fewer listStatus calls than the force-disabled listing
  *     arm, with identical answers.
  */
class HostileFsSpec extends SparkSpec {

  private def hostileRoot(tag: String): String = {
    HostileFileSystem.install(spark.sparkContext.hadoopConfiguration)
    val local = java.nio.file.Files.createTempDirectory(s"graft_hostile_$tag")
    s"hostile://$local"
  }

  private def corpus(ids: Seq[Long], text: Long => String): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, text(i))).toDF("doc_id", "text")
  }

  private def uniqueText(i: Long): String =
    (0 until 9).map(j => s"w${i}x$j").mkString(" ")

  private def rows(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet

  private def withFoldProps[T](body: => T): T = {
    val keys = Seq("graft.fold.min.rows" -> "1024", "graft.fold.group.bytes" -> "2048")
    val prev = keys.map { case (k, _) => k -> sys.props.get(k) }
    keys.foreach { case (k, v) => sys.props(k) = v }
    try body
    finally prev.foreach {
      case (k, Some(v)) => sys.props(k) = v
      case (k, None) => sys.props -= k
    }
  }

  override def afterAll(): Unit = { HostileFileSystem.disarm(); super.afterAll() }

  test("snapshot versioning on a hostile root: stage invisible, marker commits, GC respects retention") {
    val root = hostileRoot("snap")
    import spark.implicits._
    def listVersions: Seq[Long] =
      VersionedState.committedVersions(VersionedState.fsOf(spark, root), s"$root/t")
    SparkSpec.withProps("graft.swap.grace.ms" -> "0", "graft.swap.keep.versions" -> "1") {
      LandingLog.writeSnapshot(Seq((1L, "a")).toDF("id", "v"), root, "t")
      assert(rows(LandingLog.readSnapshot(spark, root, "t")) == Set("[1,a]"))
      // A fully-staged but uncommitted version stays invisible (the crash
      // -before-marker state).
      val staged = LandingLog.stageSnapshot(Seq((2L, "b")).toDF("id", "v"), root, "t")
      assert(rows(LandingLog.readSnapshot(spark, root, "t")) == Set("[1,a]"),
        "an uncommitted stage must not be readable")
      LandingLog.commitSnapshot(root, "t", staged)
      assert(rows(LandingLog.readSnapshot(spark, root, "t")) == Set("[2,b]"))
      assert(listVersions == Seq(1L, 2L),
        "graft.swap.keep.versions=1 must retain the previous version")
    }
    SparkSpec.withProps("graft.swap.grace.ms" -> "0", "graft.swap.keep.versions" -> "0") {
      LandingLog.writeSnapshot(Seq((3L, "c")).toDF("id", "v"), root, "t")
      assert(listVersions == Seq(3L),
        "zero grace and no kept versions must GC older versions")
    }
    assert(rows(LandingLog.readSnapshotAt(spark, root, "t", 3L)) == Set("[3,c]"))
  }

  test("watermark swaps survive crashes at every phase — recovered value, never torn, never lost") {
    val root = hostileRoot("wm")
    val store = new WatermarkStore(s"$root/state/tracking.json")
    store.update(Map("t1" -> "2026-01-01 00:00:00.000"))
    assert(store.watermark("t1") == "2026-01-01 00:00:00.000")
    val phases = Seq("before-copy", "after-copy", "torn-dest")
    phases.zipWithIndex.foreach { case (phase, i) =>
      val v = s"2026-01-02 00:00:0$i.000"
      HostileFileSystem.armCrash(phase, "/state/tracking.json")
      val crashed = intercept[Exception] { store.update(Map("t1" -> v)) }
      assert(crashed.getMessage.contains("injected crash"), s"wrong failure at $phase: $crashed")
      HostileFileSystem.disarm()
      // The tmp was fully written BEFORE the swap began, so whatever the
      // crash left behind, the read recovers the new value — the landing
      // file this bump covers was already committed (bump-last contract).
      assert(store.watermark("t1") == v,
        s"crash at $phase lost or tore the watermark")
      // And the NEXT update heals the layout completely.
      store.update(Map("t2" -> s"aux$i"))
      assert(store.watermark("t1") == v && store.read()("t2") == s"aux$i")
    }
  }

  test("StateFile: a torn main with a complete tmp recovers; torn with no tmp fails loudly") {
    val root = hostileRoot("sf")
    val path = s"$root/policy.json"
    val fs = StateFile.fs(path)
    StateFile.write(path, """{"k": "v1"}""")
    // Torn main + complete newer tmp (the mid-copy crash state).
    def put(p: String, content: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(p), true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }
    put(path, """{"k": "v2", TORN""")
    put(s"$path.tmp", """{"k": "v2"}""")
    assert(StateFile.read(path)(graft.sources.MiniJson.parseFlat).get("k") == "v2")
    // Torn main, no tmp: loud failure, never a silent default.
    fs.delete(new org.apache.hadoop.fs.Path(s"$path.tmp"), false)
    intercept[Exception] { StateFile.read(path)(graft.sources.MiniJson.parseFlat) }
  }

  test("index compaction swap: after-copy and TORN-dest crashes both heal on the next read") { withFoldProps {
    val seed = corpus(0L until 1024L, uniqueText)
    for (phase <- Seq("after-copy", "torn-dest")) {
      val root = hostileRoot(s"swap_$phase")
      SignatureIndex.ingest(spark, root, seed, batchKey = Some("b1"))
      CacheJanitor.drain()
      SignatureIndex.ingest(spark, root,
        corpus(Seq(9001L), _ => uniqueText(7L).split(" ").init.mkString(" ") + " changed"),
        batchKey = Some("b2"))
      CacheJanitor.drain()
      SignatureIndex.remove(spark, root, Seq(5L))
      val expectLive = rows(SignatureIndex.readIndex(spark, root))
      assert(expectLive.nonEmpty && !expectLive.exists(_.startsWith("[5,")))
      // Crash the compaction at its first rename (a commit rename of
      // the fold written into the unmarked next version) at the
      // hostile phase.
      HostileFileSystem.armCrash(phase, "")
      val crashed = intercept[Exception] { SignatureIndex.compact(spark, root) }
      HostileFileSystem.disarm()
      assert(HostileFileSystem.crashedBy(crashed), s"wrong failure at $phase: $crashed")
      // The next read serves the committed version: the torn stage is
      // never resolved — the answer equals the pre-crash live view.
      val healed = rows(SignatureIndex.readIndex(spark, root))
      assert(healed == expectLive, s"swap crash at $phase corrupted the index")
      // Post-heal the root keeps working end-to-end: a fresh near-dup
      // increment still pairs through the pruned probe path.
      val b3 = SignatureIndex.ingest(spark, root,
        corpus(Seq(9002L), _ => uniqueText(8L).split(" ").init.mkString(" ") + " altered"),
        batchKey = Some("b3"))
      val pairs = rows(SignatureIndex.deltaPairsIndexed(spark, root,
        b3.newSigs, Some(BatchLog.sanitize("b3"))))
      assert(pairs.exists(_.startsWith("[8,9002,")),
        s"post-heal increment must pair with its original: $pairs")
      CacheJanitor.drain()
    }
  }}

  test("ANN topK heals a compaction swap crashed mid-copy — full recovery on the query path") {
    // A compaction crashed mid-copy leaves a torn, unmarked next
    // version: topK must answer from the committed version alone —
    // never partial neighbors from the torn stage.
    val root = hostileRoot("anntopk")
    val vecs = Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select("vec_id", "embedding")
    AnnIndex.ingest(spark, root, vecs.where(col("vec_id") < 250))
    CacheJanitor.drain()
    AnnIndex.ingest(spark, root, vecs.where(col("vec_id") >= 250))
    CacheJanitor.drain()
    AnnIndex.remove(spark, root, Seq(42L))
    val queries = vecs.where(col("vec_id") < 5)
      .selectExpr("vec_id AS query_id", "embedding")
    def tops(): Set[String] =
      rows(AnnIndex.topK(spark, root, queries, k = 3)
        .select("query_id", "neighbor_id", "rnk"))
    val want = tops()
    assert(want.nonEmpty)
    HostileFileSystem.armCrash("torn-dest", "")
    val crashed = intercept[Exception] { AnnIndex.compact(spark, root) }
    HostileFileSystem.disarm()
    assert(HostileFileSystem.crashedBy(crashed), s"wrong failure: $crashed")
    // topK alone (no ingest/readCodes in between) answers exactly as
    // before the crash.
    assert(tops() == want, "topK must serve the committed codes, not the torn stage")
    CacheJanitor.drain()
  }

  test("manifest-backed probe lists strictly less than the listing arm — same answer, counted") { withFoldProps {
    val root = hostileRoot("count")
    SignatureIndex.ingest(spark, root, corpus(0L until 4096L, uniqueText),
      batchKey = Some("b1"))
    CacheJanitor.drain()
    SignatureIndex.compact(spark, root)
    val inc = corpus(Seq(9001L), _ => uniqueText(7L).split(" ").init.mkString(" ") + " changed")
    val bt = SignatureIndex.ingest(spark, root, inc, batchKey = Some("b2"))
    CacheJanitor.drain()
    def runArm(disable: Boolean): (Set[String], Long, Long) = {
      if (disable) sys.props("graft.fold.manifest.disable") = "true"
      try {
        HostileFileSystem.reset()
        val pairs = rows(SignatureIndex.deltaPairsIndexed(spark, root,
          bt.newSigs, Some(BatchLog.sanitize("b2"))))
        val c = HostileFileSystem.counts
        CacheJanitor.drain()
        (pairs, c.getOrElse("listStatus", 0L), c.getOrElse("open", 0L))
      } finally if (disable) sys.props -= "graft.fold.manifest.disable"
    }
    val (pairsM, listsM, opensM) = runArm(disable = false)
    val (pairsL, listsL, opensL) = runArm(disable = true)
    info(s"manifest arm: listStatus=$listsM open=$opensM; listing arm: listStatus=$listsL open=$opensL")
    assert(pairsM == pairsL && pairsM.nonEmpty, "arms must agree")
    assert(listsM < listsL,
      s"the manifest probe must list strictly less ($listsM vs $listsL)")
  }}
}
