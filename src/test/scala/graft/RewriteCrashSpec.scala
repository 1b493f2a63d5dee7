package graft

import java.nio.file.Files

import graft.operators.{AnnIndex, ClusterLabels, CosineDedupIndex, SignatureIndex, VersionedState}
import graft.testfs.HostileFileSystem
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Crash drills for every index rewrite, on `hostile://` (copy+delete
  * renames, metered ops). A rewrite writes its fold straight into the
  * log's unmarked next version and commits with one marker create
  * ([[VersionedState]]), so each drill crashes it at the marker create
  * and at every rename it makes (the commit renames of its Spark
  * writes), and after each crash checks that:
  *
  *  - nothing committed, and a reader returns exactly the pre-crash live
  *    rows while issuing zero create, delete, rename or mkdirs ops —
  *    reads never recover anything;
  *  - an ingest and a remove after the crash land on the committed
  *    version;
  *  - re-running the rewrite converges to a clean run of the same ops.
  */
class RewriteCrashSpec extends SparkSpec {
  import RewriteCrashSpec.Rewrite
  import spark.implicits._

  override def afterAll(): Unit = { HostileFileSystem.disarm(); super.afterAll() }

  private def hostileRoot(tag: String): String = {
    HostileFileSystem.install(spark.sparkContext.hadoopConfiguration)
    s"hostile://${Files.createTempDirectory(s"graft_rwcrash_$tag")}"
  }

  private def rows(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet

  /** Waits until no task of a crashed write still runs: a failed job's
    * cancelled tasks delete their attempt files after the exception has
    * reached the driver, and those deletes are not the reader's. */
  private def quiesce(): Unit = {
    val t = spark.sparkContext.statusTracker
    val deadline = System.currentTimeMillis() + 30000L
    def busy = t.getActiveStageIds.nonEmpty || t.getExecutorInfos.exists(_.numRunningTasks > 0)
    while (busy && System.currentTimeMillis() < deadline) Thread.sleep(50)
    Thread.sleep(200)
  }

  /** Runs the drill on a fresh root; returns the live rows before the
    * rewrite's first clean run and after it. */
  private def drill(name: String, r: Rewrite): (Set[String], Set[String]) = {
    val root = hostileRoot(name)
    r.setup(root)
    CacheJanitor.drain()
    val logDir = s"$root/${r.log}"
    val fs = VersionedState.fsOf(spark, logDir)
    def version() = VersionedState.currentVersion(fs, logDir)
    val next = version() + 1
    var live = rows(r.read(root))
    assert(live.nonEmpty, s"$name: spec shape broken")

    // Runs the rewrite with one armed crash; false when it did not fire
    // before the commit (the run committed).
    def crashAt(at: String)(arm: => Unit): Boolean = {
      arm
      val crash =
        try { r.rewrite(root); None }
        catch { case e: Exception => Some(e) }
        finally HostileFileSystem.disarm()
      CacheJanitor.drain()
      crash.exists { e =>
        assert(HostileFileSystem.crashedBy(e), s"$name, $at: expected the injected crash, got $e")
        if (version() == next) false // crashed after its commit
        else {
          assert(version() == next - 1, s"$name, $at: nothing may commit")
          quiesce()
          HostileFileSystem.reset()
          val got = rows(r.read(root))
          val ops = HostileFileSystem.counts
          assert(got == live, s"$name, $at: a read must return the pre-crash live rows")
          Seq("create", "delete", "rename", "mkdirs").foreach { op =>
            assert(ops.getOrElse(op, 0L) == 0L, s"$name, $at: a read issued $op ($ops)")
          }
          true
        }
      }
    }

    assert(crashAt("marker create")(HostileFileSystem.armCrash(
      "create", s"/${r.log}/_commits/${VersionedState.vname(next)}")),
      s"$name: the marker crash must fire")
    r.ingest(root)
    r.remove.foreach(_(root))
    CacheJanitor.drain()
    assert(version() == next - 1, s"$name: mutations must not commit the stage")
    val mutated = rows(r.read(root))
    assert(mutated != live, s"$name: the ingest/remove after the crash must be visible")
    live = mutated

    var k = 0
    while (crashAt(s"rename $k")(HostileFileSystem.armCrash("after-copy", "", skip = k))) k += 1
    assert(k > 0, s"$name: the rewrite must make at least one rename")
    if (version() < next) { r.rewrite(root); CacheJanitor.drain() }
    assert(version() == next, s"$name: the re-run must commit exactly one version")
    info(s"$name: crashed at the marker create and at $k renames")
    (live, rows(r.read(root)))
  }

  /** A clean run of the same ops, for the rewrites that change row
    * content (refreeze). */
  private def cleanRun(name: String, r: Rewrite): Set[String] = {
    val root = hostileRoot(s"${name}_clean")
    r.setup(root); r.ingest(root); r.remove.foreach(_(root)); r.rewrite(root)
    CacheJanitor.drain()
    rows(r.read(root))
  }

  private def docs(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, (0 until 9).map(j => s"w${i}x$j").mkString(" "))).toDF("doc_id", "text")

  private val rnd = new scala.util.Random(7)
  private val randVecs: Map[Long, Array[Float]] =
    (0L until 600L).map(i => i -> Array.fill(8)(rnd.nextFloat() * 2f - 1f)).toMap
  private def cosVecs(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, randVecs(i))).toDF("vec_id", "embedding")

  private def annVecs: DataFrame = cosVecs(0L until 600L)

  private val signatures = Rewrite("signatures",
    setup = root => {
      SignatureIndex.ingest(spark, root, docs(0L until 150L), batchKey = Some("b1"))
      SignatureIndex.ingest(spark, root, docs(150L until 200L), batchKey = Some("b2"))
      SignatureIndex.remove(spark, root, Seq(3L))
    },
    rewrite = SignatureIndex.compact(spark, _),
    read = SignatureIndex.readIndex(spark, _),
    ingest = SignatureIndex.ingest(spark, _, docs(200L until 220L), batchKey = Some("b3")),
    remove = Some(SignatureIndex.remove(spark, _, Seq(5L, 201L))))

  private def cosine(rewrite: String => Unit) = Rewrite("codes",
    setup = root => {
      CosineDedupIndex.ingest(spark, root, cosVecs(0L until 100L), batchKey = Some("b1"))
      CosineDedupIndex.ingest(spark, root, cosVecs(100L until 400L), batchKey = Some("b2"))
      CosineDedupIndex.remove(spark, root, Seq(3L))
    },
    rewrite = rewrite,
    read = CosineDedupIndex.readIndex(spark, _),
    ingest = CosineDedupIndex.ingest(spark, _, cosVecs(400L until 450L), batchKey = Some("b3")),
    remove = Some(CosineDedupIndex.remove(spark, _, Seq(5L, 401L))))

  private def ann(rewrite: String => Unit) = Rewrite("codes",
    setup = root => {
      AnnIndex.ingest(spark, root, annVecs.where(col("vec_id") < 100), batchKey = Some("b1"))
      AnnIndex.ingest(spark, root,
        annVecs.where(col("vec_id") >= 100 && col("vec_id") < 400), batchKey = Some("b2"))
      AnnIndex.remove(spark, root, Seq(3L))
    },
    rewrite = rewrite,
    read = AnnIndex.readCodes(spark, _),
    ingest = AnnIndex.ingest(spark, _, annVecs.where(col("vec_id") >= 400), batchKey = Some("b3")),
    remove = Some(AnnIndex.remove(spark, _, Seq(5L, 401L))))

  private def pairs(ps: (Long, Long)*) = ps.toDF("doc_a", "doc_b")
  private def ids(is: Long*) = is.toDF("doc_id")

  private val labels = Rewrite("labels",
    setup = root => {
      ClusterLabels.merge(spark, root, pairs((1L, 2L), (3L, 4L)), ids(1L to 6L: _*),
        batchKey = Some("b1"))
      ClusterLabels.merge(spark, root, pairs((2L, 5L)), ids(7L), batchKey = Some("b2"))
    },
    rewrite = ClusterLabels.compact(spark, _),
    read = ClusterLabels.read(spark, _),
    ingest = ClusterLabels.merge(spark, _, pairs((4L, 8L), (7L, 1L)), ids(8L),
      batchKey = Some("b3")),
    remove = None)

  test("SignatureIndex compaction: every crash point leaves reads pure and exact") {
    val (before, after) = drill("sig_compact", signatures)
    assert(after == before)
    assert(after.map(_.takeWhile(_ != ',')) ==
      ((0L until 220L).toSet -- Set(3L, 5L, 201L)).map(i => s"[$i"))
  }

  test("CosineDedupIndex compaction: every crash point leaves reads pure and exact") {
    val (before, after) = drill("cos_compact", cosine(CosineDedupIndex.compact(spark, _)))
    assert(after == before)
  }

  test("CosineDedupIndex refreeze: every crash point leaves reads pure and exact") {
    val r = cosine(CosineDedupIndex.refreeze(spark, _))
    assert(drill("cos_refreeze", r)._2 == cleanRun("cos_refreeze", r))
  }

  test("AnnIndex compaction: every crash point leaves reads pure and exact") {
    val (before, after) = drill("ann_compact", ann(AnnIndex.compact(spark, _)))
    assert(after == before)
  }

  test("AnnIndex refreeze: every crash point leaves reads pure and exact") {
    val r = ann(AnnIndex.refreeze(spark, _, annVecs))
    assert(drill("ann_refreeze", r)._2 == cleanRun("ann_refreeze", r))
  }

  test("ClusterLabels compaction: every crash point leaves reads pure and exact") {
    val (before, after) = drill("labels_compact", labels)
    assert(after == before)
  }
}

object RewriteCrashSpec {
  /** One rewrite under drill: the log it rewrites, how to build the
    * pre-crash state, the rewrite, the reader, and the mutations that
    * follow the crash (`remove` is None for a log without tombstones). */
  final case class Rewrite(log: String, setup: String => Unit,
      rewrite: String => Unit, read: String => DataFrame,
      ingest: String => Unit, remove: Option[String => Unit])
}
