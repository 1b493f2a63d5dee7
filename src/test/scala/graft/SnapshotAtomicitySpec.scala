package graft

import java.nio.file.{Files, Paths}

import graft.SparkSpec.withProps
import graft.operators.VersionedState
import graft.sources.LandingLog
import org.apache.spark.sql.functions._

/** Crash-safety of the snapshot stage-then-commit protocol: a write that
  * dies ANYWHERE before its commit marker lands must leave the previous
  * committed snapshot fully readable — the property the reference gets
  * free from a single-object S3 PUT (src/process_lambda.py:59-66) and a
  * directory overwrite does not have.
  *
  * The fault injection is structural: [[LandingLog.stageSnapshot]] IS the
  * write up to (not including) the commit, so "crash between data write
  * and publish" = stage without commit, and "crash mid-data-write" = a
  * partial garbage version directory. Neither may perturb readers.
  */
class SnapshotAtomicitySpec extends SparkSpec {
  import spark.implicits._

  private def currentVersion(root: String, table: String): Long =
    VersionedState.currentVersion(VersionedState.fsOf(spark, root), s"$root/$table")

  private def listVersions(root: String, table: String): Seq[Long] =
    VersionedState.committedVersions(VersionedState.fsOf(spark, root), s"$root/$table")

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    df.select(col("id").cast("long"), col("v")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  test("a crash before commit leaves the previous snapshot readable") {
    // Zero grace: the superseded version is GC'd by the next commit.
    withProps("graft.swap.grace.ms" -> "0", "graft.swap.keep.versions" -> "0") {
      val root = Files.createTempDirectory("snap_atomic").toString
      val a = Seq((1L, "a1"), (2L, "a2")).toDF("id", "v")
      val b = Seq((1L, "b1"), (2L, "b2"), (3L, "b3")).toDF("id", "v")

      LandingLog.writeSnapshot(a, root, "t")
      assert(rows(LandingLog.readSnapshot(spark, root, "t")) === rows(a))
      assert(currentVersion(root, "t") === 1L)

      // Crash AFTER the full data write, BEFORE the commit marker: the
      // staged v2 directory exists and is complete, but no reader may
      // resolve it.
      val staged = LandingLog.stageSnapshot(b, root, "t")
      assert(staged === 2L)
      assert(Files.isDirectory(Paths.get(s"$root/t/_versions/00000002")))
      assert(rows(LandingLog.readSnapshot(spark, root, "t")) === rows(a))
      assert(LandingLog.readSnapshotIfExists(spark, root, "t").map(rows) === Some(rows(a)))
      assert(LandingLog.listSnapshots(root) === Seq("t"))

      // Crash MID-data-write: a partial, non-parquet version directory.
      val junk = Paths.get(s"$root/t/_versions/00000003")
      Files.createDirectories(junk)
      Files.write(junk.resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
      assert(rows(LandingLog.readSnapshot(spark, root, "t")) === rows(a))

      // Recovery: a clean retry restages the same next version (overwrite
      // clears the abandoned stage) and commits; GC removes the
      // superseded version.
      LandingLog.writeSnapshot(b, root, "t")
      assert(currentVersion(root, "t") === 2L)
      assert(rows(LandingLog.readSnapshot(spark, root, "t")) === rows(b))
      assert(!Files.exists(Paths.get(s"$root/t/_versions/00000001")))
      // The junk sits above the current version, where only a stage can
      // write: it is never read, and the next commit that reaches v3
      // overwrites it.
      val c = Seq((3L, "c3")).toDF("id", "v")
      LandingLog.writeSnapshot(c, root, "t")
      assert(currentVersion(root, "t") === 3L)
      assert(rows(LandingLog.readSnapshot(spark, root, "t")) === rows(c))
    }
  }

  test("a table whose only write crashed is not a snapshot") {
    val root = Files.createTempDirectory("snap_atomic").toString
    val a = Seq((1L, "a1")).toDF("id", "v")
    LandingLog.stageSnapshot(a, root, "t")
    assert(LandingLog.readSnapshotIfExists(spark, root, "t").isEmpty)
    assert(LandingLog.listSnapshots(root).isEmpty)
    intercept[RuntimeException](LandingLog.readSnapshot(spark, root, "t"))
  }

  test("partitioned snapshots commit atomically and read back schema-identical") {
    val root = Files.createTempDirectory("snap_atomic").toString
    val a = (1 to 400).map(i => (i.toLong, 20240101L + i % 4, s"r$i"))
      .toDF("id", "created_date", "v")
    LandingLog.writeSnapshot(a, root, "f", partitionBy = Seq("created_date"))
    val back = LandingLog.readSnapshot(spark, root, "f")
    assert(back.columns.toSeq === Seq("id", "created_date", "v"))
    assert(back.count() === 400L)

    // Overwrite with fewer partitions: the new version is complete before
    // the swap, so no reader interleaving can see a mix of old+new dirs.
    val b = (1 to 100).map(i => (i.toLong, 20240101L, s"s$i")).toDF("id", "created_date", "v")
    LandingLog.writeSnapshot(b, root, "f", partitionBy = Seq("created_date"))
    assert(LandingLog.readSnapshot(spark, root, "f").count() === 100L)
    assert(currentVersion(root, "f") === 2L)
  }

  test("time travel: graft.swap.keep.versions retains readable history, GC respects it") {
    withProps("graft.swap.grace.ms" -> "0", "graft.swap.keep.versions" -> "1") {
      val root = Files.createTempDirectory("snap_atomic").toString
      def df(tag: String) = Seq((1L, tag)).toDF("id", "v")
      LandingLog.writeSnapshot(df("v1"), root, "t")
      LandingLog.writeSnapshot(df("v2"), root, "t")
      assert(listVersions(root, "t") === Seq(1L, 2L))
      assert(rows(LandingLog.readSnapshot(spark, root, "t")) === rows(df("v2")))
      assert(rows(LandingLog.readSnapshotAt(spark, root, "t", 1L)) === rows(df("v1")),
        "the previous version stays readable under retention")

      // A third write keeping one superseded version GCs v1 but keeps v2.
      LandingLog.writeSnapshot(df("v3"), root, "t")
      assert(listVersions(root, "t") === Seq(2L, 3L))
      assert(rows(LandingLog.readSnapshotAt(spark, root, "t", 2L)) === rows(df("v2")))
      intercept[IllegalArgumentException](
        LandingLog.readSnapshotAt(spark, root, "t", 1L))
      assert(!Files.exists(Paths.get(s"$root/t/_versions/00000001")))
    }
  }

  test("legacy unversioned layout still resolves") {
    val root = Files.createTempDirectory("snap_atomic").toString
    val a = Seq((7L, "x")).toDF("id", "v")
    a.write.parquet(s"$root/old_table")
    assert(rows(LandingLog.readSnapshot(spark, root, "old_table")) === rows(a))
    assert(LandingLog.listSnapshots(root) === Seq("old_table"))
  }
}
