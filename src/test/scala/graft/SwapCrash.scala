package graft

import graft.operators.{BatchLog, VersionedState}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fabricates the on-disk states of a swap commit
  * ([[graft.operators.Tombstones]]'s versioned protocol) that crashed
  * inside its window. Every commit writes its intent marker before any
  * rename or delete, so a crashed commit always leaves that marker,
  * recording the staged tmp, the target version and — for a compaction —
  * the root whose tombstones it clears. */
object SwapCrash {

  /** Write the intent marker of a swap of `tmp` into version `ver` of
    * `dest`, in the format the commit writes. */
  def intent(spark: SparkSession, dest: String, tmp: String, ver: Long,
      clears: Option[String]): Unit = {
    val fs = new Path(dest).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def q(p: String) = fs.makeQualified(new Path(p)).toString
    val body = graft.sources.MiniJson.renderFlat(
      Map("v" -> "3", "tmp" -> q(tmp), "ver" -> ver.toString) ++ clears.map(r => "root" -> q(r)))
    val out = fs.create(new Path(s"$dest.__swap_intent"), true)
    try out.write((body + "\n").getBytes("UTF-8")) finally out.close()
  }

  /** A compaction of `dest` that crashed after its intent and before its
    * rename: `fold` staged into `<dest>.__compact_tmp`, the intent up,
    * the committed state untouched. Returns the tmp path. */
  def beforeRename(spark: SparkSession, dest: String, fold: DataFrame,
      clears: Option[String], partitionBy: Seq[String] = Nil): String = {
    val tmp = s"$dest.__compact_tmp"
    BatchLog.stageRewrite(fold, dest, tmp, partitionBy)
    val fs = new Path(dest).getFileSystem(spark.sparkContext.hadoopConfiguration)
    intent(spark, dest, tmp, VersionedState.currentVersion(fs, dest) + 1, clears)
    tmp
  }
}
