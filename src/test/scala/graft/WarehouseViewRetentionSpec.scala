package graft

import java.nio.file.Files

import graft.star.{MergeRunner, Runner}
import org.apache.spark.sql.DataFrame

/** MergeRunner's warehouse is catalog views over committed star snapshot
  * versions. A query planned on a view before the next batch keeps the
  * version it resolved: the batch commits a new version of the dimension
  * and re-points the view, and the planned query must still return the
  * rows it planned against, for as long as the grace period retains the
  * superseded version. At zero grace the same interleaving fails loudly
  * with a missing file, never with wrong rows. */
class WarehouseViewRetentionSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  /** v1: two addresses; v2: address 15 moves to a new second line. */
  private def addressSrc(v: Int): DataFrame = {
    val rows = Seq(
      (15, "1 Alpha Way", "Floor 1", "West", "Leeds", "LS1", "UK", "111", ts("2025-09-01 08:00:00")),
      (23, "9 Beta Rd", "Unit 4", "East", "York", "YO1", "UK", "222", ts("2025-09-01 08:00:00"))) ++
      (if (v >= 2) Seq((15, "1 Alpha Way", "Floor 2", "West", "Leeds", "LS1", "UK", "111",
        ts("2025-09-01 11:00:00"))) else Nil)
    rows.toDF("address_id", "address_line_1", "address_line_2", "district",
      "city", "postal_code", "country", "phone", "last_updated")
  }

  private def sources(v: Int): Map[String, DataFrame] = Map("address" -> addressSrc(v))

  private val batchIds = Seq("2025-09-01 10:00:00.000", "2025-09-01 11:30:00.000")

  private val view = s"${Runner.warehouseDb}.location"

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Batch 1, a query planned on the location view, then batch 2 (which
    * rewrites dim-location). Returns the planned query, batch 1's rows
    * and batch 2's rows read through the re-pointed view. */
  private def planAcrossBatch(tag: String): (DataFrame, Seq[String], Seq[String]) = {
    val root = Files.createTempDirectory(s"graft_view_$tag").toString
    val landing = s"$root/landing"
    val processed = s"$root/processed"
    val state = s"$root/state/tracking.json"
    assert(MergeRunner.runOnce(spark, sources(1), landing, processed, state, batchIds(0))
      .contains("dim-location"))
    CacheJanitor.drain()
    val before = rows(spark.table(view))
    val planned = spark.table(view)
    assert(MergeRunner.runOnce(spark, sources(2), landing, processed, state, batchIds(1))
      .contains("dim-location"), "batch 2 must rebuild dim-location")
    CacheJanitor.drain()
    val after = rows(spark.table(view))
    assert(after != before, "batch 2 must change the location rows")
    (planned, before, after)
  }

  test("a warehouse view query planned before a batch returns the rows it planned against") {
    val (planned, before, _) = planAcrossBatch("graced")
    assert(rows(planned) == before,
      "a query planned on batch 1's view must complete against batch 1's version")
  }

  test("at zero grace the same query fails loudly with a missing file") {
    val e = SparkSpec.withProps("graft.swap.grace.ms" -> "0") {
      val (planned, _, _) = planAcrossBatch("ungraced")
      intercept[Exception](planned.collect())
    }
    def missing(t: Throwable): Boolean =
      t != null && (t.isInstanceOf[java.io.FileNotFoundException] ||
        Option(t.getMessage).exists(m => m.contains("does not exist") ||
          m.contains("FileNotFound") || m.contains("FILE_NOT_EXIST")) ||
        missing(t.getCause))
    assert(missing(e), s"zero grace must fail LOUD (missing file), got: $e")
  }
}
