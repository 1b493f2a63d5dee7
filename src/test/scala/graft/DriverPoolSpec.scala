package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicBoolean

import graft.sources.{LandingLog, WatermarkStore}
import graft.star.Runner
import graft.testfs.HostileFileSystem
import org.apache.spark.sql.functions._

/** The star package's bounded driver pool ([[Runner.inParallel]]): every
  * item settles before the call returns, and the first failure in input
  * order is what the caller sees. A fail-fast join would return while a
  * sibling still writes, after the caller has released its writer lease.
  */
class DriverPoolSpec extends SparkSpec {
  import spark.implicits._

  private def causedBy(e: Throwable, msg: String): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => t.getMessage != null && t.getMessage.contains(msg))

  test("inParallel returns only after a slow sibling of a failing item finishes, then rethrows") {
    val siblingDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Runner.inParallel(Seq("fails", "slow"), Runner.driverPoolWidth) {
        case "fails" => throw new IllegalStateException("item failed")
        case _ => Thread.sleep(1500); siblingDone.set(true)
      }
    }
    assert(e.getMessage == "item failed")
    assert(siblingDone.get, "the call returned while a sibling was still running")
  }

  test("inParallel keeps input order for results and for the rethrown failure") {
    assert(Runner.inParallel(Seq(300, 0, 150), Runner.driverPoolWidth) { ms =>
      Thread.sleep(ms); ms
    } == Seq(300, 0, 150))
    // The later item fails first in time; the earlier item's failure wins.
    val e = intercept[IllegalStateException] {
      Runner.inParallel(Seq(400, 0), Runner.driverPoolWidth) { ms =>
        Thread.sleep(ms); throw new IllegalStateException(s"item $ms")
      }
    }
    assert(e.getMessage == "item 400")
  }

  test("ingestOnce settles a slow gate's landing and watermark before rethrowing a failing gate") {
    val root = Files.createTempDirectory("graft_pool_ingest").toString
    val landing = s"$root/landing"
    val store = new WatermarkStore(s"$root/state/tracking.json")
    val batchId = "2025-09-01 10:00:00.000"
    val stamp = java.sql.Timestamp.valueOf("2025-09-01 08:00:00")

    // "address" sorts first, so the old in-order join met its failure
    // first and returned while "currency" was still being probed.
    val unreachable = udf { (id: Int) =>
      if (id > 0) throw new IllegalStateException("source unreachable") else stamp
    }
    val failing = Seq((15, "1 Alpha Way")).toDF("address_id", "address_line_1")
      .withColumn("last_updated", unreachable(col("address_id")))
    val slowStamp = udf { (_: Int) => Thread.sleep(1500); stamp }
    val slow = Seq((1, "GBP")).toDF("currency_id", "currency_code")
      .withColumn("last_updated", slowStamp(col("currency_id")))

    val e = intercept[Exception] {
      Runner.ingestOnce(Map("address" -> failing, "currency" -> slow), landing, store, batchId)
    }
    assert(causedBy(e, "source unreachable"), s"expected the failing gate's error, got: $e")
    assert(LandingLog.logKeys(spark, landing, "currency").size == 1,
      "the slow gate's landing increment must be committed before the call returns")
    assert(java.sql.Timestamp.valueOf(store.watermark("currency")) == stamp,
      "the slow gate's watermark must be bumped before the call returns")
    assert(LandingLog.logKeys(spark, landing, "address").isEmpty)
  }

  test("concurrent gates read the watermark store while another gate publishes, and never fail") {
    // ingestOnce's gates call watermark() while a sibling's update()
    // swaps the file. A read that opens the old data file and then the
    // new .crc fails its checksum, and by then no .tmp is left to fall
    // back to, so the whole runOnce would throw.
    val root = Files.createTempDirectory("graft_pool_wm").toString
    val store = new WatermarkStore(s"$root/state/tracking.json")
    store.update(Map("t0" -> "0"))
    val updates = 200
    val out = Runner.inParallel((0 until 4).toList, Runner.driverPoolWidth) {
      case 0 => (1 to updates).foreach(i => store.update(Map("t0" -> i.toString))); 0
      case _ =>
        var reads = 0
        while (store.watermark("t0") != updates.toString) reads += 1
        reads
    }
    assert(out.head == 0)
    assert(store.read() == Map("t0" -> updates.toString))
  }

  test("a second WatermarkStore on the same path reads while the first publishes, and never fails") {
    // The cross-instance twin of the gate test above: no lock is shared,
    // so only StateFile.read itself can settle a read that races a
    // publish. Every read must return a published value — never an
    // error, never the empty "no state yet" answer, never an older value
    // than a read before it.
    HostileFileSystem.install(spark.sparkContext.hadoopConfiguration)
    val local = Files.createTempDirectory("graft_pool_wm2").toString
    Seq(s"$local/file", s"hostile://$local/hostile").foreach { root =>
      val path = s"$root/state/tracking.json"
      val writer = new WatermarkStore(path)
      val reader = new WatermarkStore(path)
      writer.update(Map("t0" -> "0"))
      val updates = 200
      Runner.inParallel(List(0, 1), 2) {
        case 0 => (1 to updates).foreach(i => writer.update(Map("t0" -> i.toString)))
        case _ =>
          var last = 0
          while (last != updates) {
            val seen = reader.read().get("t0")
            assert(seen.isDefined, s"$root: a read racing a publish returned no state")
            val n = seen.get.toInt
            assert(n >= last, s"$root: read $n after $last")
            last = n
          }
      }
      assert(reader.read() == Map("t0" -> updates.toString))
    }
  }
}
