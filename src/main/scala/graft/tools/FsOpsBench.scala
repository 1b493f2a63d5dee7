package graft.tools

import graft.GraftSession
import graft.operators.{BatchLog, SignatureIndex}
import graft.sources.WatermarkStore
import graft.testfs.HostileFileSystem
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Filesystem-operation evidence run (round-15: r14 verdict item 2 —
  * the object-store bindings, exercised and METERED instead of
  * documented). Everything runs on a `hostile://` root: rename is
  * copy-then-delete with strict preconditions, and every
  * list/stat/open/create/rename is counted.
  *
  * Recorded in one JSON line:
  *  1. **Listing economics of the fold manifests** (r14 item 1): a
  *     compacted signature corpus, then per steady-state probe the
  *     driver+executor `listStatus`/`getFileStatus`/`open` counts of
  *     the manifest-backed arm next to the force-disabled listing arm
  *     (`graft.fold.manifest.disable`), pair answers required equal.
  *  2. **Crash drills**: the compaction swap crashed at `after-copy`
  *     and `torn-dest` (the state a copy-based mover leaves when it
  *     dies mid-copy — what the pre-intent protocol would have adopted
  *     as the log), and the watermark swap crashed at all three
  *     phases; each drill records whether the next read healed to the
  *     exact expected state.
  *
  * Env: `SPARK_GRAFT_SF_DIR` (seed, default sf0.1),
  * `SPARK_GRAFT_FSOPS_FACTOR` (corpus replicas, default 20),
  * `SPARK_GRAFT_FSOPS_BATCHES` (probe batches, default 3),
  * `SPARK_GRAFT_FSOPS_OUT_JSON` (artifact file).
  */
object FsOpsBench {

  private def f(d: Double): String = f"$d%.3f".replace(",", ".")

  private def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
    catch { case _: Throwable => "unavailable" }

  private def rows(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet

  def main(args: Array[String]): Unit = {
    val seedDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_FSOPS_FACTOR", "20").toInt
    val batches = sys.env.getOrElse("SPARK_GRAFT_FSOPS_BATCHES", "3").toInt
    val spark = GraftSession.build("graft-fsops-bench")
    HostileFileSystem.install(spark.sparkContext.hadoopConfiguration)
    graft.functions.GraftFunctions.registerAll(spark)
    val loadStart = loadavg()
    val localRoot = java.nio.file.Files.createTempDirectory("graft_fsops").toString
    val root = s"hostile://$localRoot/root"

    val seedDocs = spark.read.parquet(s"$seedDir/documents.parquet")
    val corpus = (0 until factor).map(ScaleBench.saltedDocs(seedDocs, _))
      .reduce(_ unionAll _).select("doc_id", "text")

    // --- bootstrap + compact on the hostile root --------------------
    val t0 = System.nanoTime()
    SignatureIndex.ingest(spark, root, corpus, batchKey = Some("bulk"))
    graft.CacheJanitor.drain()
    SignatureIndex.compact(spark, root)
    val bootSec = (System.nanoTime() - t0) / 1e9
    val corpusRows = BatchLog.committedRowCount(spark, s"$root/signatures").getOrElse(-1L)
    println(s"# hostile bootstrap+compact ${f(bootSec)}s corpus_sig_rows=$corpusRows")

    // --- listing economics: manifest arm vs listing arm -------------
    val ops = Seq("listStatus", "getFileStatus", "exists", "open", "create", "rename", "delete")
    def armCounts(newSigs: DataFrame, key: String, disable: Boolean): (Long, Map[String, Long], Double) = {
      if (disable) sys.props("graft.fold.manifest.disable") = "true"
      try {
        HostileFileSystem.reset()
        val w0 = System.nanoTime()
        val pairs = SignatureIndex.deltaPairsIndexed(spark, root, "signatures",
          newSigs, Some(BatchLog.sanitize(key))).count()
        val wall = (System.nanoTime() - w0) / 1e9
        val c = HostileFileSystem.counts
        graft.CacheJanitor.drain()
        (pairs, ops.map(o => o -> c.getOrElse(o, 0L)).toMap, wall)
      } finally if (disable) sys.props -= "graft.fold.manifest.disable"
    }
    val probeRows = (0 until batches).map { b =>
      val inc = seedDocs.where(pmod(col("doc_id"), lit(101)) === lit(b % 101))
        .orderBy("doc_id").limit(1)
        .select((col("doc_id") + lit((3000L + b) * ScaleBench.idStride)).as("doc_id"),
          concat(col("text"), lit(s" zzfso$b")).as("text"))
      val key = s"fo_$b"
      val bt = SignatureIndex.ingest(spark, root, inc, batchKey = Some(key))
      graft.CacheJanitor.drain()
      val (pM, cM, wM) = armCounts(bt.newSigs, key, disable = false)
      val (pL, cL, wL) = armCounts(bt.newSigs, key, disable = true)
      require(pM == pL, s"arms diverged: $pM vs $pL pairs")
      println(s"#   probe $b pairs=$pM manifest list=${cM("listStatus")} open=${cM("open")} " +
        s"wall=${f(wM)}s | listing list=${cL("listStatus")} open=${cL("open")} wall=${f(wL)}s")
      (b, pM, cM, wM, cL, wL)
    }

    // --- crash drills ------------------------------------------------
    // Swap drills on a small separate root (fold layout forced down to
    // spec scale so the drill stays seconds, not minutes).
    sys.props("graft.fold.min.rows") = "1024"
    sys.props("graft.fold.group.bytes") = "2048"
    val drills = try {
      import spark.implicits._
      val small = (0L until 1024L)
        .map(i => (i, (0 until 9).map(j => s"w${i}x$j").mkString(" ")))
        .toDF("doc_id", "text")
      Seq("after-copy", "torn-dest").map { phase =>
        val r = s"hostile://$localRoot/drill_${phase.replace("-", "_")}"
        SignatureIndex.ingest(spark, r, small, batchKey = Some("b1"))
        graft.CacheJanitor.drain()
        SignatureIndex.remove(spark, r, Seq(5L))
        val expect = rows(SignatureIndex.readIndex(spark, r))
        HostileFileSystem.armCrash(phase, "/signatures")
        val crashed = try { SignatureIndex.compact(spark, r); false }
        catch { case e: Exception => e.getMessage != null && e.getMessage.contains("injected crash") }
        HostileFileSystem.disarm()
        val healed = crashed && rows(SignatureIndex.readIndex(spark, r)) == expect
        graft.CacheJanitor.drain()
        println(s"#   swap drill $phase crashed=$crashed healed=$healed")
        s""""swap_$phase":{"crashed":$crashed,"healed":$healed}"""
      } ++ {
        val store = new WatermarkStore(s"hostile://$localRoot/wm/tracking.json")
        store.update(Map("t" -> "base"))
        Seq("before-copy", "after-copy", "torn-dest").map { phase =>
          val v = s"v_$phase"
          HostileFileSystem.armCrash(phase, "/wm/tracking.json")
          val crashed = try { store.update(Map("t" -> v)); false }
          catch { case e: Exception => e.getMessage != null && e.getMessage.contains("injected crash") }
          HostileFileSystem.disarm()
          val healed = crashed && store.watermark("t") == v
          println(s"#   watermark drill $phase crashed=$crashed healed=$healed")
          s""""wm_$phase":{"crashed":$crashed,"healed":$healed}"""
        }
      } ++ {
        // STREAMING composition drill (round-17, r16 verdict item 5;
        // HostileStreamingSpec is the full two-hop pin): the
        // checkpointed landing stream's sink-metadata commit crashed
        // before its copy — the restart must land the rows exactly
        // once through the sink log, under copy+delete rename.
        import spark.implicits._
        val sdir = s"$localRoot/stream_src"
        val dest = s"hostile://$localRoot/streamed"
        val ck = s"hostile://$localRoot/stream_ckpt"
        (0L until 64L).map(i => (i, s"row$i")).toDF("id", "s")
          .write.mode("append").parquet(sdir)
        def drain(): Unit = graft.streaming.EventsStream.toLanding(
          spark.readStream.schema("id LONG, s STRING").parquet(sdir), dest, ck)
          .awaitTermination(120000)
        HostileFileSystem.armCrash("before-copy", "_spark_metadata/0")
        val crashed = try { drain(); false }
        catch { case e: Exception =>
          def has(t: Throwable): Boolean = t != null &&
            ((t.getMessage != null && t.getMessage.contains("injected crash")) || has(t.getCause))
          has(e)
        }
        HostileFileSystem.disarm()
        drain()
        val healed = crashed && spark.read.parquet(dest).count() == 64L
        println(s"#   streaming sink-commit drill crashed=$crashed healed=$healed")
        Seq(s""""stream_sink_commit":{"crashed":$crashed,"healed":$healed}""")
      }
    } finally { sys.props -= "graft.fold.min.rows"; sys.props -= "graft.fold.group.bytes" }

    val loadEnd = loadavg()
    def opJson(c: Map[String, Long]): String =
      ops.map(o => s""""$o":${c(o)}""").mkString("{", ",", "}")
    val probesJson = probeRows.map { case (b, pairs, cM, wM, cL, wL) =>
      s"""{"batch":$b,"pairs":$pairs,"manifest":${opJson(cM)},"manifest_wall_sec":${f(wM)},""" +
        s""""listing":${opJson(cL)},"listing_wall_sec":${f(wL)}}"""
    }.mkString("[", ",", "]")
    val medRatio = {
      val rs = probeRows.map(r => r._3("listStatus").toDouble / math.max(r._5("listStatus"), 1L)).sorted
      rs(rs.size / 2)
    }
    val json =
      s"""{"metric":"fsops","seed":"$seedDir","factor":$factor,""" +
        s""""corpus_sig_rows":$corpusRows,"boot_sec":${f(bootSec)},""" +
        s""""cpus":${GraftSession.cpus},""" +
        s""""median_manifest_over_listing_liststatus":${f(medRatio)},""" +
        s""""probes":$probesJson,"drills":{${drills.mkString(",")}},""" +
        s""""loadavg_start":"$loadStart","loadavg_end":"$loadEnd"}"""
    println(json)
    sys.env.get("SPARK_GRAFT_FSOPS_OUT_JSON").foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), json + "\n")
    }
    spark.stop()
  }
}
