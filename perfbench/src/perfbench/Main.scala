package perfbench

import graft.{CacheJanitor, GraftSession, SparkEntry, Tables}
import graft.operators.{DedupPipeline, SignatureIndex}
import graft.star.{Runner, StarBench}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** One benchmark run in one JVM: set up a session, run one workload's
  * fixed pass against fresh roots, check every output, and print one
  * `PERFBENCH_RECORD {json}` line with the raw timings and, when traced,
  * the per-span counters. `perfbench/run.py` launches this and turns the
  * record into the benchmark's metrics.
  *
  * Arguments (all `--key value`): `workload` (star_rebuild | index_loop |
  * query_mix), `seed`, `trace` (0|1), `data` (input tables), `work`
  * (scratch root for this run), `golden` (expected outputs), `setups`
  * (session set-ups to time), `batches` (index_loop), `queries`
  * (query_mix sample size), `record-golden` (write the expected outputs
  * of a full registry pass and a star rebuild to this path instead; run
  * with workload star_rebuild, whose set-up registers the star sources).
  */
object Main {
  final case class Op(name: String, span: String, seconds: Double, ok: Boolean, detail: String)

  /** The vector-search family of the registry: the queries that reach the
    * `functions` kernels (dist2, sq8, dot product, LSH codes). */
  val vectorQueries: Set[String] =
    Set("t38", "t39", "t41", "t48", "t49", "t51", "t54", "t56", "t62", "t63")

  /** Persisted-index lifecycle queries, measured by index_loop instead. */
  private val lifecycle = "t6[7-9]_.*|t7[0-7]_.*".r

  def family(name: String): String = name.take(1) match {
    case "q" => "queries.relational"
    case "e" | "c" => "queries.extra"
    case _ if vectorQueries(name.take(3)) => "queries.vector"
    case _ => "queries.text"
  }

  def statelessQueries: Seq[String] =
    SparkEntry.queries.keys.filterNot(n => lifecycle.matches(n)).toSeq.sorted

  val starPhases: Seq[(String, String)] = Seq(
    "sources.ingest" -> """graft\.star\.Runner\$\.(\$anonfun\$)?ingestOnce""",
    "star.process" -> """graft\.star\.Runner\$\.(\$anonfun\$)?processBatch""",
    "star.load" -> """graft\.star\.Runner\$\.(\$anonfun\$)?loadWarehouse""")

  /** The source tables the star pipeline's inputs are derived from. */
  private val starInputTables = Seq("customer", "nation", "part", "orders", "lineitem", "supplier")

  def main(argv: Array[String]): Unit = {
    val mainStartMs = System.currentTimeMillis()
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a.getOrElse("seed", "1").toLong
    val data = a("data")
    val work = a("work")
    val setups = a.getOrElse("setups", "3").toInt
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = loadavg()
    val canaryBefore = canary()
    lazy val golden = Golden.load(a("golden"))
    val sample = if (workload == "query_mix") querySample(seed, a("queries").toInt, golden.cost) else Nil
    val warmQueries = if (workload == "query_mix") warmupQueries(sample, golden.cost) else Nil

    // Set-up, timed several times: session build, registration of the
    // workload's sources and a fixed warm-up. The first set-up also
    // carries JVM start (process start to main()) and, for query_mix, one
    // registry query per family that is not in the sample: it warms code
    // that every query shares, and its session is stopped before any
    // measured operation runs.
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    val setupParts = mutable.ArrayBuffer.empty[Seq[Double]] // jvm, session, sources, warm-up
    var spark: SparkSession = null
    var starSources: Map[String, DataFrame] = Map.empty
    var docs: DataFrame = null
    for (i <- 0 until setups) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = GraftSession.build("perfbench")
      val t1 = System.nanoTime()
      workload match {
        case "star_rebuild" => starSources = StarBench.sources(spark, data)
        case "index_loop" => docs = Tables.documents(spark, data).select("doc_id", "text")
        case _ => Tables.names.foreach(t => Tables.load(spark, data, t))
      }
      val t2 = System.nanoTime()
      warmup(spark, data)
      if (i == 0) warmQueries.foreach { q =>
        SparkEntry.queries(q)(spark, data).collect()
        CacheJanitor.drain(blocking = true)
      }
      val t3 = System.nanoTime()
      val jvm = if (i == 0) (mainStartMs - jvmStartMs).max(0L) / 1e3 else 0.0
      setupTimes += (t3 - t0) / 1e9 + jvm
      setupParts += Seq(jvm, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
    }

    if (a.contains("record-golden")) {
      recordGolden(spark, data, work, starSources, a("record-golden"))
      spark.stop()
      return
    }

    val traced = a.getOrElse("trace", "0") == "1"
    val overhead = if (traced) tracingOverhead(spark, data, workload) else 0.0
    val tracer = if (traced) {
      val t = new Tracer(spark.sparkContext)
      spark.sparkContext.addSparkListener(t)
      Some(t)
    } else None
    val span = new Spans(tracer)

    val extras = mutable.LinkedHashMap.empty[String, Double]
    val gc0 = gcSeconds()
    val cpu0 = cpuTicks()
    val ops: Seq[Op] = workload match {
      case "star_rebuild" => starRebuild(spark, data, work, starSources, golden, tracer, extras)
      case "index_loop" =>
        indexLoop(spark, data, work, docs, seed, a("batches").toInt, span, extras)
      case "query_mix" => queryMix(spark, data, sample, golden, span)
      case other => sys.error(s"unknown workload $other")
    }
    extras("jvm.gc_s") = gcSeconds() - gc0
    val cpu1 = cpuTicks()
    val stealFrac = if (cpu1._1 > cpu0._1) (cpu1._2 - cpu0._2).toDouble / (cpu1._1 - cpu0._1) else 0.0
    val retainedHeapMb = retainedHeap(spark)
    val canaryAfter = canary()
    if (traced) extras("tracing.overhead_frac") = overhead

    val spans = tracer.map { t =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val cores = spark.sparkContext.defaultParallelism
      val (stats, allJobs) = t.summary()
      stats.filter(_._1 != Tracer.Untraced).map { case (name, s) =>
        val wall = s.wallNs / 1e9
        val taskS = s.taskMs / 1e3
        name -> Map[String, Any](
          "wall_s" -> wall, "jobs" -> s.jobs, "tasks" -> s.tasks, "task_s" -> taskS,
          "core_util" -> (if (wall > 0) taskS / (wall * cores) else 0.0),
          "driver_gap_s" -> Tracer.gapSeconds(s, allJobs),
          "input_mb" -> s.inputBytes / 1e6, "shuffle_mb" -> s.shuffleBytes / 1e6,
          "written_mb" -> s.writtenBytes / 1e6, "files_written" -> s.files)
      }
    }
    spans.foreach { sp =>
      val procIn = sp.get("star.process").map(_("input_mb").asInstanceOf[Double]).getOrElse(0.0)
      extras.get("star.landed_mb").foreach(l => extras("star.replay_read_amp") = if (l > 0) procIn / l else 0.0)
    }

    val record = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> tracer.nonEmpty,
      "cores" -> spark.sparkContext.defaultParallelism,
      "setup_s" -> setupTimes.toSeq,
      "setup_parts_s" -> setupParts.toSeq,
      "ops" -> ops.map(o => Map("name" -> o.name, "span" -> o.span, "s" -> o.seconds,
        "ok" -> o.ok, "detail" -> o.detail)),
      "extras" -> extras.toMap,
      "spans" -> spans.getOrElse(Map.empty),
      "span_jobs" -> spans.getOrElse(Map.empty).map { case (k, v) => k -> v("jobs") },
      "canary_s_before" -> canaryBefore, "canary_s_after" -> canaryAfter,
      "loadavg_start" -> loadStart, "loadavg_end" -> loadavg(), "cpu_steal_frac" -> stealFrac,
      "retained_heap_mb" -> retainedHeapMb,
      "peak_rss_mb" -> peakRssMb())
    spark.stop()
    System.out.print("PERFBENCH_RECORD " + Json(record) + "\n")
    System.out.flush()
  }

  // ---------------------------------------------------------------- star

  private def starRebuild(spark: SparkSession, data: String, work: String,
      sources: Map[String, DataFrame], golden: Golden, tracer: Option[Tracer],
      extras: mutable.Map[String, Double]): Seq[Op] = {
    val root = s"$work/star"
    def runOnce(): Seq[String] = Runner.runOnce(spark, sources, s"$root/landing",
      s"$root/processed", s"$root/warehouse", s"$root/state.json", batchId = "2025-09-01 10:00:00.000")
    val t0 = System.nanoTime()
    val result = scala.util.Try(tracer.fold(runOnce())(_.phased("star.runner", starPhases)(runOnce())))
    val dt = (System.nanoTime() - t0) / 1e9
    val problems = result match {
      case scala.util.Failure(e) => Seq(s"runOnce threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      case scala.util.Success(loaded) =>
        val counts = loaded.map(t => t -> spark.read.parquet(s"$root/warehouse/$t").count()).toMap
        val expected = golden.starCounts
        (if (loaded.toSet != expected.keySet) Seq(s"loaded ${loaded.sorted} != ${expected.keys.toSeq.sorted}") else Nil) ++
          expected.collect { case (t, n) if counts.getOrElse(t, -1L) != n => s"$t rows ${counts.getOrElse(t, -1L)} != $n" }
    }
    val landed = dirBytes(spark, Seq(s"$root/landing"))
    val changed = Runner.dependencies.keys.filter(t => dirBytes(spark, Seq(s"$root/landing/$t")) > 0)
    val affected = changed.flatMap(Runner.dependencies).toSet
    extras("star.landed_mb") = landed / 1e6
    extras("star.rebuild_ratio") =
      if (affected.isEmpty) 0.0 else result.map(_.size).getOrElse(0).toDouble / affected.size
    extras("stored_bytes_per_input_byte") =
      dirBytes(spark, Seq(s"$root/landing", s"$root/processed", s"$root/warehouse")).toDouble /
        dirBytes(spark, starInputTables.map(t => s"$data/$t.parquet"))
    CacheJanitor.drain(blocking = true)
    Seq(Op("rebuild", "star", dt, problems.isEmpty, problems.mkString("; ")))
  }

  // --------------------------------------------------------------- index

  private def indexLoop(spark: SparkSession, data: String, work: String, docs: DataFrame,
      seed: Long, batches: Int, span: Spans,
      extras: mutable.Map[String, Double]): Seq[Op] = {
    val root = s"$work/index"
    val slice = pmod(xxhash64(col("doc_id"), lit(seed)), lit(batches.toLong))
    val takedownBatch = batches / 2
    // Seed-chosen takedown: a third of everything indexed before the
    // halfway batch, enough to trip maintainOnce's 10% tombstone ratio.
    val takedown = docs.where(slice < takedownBatch &&
      pmod(xxhash64(col("doc_id"), lit(seed + 1)), lit(3L)) === 0).select("doc_id")
    val sizes = docs.groupBy(slice.as("b")).count().collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap.withDefaultValue(0L)
    val takedownN = takedown.count()
    var ingested = 0L
    var removed = 0L
    var pairs = 0L
    val ops = (0 until batches).map { b =>
      val inc = docs.where(slice === b)
      val isTakedown = b == takedownBatch
      val t0 = System.nanoTime()
      val r = scala.util.Try {
        if (isTakedown) span("operators.remove")(SignatureIndex.remove(spark, root, takedown))
        val st = span("operators.run_once")(
          DedupPipeline.runOnce(spark, root, inc, batchKey = Some(f"b$b%02d")))
        val m = span("operators.maintain")(
          DedupPipeline.maintainOnce(spark, root))
        (st, m)
      }
      val dt = (System.nanoTime() - t0) / 1e9
      CacheJanitor.drain(blocking = true)
      ingested += sizes(b)
      if (isTakedown) removed = takedownN
      val problems = r match {
        case scala.util.Failure(e) => Seq(s"batch threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        case scala.util.Success((st, m)) =>
          pairs += st.deltaPairs
          Seq(
            if (st.newDocs != sizes(b)) Some(s"newDocs ${st.newDocs} != ${sizes(b)}") else None,
            if (m.after.liveDocs != ingested - removed) Some(s"live ${m.after.liveDocs} != ${ingested - removed}") else None,
            if (isTakedown && !m.indexCompacted) Some("takedown did not trip index compaction") else None
          ).flatten
      }
      Op(if (isTakedown) s"batch$b-takedown" else s"batch$b", "operators", dt, problems.isEmpty, problems.mkString("; "))
    }
    // Whole-loop invariants: live docs = ingested - taken down; every live
    // doc labelled exactly once; one keeper per distinct label. Labels of
    // taken-down docs persist (removal changes future candidates, never
    // recorded facts), so the keeper count runs over the whole label table.
    val final_ = scala.util.Try {
      val live = SignatureIndex.readIndex(spark, root).select("doc_id")
      val manifest = DedupPipeline.keeperManifest(spark, root)
      val liveN = live.count()
      val liveDistinct = live.distinct().count()
      val labelled = manifest.join(live.distinct(), "doc_id")
      val labelledRows = labelled.count()
      val labelledDistinct = labelled.select("doc_id").distinct().count()
      val keepers = manifest.where(col("keep")).count()
      val labels = manifest.select("label").distinct().count()
      Seq(
        if (liveN != ingested - removed || liveDistinct != liveN) Some(s"live $liveN/$liveDistinct != ${ingested - removed}") else None,
        if (labelledRows != liveN || labelledDistinct != liveN) Some(s"labelled $labelledRows/$labelledDistinct != $liveN") else None,
        if (keepers != labels) Some(s"keepers $keepers != distinct labels $labels") else None
      ).flatten
    }
    val finalProblems = final_.fold(e => Seq(s"final check threw ${e.getMessage}"), identity)
    extras("operators.delta_pairs") = pairs.toDouble
    extras("stored_bytes_per_input_byte") =
      dirBytes(spark, Seq(root)).toDouble / dirBytes(spark, Seq(s"$data/documents.parquet"))
    CacheJanitor.drain(blocking = true)
    if (finalProblems.isEmpty) ops
    else ops.init :+ ops.last.copy(ok = false, detail = (ops.last.detail +: finalProblems).filter(_.nonEmpty).mkString("; "))
  }

  // --------------------------------------------------------------- query

  /** About `n` stateless registry queries: from each family a share
    * proportional to its size (at least two), spread evenly over that
    * family's recorded cost ranking (the middle query of equal cost
    * strata); in seed order. The set is the same for every seed, so runs
    * differ only in order and timing noise. */
  def querySample(seed: Long, n: Int, cost: Map[String, Double]): Seq[String] = {
    val all = statelessQueries
    val picked = all.groupBy(family).toSeq.sortBy(_._1).flatMap { case (_, qs) =>
      val ranked = qs.sortBy(q => (cost.getOrElse(q, 0.0), q))
      val k = math.min(ranked.size, math.max(2, math.round(n.toDouble * qs.size / all.size).toInt))
      (0 until k).map(i => ranked(((2 * i + 1) * ranked.size) / (2 * k)))
    }
    new scala.util.Random(seed).shuffle(picked)
  }

  /** Set-up warm-up for query_mix: the cheapest query of each family
    * that is not in the sample, so the first measured queries do not also
    * pay for compiling the code paths every query shares, and no measured
    * query runs before it is timed. */
  def warmupQueries(sample: Seq[String], cost: Map[String, Double]): Seq[String] =
    statelessQueries.filterNot(sample.toSet).groupBy(family).toSeq.sortBy(_._1)
      .map { case (_, qs) => qs.minBy(q => (cost.getOrElse(q, 0.0), q)) }

  private def queryMix(spark: SparkSession, data: String, sample: Seq[String], golden: Golden,
      span: Spans): Seq[Op] =
    sample.map { name =>
      val fam = family(name)
      val t0 = System.nanoTime()
      val r = scala.util.Try(span(fam)(SparkEntry.queries(name)(spark, data).collect()))
      val dt = (System.nanoTime() - t0) / 1e9
      CacheJanitor.drain(blocking = true)
      val problem = r match {
        case scala.util.Failure(e) => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        case scala.util.Success(rows) =>
          val got = digest(rows)
          golden.queries.get(name) match {
            case None => Some("no expected output")
            case Some(exp) if exp != got => Some(s"got $got expected $exp")
            case _ => None
          }
      }
      Op(name, fam, dt, problem.isEmpty, problem.getOrElse(""))
    }

  /** Row count and an order-insensitive content digest of a result. */
  def digest(rows: Array[Row]): (Long, String) = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    (rows.length.toLong, md.digest().take(8).map("%02x".format(_)).mkString)
  }

  // -------------------------------------------------------------- golden

  private def recordGolden(spark: SparkSession, data: String, work: String,
      sources: Map[String, DataFrame], out: String): Unit = {
    val root = s"$work/golden_star"
    val loaded = Runner.runOnce(spark, sources, s"$root/landing", s"$root/processed",
      s"$root/warehouse", s"$root/state.json", batchId = "2025-09-01 10:00:00.000")
    val star = loaded.sorted.map(t => t -> spark.read.parquet(s"$root/warehouse/$t").count())
    // Two passes: the digests must agree, and the cheaper time of each
    // query (the second pass runs with a warm JVM) orders the strata
    // query_mix samples from.
    def pass(): Map[String, (Long, String, Double)] = statelessQueries.map { name =>
      val t0 = System.nanoTime()
      val (n, d) = digest(SparkEntry.queries(name)(spark, data).collect())
      val dt = (System.nanoTime() - t0) / 1e9
      CacheJanitor.drain(blocking = true)
      name -> (n, d, dt)
    }.toMap
    val (first, second) = (pass(), pass())
    val qs = first.map { case (name, (n, d, dt)) =>
      require(second(name)._2 == d, s"$name: digest differs between two passes")
      name -> Map("rows" -> n, "digest" -> d, "seconds" -> math.min(dt, second(name)._3))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      Json(Map("star_rows" -> star.toMap, "queries" -> qs.toMap)) + "\n")
  }

  // ------------------------------------------------------------- helpers

  /** Fixed warm-up, the same in every set-up: a generated aggregate and a
    * SQL query over one input table, so the first measured operation does
    * not also pay for loading the SQL parser, parquet reader and code
    * generator. */
  private def warmup(spark: SparkSession, data: String): Unit = {
    val r = spark.range(0L, 500000L, 1L, spark.sparkContext.defaultParallelism)
      .select(xxhash64(col("id")).as("h"))
      .groupBy(pmod(col("h"), lit(64L)).as("g")).agg(bit_xor(col("h")).as("x"))
      .agg(bit_xor(xxhash64(col("g"), col("x")))).collect()
    Tables.region(spark, data).createOrReplaceTempView("perfbench_warmup")
    val n = spark.sql("SELECT r_name, count(*) AS c FROM perfbench_warmup GROUP BY r_name ORDER BY r_name").collect()
    spark.catalog.dropTempView("perfbench_warmup")
    require(r.length == 1 && n.nonEmpty)
  }

  /** Median over four pairs of traced ÷ untraced wall − 1 of the fixed
    * warm-up, the pair order alternating; the traced half goes through a
    * throwaway tracer the way the workload's calls will (stack sampling
    * included for the star phases). */
  private def tracingOverhead(spark: SparkSession, data: String, workload: String): Double = {
    def time(body: => Unit): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }
    def plain(): Double = time(warmup(spark, data))
    def traced(): Double = {
      val t = new Tracer(spark.sparkContext)
      spark.sparkContext.addSparkListener(t)
      try time(
        if (workload == "star_rebuild") t.phased("calibration", starPhases)(warmup(spark, data))
        else t.span("calibration")(warmup(spark, data)))
      finally {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(t)
      }
    }
    val ratios = (0 until 4).map { i =>
      if (i % 2 == 0) { val p = plain(); traced() / p } else { val t = traced(); t / plain() }
    }.sorted
    (ratios(1) + ratios(2)) / 2 - 1.0
  }

  /** Box canary: a fixed single-thread integer loop, no Spark, no IO. */
  def canary(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var acc = 0L
    var i = 0
    while (i < 100000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x
      i += 1
    }
    if (acc == 42L) println("canary")
    (System.nanoTime() - t0) / 1e9
  }

  private def loadavg(): String =
    scala.util.Try(scala.io.Source.fromFile("/proc/loadavg").mkString.trim).getOrElse("unavailable")

  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  /** Heap still in use once the workload is done: what the session keeps
    * (leaked cache blocks show here). Asynchronous unpersists and the
    * context cleaner free memory only after a collection has queued their
    * references, so collect until two readings agree. */
  private def retainedHeap(spark: SparkSession): Double = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    def used(): Long = {
      System.gc()
      Thread.sleep(100)
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var prev = used()
    var cur = used()
    var tries = 0
    while (math.abs(cur - prev) > (1L << 20) && tries < 8) { prev = cur; cur = used(); tries += 1 }
    cur / 1048576.0
  }

  /** (all, steal) CPU ticks of the machine, from /proc/stat; steal is time
    * the hypervisor gave this machine's CPUs to someone else. */
  private def cpuTicks(): (Long, Long) =
    scala.util.Try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (f.take(8).sum, if (f.length > 7) f(7) else 0L)
    }.getOrElse((0L, 0L))

  private def peakRssMb(): Double =
    scala.util.Try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)

  private def dirBytes(spark: SparkSession, dirs: Seq[String]): Long = GraftSession.dirBytes(spark, dirs)
}

/** Opens a traced span around a call when tracing is on; a plain call
  * otherwise. */
final class Spans(tracer: Option[Tracer]) {
  def apply[A](name: String)(body: => A): A = tracer.fold(body)(_.span(name)(body))
}

/** Expected outputs, recorded by `--record-golden` from a pass whose
  * query results matched the DuckDB oracle (tools/compare.py). */
final case class Golden(starCounts: Map[String, Long], queries: Map[String, (Long, String)],
    cost: Map[String, Double])

object Golden {
  def load(path: String): Golden = {
    val txt = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    val m = Json.parse(txt).asInstanceOf[Map[String, Any]]
    val star = m("star_rows").asInstanceOf[Map[String, Any]].map { case (k, v) => k -> Json.num(v).toLong }
    val qs = m("queries").asInstanceOf[Map[String, Any]].map { case (k, v) =>
      val q = v.asInstanceOf[Map[String, Any]]
      k -> (Json.num(q("rows")).toLong, q("digest").asInstanceOf[String])
    }
    val cost = m("queries").asInstanceOf[Map[String, Any]].map { case (k, v) =>
      k -> Json.num(v.asInstanceOf[Map[String, Any]].getOrElse("seconds", 0.0))
    }
    Golden(star, qs, cost)
  }
}
