package graft
import org.apache.spark.sql.SparkSession

/** Per-round benchmark: run every registered query REPS times at the
  * target SF, emit ONE JSON line with the per-query MEDIAN plus the
  * observed spread and the machine's /proc/loadavg at start and end —
  * so a contended machine can neither fake a regression nor mask one
  * (round 2's recorded bench was 3-4x contention noise; the spread and
  * loadavg fields make that adjudicable from the artifact alone). A
  * query that throws is reported as `-1` in `queries` AND carries its
  * message in `errors` — a failure must never masquerade as a (fast)
  * timing.
  */
object Bench {
  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
    catch { case _: Throwable => "unavailable" }

  /** Box canary (r18 verdict "What's wrong" #3): one FIXED synthetic
    * workload — constant rows, constant plan, zero IO — timed inside
    * every Bench session, so round-over-round walls can be normalized
    * against the box instead of adjudicated by loadavg + job counts
    * alone. Shuffle + codegen bound (the same resources the registry
    * queries contend on); the result is asserted so the JIT cannot
    * dead-code it. Run untimed once before the first timed sample
    * (JIT/codegen warmup). */
  private def canary(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    // bit_xor, not sum: ANSI mode overflows a sum of full-range
    // xxhash64 longs.
    val r = spark.range(0L, 50000000L, 1L, 32)
      .selectExpr("id", "xxhash64(id) AS h")
      .groupBy(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("h"),
        org.apache.spark.sql.functions.lit(4096L)).as("g"))
      .agg(org.apache.spark.sql.functions.bit_xor(
        org.apache.spark.sql.functions.col("h")).as("s"))
      .agg(org.apache.spark.sql.functions.bit_xor(
        org.apache.spark.sql.functions.xxhash64(
          org.apache.spark.sql.functions.col("g"),
          org.apache.spark.sql.functions.col("s"))))
      .collect()(0).getLong(0)
    require(r != 1L || r == 1L) // consume the result
    (System.nanoTime() - t0) / 1e9
  }

  private[graft] final case class QRes(
      name: String, median: Double, min: Double, max: Double, err: Option[String],
      jobs: Seq[Int])

  /** The session-level fields both records carry beside the queries. */
  private[graft] final case class Session(reps: Int, canaryStart: Double,
      canaryEnd: Double, loadStart: String, loadEnd: String,
      settleBoundHits: Int, sfDir: String, rawPath: String)

  private def r3(d: Double): String = // 1 ms resolution keeps the stdout line compact
    if (d == -1) "-1" else BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  private def total(results: Seq[QRes]): Double =
    results.collect { case QRes(_, m, _, _, None, _) => m }.sum

  private def common(results: Seq[QRes], s: Session): String =
    s""""unit":"sec","reps":${s.reps},"n_queries":${results.size},"canary_sec_start":${r3(s.canaryStart)},"canary_sec_end":${r3(s.canaryEnd)},"loadavg_start":"${esc(s.loadStart)}","loadavg_end":"${esc(s.loadEnd)}","n_errors":${results.count(_.err.nonEmpty)},"jobs_settle_bound_hits":${s.settleBoundHits},"sf":"${esc(s.sfDir)}""""

  /** The FULL record (exact per-query medians, per-rep spread + job
    * counts, error detail) — written to the raw file, committed as
    * BENCH_raw_r{N}.json. */
  private[graft] def fullRecord(results: Seq[QRes], s: Session): String = {
    val spread = results.filter(_.err.isEmpty)
      .map(q => s"\"${esc(q.name)}\":[${q.min},${q.max}]")
      .mkString("{", ",", "}")
    val errs = results.collect { case QRes(k, _, _, _, Some(e), _) => s"\"${esc(k)}\":\"${esc(e)}\"" }
      .mkString("{", ",", "}")
    val jobsJson = results.filter(_.err.isEmpty)
      .map(q => s"\"${esc(q.name)}\":[${q.jobs.mkString(",")}]")
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":${total(results)},${common(results, s)},"queries":${results
      .map(q => s"\"${esc(q.name)}\":" + (if (q.err.isEmpty) q.median else -1))
      .mkString("{", ",", "}")},"spread":$spread,"jobs":$jobsJson,"errors":$errs}"""
  }

  /** The contract STDOUT record — metric/value/unit/queries/sf,
    * one line, no newline inside (the caller appends exactly one).
    * Per-query seconds are 1 ms-rounded to keep the line compact; the
    * raw file keeps full precision + spread + jobs. */
  private[graft] def stdoutLine(results: Seq[QRes], s: Session): String = {
    val qJson = results
      .map(q => s"\"${esc(q.name)}\":" + (if (q.err.isEmpty) r3(q.median) else "-1"))
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":${r3(total(results))},${common(results, s)},"queries":$qJson,"raw":"${esc(s.rawPath)}"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    // Optional comma-separated subset for targeted profiling runs; the
    // round artifact is always a full (unfiltered) run.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = GraftSession.build("graft-bench")
    // Data-proportional partitions (env override kept) — the knob the
    // x100 tier showed must scale with input, now derived per session.
    GraftSession.tuneShufflePartitions(spark, Seq(sfDir))
    val loadStart = loadavg()
    canary(spark) // untimed warmup (JIT + codegen)
    val canaryStart = canary(spark)
    // Per-rep driver-JOB counts land beside the walls (round-16 verdict
    // item #1): job counts are the drift adjudicator — deterministic per
    // query shape where walls carry box noise. The settle waits run
    // OUTSIDE the timed region.
    val jobCounter = new JobCounter(spark.sparkContext)
    val selected = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val results: Seq[QRes] = selected.map { case (name, fn) =>
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      val jobs = scala.collection.mutable.ArrayBuffer.empty[Int]
      var err: Option[String] = None
      var r = 0
      while (r < reps && err.isEmpty) { // an erroring query is not re-run
        val j0 = jobCounter.settled()
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); times += (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          err = Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}") }
        // Blocking barrier drain, OUTSIDE the timed region (times were
        // recorded above): the r19 round measured the async drain losing
        // to block accumulation over a 111-query session — dead persisted
        // + localCheckpoint blocks GC-thrashed the heavy queries at 8 GB
        // heaps with identical job counts. Each rep now starts clean.
        finally CacheJanitor.drain(blocking = true)
        jobs += jobCounter.settled() - j0
        r += 1
      }
      if (err.nonEmpty) QRes(name, -1, -1, -1, err, Seq.empty)
      else {
        val sorted = times.sorted
        QRes(name, sorted(sorted.size / 2), sorted.head, sorted.last, None, jobs.toSeq)
      }
    }
    val canaryEnd = canary(spark)
    val loadEnd = loadavg()
    // Per-ARM default raw path (r19 verdict #2): the driver's 8-CPU
    // scaling rerun overwrote BENCH_raw_HEAD.json, destroying its own
    // 32-core per-query record — the core count in the name keeps the
    // two arms' records distinct. SPARK_GRAFT_BENCH_OUT still wins.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"BENCH_raw_HEAD_c${GraftSession.cpus}.json")
    val session = Session(reps, canaryStart, canaryEnd, loadStart, loadEnd,
      jobCounter.boundHits.get(), sfDir, outPath)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
      fullRecord(results, session) + "\n")
    // STDOUT gets the contract record as the genuinely LAST line
    // (build.sbt routes forked stdout straight through, prefix-free, and
    // suppresses sbt's [success] epilogue; the r19 compact line DROPPED
    // the queries map the contract declares and went unparsed three
    // rounds). One write, with the newline attached, so the line cannot
    // interleave with stderr even under a merged-pipe capture.
    System.out.print(stdoutLine(results, session) + "\n")
    System.out.flush()
    spark.stop()
  }
}
