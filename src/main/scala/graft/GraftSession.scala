package graft

import org.apache.spark.sql.SparkSession

/** One place to build correctly-configured sessions for Verify/Bench/tests.
  *
  * Local mode tuning: shuffle partitions = cores (not 200), AQE on (runtime
  * coalescing + skew-join splitting — the same settings hold on a real
  * cluster where shuffle.partitions scales with executor count).
  */
object GraftSession {
  /** Default to every available core (the driver environment is
    * local[32]); SPARK_GRAFT_CPUS overrides for smaller test runs. */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString)

  /** Shuffle partition count — defaults to the core count (the local
    * harness choice), overridable independently because partitions must
    * scale with DATA, not just cores: per-task shuffle state at a fixed
    * 32 partitions grows linearly with input and eventually OOMs a task
    * however big the heap (observed: t35's candidate join at 100× the
    * sf0.1 corpus). On a cluster this is the ~2–3×-total-cores setting;
    * AQE coalescing shrinks small stages back down either way, so a
    * higher value costs small runs nothing. */
  val shufflePartitions: String =
    sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)

  /** Data-proportional shuffle partition count: one partition per 2 MB
    * of ON-DISK input, floored at the core count and capped at 65536.
    *
    * Why 2 MB and not the 128 MB split size: shuffle state is sized by
    * the EXPANDED data, not the compressed scan. The heaviest operators
    * here explode text into 3-word shingle postings and join them —
    * measured ~64× the parquet bytes in shuffle+join state (the x100
    * tier: ~200 MB on disk, t35's candidate join OOM'ed a task at 32
    * partitions however large the heap; 256 partitions carried it). So
    * bytes/2MB ≈ expandedBytes/128MB for this workload family. AQE
    * coalesces small stages back down, so over-partitioning costs light
    * queries nothing — under-partitioning is the failure mode. The cap
    * bounds task-scheduling overhead; a deployment past it (≳128 GB
    * compressed per query) sizes partitions explicitly, as every
    * cluster operator does. */
  def autoShufflePartitions(inputBytes: Long, cores: Int = cpus.toInt): Int =
    math.min(65536L,
      math.max(cores.toLong, (inputBytes + (2L << 20) - 1) / (2L << 20))).toInt

  /** Total bytes under `dirs` (recursive; a missing dir contributes 0)
    * — the `inputBytes` for [[autoShufflePartitions]]. Hadoop
    * FileSystem metadata, like every other path probe in the engine: a
    * java.io walk would silently measure ANY non-local root
    * (hdfs://, s3a://) as 0 bytes and the derivation would floor at the
    * core count — quietly reintroducing the under-partitioning OOM this
    * feature removes. */
  def dirBytes(spark: SparkSession, dirs: Seq[String]): Long =
    dirs.map { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    }.sum

  /** Re-derive `spark.sql.shuffle.partitions` from the data a session
    * is about to process (a RUNTIME conf — callable between queries, so
    * a multi-tier run right-sizes each tier). The explicit
    * `SPARK_GRAFT_SHUFFLE_PARTITIONS` env keeps the last word. Returns
    * the partition count in effect. */
  def tuneShufflePartitions(spark: SparkSession, dirs: Seq[String]): Int = {
    val n = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").map(_.toInt)
      .getOrElse(autoShufflePartitions(dirBytes(spark, dirs)))
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    n
  }

  def build(appName: String): SparkSession = {
    // Embedded Derby (the JDBC lifecycle twin) writes its error log to
    // ${derby.stream.error.file} in the CWD by default — keep the repo
    // root clean (r18 verdict hygiene item). Before any Derby class
    // loads; respected only on first engine boot, which is fine — every
    // entry point builds its session through here first.
    if (sys.props.get("derby.stream.error.file").isEmpty) {
      try java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
      catch { case _: Exception => () }
      System.setProperty("derby.stream.error.file", "target/derby.log")
    }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      // The production deployment path for the native functions: the
      // string-form extensions config (what spark-submit ships). It is a
      // STATIC conf — applied to every SparkSession created over this
      // context — so Verify/Bench/tests all run through real injection;
      // registerAll below stays as the idempotent API-level fallback for
      // sessions graft didn't build.
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      // Local disk without native libhadoop: Hadoop's own file: class
      // forks a `chmod` per created file, .crc and directory. This one
      // sets the same mode bits in-process and states the strict
      // rename rule the commit protocols rely on.
      .config("spark.hadoop.fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // testdata events.parquet stores TIMESTAMP(NANOS); Spark has no ns
      // type, so read as long and convert in Tables.events (truncation to
      // µs matches DuckDB's read of the same file).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Point-lookup precondition (SCALEBENCH_r18_pointlookup's measured
      // catch): above this threshold Spark pushes an In(id, …) to
      // parquet as a [min,max] RANGE filter, which spans everything for
      // spread point ids and turns row-group pruning off. The default
      // (10) is sized for filter-eval cost on unsorted data; the fold
      // layouts here are id-sorted with bounded row groups, where the
      // literal set is what prunes. 1024 covers every bounded probe in
      // the library (probe sets are collect-bounded well below it).
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "1024")
      // The bloom aggregate silently clamps to these ceilings (defaults
      // 4M items / 2^26 bits) — far below a selective build side at
      // cluster scale, where the clamp would quietly destroy the fpp
      // contract (BloomSketch.sizedArgs documents the failure shape).
      // 64M items × 16 bits/key = 2^30 bits = 128 MiB worst case, an
      // explicit library choice callers see via sizedArgs.
      .config("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "67108864")
      .config("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "1073741824")
      // managed-table warehouse (bucketed tables) in a throwaway dir
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Hadoop caches one file: instance per JVM, whatever configuration
    // made it. One made before this session (a bare `new Configuration()`
    // read of a state file, say) would keep its class for every later
    // lookup; closing it drops it from the cache, so the next lookup
    // builds the class registered above.
    val local = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    if (!local.isInstanceOf[ForkFreeLocalFileSystem]) local.close()
    graft.functions.GraftFunctions.registerAll(spark)
    spark
  }
}
