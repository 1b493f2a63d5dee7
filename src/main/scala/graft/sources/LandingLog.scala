package graft.sources

import graft.operators.VersionedState
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The append-only landing log (reference S3–S6: one immutable CSV per
  * (table, ingest batch) under `{table}/{batchId}.csv`, batch ids named so
  * lexicographic = chronological — src/ingestion_lambda.py:171-175,
  * src/process_lambda.py:28-56).
  *
  * Spark-first differences from the reference:
  *  - the whole log is ONE `spark.read.csv(dir)` (Spark unions files
  *    natively, S6) with an explicit schema — no type inference (§1.2);
  *  - file order is made EXPLICIT: `_ingest_ts` is parsed from
  *    `input_file_name()`, because keep-last dedup correctness must not
  *    depend on listing order (reference defect O3, SURVEY.md §2.6);
  *  - batch ids are full-precision (`yyyy-MM-dd HH:mm:ss.SSS`) so two
  *    batches in one minute never overwrite (reference defect F11).
  */
object LandingLog {

  /** Batch ids are timestamps; Hadoop `Path` forbids `:` and spaces are
    * awkward, so file keys use `_`/`.` separators — the substitution is
    * order-preserving, keeping lexicographic = chronological (O3). */
  def fileKey(batchId: String): String =
    batchId.replace(' ', '_').replace(':', '.')

  /** Hadoop FileSystem, not java.nio: a java.nio probe silently
    * misreads any non-local root. */
  private def fsOf(path: String) = StateFile.fs(path)

  private def ls(dir: String): Seq[FileStatus] = {
    val fs = fsOf(dir)
    val p = new HPath(dir)
    if (!fs.exists(p)) Seq.empty else fs.listStatus(p).toSeq
  }

  private def isDir(path: String): Boolean = {
    val fs = fsOf(path)
    val p = new HPath(path)
    fs.exists(p) && fs.getFileStatus(p).isDirectory
  }

  /** Write one increment as a single CSV file (header on), named by batch
    * id. A driver-side rename collapses Spark's part-file into the
    * deterministic `{table}/{batchId}.csv` key the log contract requires.
    * A pre-existing destination (a torn file from a crashed earlier
    * attempt of the SAME batch — watermark not yet bumped, so the replay
    * recomputes the identical increment) is dropped before the rename:
    * the replay heals it instead of failing on the collision. */
  def writeIncrement(df: DataFrame, root: String, table: String, batchId: String): Unit = {
    val tmp = s"$root/.tmp_${table}_${batchId.replaceAll("[^0-9A-Za-z]", "_")}"
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(tmp)
    val fs = fsOf(root)
    val part = ls(tmp).map(_.getPath)
      .find(_.getName.startsWith("part-"))
      .getOrElse(sys.error(s"no part file written for $table/$batchId"))
    val dest = new HPath(s"$root/$table/${fileKey(batchId)}.csv")
    fs.mkdirs(dest.getParent)
    // A pre-existing dest is replaced (the replay-heals-a-torn-file
    // contract), but LOUDLY: the only legitimate collision is a replay
    // of the SAME batch recomputing the identical increment (watermark
    // not yet bumped). A silent replace would also swallow the
    // pathological case — a replay computing a DIFFERENT increment for
    // a committed batch (clock/watermark skew) — so both sizes are
    // logged; a size mismatch in the logs is the skew signature.
    if (fs.exists(dest)) {
      val oldLen = fs.getFileStatus(dest).getLen
      val newLen = fs.getFileStatus(part).getLen
      System.err.println(
        s"[graft] LandingLog: $dest already exists (committed ${oldLen}B, " +
          s"replay recomputed ${newLen}B" +
          (if (oldLen != newLen) " — SIZE MISMATCH, check for watermark skew" else "") +
          "); replacing with the replay's increment")
      fs.delete(dest, false)
    }
    require(fs.rename(part, dest),
      s"landing commit failed: could not move $part into $dest")
    fs.delete(new HPath(tmp), true)
  }

  /** Large-increment sink (backfills): where [[writeIncrement]] funnels
    * the increment through one task to honor the reference's
    * one-CSV-per-batch contract, a backfill lands as a DIRECTORY of part
    * files (`{table}/{batchId}.batch/`) written at full parallelism. The
    * log replay reads both forms and derives the same `_ingest_ts` from
    * the directory name, so batch semantics (keep-last ordering,
    * idempotent replay) are identical — only the parallelism differs. */
  def writeIncrementDir(df: DataFrame, root: String, table: String, batchId: String): Unit =
    df.write.mode("overwrite").option("header", "true")
      .csv(s"$root/$table/${fileKey(batchId)}.batch")

  /** Read the full append-log for a table with `_ingest_ts` (the batch id
    * parsed from the single-file name OR the `.batch` directory name —
    * lexicographically chronological either way) attached to every row.
    * Empty/missing log → empty frame. */
  def readLog(spark: SparkSession, root: String, table: String, schema: StructType): DataFrame = {
    val dir = s"$root/$table"
    val base =
      if (isDir(dir) && ls(dir).exists { s =>
        val n = s.getPath.getName
        n.endsWith(".csv") || n.endsWith(".batch")
      })
        spark.read.option("header", "true").option("recursiveFileLookup", "true")
          .schema(schema).csv(s"$root/$table")
      else
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    withIngestTs(base)
  }

  /** `_ingest_ts` = the batch id parsed from the single-file name OR the
    * `.batch` directory name. */
  private def withIngestTs(base: DataFrame): DataFrame =
    base.withColumn("_ingest_ts", coalesce(
      nullif(regexp_extract(input_file_name(), "/([^/]+)\\.batch/[^/]+$", 1), lit("")),
      regexp_extract(input_file_name(), "/([^/]+)\\.csv$", 1)))

  /** The landing batch FILE KEYS present for a table, ascending
    * (lexicographic = chronological by the [[fileKey]] contract) —
    * single-file `<key>.csv` increments and `<key>.batch` backfill
    * directories both. The incremental star path's folded-watermark
    * bookkeeping is in terms of these keys. Listed through the Hadoop
    * FileSystem API (not java.nio) so a non-local landing root
    * (hdfs://, s3a://) enumerates correctly instead of silently
    * reading as empty — the merge path's byte gate already made this
    * choice for the same reason. */
  def logKeys(spark: SparkSession, root: String, table: String): Seq[String] = {
    val dir = new org.apache.hadoop.fs.Path(s"$root/$table")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir) || !fs.getFileStatus(dir).isDirectory) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName).collect {
      case n if n.endsWith(".csv") => n.stripSuffix(".csv")
      case n if n.endsWith(".batch") => n.stripSuffix(".batch")
    }.sorted
  }

  /** [[readLog]] restricted to the batches with file key STRICTLY after
    * `afterKey` (None = everything): the incremental star path reads
    * only the landing increments its folded watermark has not absorbed,
    * so per-batch read cost is O(new increments), not O(log history).
    * `_ingest_ts` is derived exactly as [[readLog]] does, so keep-last
    * semantics across the returned batches are unchanged. */
  def readLogSince(spark: SparkSession, root: String, table: String,
      schema: StructType, afterKey: Option[String]): DataFrame = {
    val keys = logKeys(spark, root, table).filter(k => afterKey.forall(_ < k))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val paths = keys.map { k =>
      val csv = new org.apache.hadoop.fs.Path(s"$root/$table/$k.csv")
      if (fs.exists(csv)) csv.toString else s"$root/$table/$k.batch"
    }
    val base =
      if (paths.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else
        spark.read.option("header", "true").option("recursiveFileLookup", "true")
          .schema(schema).csv(paths: _*)
    withIngestTs(base)
  }

  /** Parquet snapshot sink (reference S7: one logical snapshot per star
    * table, overwritten each run). With `partitionBy`, the snapshot is
    * laid out hive-style on MIRROR keys (`__p_<col>` = floor(col /
    * rangeSize), string-cast) so the data columns keep their exact types
    * on read-back and the directory count is RANGE-GRANULAR, not
    * per-value: date ids are chronological (dense ids are date-ordered;
    * yyyymmdd ids divide into months at rangeSize=100), so each directory
    * is a contiguous time range. Two small-files guards make this the
    * 100 TB layout rather than a pathology: coarse ranges bound the
    * directory count, and a repartition on the mirror key bounds files
    * per directory to ~1 (without it every task writes a file into every
    * directory it touches — measured 190 s vs 13 s for the sf0.1 fact
    * rebuild). A reader filtering on the key prunes whole ranges.
    *
    * ATOMIC COMMIT: the reference gets overwrite atomicity for free from
    * a single-object S3 PUT (src/process_lambda.py:59-66); a multi-file
    * directory overwrite has no such guarantee. So a snapshot write is
    * stage-then-commit through [[graft.operators.VersionedState]], the
    * engine's one versioned-directory protocol: [[stageSnapshot]] writes
    * the next version directory, which NO reader resolves, and
    * [[commitSnapshot]] publishes it with one marker create (on S3 a
    * single-object PUT carrying a pointer instead of data). Superseded
    * versions follow VersionedState's retention (`graft.swap.grace.ms`
    * plus `graft.swap.keep.versions`), so a reader that resolved version
    * N — a training scan, a warehouse view planned before the next batch
    * — completes against it within the grace period. */
  def writeSnapshot(df: DataFrame, root: String, table: String,
      partitionBy: Seq[String] = Nil, rangeSize: Long = 100): Unit = {
    val v = stageSnapshot(df, root, table, partitionBy, rangeSize)
    commitSnapshot(root, table, v)
  }

  /** Resolve the directory holding the CURRENT committed snapshot data:
    * the newest committed version dir, or (VersionedState's flat
    * "version 0") the table directory itself when it holds data
    * directly — plain data files OR `__p_*` mirror-partition trees (the
    * incremental star path's fact tables, which live unversioned so
    * per-batch upserts swap single partition directories). None = never
    * written. */
  def snapshotDataDir(root: String, table: String): Option[String] = {
    val dir = s"$root/$table"
    val v = VersionedState.currentVersion(fsOf(dir), dir)
    if (v > 0) Some(VersionedState.versionDir(dir, v))
    else if (isDir(dir) && ls(dir).exists { s =>
      val n = s.getPath.getName
      (!n.startsWith("_") && !n.startsWith(".")) || n.startsWith("__p_")
    }) Some(dir)
    else None
  }

  /** Stage (but do not publish) the next snapshot version: the full data
    * write, into a version directory invisible to readers. Returns the
    * staged version number for [[commitSnapshot]]. Crash-safe by
    * construction: the staged dir is resolved by nobody until its commit
    * marker lands, and a retry after a crash restages the SAME version
    * (mode overwrite clears any partial files). */
  def stageSnapshot(df: DataFrame, root: String, table: String,
      partitionBy: Seq[String] = Nil, rangeSize: Long = 100): Long = {
    val dir = s"$root/$table"
    val next = VersionedState.currentVersion(fsOf(dir), dir) + 1
    val dest = VersionedState.versionDir(dir, next)
    if (partitionBy.isEmpty) df.write.mode("overwrite").parquet(dest)
    else writePartitioned(df, dest, partitionBy, rangeSize)
    next
  }

  /** The mirror-key partitioned write (the layout [[writeSnapshot]]'s
    * scaladoc documents), reusable outside the versioned protocol — the
    * incremental star path writes fact partition trees and per-batch
    * merge stages through it so every reader sees ONE physical layout.
    * repartition-on-mirror bounds files to ~1 per directory; the write
    * is `mode(overwrite)` into `dest`. */
  def writePartitioned(df: DataFrame, dest: String,
      partitionBy: Seq[String], rangeSize: Long = 100): Unit = {
    val mirrors = partitionBy.map(c => s"__p_$c")
    val withKeys = partitionBy.zip(mirrors).foldLeft(df) { case (d, (c, m)) =>
      d.withColumn(m, floor(col(c).cast("long") / rangeSize).cast("string"))
    }
    withKeys
      .repartition(mirrors.map(col): _*)
      .write.mode("overwrite").partitionBy(mirrors: _*).parquet(dest)
  }

  /** Publish a staged version: VersionedState's marker create (the
    * staged directory is complete by [[stageSnapshot]]'s contract), then
    * its grace GC, which a crash may cut short harmlessly. */
  def commitSnapshot(root: String, table: String, version: Long): Unit = {
    val dir = s"$root/$table"
    val fs = fsOf(dir)
    VersionedState.writeMarker(fs, dir, version)
    VersionedState.gc(fs, dir)
  }

  /** Time-travel read of a committed version still inside
    * VersionedState's retention. */
  def readSnapshotAt(spark: SparkSession, root: String, table: String,
      version: Long): DataFrame = {
    val dir = s"$root/$table"
    val committed = VersionedState.committedVersions(fsOf(dir), dir)
    require(committed.contains(version),
      s"version $version of $table is not committed (or was GC'd); " +
        s"available: ${committed.mkString(", ")}")
    dropMirrors(spark.read.parquet(VersionedState.versionDir(dir, version)))
  }

  /** Snapshot read; mirror partition keys are dropped so the frame is
    * schema-identical to what [[writeSnapshot]] was given, whatever the
    * physical layout. Pruning readers scan the resolved version dir
    * directly and filter on `__p_*` before the drop. */
  def readSnapshot(spark: SparkSession, root: String, table: String): DataFrame =
    readSnapshotIfExists(spark, root, table)
      .getOrElse(sys.error(s"no committed snapshot for $table under $root"))

  private def dropMirrors(raw: DataFrame): DataFrame =
    raw.drop(raw.columns.filter(_.startsWith("__p_")).toSeq: _*)

  /** Range-partition-aware snapshot join — the READ-side payoff of
    * [[writeSnapshot]]'s mirror-key layout: join the partitioned snapshot
    * to a lookup on `joinCol = lookupKey` with the mirror-key condition
    * `__p_joinCol = floor(lookupKey / rangeSize)` added, so Catalyst's
    * dynamic partition pruning turns a SELECTIVE lookup predicate into a
    * runtime partition filter on the big scan (e.g. one month of
    * dim_date → only that month's fact directories are read, at any
    * corpus size). The lookup is dimension-sized, so the join broadcasts
    * and DPP reuses the broadcast result — no extra job. Mirror keys are
    * dropped from the result, same as [[readSnapshot]]. */
  def readSnapshotRangeJoined(spark: SparkSession, root: String, table: String,
      joinCol: String, lookup: DataFrame, lookupKey: String,
      rangeSize: Long = 100): DataFrame = {
    val dir = snapshotDataDir(root, table)
      .getOrElse(sys.error(s"no committed snapshot for $table under $root"))
    val raw = spark.read.parquet(dir)
    // The lookup is the broadcast side BY CONTRACT (dimension-sized) —
    // DPP prunes the scan side from the broadcast result, which only
    // works when the partitioned table is the probe side; without the
    // hint a small-at-test-scale fact could be picked as the build side
    // and the dynamic filter would never apply.
    // Compare mirror keys on an EXPLICIT canonical type: partition-column
    // inference reads the digit-string __p_* directories back as INT, so
    // a bare comparison would lean on implicit int<->string coercion and
    // break under inference/ANSI setting changes.
    raw.join(broadcast(lookup),
        raw(joinCol) === lookup(lookupKey) &&
          raw(s"__p_$joinCol").cast("string") ===
            floor(lookup(lookupKey).cast("long") / rangeSize).cast("string"))
      .drop(raw.columns.filter(_.startsWith("__p_")).toSeq: _*)
  }

  /** S8: existence-probed snapshot read — None when the snapshot has never
    * been written (the reference's head_object → 404 → None path,
    * src/process_lambda.py:69-88). */
  def readSnapshotIfExists(spark: SparkSession, root: String, table: String): Option[DataFrame] =
    snapshotDataDir(root, table).map(dir => dropMirrors(spark.read.parquet(dir)))

  /** List all COMMITTED snapshot keys (C4: the manual-trigger full scan
    * of the processed store, src/warehousing_lambda.py:130-134). A table
    * directory whose only content is a crashed, never-committed stage is
    * not a snapshot and is not listed. Underscore-prefixed directories
    * are BOOKKEEPING by repo-wide convention ([[graft.operators
    * .VersionedState]]'s version dirs and markers, the incremental star
    * path's `_sources` current-snapshot store) and
    * never star tables — listing them would feed a full reload garbage. */
  def listSnapshots(root: String): Seq[String] = {
    if (!isDir(root)) Seq.empty
    else ls(root)
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filterNot(n => n.startsWith(".") || n.startsWith("_"))
      .filter(t => snapshotDataDir(root, t).isDefined)
      .sorted
  }
}

/** Per-table high-watermark state (reference S14: `update_tracking.json`
  * read-modify-write, bootstrap sentinel on first run —
  * src/ingestion_lambda.py:121,177-201). Real timestamps, not the
  * reference's lexicographic string compare (P2): the sentinel is epoch 0.
  * In a streaming deployment this becomes the checkpoint offset log.
  *
  * ATOMIC UPDATE: the reference's state file goes up as a single S3 PUT
  * (atomic by the store's contract, src/ingestion_lambda.py:227-232); a
  * local/HDFS file truncated in place is NOT — a crash mid-write leaves
  * a torn JSON that halts the pipeline until manual repair. So [[update]]
  * publishes through [[StateFile]]'s write-tmp-then-swap protocol
  * (round-15: Hadoop FileSystem API, crash-drilled under the hostile
  * test FS where rename is copy+delete): a crash at ANY point leaves
  * either a complete state readable directly, or a complete `.tmp` that
  * [[read]] recovers through — never a silently-wrong answer. Torn
  * bytes arriving some OTHER way (manual edit, a non-atomic copy) with
  * no readable `.tmp` still fail loudly before any extract runs.
  * Updates are `synchronized` so per-table bumps from concurrent
  * ingest gates cannot lose each other's merge (single-process writer
  * contract, same as the reference's single Lambda).
  */
final class WatermarkStore(path: String) {
  val sentinel = "1970-01-01 00:00:00.000000"

  /** Lock-free: a read racing a publish — from a sibling gate, another
    * instance on the same path or another process — is settled by
    * [[StateFile.read]]'s bounded re-reads. */
  def read(): Map[String, String] =
    StateFile.read(path) { txt =>
      // A blank file is "no state yet" (same as absent); anything else
      // must parse exactly — malformed state fails loudly, never silently.
      if (txt.trim.isEmpty) Map.empty[String, String] else MiniJson.parseFlat(txt)
    }.getOrElse(Map.empty)

  def watermark(table: String): String = read().getOrElse(table, sentinel)

  def update(updates: Map[String, String]): Unit = this.synchronized {
    StateFile.write(path, MiniJson.renderFlat(read() ++ updates))
  }
}

/** Incremental source extraction (reference S1/S2/P2/P3). The source is
  * any DataFrame-able relation — a JDBC table in production, a local
  * parquet/CSV stand-in in tests. Predicate and projection both push down
  * to the source scan (JDBC: into the remote SQL; files: into the reader).
  */
object Extract {

  /** S1: projected + predicated incremental read: rows strictly newer than
    * the watermark, pruned to the ingestion projection. */
  def increment(source: DataFrame, projection: Seq[String], watermark: String): DataFrame =
    source
      .filter(col("last_updated") > to_timestamp(lit(watermark)))
      .select(projection.map(col): _*)

  /** S2: max-watermark probe — one aggregated value, pushed to the scan.
    * Handles both TIMESTAMP (java.sql.Timestamp) and TIMESTAMP_NTZ
    * (java.time.LocalDateTime) source columns. */
  def maxLastUpdated(source: DataFrame): Option[java.sql.Timestamp] =
    source.agg(max(col("last_updated"))).collect()(0).get(0) match {
      case null => None
      case t: java.sql.Timestamp => Some(t)
      case ldt: java.time.LocalDateTime => Some(java.sql.Timestamp.valueOf(ldt))
      case other => sys.error(s"unsupported last_updated type: ${other.getClass}")
    }

  /** JDBC production reader (reference S1 against Postgres). Untested in
    * this zero-egress environment; the options mirror the reference's
    * behavior (pushdown via dbtable subquery, explicit projection). */
  def jdbc(spark: SparkSession, url: String, table: String, props: java.util.Properties): DataFrame =
    spark.read.jdbc(url, table, props)

  /** JDBC full-refresh sink (reference S10: overwrite + 1000-row
    * batches) — CRASH-ATOMIC, the JDBC twin of `commitSnapshot`'s
    * stage-then-rename. The reference's `to_sql(mode="overwrite")`
    * (src/warehousing_lambda.py:64-71) truncates the live table before
    * inserting, so a crash mid-load leaves the warehouse truncated or
    * partial until the next run; here the full refresh lands in
    * `<table>__stage` first ([[writeJdbcStage]]) and the live table is
    * replaced only by [[publishJdbcStage]]'s single DROP+RENAME
    * transaction (DDL is transactional in both Derby and Postgres, so
    * readers see the old table until the commit instant and a crash
    * anywhere rolls back to it). A crash between the halves leaves a
    * stale stage that the next attempt's overwrite simply replaces. */
  def jdbcOverwrite(df: DataFrame, url: String, table: String, props: java.util.Properties): Unit = {
    writeJdbcStage(df, url, table, props)
    publishJdbcStage(url, table, props)
  }

  /** The staging half of [[jdbcOverwrite]]: write the refresh into
    * `<table>__stage` (drop/recreate, so the stage schema always matches
    * the frame). The live table is untouched. */
  def writeJdbcStage(df: DataFrame, url: String, table: String, props: java.util.Properties): Unit =
    df.write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("batchsize", 1000)
      .jdbc(url, stageName(table), props)

  /** The commit half of [[jdbcOverwrite]]: one transaction that drops the
    * live table (if present) and renames the fully-written stage into its
    * place. Fails loudly if the stage is missing (nothing staged = nothing
    * to publish — never silently keep serving a half-replaced state). */
  def publishJdbcStage(url: String, table: String, props: java.util.Properties): Unit = {
    val conn = connect(url, props)
    try {
      conn.setAutoCommit(false)
      val stage = resolveStoredName(conn, stageName(table)).getOrElse(
        sys.error(s"publishJdbcStage: no stage table ${stageName(table)} to publish for $table"))
      val st = conn.createStatement()
      try {
        resolveStoredName(conn, table)
          .foreach(t => st.executeUpdate(s"""DROP TABLE "$t""""))
        // The rename target inherits the stage's stored casing (Spark's
        // writer creates tables unquoted, so Derby stores them uppercase;
        // a quoted lowercase target would be invisible to unquoted reads).
        st.executeUpdate(renameSql(url, stage, stage.dropRight("__stage".length)))
        conn.commit()
      } finally st.close()
    } finally {
      // Roll back anything uncommitted before closing (an abandoned
      // transaction would otherwise turn the refusal/crash path's
      // exception into Derby's "close with active transaction" error).
      try if (!conn.getAutoCommit) conn.rollback() catch { case _: java.sql.SQLException => () }
      conn.close()
    }
  }

  /** Incremental JDBC publish — the staged MERGE the merge path pairs
    * with (`MergeRunner`'s commit message named it; the full-refresh
    * [[jdbcOverwrite]] stays the reference-faithful mode,
    * `src/warehousing_lambda.py:64-71`). The increment stages into
    * `<table>__stage` exactly like the refresh path, then ONE
    * transaction deletes the live rows the increment replaces (by
    * `pk`) and inserts the staged rows; the stage is dropped inside
    * the same transaction. DELETE+INSERT-in-one-transaction is the
    * dialect-portable MERGE: Derby has no MERGE statement and
    * Postgres' INSERT..ON CONFLICT requires a unique index the
    * refresh-created tables don't carry — the end state is identical,
    * and the envelope (stage outside, mutate inside, single commit)
    * matches the refresh path's crash contract. Idempotent under
    * at-least-once replay: re-upserting the same rows deletes and
    * re-inserts them; a crash after the stage write is healed by the
    * stage's own mode(Overwrite). A FIRST publish (no live table)
    * falls back to the rename commit so the writer's dialect creates
    * the schema. The INSERT names its columns explicitly (the stage's
    * own column list, read from JDBC metadata): a live table created by
    * an older build whose builder later REORDERED two same-typed
    * columns would accept a positional `SELECT *` silently misaligned —
    * named columns make any drift either correct (pure reorder) or a
    * loud unknown-column error, never a silent swap. */
  def jdbcUpsert(df: DataFrame, url: String, table: String, pk: String,
      props: java.util.Properties): Unit = {
    writeJdbcStage(df, url, table, props)
    publishJdbcUpsert(url, table, pk, props)
  }

  /** The commit half of [[jdbcUpsert]] (separable so the Postgres
    * branch can be driven through the recording driver, exactly like
    * [[publishJdbcStage]] in `JdbcDialectSpec`). */
  def publishJdbcUpsert(url: String, table: String, pk: String,
      props: java.util.Properties): Unit = {
    val conn = connect(url, props)
    try {
      conn.setAutoCommit(false)
      val stage = resolveStoredName(conn, stageName(table)).getOrElse(
        sys.error(s"jdbcUpsert: no stage table ${stageName(table)} for $table"))
      val st = conn.createStatement()
      try {
        resolveStoredName(conn, table) match {
          case None =>
            st.executeUpdate(renameSql(url, stage, stage.dropRight("__stage".length)))
          case Some(live) =>
            val cols = storedColumns(conn, stage).map(c => s""""$c"""").mkString(", ")
            st.executeUpdate(
              s"""DELETE FROM "$live" WHERE "$pk" IN (SELECT "$pk" FROM "$stage")""")
            st.executeUpdate(s"""INSERT INTO "$live" ($cols) SELECT $cols FROM "$stage"""")
            st.executeUpdate(s"""DROP TABLE "$stage"""")
        }
        conn.commit()
      } finally st.close()
    } finally {
      try if (!conn.getAutoCommit) conn.rollback() catch { case _: java.sql.SQLException => () }
      conn.close()
    }
  }

  private def stageName(table: String): String = s"${table}__stage"

  /** Raw JDBC connection using the same driver/credential properties the
    * Spark writer gets (the `driver` property is loaded explicitly — the
    * DriverManager only auto-discovers drivers on its own classpath). */
  private def connect(url: String, props: java.util.Properties): java.sql.Connection = {
    Option(props.getProperty("driver")).foreach(Class.forName)
    java.sql.DriverManager.getConnection(url, props)
  }

  /** The stored column names of `table` in ordinal order, as the
    * database cased them — the named-column INSERT in
    * [[publishJdbcUpsert]] quotes these verbatim. */
  private def storedColumns(conn: java.sql.Connection, table: String): Seq[String] = {
    val rs = conn.getMetaData.getColumns(null, null, table, null)
    val out = Seq.newBuilder[(Int, String)]
    try while (rs.next())
      out += ((rs.getInt("ORDINAL_POSITION"), rs.getString("COLUMN_NAME")))
    finally rs.close()
    val cols = out.result().sortBy(_._1).map(_._2)
    require(cols.nonEmpty, s"jdbcUpsert: no columns found for stage table $table")
    cols
  }

  /** The stored identifier for `table`, however the creating writer cased
    * it (Spark's dialects quote identifiers — lowercase survives — while
    * hand-run DDL is usually unquoted — uppercased by Derby, lowercased
    * by Postgres). None when no variant exists. */
  private def resolveStoredName(conn: java.sql.Connection, table: String): Option[String] = {
    val md = conn.getMetaData
    Seq(table, table.toUpperCase, table.toLowerCase).distinct.find { t =>
      val rs = md.getTables(null, null, t, null)
      try rs.next() finally rs.close()
    }
  }

  /** Rename DDL differs by dialect: Derby spells it `RENAME TABLE`,
    * Postgres (and most others) `ALTER TABLE … RENAME TO`. */
  private def renameSql(url: String, from: String, to: String): String =
    if (url.startsWith("jdbc:derby")) s"""RENAME TABLE "$from" TO "$to""""
    else s"""ALTER TABLE "$from" RENAME TO "$to""""
}
