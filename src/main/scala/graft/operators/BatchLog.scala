package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Batch-keyed commit discipline for the append-only index logs
  * ([[SignatureIndex]], [[CosineDedupIndex]], [[ClusterLabels]],
  * [[AnnIndex]], [[PqIndex]]).
  *
  * A bare `mode("append")` is crash-atomic at the FILE level (Spark's
  * committer publishes part files only on task/job commit) but not at
  * the BATCH level: a driver that dies after a batch's append committed
  * and then REPLAYS the batch appends the same rows twice — duplicate
  * signature/code rows inflate candidates and stats, duplicate label
  * rows burn batch numbers. The star landing log solved exactly this
  * with deterministic batch-keyed file names
  * ([[graft.sources.LandingLog.writeIncrement]]); this gives the index
  * logs the same discipline: every append lands in its own
  * `batch_key=<key>/` partition directory, written with
  * `mode("overwrite")`, so a replay of the same key REPLACES its own
  * files instead of double-appending — idempotent by construction when
  * the caller supplies the landing batch id as the key. Without a
  * caller key a fresh auto-numbered key is minted (`a00001`, …): the
  * pre-change behavior, explicitly not replay-idempotent.
  *
  * The key directories double as partition discovery input: readers see
  * one extra `batch_key` string column (values are prefixed so type
  * inference can never produce a non-string) and drop it. Prior batch
  * directories stay byte-untouched on append — the O(increment)
  * fingerprint contract the index specs pin.
  *
  * A `_graft_batched_v1` marker file versions the layout: a root
  * holding data files but no marker predates this format (flat appends;
  * for [[SignatureIndex]] also pre-sorted-signature rows, whose unsorted
  * arrays would silently break the two-pointer intersect kernel) and is
  * REFUSED loudly — such a root is rebuilt from scratch. All probes
  * and moves use the Hadoop FileSystem API so the same code runs on
  * HDFS/object-store roots, not just local disk.
  */
private[graft] object BatchLog {

  val markerName = "_graft_batched_v1"

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Thread-local RESOLUTION snapshot, opened together with
    * [[withManifestSnapshot]]: inside a read-only section every
    * logical→physical resolution of the same table dir answers from the
    * first probe — zero extra FS ops AND one consistent version across
    * the section's sub-reads (a swap committing mid-section cannot give
    * the postings read version n and the signatures read version n+1).
    * Same soundness argument as the manifest snapshot: fold state is
    * immutable per version, and a read-only section plans against one
    * listing snapshot anyway. */
  private val resolveSnapshot =
    new java.lang.ThreadLocal[scala.collection.mutable.Map[String, String]]()

  /** The physical directory holding `path`'s CURRENT committed state —
    * [[VersionedState.resolve]], snapshot-cached inside read-only
    * sections. Every public entry point resolves through this, so the
    * versioned layout a table dir gets at its first compaction/refreeze
    * commit is transparent to operators: appends land inside
    * the current version, reads plan against it, and superseded
    * versions linger for in-flight readers until grace-GC. */
  def resolve(spark: SparkSession, path: String): String =
    resolveSnapshot.get() match {
      case null => VersionedState.resolve(spark, path)
      case snap => snap.getOrElseUpdate(path, VersionedState.resolve(spark, path))
    }

  /** Caller keys become directory-safe, always-string partition values:
    * a `b` prefix guarantees partition-type inference reads them back as
    * STRING whatever the key looks like (a bare `2026...` would infer
    * numeric and a mixed log would then conflict). Auto keys use the
    * disjoint `a` prefix. The escape is INJECTIVE — each unsafe char
    * (including `_`, the escape introducer) becomes `_` + its fixed
    * 4-hex-digit code point, so two distinct caller keys can never map
    * to one directory (a lossy replacement would let a later batch
    * silently OVERWRITE an earlier batch's rows through the
    * replay-idempotent `mode(overwrite)`). */
  def sanitize(key: String): String =
    "b" + key.flatMap { c =>
      if (c != '_' && (c.isDigit || (c >= 'A' && c <= 'Z') ||
        (c >= 'a' && c <= 'z') || c == '.' || c == '-')) c.toString
      else f"_${c.toInt}%04x"
    }

  private def dirFor(path: String, key: String): String =
    s"$path/batch_key=$key"

  /** Public form of the batch directory layout, for operators that
    * stow per-batch METADATA sidecars inside a batch's own directory
    * (underscore-prefixed names — invisible to parquet readers — so
    * they ride the directory's commit/replace/compact lifecycle).
    * NOTE: resolution-free — callers on a possibly-versioned LOGICAL
    * table dir use [[dirOfResolved]]; this form is for paths that are
    * already physical (staged tmps, dirs from a resolved listing). */
  def dirOf(path: String, key: String): String = dirFor(path, key)

  /** [[dirOf]] through the version pointer — the batch directory as a
    * reader/writer of the CURRENT state sees it. */
  def dirOfResolved(spark: SparkSession, path: String, key: String): String =
    dirFor(resolve(spark, path), key)

  /** [[keys]] restricted to directories holding committed data files —
    * the batches a read actually sees (a crashed write's
    * `_temporary`-only directory is excluded, exactly as parquet's
    * FileIndex excludes it). A fold directory's manifest answers
    * without the recursive walk (it lists ≥1 committed file by
    * construction). */
  def committedKeys(spark: SparkSession, path: String): Seq[String] = {
    val rp = resolve(spark, path)
    keys(spark, path).filter { k =>
      val d = dirFor(rp, k)
      readFoldManifest(spark, d).map(_.files.nonEmpty)
        .getOrElse(hasCommittedFiles(spark, d))
    }
  }

  // ---------------------------------------------------- row-count sidecars

  private val countName = "_row_count.json"

  /** Row-count sidecar, written into a batch directory right after its
    * data commit, so LOG-level row counts become driver-side file reads
    * ([[committedRowCount]]) instead of a footer job over every
    * directory — the job the x100 loop measured growing linearly with
    * batch count in the health poll. Best-effort: a failed or crashed
    * sidecar write only costs callers their fast path. The count comes
    * from the WRITE ITSELF ([[writeCounted]]'s `observe` — zero extra
    * jobs, zero re-read); this read-back count (one footer-metadata job
    * over the directory) is only the fallback for the rare observed-
    * metric failure. r19 optimization: the read-back used to run after
    * EVERY append/fold write — at fold scale that re-reads the entire
    * just-written fold to learn a number the write already knew. */
  private def writeRowCount(spark: SparkSession, dir: String): Unit =
    try writeRowCountValue(spark, dir, spark.read.parquet(dir).count())
    catch {
      case e: Exception =>
        System.err.println(
          s"[graft] BatchLog: row-count sidecar for $dir failed ($e); counts fall back to footers")
    }

  private def writeRowCountValue(spark: SparkSession, dir: String, n: Long): Unit = {
    val p = new HPath(dir, countName)
    val out = fsOf(spark, dir).create(p, true)
    try out.write(
      (graft.sources.MiniJson.renderFlat(Map("rows" -> n.toString)) + "\n")
        .getBytes("UTF-8"))
    finally out.close()
  }

  /** The one parquet-write road for appends and fold stages: lands `df`
    * under `dir` with `mode(overwrite)` and stows the row-count sidecar
    * from the write's own observed metric — the count the read-back job
    * used to recompute (`numOutputRows` equivalent via `observe`, exact:
    * accumulator updates apply once per successful task, and the write
    * is the plan's only action). Falls back to the footer-count job only
    * if the observed metric is unavailable (never expected in batch). */
  private def writeCounted(df: DataFrame, dir: String,
      partitionBy: Seq[String], writeOptions: Map[String, String]): Unit = {
    import org.apache.spark.sql.functions.{count, lit}
    val spark = df.sparkSession
    val obs = org.apache.spark.sql.Observation()
    val w = df.observe(obs, count(lit(1)).as("rows"))
      .write.mode("overwrite").options(writeOptions)
    (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*)).parquet(dir)
    (try Some(obs.get("rows").asInstanceOf[Long])
     catch {
       case e: Exception =>
         System.err.println(
           s"[graft] BatchLog: observed row count for $dir unavailable ($e); falling back to a footer count")
         None
     }) match {
      case Some(n) =>
        try writeRowCountValue(spark, dir, n)
        catch {
          case e: Exception => System.err.println(
            s"[graft] BatchLog: row-count sidecar for $dir failed ($e); counts fall back to footers")
        }
      case None => writeRowCount(spark, dir)
    }
  }

  private def readRowCount(spark: SparkSession, dir: String): Option[Long] = {
    val p = new HPath(dir, countName)
    val fs = fsOf(spark, dir)
    try {
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val s = try new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
        finally in.close()
        Some(graft.sources.MiniJson.parseFlat(s)("rows").toLong)
      }
    } catch {
      // Torn or garbled (crash mid-write): slower, never wrong — the
      // caller falls back to the footer count; the next replay or
      // compaction of this directory rewrites the sidecar.
      case e: Exception =>
        System.err.println(
          s"[graft] BatchLog: unreadable row-count sidecar in $dir ($e); falling back to footers")
        None
    }
  }

  /** Total committed rows of the log from per-directory sidecars —
    * `Some` iff EVERY committed directory carries a readable one
    * (pre-sidecar dirs and crashed writes return `None`, telling the
    * caller to run the footer count). O(#directories) driver-side file
    * reads, no Spark job. */
  /** The committed row count of ONE batch directory, from its sidecar
    * (None on a sidecar gap) — driver-side file read, zero Spark jobs. */
  def rowCountOf(spark: SparkSession, path: String, key: String): Option[Long] =
    readRowCount(spark, dirFor(resolve(spark, path), key))

  def committedRowCount(spark: SparkSession, path: String): Option[Long] = {
    val rp = resolve(spark, path)
    val ks = committedKeys(spark, path)
    val counts = ks.flatMap(k => readRowCount(spark, dirFor(rp, k)))
    if (counts.size == ks.size) Some(counts.sum) else None
  }

  /** Existing batch keys (directory names after `batch_key=`), committed
    * or not — the namespace [[nextAutoKey]] must avoid. */
  def keys(spark: SparkSession, path: String): Seq[String] = {
    val fs = fsOf(spark, path)
    val p = new HPath(resolve(spark, path))
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith("batch_key="))
      .map(_.stripPrefix("batch_key="))
      .sorted
  }

  /** True when `path` (pruned of hidden names) holds at least one
    * COMMITTED data file. A directory containing only `_temporary`
    * task-attempt state — a write that died before job commit — does
    * not count: parquet's FileIndex skips hidden names, so reading a
    * log whose only batch directory is such a partial throws
    * "unable to infer schema" instead of seeing an empty log. */
  def hasCommittedFiles(spark: SparkSession, path: String): Boolean = {
    val fs = fsOf(spark, path)
    def visit(p: HPath): Boolean = {
      val st = fs.listStatus(p)
      st.exists(s => s.isFile && !hidden(s.getPath.getName)) ||
        st.exists(s => s.isDirectory && !hidden(s.getPath.getName) && visit(s.getPath))
    }
    val p = new HPath(path)
    // A concurrent deletion between the exists probe and the walk (or
    // mid-walk) means the answer is simply "no committed files here".
    try fs.exists(p) && visit(p)
    catch { case _: java.io.FileNotFoundException => false }
  }

  private def hidden(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".")

  /** True once at least one batch directory holds committed data — the
    * "log has ever been written" probe. An only-marker root, or one
    * whose only batch directory is an uncommitted partial (a crash
    * mid-first-append), is still empty: the replaying writer repairs
    * the partial via its own `mode(overwrite)`, and readers must not
    * trip over it meanwhile. */
  def hasData(spark: SparkSession, path: String): Boolean = {
    val rp = resolve(spark, path)
    keys(spark, path).exists { k =>
      val d = dirFor(rp, k)
      readFoldManifest(spark, d).map(_.files.nonEmpty)
        .getOrElse(hasCommittedFiles(spark, d))
    }
  }

  private def nextAutoKey(spark: SparkSession, path: String): String = {
    // Consider RETIRED keys too: compaction folds auto-keyed batches
    // away and records them in the ledger — re-minting a retired number
    // would make the next auto append a silent no-op.
    val n = (keys(spark, path) ++ retiredKeys(spark, path))
      .filter(k => k.startsWith("a") && k.drop(1).forall(_.isDigit))
      .map(_.drop(1).toLong)
    f"a${(n.maxOption.getOrElse(0L)) + 1}%05d"
  }

  /** Refuse a legacy (pre-marker) root on any read/append path: data
    * files at the top level mean flat appends from an older build, which
    * this code would misread (and, for signature logs, silently corrupt
    * pair detection through the sorted-input intersect kernel). */
  def requireFormat(spark: SparkSession, path: String, op: String): Unit = {
    val fs = fsOf(spark, path)
    val p = new HPath(resolve(spark, path))
    if (fs.exists(p) && !fs.exists(new HPath(p, markerName))) {
      val legacy = fs.listStatus(p).toSeq.map(_.getPath.getName)
        .filterNot(n => n.startsWith("_") || n.startsWith(".") || n.startsWith("batch_key="))
      require(legacy.isEmpty,
        s"$op: $path holds a legacy (unversioned) index layout " +
          s"(${legacy.take(3).mkString(", ")}…). Its rows predate the " +
          "batch-keyed format (and build-time-sorted signatures); rebuild " +
          "the index from scratch — reading it in place would silently " +
          "corrupt results.")
    }
  }

  private def writeMarker(spark: SparkSession, path: String): Unit = {
    val fs = fsOf(spark, path)
    fs.mkdirs(new HPath(path))
    val m = new HPath(path, markerName)
    if (!fs.exists(m)) fs.create(m, true).close()
  }

  /** The sanitized on-disk key a caller key (or a fresh auto key) maps
    * to — split out so an operator that must know its key BEFORE the
    * append (to exclude its own prior rows on a replay) resolves once
    * and hands the result to [[appendResolved]]. */
  def resolveKey(spark: SparkSession, path: String, batchKey: Option[String]): String =
    batchKey.map(sanitize).getOrElse(nextAutoKey(spark, path))

  /** Append one batch: `df` lands under `path/batch_key=<key>/` with
    * `mode("overwrite")` — a replay of the same caller key replaces its
    * own directory (idempotent); `None` mints a fresh auto key. Returns
    * the sanitized key actually used. */
  def append(df: DataFrame, path: String, batchKey: Option[String],
      op: String, partitionBy: Seq[String] = Nil): String = {
    val key = resolveKey(df.sparkSession, path, batchKey)
    appendResolved(df, path, key, op, partitionBy)
    key
  }

  /** [[append]] with a key already put through [[resolveKey]]. A key the
    * RETIRED-KEYS LEDGER lists is a no-op: its batch committed before a
    * compaction/refreeze folded it into the rewritten snapshot, so its
    * rows are already present — re-writing the batch directory would
    * DOUBLE-APPEND them beside the fold (the exact corruption the
    * batch-key mechanism exists to prevent, resurfacing across
    * maintenance). Returns whether the batch directory was WRITTEN
    * (false = retired no-op), so callers that stow layout sidecars
    * beside the data can gate on it instead of assuming. `writeOptions`
    * ride the parquet write (e.g. [[pointLookupWriteOptions]] for an
    * id-sorted batch that probe reads prune by row-group min/max). */
  def appendResolved(df: DataFrame, path: String, key: String,
      op: String, partitionBy: Seq[String] = Nil,
      writeOptions: Map[String, String] = Map.empty): Boolean = {
    val spark = df.sparkSession
    requireFormat(spark, path, op)
    if (retiredKeys(spark, path).contains(key)) return false
    // Appends land INSIDE the current version of a versioned root —
    // append-only additions to the committed state (readers' earlier
    // listing snapshots are never invalidated); only a swap commit
    // advances the version pointer.
    val rp = resolve(spark, path)
    writeMarker(spark, rp)
    writeCounted(df, dirFor(rp, key), partitionBy, writeOptions)
    true
  }

  /** Batch keys whose directory carries a `<partCol>=` partition level —
    * fold-time layouts ([[graft.operators.CosineDedupIndex]] partitions
    * its compaction/refreeze folds by a bucket-group column so probe
    * reads can skip directories). Committed keys only. */
  def partitionedKeys(spark: SparkSession, path: String, partCol: String): Set[String] = {
    val fs = fsOf(spark, path)
    val rp = resolve(spark, path)
    // One manifest consult per key answers BOTH the committed filter
    // and the layout question (was committedKeys + a second consult).
    keys(spark, path).filter { k =>
      val d = dirFor(rp, k)
      readFoldManifest(spark, d) match {
        case Some(m) => m.files.nonEmpty && m.partCols.contains(partCol)
        case None => hasCommittedFiles(spark, d) &&
          fs.listStatus(new HPath(d)).exists(s =>
            s.isDirectory && s.getPath.getName.startsWith(s"$partCol="))
      }
    }.toSet
  }

  /** Read the given keys KEEPING their partition columns (the caller
    * filters on them before dropping); `batch_key` dropped. The keys
    * must share one layout — mixing partitioned and flat directories in
    * one parquet read is a discovery error. */
  def readKeysPartitioned(spark: SparkSession, path: String, ks: Seq[String],
      op: String): DataFrame = readKeysWithKey(spark, path, ks, op).drop("batch_key")

  /** Read the whole log (all batches), `batch_key` dropped — the raw
    * row stream a keep-last fold or tombstone exclusion runs over.
    * Mixed-layout safe: when SOME batch directories carry a fold-time
    * partition level (`<col>=` subdirectories) and others are flat, the
    * two subsets are read separately and unioned with the fold-layout
    * partition columns dropped — they are a read-pruning artifact of
    * the fold, not data (a uniform log keeps its partition columns,
    * e.g. AnnIndex's `cell`). */
  def read(spark: SparkSession, path: String, op: String): DataFrame = {
    requireFormat(spark, path, op)
    val fs = fsOf(spark, path)
    val rp = resolve(spark, path)
    // One manifest consult per key, shared by the committed filter and
    // the layout split below (was two-three consults per key: the r15
    // advisory's double read, a metadata round-trip tax on object
    // stores).
    val mans = keys(spark, path)
      .map(k => k -> readFoldManifest(spark, dirFor(rp, k))).toMap
    val ks = mans.keys.toSeq.sorted.filter { k =>
      mans(k).map(_.files.nonEmpty)
        .getOrElse(hasCommittedFiles(spark, dirFor(rp, k)))
    }
    def partColsOf(k: String): Set[String] =
      mans(k).map(_.partCols.toSet).getOrElse(
        fs.listStatus(new HPath(dirFor(rp, k))).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.contains("="))
          .map(_.getPath.getName.takeWhile(_ != '=')).toSet)
    val byLayout = ks.groupBy(partColsOf)
    // The one-listing whole-tree read only when NO directory carries a
    // manifest (increment-only logs): with a manifested fold in the
    // log, the split read below serves the fold's (many) group files
    // listing-free and only lists the flat increments.
    if (byLayout.size <= 1 && mans.values.forall(_.isEmpty))
      spark.read.parquet(rp).drop("batch_key")
    else {
      val common = byLayout.keys.reduce(_ & _)
      byLayout.toSeq.sortBy { case (cols, _) => (cols.size, cols.toSeq.sorted.mkString(",")) }
        .map { case (cols, group) =>
          // Within a layout group, manifested directories read through
          // the index and the rest through one listing read; both keep
          // the group's partition columns until the non-common drop.
          val (withM, without) = group.sorted.partition(k => mans(k).isDefined)
          val es = withM.map(k => k -> mans(k).get)
          // Manifested dirs must also agree on schemas to share one
          // index frame; disagreement demotes them to the listing read.
          val uniform = es.nonEmpty &&
            es.map(_._2.partCols).distinct.size == 1 &&
            es.map(_._2.dataSchema).distinct.size == 1 &&
            es.map(_._2.partSchema).distinct.size == 1
          val listedKeys = if (uniform) without else group.sorted
          val subs =
            (if (uniform) Seq(ManifestFileIndex.frame(spark, rp, es).drop("batch_key")) else Nil) ++
            (if (listedKeys.nonEmpty) Seq(readKeysListed(spark, rp, listedKeys, op)) else Nil)
          (cols -- common).foldLeft(subs.reduce(_ unionByName _))(_ drop _)
        }.reduce(_ unionByName _)
    }
  }

  /** The plain listing-backed restricted read (no manifest attempt) —
    * [[read]]'s fallback half for directories without manifests.
    * `path` must already be PHYSICAL (resolved). */
  private def readKeysListed(spark: SparkSession, path: String, ks: Seq[String],
      op: String): DataFrame = {
    require(ks.nonEmpty, s"$op: readKeysListed needs at least one key")
    spark.read.option("basePath", path)
      .parquet(ks.map(k => dirFor(path, k)): _*)
      .drop("batch_key")
  }

  /** Read ONLY the given committed batch keys' directories (`batch_key`
    * dropped) — the restricted form of [[read]] for probe paths that
    * have PROVEN the other batches irrelevant (callers own that proof;
    * this is mechanism). `basePath` keeps partition discovery identical
    * to the full read, so schemas agree. */
  def readKeys(spark: SparkSession, path: String, ks: Seq[String],
      op: String): DataFrame = readKeysWithKey(spark, path, ks, op).drop("batch_key")

  /** [[readKeys]] KEEPING `batch_key` (and any fold-layout partition
    * columns — the caller filters on them before dropping): for probe
    * paths that use the log as a per-batch summary AND prune within a
    * fold's partition level (e.g. [[graft.operators.SignatureIndex]]
    * treating the df log as the batch-level inverted index). The given
    * keys must share one directory layout (split by [[partitionedKeys]]
    * first — mixing layouts in one parquet read is a discovery
    * error). */
  def readKeysWithKey(spark: SparkSession, path: String, ks: Seq[String],
      op: String): DataFrame = {
    requireFormat(spark, path, op)
    require(ks.nonEmpty, s"$op: readKeysWithKey needs at least one key")
    val rp = resolve(spark, path)
    // Manifest-backed when EVERY requested directory carries one
    // (fold dirs written by this release): scan planning then does
    // zero listings and zero footer reads. Any gap → the listing read,
    // byte-identical output either way (FoldManifestSpec pins it).
    manifestsFor(spark, rp, ks) match {
      case Some(entries) => ManifestFileIndex.frame(spark, rp, entries)
      case None =>
        spark.read.option("basePath", rp)
          .parquet(ks.map(k => dirFor(rp, k)): _*)
    }
  }

  // ------------------------------------------- fold-file manifests

  /** `_fold_manifest.json`, written into a FOLD batch directory in the
    * same transaction as its data (inside the staged tmp for
    * compaction/refreeze rewrites — it rides the atomic swap; right
    * after the data commit for rebuild-written derived dirs): the
    * directory's complete data-file list (relative path, length,
    * mtime) plus the data schema (one footer, read at write time) and
    * the fold's partition-column schema. Fold directories are
    * immutable after commit (fold keys are auto-minted, never
    * replayed; a rewrite replaces the whole directory, manifest
    * included), so the manifest can be TRUSTED by every later read:
    * [[ManifestFileIndex]] plans scans from it with zero listings and
    * zero schema-inference footer reads, [[committedKeys]] /
    * [[partitionedKeys]] / [[hasData]] answer from it without walking.
    * The measured motivation is SCALEBENCH_r14_x100loop_part2's
    * +~4 s/batch post-compaction listing tax (~280 fold files listed
    * per log per saturated probe — and LIST is the cost center on
    * object stores, where this protocol must eventually run).
    *
    * Best-effort on write, verified-or-ignored on read: a missing,
    * torn, or unsupported manifest (non-int partition values, mixed
    * layouts) falls back to the listing read — slower, never wrong.
    * `graft.fold.manifest.disable=true` forces the fallback everywhere
    * (the bench contrast arm). */
  val foldManifestName = "_fold_manifest.json"

  /** Parsed manifest: partition columns (possibly empty), the two
    * schemas, and the (relPath, length, mtime) file list. */
  final case class FoldManifest(partCols: Seq[String],
      dataSchema: org.apache.spark.sql.types.StructType,
      partSchema: org.apache.spark.sql.types.StructType,
      files: Seq[(String, Long, Long)])

  private def manifestReadDisabled: Boolean =
    java.lang.Boolean.getBoolean("graft.fold.manifest.disable")

  /** Driver-side cache of PARSED manifests, keyed by the manifest
    * file's qualified path and validated on every consult by one
    * `getFileStatus` against the recorded (length, mtime) — so a
    * consult costs ONE metadata round-trip instead of exists + open +
    * GET + parse (the r15 advisory: `read` alone re-opened every
    * manifest 2–3 times, and each `committedKeys`/`hasData`/
    * `partitionedKeys` call re-paid exists+open per key). Staleness is
    * prevented by construction PLUS one granularity guard: fold
    * directories are immutable after commit, and the only way a
    * manifest at a given path can ever change (a root deleted and
    * rebuilt from scratch, a crashed copy-based swap re-run by
    * recovery) rewrites the manifest FILE, changing its stat — the
    * consult then misses and re-reads. The residual window is the
    * STORE'S mtime granularity: object stores report LastModified at
    * 1-second ticks, so a same-length rewrite inside one tick stats
    * identically to the cached entry. [[mtimeTrustLagMs]] closes it —
    * a validation hit whose mtime is within that lag of "now" is
    * treated as a miss (re-read; cheap, the file was just written),
    * and any rewrite AFTER the lag necessarily lands a strictly newer
    * mtime, which the stat check catches. A validation miss, parse
    * failure, or deleted manifest drops the entry. Bounded LRU so a
    * long-lived driver over many roots cannot grow without bound. */
  private val manifestCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, (Long, Long, FoldManifest)](
          64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, (Long, Long, FoldManifest)]): Boolean =
          size() > 8192
      })

  /** Do not TRUST a (length, mtime) cache validation whose mtime is
    * within this lag of the driver clock: inside the lag a same-tick
    * same-length rewrite is indistinguishable from the cached write on
    * coarse-mtime stores (S3 LastModified is whole seconds), so the
    * consult re-reads instead. 2× the coarsest common granularity,
    * plus slack for driver/store clock skew. Overridable for tests and
    * for stores with documented coarser clocks. */
  private[graft] def mtimeTrustLagMs: Long =
    java.lang.Long.getLong("graft.fold.manifest.mtimeTrustLagMs", 5000L)

  /** Write the manifest for a just-written fold directory (one
    * recursive listing + one footer read, at WRITE time — the whole
    * point is that no read pays them again). Skips (leaving reads on
    * the listing path) when the directory is empty, mixes partition
    * layouts, or carries non-int partition values; never throws. */
  def writeFoldManifest(spark: SparkSession, batchDir: String): Unit = try {
    val fs = fsOf(spark, batchDir)
    val base = fs.makeQualified(new HPath(batchDir))
    def walk(p: HPath): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap { s =>
        if (hidden(s.getPath.getName)) Nil
        else if (s.isDirectory) walk(s.getPath)
        else Seq(s)
      }
    val sts = walk(base)
    if (sts.isEmpty) return
    val baseStr = base.toString + "/"
    val entries = sts.map { s =>
      val q = fs.makeQualified(s.getPath).toString
      require(q.startsWith(baseStr), s"listed file $q outside $baseStr")
      (q.stripPrefix(baseStr), s.getLen, s.getModificationTime)
    }.sortBy(_._1)
    // Uniform partition levels with int-parseable values only (the
    // fold layouts in use: hgrp/dgrp/pgrp group ids, AnnIndex cells).
    // Partition TYPE inference must agree with what a listing read
    // would infer, so only the plain-int case (no leading zeros, fits
    // an Int) is declared; anything else skips the manifest.
    val colSeqs = entries.map(_._1.split('/').init.toSeq.map(_.takeWhile(_ != '=')))
    if (colSeqs.distinct.size != 1) return
    val partCols = colSeqs.head
    val vals = entries.flatMap(_._1.split('/').init.toSeq.map(_.dropWhile(_ != '=').drop(1)))
    val intLike = vals.forall(v => v.nonEmpty && v.forall(_.isDigit) &&
      (v == "0" || !v.startsWith("0")) && scala.util.Try(v.toInt).isSuccess)
    if (partCols.nonEmpty && !intLike) return
    // Data schema from ONE real footer (not the writer's DataFrame
    // schema) so it is bit-identical to what the listing read's
    // inference would produce — nullability included.
    val dataSchema = spark.read.parquet(new HPath(base, entries.head._1).toString).schema
    val partSchema = org.apache.spark.sql.types.StructType(partCols.map(c =>
      org.apache.spark.sql.types.StructField(c,
        org.apache.spark.sql.types.IntegerType, nullable = true)))
    val body = graft.sources.MiniJson.renderFlat(Map(
      "v" -> "1",
      "part_cols" -> partCols.mkString(","),
      "data_schema" -> dataSchema.json,
      "part_schema" -> partSchema.json,
      "files" -> entries.map(e => s"${e._1}\t${e._2}\t${e._3}").mkString("\n")))
    val out = fs.create(new HPath(base, foldManifestName), true)
    try out.write((body + "\n").getBytes("UTF-8")) finally out.close()
  } catch {
    case e: Exception =>
      System.err.println(
        s"[graft] BatchLog: fold manifest for $batchDir failed ($e); reads fall back to listings")
  }

  /** Thread-local manifest SNAPSHOT: inside [[withManifestSnapshot]],
    * repeat consults of the same directory — positive or negative —
    * cost ZERO filesystem ops (not even the validation stat). Sound
    * only for read-only sections: fold directories are immutable after
    * commit and a read-only operation plans against one listing
    * snapshot anyway, so within it the first consult's answer IS the
    * answer. Never wrap a section that writes or swaps fold
    * directories — a fresh fold would read as its own stale negative.
    *
    * A PLAIN ThreadLocal, deliberately not `DynamicVariable` (whose
    * InheritableThreadLocal backing would leak the mutable snapshot
    * map into any thread spawned while a snapshot is open — e.g. a
    * lazily-created driver pool — where it would serve forever-stale
    * answers; the r16 advisory). */
  private val manifestSnapshot = new java.lang.ThreadLocal[
    scala.collection.mutable.Map[String, Option[FoldManifest]]]()

  /** Run `body` against one manifest snapshot (see above). Nested calls
    * share the outermost snapshot. */
  def withManifestSnapshot[T](body: => T): T =
    if (manifestSnapshot.get() != null) body
    else {
      manifestSnapshot.set(
        scala.collection.mutable.Map.empty[String, Option[FoldManifest]])
      resolveSnapshot.set(scala.collection.mutable.Map.empty[String, String])
      try body finally { manifestSnapshot.remove(); resolveSnapshot.remove() }
    }

  /** Run `body` OUTSIDE any open manifest snapshot — the escape hatch
    * for a fallback path that may RUN RECOVERY (and so replace fold
    * directories) after its caller already opened a read-only
    * snapshot. Inside, consults go back to the stat-validated cache,
    * so a directory recovery just healed can never be answered from
    * the stale snapshot map (the r16 advisory on
    * `SignatureIndex.deltaPairsIndexed`'s full-scan fallback). */
  def withoutManifestSnapshot[T](body: => T): T = {
    val prev = manifestSnapshot.get()
    val prevR = resolveSnapshot.get()
    if (prev == null) body
    else {
      manifestSnapshot.remove()
      resolveSnapshot.remove()
      try body finally { manifestSnapshot.set(prev); if (prevR != null) resolveSnapshot.set(prevR) }
    }
  }

  /** The directory's manifest, or None (absent, torn, unsupported
    * shape, or the contrast switch) — None always means "use the
    * listing read", never "guess". */
  def readFoldManifest(spark: SparkSession, batchDir: String): Option[FoldManifest] = {
    if (manifestReadDisabled) return None
    manifestSnapshot.get() match {
      case null => readFoldManifestStat(spark, batchDir)
      case snap =>
        // makeQualified is client-side string work, not an RPC.
        val key = fsOf(spark, batchDir)
          .makeQualified(new HPath(batchDir, foldManifestName)).toString
        snap.getOrElseUpdate(key, readFoldManifestStat(spark, batchDir))
    }
  }

  /** The stat-validated consult behind [[readFoldManifest]]: one
    * `getFileStatus`, then the LRU-cached parse when (length, mtime)
    * match, else a full read. */
  private def readFoldManifestStat(spark: SparkSession,
      batchDir: String): Option[FoldManifest] =
    try {
      val fs = fsOf(spark, batchDir)
      val p = fs.makeQualified(new HPath(batchDir, foldManifestName))
      val st =
        try fs.getFileStatus(p)
        catch {
          case _: java.io.FileNotFoundException =>
            manifestCache.remove(p.toString); return None
        }
      manifestCache.get(p.toString) match {
        case (len, mt, m) if len == st.getLen && mt == st.getModificationTime &&
            st.getModificationTime < System.currentTimeMillis() - mtimeTrustLagMs =>
          // Trust the stat match only once the mtime is OLDER than the
          // store's clock granularity: inside that window a same-length
          // rewrite stats identically to the cached write (see the
          // cache scaladoc), so a recent hit re-reads instead.
          return Some(m)
        case _ => ()
      }
      val in = fs.open(p)
      val s = try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      finally in.close()
      val m = graft.sources.MiniJson.parseFlat(s.trim)
      if (m.getOrElse("v", "") != "1") return None
      val partCols = m("part_cols").split(',').toSeq.filter(_.nonEmpty)
      val dataSchema = org.apache.spark.sql.types.DataType.fromJson(m("data_schema"))
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      val partSchema = org.apache.spark.sql.types.DataType.fromJson(m("part_schema"))
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      if (partSchema.fields.map(_.name).toSeq != partCols ||
          partSchema.fields.exists(_.dataType != org.apache.spark.sql.types.IntegerType))
        return None
      val files = m("files").split('\n').toSeq.filter(_.nonEmpty).map { line =>
        val parts = line.split('\t')
        require(parts.length == 3, s"malformed manifest line '$line'")
        (parts(0), parts(1).toLong, parts(2).toLong)
      }
      if (files.isEmpty) None
      else {
        val fm = FoldManifest(partCols, dataSchema, partSchema, files)
        // Cache ONLY once the mtime is older than the trust lag: a parse
        // cached while its mtime tick is still current could be validated
        // by a LATER same-length rewrite inside the same tick (the stat
        // would collide, and by the next consult the mtime is old enough
        // to trust) — so no entry whose (len, mtime) could still collide
        // is ever inserted. A hot manifest just re-reads until it ages.
        if (st.getModificationTime < System.currentTimeMillis() - mtimeTrustLagMs)
          manifestCache.put(p.toString, (st.getLen, st.getModificationTime, fm))
        Some(fm)
      }
    } catch {
      case e: Exception =>
        System.err.println(
          s"[graft] BatchLog: unreadable fold manifest in $batchDir ($e); falling back to listing")
        None
    }

  /** The manifests for ALL requested keys, or None when any key lacks
    * one (or layouts/schemas disagree) — the all-or-nothing gate the
    * read helpers use before trusting [[ManifestFileIndex.frame]]. */
  private def manifestsFor(spark: SparkSession, path: String,
      ks: Seq[String]): Option[Seq[(String, FoldManifest)]] = {
    if (ks.isEmpty) return None
    val es = ks.sorted.map(k => k -> readFoldManifest(spark, dirFor(path, k)))
    if (es.exists(_._2.isEmpty)) None
    else {
      val got = es.map { case (k, m) => (k, m.get) }
      val uniform = got.map(_._2.partCols).distinct.size == 1 &&
        got.map(_._2.dataSchema).distinct.size == 1 &&
        got.map(_._2.partSchema).distinct.size == 1
      if (uniform) Some(got) else None
    }
  }

  // ------------------------------------------- fold-group sidecars

  /** Write a fold-layout group-count sidecar into a batch directory.
    * The layout SELF-DESCRIBES so a reader never derives the group
    * count from code that may have changed since the fold was written —
    * a wrong modulus would prune WRONG (silently dropped rows); an
    * unreadable sidecar just disables pruning for that directory. */
  def writeGroupsSidecar(spark: SparkSession, batchDir: String, name: String,
      g: Int): Unit = {
    val out = fsOf(spark, batchDir).create(new HPath(batchDir, name), true)
    try out.write(s"$g\n".getBytes("UTF-8")) finally out.close()
  }

  /** The group count a fold directory's sidecar declares, or None (no
    * sidecar, unreadable, or nonsensical — all of which mean "do not
    * prune this directory", never "guess"). */
  def readGroupsSidecar(spark: SparkSession, batchDir: String,
      name: String): Option[Int] =
    try {
      val p = new HPath(batchDir, name)
      val fs = fsOf(spark, batchDir)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val s = try new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
        finally in.close()
        Some(s.trim.toInt).filter(_ >= 1)
      }
    } catch { case _: Exception => None }

  // ------------------------------------------------------- retired keys

  private val retiredName = "_graft_retired_keys"

  /** Keys folded away by a past rewrite ([[stageRewrite]]) — replays of
    * these must be no-ops, and [[nextAutoKey]] must never re-mint them.
    * Stored as one sanitized key per line in a hidden ledger file that
    * travels with the log directory through the atomic swap. */
  def retiredKeys(spark: SparkSession, path: String): Set[String] = {
    val fs = fsOf(spark, path)
    val f = new HPath(resolve(spark, path), retiredName)
    if (!fs.exists(f)) Set.empty
    else {
      val in = fs.open(f)
      try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
        .split("\n").map(_.trim).filter(_.nonEmpty).toSet
      finally in.close()
    }
  }

  private def writeRetired(spark: SparkSession, path: String, ks: Set[String]): Unit =
    if (ks.nonEmpty) {
      val fs = fsOf(spark, path)
      fs.mkdirs(new HPath(path))
      val out = fs.create(new HPath(path, retiredName), true)
      try out.write(ks.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
      finally out.close()
    }

  /** Parquet row-group byte bound for point-lookup-adopted fold writes
    * (r18 pricing, SCALEBENCH_r18_pointlookup: id-sorted rows + 1 MB
    * row groups turn a pushed `In(id)` into a row-group-pruned read —
    * ×0.08 of the arrival-order bytes at k=1, corpus-independent). The
    * sort itself is the CALLER's (`sortWithinPartitions` ahead of the
    * stage call — partition-local, no extra shuffle); this option rides
    * the fold write so min/max windows stay ~1 MB instead of 128 MB. */
  def pointLookupWriteOptions: Map[String, String] =
    Map("parquet.block.size" -> (1L << 20).toString)

  private def writeFold(df: DataFrame, tmpPath: String, key: String,
      partitionBy: Seq[String], writeOptions: Map[String, String]): Unit = {
    writeCounted(df, dirFor(tmpPath, key), partitionBy, writeOptions)
    // Manifest inside the staged directory — it rides the commit swap
    // with the data, so a fold is either absent or manifest-described.
    writeFoldManifest(df.sparkSession, dirFor(tmpPath, key))
    writeMarker(df.sparkSession, tmpPath)
  }

  /** Stage a full-log REWRITE (compaction, refreeze) of the log at
    * `srcPath` into `tmpPath` — one FRESH-auto-keyed fold directory plus
    * marker plus the retirement ledger carrying every key the fold
    * absorbs (the prior ledger ∪ the keys being folded), ready for an
    * atomic swap onto the log root ([[Tombstones.commitCompaction]] or
    * the operator's own rename commit). Returns the fold's minted batch
    * key, for operators that stow layout sidecars inside the staged fold
    * directory before the swap. */
  def stageRewrite(df: DataFrame, srcPath: String, tmpPath: String,
      partitionBy: Seq[String] = Nil,
      writeOptions: Map[String, String] = Map.empty): String = {
    val spark = df.sparkSession
    // Retire exactly the keys whose files the fold's plan actually READ
    // (`df.inputFiles` — the FileIndex snapshot the scan resolved when
    // the frame was built), never a fresh directory probe. A fresh probe
    // is a TOCTOU: a batch committing between the fold's file listing
    // and the probe would be retired WITHOUT its rows being absorbed —
    // the ledger then vetoes its at-least-once replay forever (permanent
    // loss). Aligned with the plan's own listing, such a batch's
    // directory still dies in the commit swap, but its key stays
    // unretired, so the replay lands it again. (Uncommitted partials
    // fall out for free: their files are invisible to the listing.)
    val fs = fsOf(spark, srcPath)
    // Absorbed-key detection matches against the PHYSICAL current dir —
    // on a versioned root the fold's scan read files inside the
    // resolved version directory, not the logical table dir.
    val prefix = fs.makeQualified(new HPath(resolve(spark, srcPath)))
      .toString + "/batch_key="
    // From the ANALYZED plan, not Dataset.inputFiles: inputFiles walks
    // the optimized plan, where a persisted upstream frame has been
    // substituted by its InMemoryRelation — the scan (and its listing
    // snapshot) vanishes, which would misread every cached fold as
    // "read nothing". The analyzed plan keeps the original relations,
    // and each FileIndex returns the listing it resolved at read time.
    val absorbed = df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case r: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            r.location.inputFiles.toSeq
          case _ => Nil
        }
    }.flatten.toSet[String].flatMap { f =>
      // A fold frame may legitimately scan files on a DIFFERENT
      // filesystem than the log it rewrites (a refreeze corpus on the
      // lake beside an index on hostile://hdfs://...): makeQualified
      // throws Wrong-FS for those, and they can never be absorbed keys
      // — keep them unqualified, the prefix test excludes them.
      val p = new HPath(f)
      val q = scala.util.Try(fs.makeQualified(p).toString).getOrElse(f)
      if (q.startsWith(prefix)) Some(q.stripPrefix(prefix).takeWhile(_ != '/'))
      else None
    }
    // A fold that read NONE of the source's committed batches means the
    // frame's lineage does not scan the log (e.g. truncated by a
    // checkpoint) — staging it would leave every caller key unretired,
    // and their replays would double-append beside the fold. Refuse.
    require(absorbed.nonEmpty ||
      !keys(spark, srcPath).exists(k =>
        hasCommittedFiles(spark, dirFor(resolve(spark, srcPath), k))),
      s"stageRewrite: the fold frame read no files under $srcPath " +
        "(lineage truncated?) — it must be derived from the log it rewrites")
    val folded = retiredKeys(spark, srcPath) ++ absorbed
    val foldKey = nextAutoKey(spark, srcPath)
    writeFold(df, tmpPath, foldKey, partitionBy, writeOptions)
    writeRetired(spark, tmpPath, folded)
    foldKey
  }
}
