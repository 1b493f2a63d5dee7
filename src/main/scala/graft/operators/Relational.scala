package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The relational operator library — pure `DataFrame => DataFrame`
  * combinators re-expressing the reference pipeline's dataflow operators
  * (SURVEY.md §2) Spark-first. Every function is a thin declarative layer
  * over Catalyst built-ins, so predicate pushdown / column pruning / WSCG
  * apply untouched.
  *
  * Reference citations use the layout of BernadinePierre/de-final-project
  * (read-only at /root/reference).
  */
object Relational {

  /** Keep-last dedup per key (reference A2/W3: pandas
    * `drop_duplicates(subset=[pk], keep='last')`,
    * src/process_lambda.py:95,115,152,161,170,179,182,199).
    *
    * Spark reads are unordered, so "last" must be made explicit: callers
    * pass `versionCols` (e.g. ingest timestamp, in-file row id) and the row
    * with the greatest version per key wins. Ties beyond `versionCols` are
    * broken arbitrarily — pass a total order for deterministic output.
    *
    * Scale: one hash shuffle on the key; the per-key sort is local to each
    * partition. Skewed keys are handled by AQE; no global sort.
    */
  def dedupKeepLast(keys: Seq[String], versionCols: Seq[Column])(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(versionCols.map(_.desc): _*)
    df.withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1)
      .drop("__graft_rn")
  }

  /** Keep-first variant (reference A3: `drop_duplicates(keep='first')` after
    * a global sort, src/process_lambda.py:239). */
  def dedupKeepFirst(keys: Seq[String], orderCols: Seq[Column])(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols: _*)
    df.withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1)
      .drop("__graft_rn")
  }

  /** Broadcast left equi-join against a small lookup/dimension table
    * (reference J1–J5, src/process_lambda.py:121,184,260-274,319-338,386-405).
    *
    * The reference's J1/J2 are accidentally positional joins (pandas
    * RangeIndex, SURVEY.md §2.3); this implements the *intended* key join.
    *
    * Scale: `broadcast()` pins a broadcast-hash join — no shuffle of the
    * (large) left side. Dimensions here are ≤ thousands of rows; at 100 TB
    * the left side streams through executors untouched.
    */
  def lookupJoin(lookup: DataFrame, usingKeys: Seq[String], joinType: String = "left")(
      df: DataFrame): DataFrame =
    df.join(broadcast(lookup), usingKeys, joinType)

  /** Dense sequential surrogate key over a total sort order (reference W1/W2:
    * `range(1, n+1)` after a sort, src/process_lambda.py:227,239-240,298,365,433;
    * semantically `row_number() OVER (ORDER BY ...)`).
    *
    * A naive global-window `row_number` serializes the whole dataset through
    * one task. This implementation is the scalable two-pass form:
    *   1. range-partition + local sort on `order` (globally sorted),
    *   2. number rows within each partition in parallel,
    *   3. add per-partition offsets (tiny driver-side cumulative sum).
    *
    * `order` must be a total order for deterministic ids (the callers use
    * unique natural keys). Ids are 1-based like the reference.
    */
  def sequentialId(idName: String, order: Seq[Column])(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val sorted = df
      .repartitionByRange(shufflePartitions, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("__graft_pid", spark_partition_id())
    // Two passes over `sorted`: the persist pins one partitioning across
    // the count pass and the numbering pass (correctness, not just speed).
    // It must outlive this call — the caller's action reads it — so it is
    // handed to CacheJanitor for release at the driver's next barrier.
    graft.CacheJanitor.register(sorted.persist())
    val counts: Array[(Int, Long)] = sorted
      .groupBy("__graft_pid").count()
      .collect()
      .map(r => r.getInt(0) -> r.getLong(1))
      .sortBy(_._1)
    val offsets: Map[Int, Long] = counts
      .scanLeft((0, 0L)) { case ((_, acc), (pid, n)) => (pid, acc + n) }
      .sliding(2)
      .collect { case Array((_, off), (pid, _)) => pid -> off }
      .toMap
    val offsetCol =
      if (offsets.isEmpty) lit(0L)
      else coalesce(element_at(typedLit(offsets), col("__graft_pid")), lit(0L))
    val w = Window.partitionBy(col("__graft_pid")).orderBy(order: _*)
    val out = sorted
      .withColumn(idName, row_number().over(w).cast("long") + offsetCol)
      .drop("__graft_pid")
    out
  }

  /** Unpivot/melt a set of columns into (variable, value) long form
    * (reference R1: `pd.melt`, src/process_lambda.py:209-225).
    * Uses Spark's native `unpivot` (codegen'd Expand; no shuffle). */
  def melt(ids: Seq[String], values: Seq[String], variableName: String, valueName: String)(
      df: DataFrame): DataFrame =
    df.unpivot(ids.map(col).toArray, values.map(col).toArray, variableName, valueName)

  /** Derive the 7 calendar parts the reference's dim_date carries
    * (F4–F7, src/process_lambda.py:231-237) from a date column.
    * `day_of_week` keeps the pandas convention Monday=0..Sunday=6
    * (`dt.day_of_week`, SURVEY.md §2.9 F5) via Spark's `weekday`. */
  def withDateParts(dateCol: String)(df: DataFrame): DataFrame = {
    val d = col(dateCol)
    df.withColumn("year", year(d).cast("long"))
      .withColumn("month", month(d).cast("long"))
      .withColumn("day", dayofmonth(d).cast("long"))
      .withColumn("day_of_week", weekday(d).cast("long"))
      .withColumn("day_name", date_format(d, "EEEE"))
      .withColumn("month_name", date_format(d, "MMMM"))
      .withColumn("quarter", quarter(d).cast("long"))
  }

  /** Split a timestamp into a date part and a µs-precision time-of-day
    * string (reference F2/F3: `.dt.date` + `.dt.strftime('%H:%M:%S.%f')`,
    * src/process_lambda.py:248-254,306-313,373-380). */
  def splitTimestamp(tsCol: String, datePart: String, timePart: String)(df: DataFrame): DataFrame =
    df.withColumn(datePart, to_date(col(tsCol)))
      .withColumn(timePart, date_format(col(tsCol), "HH:mm:ss.SSSSSS"))

  /** Top-k rows per group by a total order (window rank-filter; the scalable
    * form of "sort the group and keep k"). */
  def topKPerGroup(keys: Seq[String], order: Seq[Column], k: Int, rankName: String = "rnk")(
      df: DataFrame): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn(rankName, row_number().over(w).cast("long"))
      .filter(col(rankName) <= k)
  }

  /** Exact 2-decimal money arithmetic: cast a double money column to
    * DECIMAL so sums are exact and order-independent (safe for
    * distributed partial aggregation — double sums are not). */
  def money(c: Column): Column = c.cast("decimal(12,2)")

  /** AS-OF join (an operator Spark lacks natively): for each left row,
    * attach the latest right row with `rightTs <= leftTs` for the same
    * key. Composition: union both sides with a kind marker, one window
    * per key ordered (ts, kind) carrying the last right values forward,
    * then keep left rows — ONE shuffle on the key, no range explosion,
    * which is why composition beats a custom physical operator here.
    *
    * `rightCols` are the right-side columns to attach (prefixed names in
    * the output); right rows must be unique per (key, ts) — pre-dedup
    * with [[dedupKeepLast]] if not.
    */
  def asofJoin(
      left: DataFrame, right: DataFrame,
      key: String, leftTs: String, rightTs: String,
      rightCols: Seq[String], prefix: String = "asof_"): DataFrame = {
    require(rightCols.contains(key), s"rightCols must include the join key '$key'")
    val leftCols = left.columns.toSeq
    val l = left
      .withColumn("__graft_ts", col(leftTs))
      .withColumn("__graft_kind", lit(1))
      .select((leftCols.map(col) :+ col("__graft_ts") :+ col("__graft_kind")) ++
        rightCols.map(c => lit(null).cast(right.schema(c).dataType).as(s"__graft_r_$c")): _*)
    val r = right
      .withColumn("__graft_ts", col(rightTs))
      .withColumn("__graft_kind", lit(0))
      .select((leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        col("__graft_ts") :+ col("__graft_kind")) ++
        rightCols.map(c => col(c).as(s"__graft_r_$c")): _*)
      .withColumn(key, col(s"__graft_r_$key"))
    val keyed = l.withColumn("__graft_key", col(key))
      .unionByName(r.withColumn("__graft_key", col(key)), allowMissingColumns = false)
    val w = Window.partitionBy(col("__graft_key"))
      .orderBy(col("__graft_ts"), col("__graft_kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = rightCols.foldLeft(keyed) { (df, c) =>
      df.withColumn(s"$prefix$c", last(col(s"__graft_r_$c"), ignoreNulls = true).over(w))
    }
    carried
      .filter(col("__graft_kind") === 1)
      .select(leftCols.map(col) ++ rightCols.map(c => col(s"$prefix$c")): _*)
  }

  /** Write a bucketed + sorted table so later equi-joins/aggregations on
    * the bucket key need NO shuffle (co-located join; the plan shows
    * SortMergeJoin with no Exchange). The 100 TB pattern for fact tables
    * that join repeatedly on the same key. */
  def writeBucketed(df: DataFrame, table: String, buckets: Int, key: String): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Two-phase salted aggregation for skewed keys: partial-aggregate on
    * (key, salt) to spread one hot key over `saltBuckets` reducers, then
    * merge partials per key. `aggs` must be algebraic (reassociable):
    * sums/counts/min/max — exactly the partial/final split Spark does
    * internally, made explicit for pathological skew beyond AQE's
    * splitting. */
  def saltedSum(keys: Seq[String], saltBuckets: Int, sumCols: Seq[String])(
      df: DataFrame): DataFrame = {
    val salted = df.withColumn("__graft_salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(saltBuckets)))
    val partial = salted
      .groupBy((keys :+ "__graft_salt").map(col): _*)
      .agg(
        sumCols.map(c => sum(col(c)).as(c)).head,
        sumCols.map(c => sum(col(c)).as(c)).tail :+ count(lit(1)).as("__graft_n"): _*)
    partial
      .groupBy(keys.map(col): _*)
      .agg(
        sumCols.map(c => sum(col(c)).as(c)).head,
        sumCols.map(c => sum(col(c)).as(c)).tail :+ sum(col("__graft_n")).as("n"): _*)
  }

  /** Connected components over an undirected pair list `(a, b)` by
    * iterative min-label propagation WITH POINTER DOUBLING: every node
    * starts as its own label; each round (1) takes the min label over
    * the CLOSED neighborhood (self-loops are added here, so one
    * equi-join + partial-aggregated groupBy), then — once
    * [[ccDoubleAfter]] plain rounds haven't converged — (2) adopts its
    * label's own label, the label-of-label shortcut that lets the min
    * travel a doubling number of hops per round, so the round count is
    * O(log diameter), not O(diameter) (a 1M-hop chain resolves in ~25
    * rounds, within the default `maxRounds`). The doubling join is
    * deferred two rounds because shallow graphs (the common near-dup
    * shape) converge before it would help and its self-join would be
    * pure overhead there; deeper graphs — t54's cosine-chained
    * components at sf0.1 run past 10 rounds plain — pay for their own
    * cure early. The driver loops to a fixpoint with ONE light action
    * per round: convergence is checked by comparing the exact
    * decimal(38,0) SUM of all labels between rounds — labels are
    * per-node monotone non-increasing, so the total strictly decreases
    * iff any node changed; an overflow-free aggregate replaces the
    * old per-round join-with-previous-labels + filter count (a second
    * shuffle per round that dominated wall time on small graphs).
    * Lineage is truncated with `localCheckpoint` every
    * [[ccCheckpointEvery]] rounds (default: every round).
    * The truncation is load-bearing, not hygiene: the doubling self-join
    * references the round's propagation twice, so the LOGICAL PLAN TREE
    * doubles per round — 2^k between truncations — and Catalyst
    * re-analyzes/re-optimizes the whole tree at every action (measured:
    * 3–5 s of pure DRIVER time per round by round 3 on a 245-edge
    * graph), with plan stringification OOMing near k≈10. Truncating
    * every round keeps each round's plan a constant-size join over
    * checkpoint-rooted scans — the same materialize-per-iteration
    * contract GraphX's Pregel runs under. The edge set is
    * hash-partitioned on the join key before caching, so only the label
    * side moves per round. Returns one row per node: (node, label = min
    * node id of its component). Deterministic at any partitioning (min
    * is order-independent).
    *
    * Hybrid: when the MEASURED undirected-edge count is at or below
    * [[ccSmallGraphMaxEdges]], the graph is resolved by a driver-side
    * union-find instead (milliseconds, vs rounds × fixed job overhead
    * — the dominant cost on small graphs); larger graphs take the
    * distributed loop below, unchanged. Both paths produce the
    * identical (node, min-id label) frame (RelationalSpec pins the
    * equality against a reference union-find on both).
    *
    * Durability: `localCheckpoint` stores the truncated blocks on
    * executors — an executor loss mid-job discards them and FAILS the
    * CC run (blocks are not recomputable once lineage is cut). Fine on
    * local[32]; on a real cluster pass `checkpointDir = Some(path)`
    * (HDFS/object store) to use reliable `checkpoint()` instead: each
    * round's labels are written to the shared store, so the loop
    * survives executor loss at the cost of one distributed write per
    * round. Same plan-truncation contract either way. */
  val ccCheckpointEvery = 1
  val ccDoubleAfter = 2

  /** Exact sum of the label column as decimal(38,0) — overflow-free for
    * any realistic node count, 0 for an empty frame. */
  private def labelSum(labels: DataFrame): java.math.BigDecimal = {
    val s = labels
      .agg(sum(col("label").cast(org.apache.spark.sql.types.DecimalType(38, 0))))
      .head.getDecimal(0)
    if (s == null) java.math.BigDecimal.ZERO else s
  }

  /** Pair-count gate below which [[connectedComponents]] resolves the
    * graph with a driver-side union-find instead of the distributed
    * round loop. The loop pays ~1 job of fixed overhead PER ROUND
    * (5+ rounds on typical near-dup graphs) regardless of data size —
    * on a few-hundred-edge graph that overhead IS the cost. The gate is
    * a MEASURED count of the (usually caller-cached) INPUT pair frame —
    * 2·|pairs| against the threshold, mirroring the symmetrized frame
    * the distributed loop would build — and it is the ONLY distributed
    * work the fast path does besides the collect of those same pairs:
    * the symmetrize/self-loop/repartition stages (3 extra shuffles of
    * pure overhead at this size) are built lazily and only ever
    * executed by the big path. ≤1M such rows ≈ 16 MB of longs in
    * driver memory (far under any driver heap), resolved in
    * milliseconds; anything larger runs the distributed loop unchanged.
    * This is the standard hybrid (GraphX/GraphFrames finish small
    * residual graphs the same way), not a scale shortcut — at 100 TB
    * the pair graph blows the gate and never collects. Set 0 to force
    * the distributed loop (tests do). */
  val ccSmallGraphMaxEdges: Long = 1000000L

  /** Driver-side union-find over an edge list: every endpoint mapped to
    * the min node id of its component — the label contract of
    * [[connectedComponents]]. The larger root always attaches under the
    * smaller, so each root IS its component's min id, whatever the edge
    * order (deterministic). Shared by the small-graph path of
    * [[connectedComponents]] and [[ClusterLabels]]' driver-side merge. */
  private[graft] def unionFind(edges: Iterator[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keysIterator.map(n => n -> find(n)).toMap
  }

  def connectedComponents(pairs: DataFrame, maxRounds: Int = 25,
      checkpointDir: Option[String] = None,
      smallGraphMaxEdges: Long = ccSmallGraphMaxEdges): DataFrame = {
    checkpointDir.foreach(pairs.sparkSession.sparkContext.setCheckpointDir)
    // Reliable checkpoint() writes to the shared checkpoint dir and
    // survives executor loss; localCheckpoint() keeps blocks on
    // executors (faster, not durable). Both are requested LAZILY: the
    // round's one labelSum action below materializes the checkpoint and
    // computes the convergence sum in a single job — an eager
    // checkpoint would spend a second job per round on a graph walk
    // whose per-round cost is dominated by fixed job overhead.
    // Truncation returns the checkpointed frame PLUS the persisted RDD
    // ids the checkpoint registered: `Dataset.unpersist` cannot release
    // localCheckpoint blocks (they live outside the CacheManager), so
    // the loop's per-round `labels.unpersist()` silently left every
    // round's blocks pinned until the weak-ref ContextCleaner collected
    // them — the r19 session-memory accumulation (8 GB heap GC-thrash on
    // flat job counts). Each round now frees its predecessor's blocks
    // explicitly once the new round is materialized; the FINAL round's
    // ids are handed to CacheJanitor for the caller's barrier drain.
    val scCc = pairs.sparkSession.sparkContext
    def truncate(df: DataFrame): (DataFrame, Set[Int]) = {
      val before = scCc.getPersistentRDDs.keySet
      val out =
        if (checkpointDir.isDefined) df.checkpoint(eager = false)
        else df.localCheckpoint(eager = false)
      (out, (scCc.getPersistentRDDs.keySet -- before).toSet)
    }
    // Freed while the NEXT round's cached frame still carries these
    // blocks in its lineage: safe only in local mode, where losing an
    // executor kills the whole JVM, so that lineage is never recomputed.
    // A cluster deployment (recoverable executor loss) must defer the
    // free by one round, or a lost cached partition recomputes into the
    // freed checkpoint blocks and fails the job.
    def freeRdds(ids: Set[Int]): Unit =
      ids.foreach(id => scCc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
    val p2 = graft.CacheJanitor.register(pairs.toDF("a", "b").persist())
    val undirected = p2.union(p2.select(col("b"), col("a"))).toDF("src", "dst")
    // Size gate first (the count materializes the pair cache — round 0
    // of either path would pay the same), so the fast path never runs
    // the symmetrize/self-loop/repartition shuffles at all.
    if (smallGraphMaxEdges > 0 && p2.count() * 2 <= smallGraphMaxEdges) {
      val spark0 = pairs.sparkSession
      // Output dtype must match the distributed path's: the union-coerced
      // edge type (a (INT, BIGINT) pair frame coerces src to BIGINT).
      // `undirected` is plan-only here — schema resolution runs no job.
      val nodeType = undirected.schema.head.dataType
      // Directed pairs suffice for union-find: both endpoints register,
      // and isolated nodes don't occur in a pair list by definition
      // (the self-loops exist for the distributed loop's groupBy).
      val es = p2.select(col("a").cast("long"), col("b").cast("long")).collect()
      val out = unionFind(es.iterator.map(r => (r.getLong(0), r.getLong(1)))).toSeq
      import spark0.implicits._
      return out.toDF("node", "label")
        .select(col("node").cast(nodeType).as("node"), col("label").cast(nodeType).as("label"))
    }
    // Distributed loop: NOW build the symmetrized + self-looped,
    // dst-partitioned edge frame the rounds iterate over (the fast path
    // above never pays these shuffles).
    val edges = graft.CacheJanitor.register(
      undirected
        .union(undirected.select(col("src"), col("src")).distinct().toDF("src", "dst"))
        .repartition(col("dst")).persist())
    // Round 0 fused into init: with identity starting labels and
    // self-loops present, the first propagation is just min(dst) per
    // src — no join, and its group keys ARE the node set, so the
    // separate identity-labels distinct (a shuffle) and its own
    // materializing action disappear. One action covers round-0 state
    // + the starting convergence sum.
    var (labels, labelRdds) = truncate(
      edges.groupBy(col("src").as("node")).agg(min(col("dst")).as("label")))
    var prevSum = labelSum(labels)
    var converged = false
    var rounds = 1
    while (!converged && rounds < maxRounds) {
      val prop = edges.join(labels, edges("dst") === labels("node"))
        .groupBy(edges("src").as("node")).agg(min(col("label")).as("label"))
      // Pointer doubling (deferred): a label is itself a node, so look
      // up ITS label from this round's propagation and adopt it.
      // prop(label) <= label always (labels are monotone and the
      // neighborhood is closed), so the adopted value never regresses
      // correctness — it only jumps the min further in one round.
      val doubled =
        if (rounds < ccDoubleAfter) prop
        else {
          // The self-join references the round's propagation twice —
          // persist it so the join's two sides share one computation
          // (released by CacheJanitor at the driver's next barrier).
          val p = graft.CacheJanitor.register(prop.persist())
          val hop = p.select(col("node").as("hop_node"), col("label").as("hop_label"))
          p.join(hop, p("label") === col("hop_node"))
            .select(p("node").as("node"), col("hop_label").as("label"))
        }
      val (next, nextRdds) =
        if ((rounds + 1) % ccCheckpointEvery == 0) truncate(doubled)
        else (graft.CacheJanitor.register(doubled.persist()), Set.empty[Int])
      // Labels are per-node monotone non-increasing and the node set is
      // fixed, so the exact label sum strictly decreases iff any node
      // changed — one overflow-free aggregate is the full convergence
      // test (and the action that materializes this round's cache).
      val nextSum = labelSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      // This round is materialized; the previous round's blocks (cache
      // AND checkpoint) are dead — free them now, not at session GC.
      labels.unpersist()
      freeRdds(labelRdds)
      labels = next
      labelRdds = nextRdds
      rounds += 1
    }
    require(converged, s"label propagation did not converge within $rounds rounds")
    // The returned frame's own checkpoint blocks outlive this call (the
    // caller's action reads them) — released at the driver's barrier.
    graft.CacheJanitor.registerRdds(scCc, labelRdds)
    labels
  }
}
