package graft

import java.nio.file.Files

import graft.operators.{ClusterLabels, Relational}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental cluster resolution: after ANY sequence of merge batches,
  * the persisted labels must equal a from-scratch connectedComponents
  * over all accumulated pairs (plus self-labels for pairless docs) — the
  * contract that lets the dedup layer never rerun CC over the full
  * accumulated graph. Also pins the O(changed) append shape: a batch
  * appends no rows for components it doesn't touch.
  */
class ClusterLabelsSpec extends SparkSpec {
  import spark.implicits._

  private def labelMap(df: DataFrame): Map[Long, Long] =
    df.select(col("doc_id").cast("long"), col("label").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** The oracle: one CC over ALL accumulated pairs, singletons = self. */
  private def fromScratch(pairs: Seq[(Long, Long)], docs: Seq[Long]): Map[Long, Long] = {
    val cc =
      if (pairs.isEmpty) Map.empty[Long, Long]
      else Relational.connectedComponents(pairs.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    docs.map(d => d -> cc.getOrElse(d, d)).toMap
  }

  /** [[ClusterLabels.merge]] through a given driver-path gate: the
    * default resolves small batches on the driver, `0` forces the
    * distributed path — the two correctness tests below run on both. */
  private def mergeVia(gate: Long)(root: String, pairs: DataFrame, docs: DataFrame): DataFrame =
    ClusterLabels.merge(spark, root, pairs, docs, None, gate)

  private val driverGate = Relational.ccSmallGraphMaxEdges
  private val distributedGate = 0L

  test("merged labels == from-scratch CC after every batch, including a component merge") {
    fromScratchAfterEveryBatch(driverGate)
  }

  test("merged labels == from-scratch CC after every batch, distributed path") {
    fromScratchAfterEveryBatch(distributedGate)
  }

  private def fromScratchAfterEveryBatch(gate: Long): Unit = {
    val merge = mergeVia(gate) _
    val root = Files.createTempDirectory("graft_labels").toString

    // Batch 1: one 3-chain + a singleton.
    val p1 = Seq((2L, 1L), (2L, 3L)); val d1 = Seq(1L, 2L, 3L, 4L)
    val l1 = merge(root, p1.toDF("doc_a", "doc_b"), d1.toDF("doc_id"))
    assert(labelMap(l1) === fromScratch(p1, d1))
    assert(labelMap(l1) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))

    // Batch 2: a disjoint component + a new singleton — nothing old moves.
    val p2 = Seq((6L, 5L)); val d2 = Seq(5L, 6L, 7L)
    val l2 = merge(root, p2.toDF("doc_a", "doc_b"), d2.toDF("doc_id"))
    assert(labelMap(l2) === fromScratch(p1 ++ p2, d1 ++ d2))
    assert(labelMap(l2) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))

    // Batch 3: a bridge pair MERGES the two components (the relabel case:
    // every member of the absorbed component must adopt the min label),
    // and an old singleton pairs with a new doc.
    val p3 = Seq((3L, 5L), (8L, 4L)); val d3 = Seq(8L)
    val l3 = merge(root, p3.toDF("doc_a", "doc_b"), d3.toDF("doc_id"))
    assert(labelMap(l3) === fromScratch(p1 ++ p2 ++ p3, d1 ++ d2 ++ d3))
    assert(labelMap(l3) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 1L, 6L -> 1L, 7L -> 7L, 8L -> 4L))

    // Keeper-manifest delta of the merge batch: doc 5 LOST keeper status
    // when its component merged into label 1 — the demotion event a
    // downstream manifest consumer applies without a corpus rescan.
    assert(ClusterLabels.latestBatch(spark, root) === 3L)
    val kd = ClusterLabels.keeperDelta(spark, root, 3L)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(kd(5L) === false && kd(1L) === true && kd(4L) === true && kd(8L) === false)
    assert(!kd.contains(7L), "untouched singleton must not appear in the delta")
  }

  test("re-touching a component with stale retired-label rows resolves correctly") {
    staleRetiredLabelRows(driverGate)
  }

  test("re-touching a component with stale retired-label rows, distributed path") {
    staleRetiredLabelRows(distributedGate)
  }

  private def staleRetiredLabelRows(gate: Long): Unit = {
    val merge = mergeVia(gate) _
    // The adversarial case for the pruned-fold merge: batch 1 labels
    // {5,6} as 5; batch 2 merges them into {1,...} (label 5 RETIRED —
    // stale rows (5→5), (6→5) remain in the log); batch 3 touches the
    // merged component via doc 6. The label-filtered fold must resolve
    // membership from current labels only — stale label-5 rows must
    // neither resurface nor confuse the merge.
    val root = Files.createTempDirectory("graft_labels").toString
    merge(root,
      Seq((5L, 6L)).toDF("doc_a", "doc_b"), Seq(5L, 6L).toDF("doc_id"))
    merge(root,
      Seq((1L, 5L)).toDF("doc_a", "doc_b"), Seq(1L).toDF("doc_id"))
    val l3 = merge(root,
      Seq((2L, 6L)).toDF("doc_a", "doc_b"), Seq(2L).toDF("doc_id"))
    assert(labelMap(l3) === Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L))
    assert(labelMap(l3) === fromScratch(
      Seq((5L, 6L), (1L, 5L), (2L, 6L)), Seq(1L, 2L, 5L, 6L)))
  }

  test("a batch appends no rows for components it does not touch") {
    val root = Files.createTempDirectory("graft_labels").toString
    ClusterLabels.merge(spark, root,
      Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b"), Seq(1L, 2L, 3L, 4L).toDF("doc_id"))
    ClusterLabels.merge(spark, root,
      Seq((5L, 6L)).toDF("doc_a", "doc_b"), Seq(5L, 6L).toDF("doc_id"))
    val batch2 = spark.read.parquet(graft.operators.BatchLog.resolve(spark, ClusterLabels.dir(root)))
      .where(col("batch") === 2L).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(batch2 === Set(5L, 6L),
      s"batch 2 must only append its own component's rows, got $batch2")
  }

  test("keeper manifest keeps exactly the min-id member per cluster") {
    val root = Files.createTempDirectory("graft_labels").toString
    val l = ClusterLabels.merge(spark, root,
      Seq((9L, 2L), (2L, 5L)).toDF("doc_a", "doc_b"), Seq(2L, 5L, 9L, 11L).toDF("doc_id"))
    val keep = ClusterLabels.keeperManifest(l)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(keep === Map(2L -> true, 5L -> false, 9L -> false, 11L -> true))
  }

  test("a compaction killed mid-swap recovers on the next read — never silent-empty") {
    val root = Files.createTempDirectory("graft_labels").toString
    ClusterLabels.merge(spark, root,
      Seq((1L, 2L)).toDF("doc_a", "doc_b"), Seq(1L, 2L, 3L).toDF("doc_id"))
    val before = labelMap(ClusterLabels.read(spark, root))
    // Crash before compact's commit marker: the fold complete in the
    // unmarked next version; read() must serve the committed log.
    val dest = ClusterLabels.dir(root)
    val stage = java.nio.file.Paths.get(SparkSpec.crashedStage(spark, dest,
      graft.operators.BatchLog.read(spark, dest, "test")))
    assert(labelMap(ClusterLabels.read(spark, root)) === before,
      "read must return the full committed state")
    // Crash mid-stage-write: a junk partial in the stage is never read.
    Files.write(stage.resolve("part-junk.parquet"), Array[Byte](1))
    assert(labelMap(ClusterLabels.read(spark, root)) === before)
    // The re-run compaction replaces the stage and commits it.
    ClusterLabels.compact(spark, root)
    assert(labelMap(ClusterLabels.read(spark, root)) === before)
    assert(!Files.exists(stage.resolve("part-junk.parquet")), "the leftover must be replaced")
  }

  test("compact folds the log to one row per doc with identical state") {
    val root = Files.createTempDirectory("graft_labels").toString
    ClusterLabels.merge(spark, root,
      Seq((1L, 2L)).toDF("doc_a", "doc_b"), Seq(1L, 2L, 3L).toDF("doc_id"))
    ClusterLabels.merge(spark, root,
      Seq((3L, 1L)).toDF("doc_a", "doc_b"), Seq.empty[Long].toDF("doc_id"))
    val before = labelMap(ClusterLabels.read(spark, root))
    ClusterLabels.compact(spark, root)
    assert(labelMap(ClusterLabels.read(spark, root)) === before)
    val log = spark.read.parquet(
      graft.operators.BatchLog.resolve(spark, ClusterLabels.dir(root)))
    assert(log.count() === log.select("doc_id").distinct().count(),
      "compacted log holds exactly one row per doc")
  }

  test("a NULL new doc id fails loudly, naming the root, on both paths") {
    for (gate <- Seq(driverGate, distributedGate)) {
      val root = Files.createTempDirectory("graft_labels").toString
      val docs = Seq(Some(1L), Some(2L), None, Some(5L)).toDF("doc_id")
      val e = intercept[IllegalArgumentException](
        mergeVia(gate)(root, Seq((1L, 2L)).toDF("doc_a", "doc_b"), docs))
      assert(e.getMessage.contains(root) && e.getMessage.contains("NULL"), e.getMessage)
      assert(ClusterLabels.labelStats(spark, root) === ((0L, 0L, 0L)),
        s"gate $gate: a refused batch must write no label row")
    }
  }

  test("a NULL pair endpoint fails loudly, naming the root, on both paths") {
    for (gate <- Seq(driverGate, distributedGate)) {
      val root = Files.createTempDirectory("graft_labels").toString
      mergeVia(gate)(root, Seq((1L, 2L)).toDF("doc_a", "doc_b"), Seq(1L, 2L).toDF("doc_id"))
      val before = labelMap(ClusterLabels.read(spark, root))
      val pairs = Seq((Some(2L), Some(3L)), (None, Some(4L))).toDF("doc_a", "doc_b")
      val e = intercept[IllegalArgumentException](
        mergeVia(gate)(root, pairs, Seq(3L, 4L).toDF("doc_id")))
      assert(e.getMessage.contains(root) && e.getMessage.contains("NULL"), e.getMessage)
      assert(labelMap(ClusterLabels.read(spark, root)) === before,
        s"gate $gate: a refused batch must leave the labels as they were")
    }
  }

  test("a small batch merged onto an existing log runs at most 6 Spark jobs") {
    val root = Files.createTempDirectory("graft_labels").toString
    ClusterLabels.merge(spark, root,
      Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b"), Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id"))
    ClusterLabels.merge(spark, root,
      Seq((6L, 7L)).toDF("doc_a", "doc_b"), Seq(6L, 7L).toDF("doc_id"))
    CacheJanitor.drain(blocking = true)
    val jobs = new JobCounter(spark.sparkContext)
    val before = jobs.settled()
    // Touches both old components and bridges them: both label-log
    // reads, the union-find, the append and the returned read frame.
    val l = ClusterLabels.merge(spark, root,
      Seq((2L, 8L), (8L, 6L)).toDF("doc_a", "doc_b"), Seq(8L, 9L).toDF("doc_id"))
    val ran = jobs.settled() - before
    assert(ran <= 6, s"driver-path merge ran $ran jobs")
    assert(labelMap(l) === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L,
      6L -> 1L, 7L -> 1L, 8L -> 1L, 9L -> 9L))
  }

  test("the driver path reads the log through pushed id and label In filters and appends id-sorted") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
    import org.apache.spark.sql.util.QueryExecutionListener
    val root = Files.createTempDirectory("graft_lplan").toString
    ClusterLabels.merge(spark, root,
      Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b"), Seq(1L, 2L, 3L, 4L).toDF("doc_id"))
    CacheJanitor.drain(blocking = true)
    val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        qes.add(qe); ()
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    def labelScans(): Seq[FileSourceScanExec] = qes.toArray(Array.empty[QueryExecution]).toSeq
      .flatMap(_.executedPlan.collect { case s: FileSourceScanExec => s })
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("/labels")))
    spark.listenerManager.register(listener)
    try {
      ClusterLabels.merge(spark, root,
        Seq((2L, 7L), (4L, 6L)).toDF("doc_a", "doc_b"), Seq(6L, 7L).toDF("doc_id"))
      // Execution events reach the listener asynchronously.
      val deadline = System.nanoTime() + 10000000000L
      while (labelScans().size < 2 && System.nanoTime() < deadline) Thread.sleep(25)
    } finally spark.listenerManager.unregister(listener)
    val scans = labelScans()
    assert(scans.size >= 2, s"expected two label-log reads, saw ${scans.size}")
    val first = scans.head.metadata("PushedFilters")
    assert(first.contains("In(doc_id"), s"first read must push the id set: $first")
    val second = scans(1).metadata("PushedFilters")
    assert(second.contains("In(label"), s"second read must push the label set: $second")
    // The appended batch file is id-sorted (the min/max windows those
    // pushed filters prune against at scale).
    val batch2 = spark.read.parquet(graft.operators.BatchLog.resolve(spark, ClusterLabels.dir(root)))
      .where(col("batch") === 2L).select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(batch2.nonEmpty && batch2 === batch2.sorted, batch2)
  }
}
