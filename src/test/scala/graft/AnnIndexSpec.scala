package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.operators.AnnIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental-maintenance contract for the persisted IVF-SQ8 index:
  * the quantizer freezes on batch 1, later batches encode only their
  * increment (append-only, pinned by on-disk fingerprints), N batches
  * produce byte-identical codes to one frozen-quantizer encode of the
  * union, and queries read ONLY their probed cell partitions. */
class AnnIndexSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  private def vecs: DataFrame =
    Tables.embeddings(spark, dir).select("vec_id", "embedding")

  private def files(root: String): Map[String, Long] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith(("_")))
      .filter(_.toString.endsWith(".parquet"))
      .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap

  test("incremental batches: frozen quantizer, append-only codes, == one-shot encode of the union") {
    val root = Files.createTempDirectory("graft_annidx").toString
    val b1 = AnnIndex.ingest(spark, root, vecs.where(col("vec_id") < 250))
    assert(b1.newCodes.count() == 250)
    CacheJanitor.drain()
    val after1 = files(root)
    assert(after1.keys.exists(_.contains("quantizer")), "quantizer persisted on batch 1")

    val b2 = AnnIndex.ingest(spark, root, vecs.where(col("vec_id") >= 250))
    assert(b2.newCodes.count() == 250)
    assert(AnnIndex.readCodes(spark, root).count() == 500)
    CacheJanitor.drain()
    val after2 = files(root)
    after1.foreach { case (f, mtime) =>
      assert(after2.get(f).contains(mtime), s"batch-1/quantizer file rewritten: $f")
    }
    assert(after2.size > after1.size, "batch 2 must add its own code files")

    // Incrementality is EXACT under the frozen quantizer: the union of
    // the two batches' codes equals one encode of the whole corpus.
    def codeSet(df: DataFrame) =
      df.select("vec_id", "cell", "codes").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
    val quantizer = {
      val cents = spark.read.parquet(s"$root/quantizer/centroids")
        .orderBy("cell").collect().map(_.getSeq[Double](1).toArray)
      val st = spark.read.parquet(s"$root/quantizer/stats").orderBy("pos").collect()
      (cents, st.map(_.getDouble(1)), st.map(_.getDouble(2)))
    }
    val oneShot = AnnIndex.encode(vecs, quantizer._1, quantizer._2, quantizer._3)
    assert(codeSet(AnnIndex.readCodes(spark, root)) == codeSet(oneShot),
      "incremental codes must be identical to a frozen-quantizer full encode")
  }

  test("a first batch holding a NULL embedding fails loudly — no quantizer trained on an undercount") {
    val root = Files.createTempDirectory("graft_annidx_null").toString
    val nullRow = vecs.where(col("vec_id") === 100)
      .select(col("vec_id"), lit(null).cast(vecs.schema("embedding").dataType).as("embedding"))
    val e = intercept[IllegalArgumentException] {
      AnnIndex.ingest(spark, root, vecs.where(col("vec_id") < 100).unionByName(nullRow))
    }
    assert(e.getMessage.contains("NULL or empty embedding"), e.getMessage)
    CacheJanitor.drain()
    assert(!Files.exists(Paths.get(s"$root/quantizer/centroids")),
      "the refused batch must not persist a quantizer")
  }

  test("topK reads only the probed cell partitions and re-ranks to the exact local order") {
    val root = Files.createTempDirectory("graft_annidx2").toString
    AnnIndex.ingest(spark, root, vecs.where(col("vec_id") < 250))
    AnnIndex.ingest(spark, root, vecs.where(col("vec_id") >= 250))

    val queries = vecs.where(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val top = AnnIndex.topK(spark, root, queries, k = 3, rerank = Some(vecs))
    val got = top.orderBy("rnk").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
    CacheJanitor.drain()
    assert(got.length == 3, s"expected a full top-3, got ${got.toSeq}")

    // --- pruning: the codes scan must touch only the probed cell dirs.
    val executed = {
      val df = AnnIndex.topK(spark, root, queries, k = 3, rerank = Some(vecs))
      df.collect()
      df.queryExecution.executedPlan
    }
    CacheJanitor.drain()
    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => allScans(q.plan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allScans(a.executedPlan)
      }.flatten
    val codeScans = allScans(executed)
      .filter(_.metadata.get("Location").exists(_.contains("codes")))
    assert(codeScans.nonEmpty, s"no codes scan found:\n$executed")
    // Leaf partitions are (batch_key, cell) pairs since the batch-keyed
    // layout: pruning must still select only the probed CELLS — at most
    // probeCells per batch directory, out of all cells the index holds.
    val scanned = codeScans.map(_.selectedPartitions.partitionCount).max
    val cellDirs = Files.walk(Paths.get(s"$root/codes")).iterator().asScala
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("cell="))
      .map(_.getFileName.toString).toSeq
    val distinctCells = cellDirs.distinct.size
    val batchDirs = Files.list(Paths.get(s"$root/codes")).iterator().asScala
      .count(p => p.getFileName.toString.startsWith("batch_key="))
    assert(distinctCells > AnnIndex.probeCells,
      s"fixture must have more cells than probes to make pruning observable ($distinctCells)")
    assert(scanned <= AnnIndex.probeCells * batchDirs,
      s"codes scan read $scanned leaf partitions, expected <= " +
        s"${AnnIndex.probeCells} probed cells x $batchDirs batch dirs " +
        s"of ${cellDirs.size} total")

    // --- exactness: replicate the probed-cell pipeline driver-side.
    val (cents, mn, span) = {
      val c = spark.read.parquet(s"$root/quantizer/centroids")
        .orderBy("cell").collect().map(_.getSeq[Double](1).toArray)
      val st = spark.read.parquet(s"$root/quantizer/stats").orderBy("pos").collect()
      (c, st.map(_.getDouble(1)), st.map(_.getDouble(2)))
    }
    val all = vecs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def dist2(a: Array[Double], b: Array[Double]) =
      a.indices.foldLeft(0.0)((acc, i) => acc + (a(i) - b(i)) * (a(i) - b(i)))
    def dot(a: Array[Double], b: Array[Double]) =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    def cellOf(v: Array[Double]) = {
      val ds = cents.map(c => dist2(v, c))
      ds.indexOf(ds.min) + 1L
    }
    def codesOf(v: Array[Double]) = v.indices.map { i =>
      if (span(i) == 0.0) 0L
      else math.min(255L, math.max(0L, math.floor((v(i) - mn(i)) / span(i) * 255.0 + 0.5).toLong))
    }
    def dq(cs: Seq[Long]) = cs.indices.map(i => mn(i) + cs(i).toDouble / 255.0 * span(i)).toArray
    val q = all(0L)
    val probes = cents.map(c => dist2(q, c)).zipWithIndex
      .map { case (d0, i) => (d0, i + 1L) }.sorted.take(AnnIndex.probeCells).map(_._2).toSet
    val pool = all.toSeq
      .filter { case (id, v) => id != 0L && probes(cellOf(v)) }
      .map { case (id, v) =>
        val d0 = dq(codesOf(v))
        (id, dot(q, d0) / (math.sqrt(dot(q, q)) * math.sqrt(dot(d0, d0))))
      }
      .sortBy { case (id, c) => (-c, id) }.take(AnnIndex.rerankPool)
    val expected = pool
      .map { case (id, _) =>
        val v = all(id)
        (id, dot(q, v) / (math.sqrt(dot(q, q)) * math.sqrt(dot(v, v))))
      }
      .sortBy { case (id, c) => (-c, id) }.take(3).map { case (id, _) => (0L, id) }
    assert(got.toSeq == expected,
      s"topK(rerank) must equal the driver-side replica: got ${got.toSeq}, expected $expected")
  }

  test("remove tombstones vec_ids out of topK without touching code files; compact == frozen re-encode") {
    val root = Files.createTempDirectory("graft_annidx3").toString
    AnnIndex.ingest(spark, root, vecs.where(col("vec_id") < 250))
    AnnIndex.ingest(spark, root, vecs.where(col("vec_id") >= 250))
    CacheJanitor.drain()
    val before = files(s"$root/codes")

    val queries = vecs.where(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def neighbors() = AnnIndex.topK(spark, root, queries, k = 3)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet

    // (a) Tombstone the current top neighbors — they must vanish and be
    // REPLACED (a full top-3 still comes back from the probed cells).
    val firstTop = neighbors()
    assert(firstTop.size == 3)
    AnnIndex.remove(spark, root, firstTop.toSeq)
    val afterRemove = neighbors()
    CacheJanitor.drain()
    assert(afterRemove.intersect(firstTop).isEmpty,
      s"tombstoned ids $firstTop must not appear as neighbors: $afterRemove")
    assert(afterRemove.size == 3, "topK must refill from surviving candidates")

    // (c) Removal never rewrites `cell=` code files.
    before.foreach { case (f, mtime) =>
      assert(files(s"$root/codes").get(f).contains(mtime), s"remove() rewrote $f")
    }

    // (b) Compaction == one frozen-quantizer encode of the survivors;
    // tombstone table cleared; quantizer untouched; results unchanged.
    val quantBefore = files(s"$root/quantizer")
    AnnIndex.compact(spark, root)
    def codeSet(df: DataFrame) =
      df.select("vec_id", "cell", "codes").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
    val (cents, mn, span) = {
      val c = spark.read.parquet(s"$root/quantizer/centroids")
        .orderBy("cell").collect().map(_.getSeq[Double](1).toArray)
      val st = spark.read.parquet(s"$root/quantizer/stats").orderBy("pos").collect()
      (c, st.map(_.getDouble(1)), st.map(_.getDouble(2)))
    }
    val surviving = vecs.where(!col("vec_id").isin(firstTop.toSeq: _*))
    val rebuilt = codeSet(AnnIndex.encode(surviving, cents, mn, span))
    val compacted = spark.read.parquet(graft.operators.BatchLog.resolve(spark, s"$root/codes"))
      .withColumn("cell", col("cell").cast("long")).drop("batch_key")
    assert(codeSet(compacted) == rebuilt,
      "compacted codes must equal a frozen-quantizer encode of the surviving vectors")
    assert(graft.operators.Tombstones.bytesOnDisk(spark, s"$root/codes") == 0L,
      "compaction must clear the tombstone table (empty current version)")
    assert(files(s"$root/quantizer") == quantBefore, "compaction must not touch the frozen quantizer")
    assert(neighbors() == afterRemove, "topK must be identical before and after compaction")
    CacheJanitor.drain()
  }
}
