package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.operators.PqIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental-maintenance contract for the persisted IVF-PQ index —
  * [[AnnIndexSpec]]'s pins applied to the PQ form: both quantizers
  * freeze on batch 1, batches append only their own code files, N
  * batches == one frozen-quantizer encode of the union, queries read
  * only probed cell partitions, ADC + re-rank equals a driver-side
  * replica, and tombstone/compact leaves no trace of removed ids. */
class PqIndexSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  private def vecs: DataFrame =
    Tables.embeddings(spark, dir).select("vec_id", "embedding")

  private def files(root: String): Map[String, Long] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith(("_")))
      .filter(_.toString.endsWith(".parquet"))
      .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap

  private def loadQuant(root: String)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val cents = spark.read.parquet(s"$root/quantizer/centroids")
      .orderBy("cell").collect().map(_.getSeq[Double](1).toArray)
    val rows = spark.read.parquet(s"$root/quantizer/codebooks")
      .orderBy("subspace", "code").collect()
    val cb = rows.groupBy(_.getLong(0)).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_.getLong(1)).map(_.getSeq[Double](2).toArray).toArray).toArray
    (cents, cb)
  }

  private def codeSet(df: DataFrame) =
    df.select("vec_id", "cell", "codes", "pn2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2), r.getDouble(3))).toSet

  test("incremental batches: frozen quantizers, append-only codes, == one-shot encode of the union") {
    val root = Files.createTempDirectory("graft_pqidx").toString
    val b1 = PqIndex.ingest(spark, root, vecs.where(col("vec_id") < 250))
    assert(b1.newCodes.count() == 250)
    CacheJanitor.drain()
    val after1 = files(root)
    assert(after1.keys.exists(_.contains("codebooks")), "PQ codebooks persisted on batch 1")

    val b2 = PqIndex.ingest(spark, root, vecs.where(col("vec_id") >= 250))
    assert(b2.newCodes.count() == 250)
    assert(PqIndex.readCodes(spark, root).count() == 500)
    CacheJanitor.drain()
    val after2 = files(root)
    after1.foreach { case (f, mtime) =>
      assert(after2.get(f).contains(mtime), s"batch-1/quantizer file rewritten: $f")
    }
    assert(after2.size > after1.size, "batch 2 must add its own code files")

    val (cents, cb) = loadQuant(root)
    assert(cb.length == graft.queries.TrainingData.pqM &&
      cb.forall(_.length == graft.queries.TrainingData.pqK))
    val oneShot = PqIndex.encode(vecs, cents, cb)
    assert(codeSet(PqIndex.readCodes(spark, root)) == codeSet(oneShot),
      "incremental codes must be identical to a frozen-quantizer full encode")
  }

  test("topK reads only probed cell partitions; ADC + re-rank equals the driver replica") {
    val root = Files.createTempDirectory("graft_pqidx2").toString
    PqIndex.ingest(spark, root, vecs.where(col("vec_id") < 250))
    PqIndex.ingest(spark, root, vecs.where(col("vec_id") >= 250))

    val queries = vecs.where(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val top = PqIndex.topK(spark, root, queries, k = 3, rerank = Some(vecs))
    val got = top.orderBy("rnk").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
    CacheJanitor.drain()
    assert(got.length == 3, s"expected a full top-3, got ${got.toSeq}")

    // --- pruning: the codes scan must touch only the probed cell dirs.
    val executed = {
      val df = PqIndex.topK(spark, root, queries, k = 3, rerank = Some(vecs))
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
    assert(distinctCells > PqIndex.probeCells,
      s"fixture must have more cells than probes to make pruning observable ($distinctCells)")
    assert(scanned <= PqIndex.probeCells * batchDirs,
      s"codes scan read $scanned leaf partitions, expected <= " +
        s"${PqIndex.probeCells} probed cells x $batchDirs batch dirs " +
        s"of ${cellDirs.size} total")

    // --- exactness: replicate the probed-cell ADC pipeline driver-side
    // with the same fold orders (left-to-right everywhere).
    val (cents, cb) = loadQuant(root)
    val m = cb.length; val k0 = cb(0).length
    val all = vecs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def dist2(a: Array[Double], b: Array[Double]) =
      a.indices.foldLeft(0.0)((acc, i) => acc + (a(i) - b(i)) * (a(i) - b(i)))
    def dot(a: Array[Double], b: Array[Double]) =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    val sub = all(0L).length / m
    def subvec(v: Array[Double], j: Int) =
      java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub)
    def cellOf(v: Array[Double]) = {
      val ds = cents.map(c => dist2(v, c))
      ds.indexOf(ds.min) + 1L
    }
    def codesOf(v: Array[Double]): Array[Int] = Array.tabulate(m) { j =>
      val ds = cb(j).map(c => dist2(subvec(v, j), c))
      ds.indexOf(ds.min) + 1
    }
    val pn2s = cb.map(_.map(cv => cv.foldLeft(0.0)((acc, x0) => acc + x0 * x0)))
    val q = all(0L)
    val luts = Array.tabulate(m, k0)((j, c) => dot(subvec(q, j), cb(j)(c)))
    val probes = cents.map(c => dist2(q, c)).zipWithIndex
      .map { case (d0, i) => (d0, i + 1L) }.sorted.take(PqIndex.probeCells).map(_._2).toSet
    val pool = all.toSeq
      .filter { case (id, v) => id != 0L && probes(cellOf(v)) }
      .map { case (id, v) =>
        val cs = codesOf(v)
        val pn2 = (0 until m).foldLeft(0.0)((acc, j) => acc + pn2s(j)(cs(j) - 1))
        val ad = (0 until m).foldLeft(0.0)((acc, j) => acc + luts(j)(cs(j) - 1))
        (id, ad / (math.sqrt(dot(q, q)) * math.sqrt(pn2)))
      }
      .sortBy { case (id, c) => (-c, id) }.take(PqIndex.rerankPool)
    val expected = pool
      .map { case (id, _) =>
        val v = all(id)
        (id, dot(q, v) / (math.sqrt(dot(q, q)) * math.sqrt(dot(v, v))))
      }
      .sortBy { case (id, c) => (-c, id) }.take(3).map { case (id, _) => (0L, id) }
    assert(got.toSeq == expected,
      s"topK(rerank) must equal the driver-side replica: got ${got.toSeq}, expected $expected")
  }

  test("remove tombstones ids out of topK without touching code files; compact == frozen re-encode") {
    val root = Files.createTempDirectory("graft_pqidx3").toString
    PqIndex.ingest(spark, root, vecs.where(col("vec_id") < 250))
    PqIndex.ingest(spark, root, vecs.where(col("vec_id") >= 250))
    CacheJanitor.drain()
    val before = files(s"$root/codes")

    val queries = vecs.where(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def neighbors() = PqIndex.topK(spark, root, queries, k = 3)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet

    val firstTop = neighbors()
    assert(firstTop.size == 3)
    PqIndex.remove(spark, root, firstTop.toSeq)
    val afterRemove = neighbors()
    CacheJanitor.drain()
    assert(afterRemove.intersect(firstTop).isEmpty,
      s"tombstoned ids $firstTop must not appear as neighbors: $afterRemove")
    assert(afterRemove.size == 3, "topK must refill from surviving candidates")
    before.foreach { case (f, mtime) =>
      assert(files(s"$root/codes").get(f).contains(mtime), s"remove() rewrote $f")
    }

    val quantBefore = files(s"$root/quantizer")
    PqIndex.compact(spark, root)
    val (cents, cb) = loadQuant(root)
    val surviving = vecs.where(!col("vec_id").isin(firstTop.toSeq: _*))
    val rebuilt = codeSet(PqIndex.encode(surviving, cents, cb))
    val compacted = spark.read.parquet(graft.operators.BatchLog.resolve(spark, s"$root/codes"))
      .withColumn("cell", col("cell").cast("long"))
    assert(codeSet(compacted) == rebuilt,
      "compacted codes must equal a frozen-quantizer encode of the surviving vectors")
    assert(graft.operators.Tombstones.bytesOnDisk(spark, s"$root/codes") == 0L,
      "compaction must clear the tombstone table (empty current version)")
    assert(files(s"$root/quantizer") == quantBefore, "compaction must not touch the frozen quantizers")
    assert(neighbors() == afterRemove, "topK must be identical before and after compaction")
    CacheJanitor.drain()
  }
}
