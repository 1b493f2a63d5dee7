package graft.operators

import graft.functions.TextSim
import graft.functions.TextSim.{spark => sprk}
import graft.queries.TrainingData
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted, incrementally-maintained IVF-PQ ANN index — t63's plan
  * shape as a stateful operator on the shared [[IvfIndex]] lifecycle
  * (which [[AnnIndex]] runs with the IVF-SQ8 codec).
  *
  * The codec's frozen artifact is `quantizer/codebooks` —
  * `(subspace, code, centroid)` PQ sub-centroids (pqM × pqK rows),
  * trained per-subspace on the first batch (t62's bounded Lloyd
  * contract). Code rows are `(vec_id, codes, pn2)`: pqM 4-bit codes
  * (stored as BIGINT positions 1..pqK) plus the precomputed
  * reconstruction norm² — the ADC denominator, paid once at encode
  * time, never at query time.
  *
  * Queries compute their pqM·pqK ADC LUT scan-side; scoring is pqM
  * lookups + a fold per candidate (8 small codes per row moved — the
  * 64×-compressed regime where the index fits cluster RAM outright).
  * The exact re-rank pool is 25 — 4-bit ADC ranking is cruder than
  * SQ8's, t62's compensation.
  */
object PqIndex extends IvfIndex[Array[Array[Array[Double]]]] {

  protected val name = "PqIndex"
  val rerankPool = 25

  private def cbLit(cb: Array[Array[Array[Double]]]): String =
    cb.map(ck => ck.map(cv => cv.map(TrainingData.litD).mkString("array(", ", ", ")"))
      .mkString("array(", ", ", ")")).mkString("array(", ", ", ")")

  private def pn2Lit(cb: Array[Array[Array[Double]]]): String =
    cb.map(_.map(cv => cv.foldLeft(0.0)((acc, x0) => acc + x0 * x0))
      .map(TrainingData.litD).mkString("array(", ", ", ")"))
      .mkString("array(", ", ", ")")

  protected def readArtifact(spark: SparkSession, quantDir: String)
      : Array[Array[Array[Double]]] = {
    val rows = spark.read
      .schema("subspace BIGINT, code BIGINT, centroid ARRAY<DOUBLE>")
      .parquet(s"$quantDir/codebooks").collect()
    rows.groupBy(_.getLong(0)).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_.getLong(1)).map(_.getSeq[Double](2).toArray).toArray).toArray
  }

  protected def writeArtifact(spark: SparkSession,
      cb: Array[Array[Array[Double]]], quantDir: String): Unit = {
    import spark.implicits._
    (for { j <- cb.indices; c <- cb(j).indices }
      yield ((j + 1).toLong, (c + 1).toLong, cb(j)(c).toSeq))
      .toDF("subspace", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$quantDir/codebooks")
  }

  protected def train(spark: SparkSession, view: String, knownN: Option[Long])
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val cents = TrainingData.trainCentroids(spark, view, knownN)
    (cents, TrainingData.trainPqCodebooks(spark, view))
  }

  protected def encodeWith(vecs: DataFrame, cents: Array[Array[Double]],
      cb: Array[Array[Array[Double]]]): DataFrame = encode(vecs, cents, cb)

  /** Scan-side encode of a `(vec_id, embedding)` frame under frozen
    * quantizers: cell argmin + pqM code positions + reconstruction
    * norm². Pure projection — no shuffle, no corpus reads. */
  def encode(vecs: DataFrame, cents: Array[Array[Double]],
      cb: Array[Array[Array[Double]]]): DataFrame = {
    val d = sprk
    val cl = TrainingData.centsLit(cents)
    vecs
      .selectExpr("vec_id", "embedding", s"${TrainingData.pqVe(d)} AS ve",
        s"transform(sequence(1, ${cents.length}), ci -> ${TextSim.dist2(d, "embedding", s"element_at($cl, ci)")}) AS ds")
      .selectExpr("vec_id",
        "CAST(array_position(ds, array_min(ds)) AS BIGINT) AS cell",
        s"${TrainingData.pqCodesExpr(d, cbLit(cb))} AS codes")
      .selectExpr("vec_id", "cell", "codes",
        s"${TrainingData.pqPn2Expr(d, pn2Lit(cb), "codes")} AS pn2")
  }

  override protected def queryInputs: Seq[String] = Seq(s"${TrainingData.pqVe(sprk)} AS ve")

  override protected def queryExtras(cb: Array[Array[Array[Double]]]): Seq[(String, String)] =
    Seq("luts" -> TrainingData.pqLutExpr(sprk, cbLit(cb)))

  protected def approxCosine(cb: Array[Array[Array[Double]]]): String =
    s"${TrainingData.pqApproxDot(sprk, "luts", "codes")} / (sqrt(n2) * sqrt(pn2))"
}
