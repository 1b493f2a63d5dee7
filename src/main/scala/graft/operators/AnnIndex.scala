package graft.operators

import graft.functions.TextSim
import graft.functions.TextSim.{spark => sprk}
import graft.queries.TrainingData
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted, incrementally-maintained IVF-SQ8 ANN index — t49's plan
  * shape turned into a stateful operator on the shared [[IvfIndex]]
  * lifecycle: each landing batch pays for encoding NEW vectors only.
  *
  * The codec's frozen artifact is `quantizer/stats` — `(pos, mn, span)`
  * per-dim affine int8 stats, trained on the first batch beside the
  * coarse centroids. Codes for vectors outside the first batch's
  * per-dim range clamp to [0,255] (the affine quantizer's standard
  * saturation). Scoring dequantizes codes asymmetrically (float query ×
  * int8 corpus): per-query cost is ~(probes/cells)·n code rows at 4×
  * less memory traffic; nothing scans the whole corpus.
  */
object AnnIndex extends IvfIndex[(Array[Double], Array[Double])] {

  protected val name = "AnnIndex"
  val rerankPool = 10

  private def arr(a: Array[Double]): String =
    a.map(TrainingData.litD).mkString("array(", ", ", ")")

  protected def readArtifact(spark: SparkSession, quantDir: String)
      : (Array[Double], Array[Double]) = {
    val st = spark.read.schema("pos BIGINT, mn DOUBLE, span DOUBLE")
      .parquet(s"$quantDir/stats").collect().sortBy(_.getLong(0))
    (st.map(_.getDouble(1)), st.map(_.getDouble(2)))
  }

  protected def writeArtifact(spark: SparkSession,
      q: (Array[Double], Array[Double]), quantDir: String): Unit = {
    import spark.implicits._
    val (mn, span) = q
    mn.indices.map(i => (i.toLong, mn(i), span(i)))
      .toDF("pos", "mn", "span")
      .coalesce(1).write.mode("overwrite").parquet(s"$quantDir/stats")
  }

  /** Stats pass FIRST, carrying the view's row count in the same
    * aggregate (r20) — the centroid trainer then skips its own count
    * job, so `knownN` is not needed here. */
  protected def train(spark: SparkSession, view: String, knownN: Option[Long])
      : (Array[Array[Double]], (Array[Double], Array[Double])) = {
    val (mn, span, n) = TrainingData.quantStatsN(spark, view)
    (TrainingData.trainCentroids(spark, view, knownN = Some(n)), (mn, span))
  }

  protected def encodeWith(vecs: DataFrame, cents: Array[Array[Double]],
      q: (Array[Double], Array[Double])): DataFrame = encode(vecs, cents, q._1, q._2)

  /** Scan-side encode of a `(vec_id, embedding)` frame under a given
    * quantizer: cell assignment (argmin fold over the centroid literal)
    * + int8 codes. Pure projection — no shuffle, no corpus reads. */
  def encode(vecs: DataFrame, cents: Array[Array[Double]],
      mn: Array[Double], span: Array[Double]): DataFrame = {
    val d = sprk
    val cl = TrainingData.centsLit(cents)
    vecs
      .selectExpr("vec_id", "embedding",
        s"transform(sequence(1, ${cents.length}), ci -> ${TextSim.dist2(d, "embedding", s"element_at($cl, ci)")}) AS ds")
      .selectExpr("vec_id",
        "CAST(array_position(ds, array_min(ds)) AS BIGINT) AS cell",
        s"${TrainingData.qCodes(d, "embedding", arr(mn), arr(span), mn.length.toString)} AS codes")
  }

  // Scoring never materializes a dequantized array: the codegen'd SQ8
  // kernels dequantize-and-fold in one tight loop per pair (the hot
  // inner loop of the whole index at corpus scale).
  override protected def scoreSide(codes: DataFrame,
      q: (Array[Double], Array[Double])): DataFrame =
    codes.selectExpr("vec_id", "cell", "codes",
      s"graft_sq8_norm2(codes, ${arr(q._1)}, ${arr(q._2)}) AS dqn2")

  protected def approxCosine(q: (Array[Double], Array[Double])): String =
    s"graft_sq8_dot(embedding, codes, ${arr(q._1)}, ${arr(q._2)}) / (sqrt(n2) * sqrt(dqn2))"
}
