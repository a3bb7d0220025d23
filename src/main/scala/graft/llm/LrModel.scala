package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Trained-to-convergence quality classifier — `text_quality_lr_step`
  * iterated until the 6-dp weight vector reaches a fixpoint, the
  * resulting model persisted as a stamped [[Sidecar]] TSV (train once
  * per corpus, persist, restart = zero retrain jobs).
  *
  * Each round is the oracle-checked single step's EXACT dataflow: one
  * partial-agg corpus pass computes the four mean-gradient statistics
  * (per-row 6-dp decimal quantization → exact decimal sum → one double
  * division — the mean6 discipline), the hard-sigmoid link keeps every
  * per-row error piecewise-linear (no exp() ulp trust), and the weight
  * update `w − 0.5·g` snaps to 6 dp — so training is a deterministic
  * function of the corpus, which is what lets the calibration query's
  * DuckDB twin inline the trained weights as literals and still
  * hash-match ([[CurationQueries]] `eval_calibration_trained`).
  *
  * The per-round loss (mean6 of squared error) is recorded; it is
  * non-increasing up to the quantization grain (LrModelSpec pins it):
  * the step is gradient descent on a convex piecewise-quadratic with
  * bounded features (f1, f2 ≤ 1, f3 ≈ avg-word-length/10), so the 0.5
  * rate sits far below the curvature bound 2/λmax.
  *
  * Scale shape: the corpus is touched once per round (features persist
  * across rounds); the only state leaving the executors is 5 doubles
  * per round. At 100 TB this is the LR training loop a curation
  * pipeline actually runs — bounded driver state, no per-round shuffle
  * beyond the gradient partial-agg.
  */
object LrModel {

  /** (name, weight) in the one-step query's order: bias, f1, f2, f3. */
  val seedWeights: Vector[(String, Double)] = Vector(
    "bias" -> 0.1, "f1_stopword" -> -0.2, "f2_len" -> 0.3, "f3_wordlen" -> 0.05)

  /** Bumped on every actual training loop; the restart spec pins that
    * a second session loads the sidecar instead of bumping this. */
  @volatile var trainCount: Long = 0L

  private def rnd6(x: Double): Double =
    BigDecimal(x).setScale(8, BigDecimal.RoundingMode.HALF_UP)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** One training loop: returns (trained weights, per-round loss at the
    * round's INCOMING weights). Stops at the 6-dp weight fixpoint, at a
    * loss plateau (per-round improvement at or under one 6-dp grain),
    * or at the fixed `maxRounds` budget — whichever first. The budget
    * stop matters in practice: the quantized gradients leave a slow
    * ~3e-6/round tail along the worst-conditioned feature direction
    * long after the model is behaviorally converged (loss 0.289 →
    * 0.188 happens in the first ~25 rounds; LrModelSpec pins the tail
    * flatness), and a fixed round budget is how a real pipeline bounds
    * exactly this. */
  private[llm] def train(spark: SparkSession, dir: String,
      maxRounds: Int = 40): (Vector[Double], Vector[Double]) = {
    val feats = CurationQueries.lrFeatures(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    def mean6(c: org.apache.spark.sql.Column) = graft.ops.Registry.rnd(
      sum(round(c.cast("decimal(18,8)"), 6)).cast("double") / count(lit(1)), 6)
    var w = seedWeights.map(_._2)
    val losses = scala.collection.mutable.ArrayBuffer[Double]()
    var roundNo = 0
    var converged = false
    while (roundNo < maxRounds && !converged) {
      val z = lit(w(0)) + lit(w(1)) * col("f1") + lit(w(2)) * col("f2") + lit(w(3)) * col("f3")
      val p = least(greatest(lit(0.5) + z / 4.0, lit(0.0)), lit(1.0))
      val r = feats.withColumn("err", p - col("y"))
        .agg(
          mean6(col("err")).as("g0"),
          mean6(col("err") * col("f1")).as("g1"),
          mean6(col("err") * col("f2")).as("g2"),
          mean6(col("err") * col("f3")).as("g3"),
          mean6(col("err") * col("err")).as("loss"))
        .head()
      val loss = r.getDouble(4)
      val plateau = losses.lastOption.exists(prev => prev - loss <= 1e-6)
      losses += loss
      val next = w.indices.toVector.map(i => rnd6(w(i) - 0.5 * r.getDouble(i)))
      converged = next == w || plateau
      if (!plateau) w = next
      roundNo += 1
    }
    feats.unpersist()
    (w, losses.toVector)
  }

  /** The trained weight vector for `dir`: sidecar if fresh (corpus row
    * count fingerprint), else train + persist. */
  def loadOrTrain(spark: SparkSession, dir: String): Vector[Double] =
    loadOrTrainWithLosses(spark, dir)._1

  def loadOrTrainWithLosses(spark: SparkSession, dir: String): (Vector[Double], Vector[Double]) = {
    val stamp = CorpusStamp.of(spark, dir, "documents", "doc_id").token
    val p = Sidecar.path("lr_model", dir, ".tsv")
    Sidecar.readTsv(p, stamp).map { lines =>
      val losses = lines(0).stripPrefix("#losses=").split(",")
        .filter(_.nonEmpty).map(_.toDouble).toVector
      (lines.drop(1).map(_.split("\t", 2)(1).toDouble), losses)
    }.getOrElse {
      val (w, losses) = train(spark, dir)
      trainCount += 1
      Sidecar.writeTsv(p, stamp, s"#losses=${losses.mkString(",")}" +:
        seedWeights.map(_._1).zip(w).map { case (name, v) => s"$name\t$v" })
      (w, losses)
    }
  }
}
