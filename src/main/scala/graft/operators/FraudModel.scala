package graft.operators

import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MLlib risk model on top of the rule features — the "batch DataFrame +
  * MLlib" leg of the pipeline: the reference scores fraud with fixed
  * rules (src/spark/jobs/spark.py fraud_score); this learns a weighting
  * of the same features so the score generalizes past the hand-tuned
  * 0.5/0.5 split.
  *
  * Scale: VectorAssembler + LogisticRegression both run as distributed
  * DataFrame transforms; training is a handful of passes over the
  * feature columns (L-BFGS), scoring is one map-side transform —
  * nothing is collected to the driver beyond the coefficient vector.
  */
object FraudModel {

  val featureCols: Seq[String] =
    Seq("country_mismatch", "high_value_flag", "amount", "discount_missing")

  /** Feature frame from the scored transactions: the two rule flags, the
    * raw amount, and a missing-dimension indicator (null discount ⇒ the
    * enrichment didn't find the product — itself a risk signal).
    */
  def features(scored: DataFrame): DataFrame =
    scored
      .withColumn("discount_missing",
        when(col("discounted_price").isNull, 1.0).otherwise(0.0))
      .withColumn("label",
        when(col("fraud_score") >= 1.0, 1.0).otherwise(0.0))

  /** The assembler names its intermediate columns after its uid, and
    * those names reach the generated code: a fresh random uid per call
    * compiled new classes on every run, so the uid is fixed.
    */
  def assemble(df: DataFrame): DataFrame =
    new VectorAssembler("graft_fraud_features")
      .setInputCols(featureCols.toArray)
      .setOutputCol("features_vec")
      .transform(df)

  /** Deterministic training run (fixed solver iterations, no sampling). */
  def train(scored: DataFrame): LogisticRegressionModel =
    new LogisticRegression()
      .setFeaturesCol("features_vec")
      .setLabelCol("label")
      .setMaxIter(25)
      .setRegParam(0.01)
      .fit(assemble(features(scored)))

  /** Attach the model's fraud probability as `model_score`
    * (vector_to_array element access — no UDF in the scoring path).
    */
  def score(model: LogisticRegressionModel, scored: DataFrame): DataFrame =
    model.transform(assemble(features(scored)))
      .withColumn("model_score",
        org.apache.spark.ml.functions.vector_to_array(col("probability")).getItem(1))
      .drop("features_vec", "rawPrediction", "probability", "prediction")

  /** Area under the ROC curve of `model_score` against the `label`
    * column that [[score]] output already carries (defined once, in
    * [[features]]). The evaluator is a distributed computation over
    * (score, label) pairs; pass a frame the model did NOT train on for
    * a held-out number (see FraudModelSpec C14).
    */
  def evaluate(scoredWithModel: DataFrame): Double =
    new org.apache.spark.ml.evaluation.BinaryClassificationEvaluator()
      .setRawPredictionCol("model_score")
      .setLabelCol("label")
      .setMetricName("areaUnderROC")
      .evaluate(scoredWithModel)

  /** C13b: the PORTABLE learned risk model — a linear probability
    * model over the same four features, trained by fixed-iteration
    * full-batch gradient descent with every free choice pinned (the
    * e4/e8 Lloyd recipe applied to regression):
    *
    *  - features: the two rule flags, min-max-scaled amount (min/max
    *    are exact, engine-portable stats), and the missing-discount
    *    indicator — all doubles in a FIXED fold order;
    *  - the per-row prediction is one left-associated affine fold
    *    z = b + w1·x1 + w2·x2 + w3·x3 + w4·x4;
    *  - gradient components accumulate as floor((z−y)·x·10⁹) BIGINT
    *    sums (order-independent), closed by one double division and
    *    one multiply per update — so the weights after every
    *    iteration are bit-identical in Spark and DuckDB;
    *  - the served score is the clamped prediction
    *    least(greatest(z, 0), 1) — the classic LPM read-out, pure
    *    comparisons.
    *
    * This is what earns the learned-model family a full hash oracle
    * ([[gdOracleSql]] unrolls the iterations): MLlib's L-BFGS
    * ([[train]]) keeps the c13 rows-only path for corpora where the
    * logistic link matters; FraudModelSpec records the AUC of both.
    * Scale shape: one aggregate pass per iteration (5 integer sums),
    * weights are the only driver state, scoring is a map-side
    * projection.
    */
  val gdIters = 3
  val gdLr = 0.5

  private def gdFeatures(scored: DataFrame): DataFrame = {
    val b = scored.agg(min(col("amount")), max(col("amount"))).head()
    val (mn, mx) = (b.getDouble(0), b.getDouble(1))
    features(scored).select(
      col("transaction_id"), col("fraud_score"),
      col("country_mismatch").cast("double").as("x1"),
      col("high_value_flag").cast("double").as("x2"),
      ((col("amount") - lit(mn)) / (lit(mx) - lit(mn))).as("x3"),
      col("discount_missing").as("x4"),
      col("label").as("y"))
  }

  /** The affine prediction — ONE definition of the fold order the
    * gradient passes and the final scoring share.
    */
  private def zOf(w: Array[Double], b: Double): org.apache.spark.sql.Column =
    lit(b) + lit(w(0)) * col("x1") + lit(w(1)) * col("x2") +
      lit(w(2)) * col("x3") + lit(w(3)) * col("x4")

  /** Fixed-iteration GD over [[gdFeatures]] — returns (weights, bias).
    * Driver state is 5 doubles per iteration; each iteration is one
    * map-side-combined aggregate over the feature frame.
    */
  def trainGd(feat: DataFrame, iters: Int = gdIters,
              lr: Double = gdLr): (Array[Double], Double) = {
    var w = Array(0.0, 0.0, 0.0, 0.0)
    var b = 0.0
    for (_ <- 1 to iters) {
      val z = zOf(w, b)
      def g(x: org.apache.spark.sql.Column) =
        sum(floor(((z - col("y")) * x) * lit(1.0e9)))
      val r = feat.agg(count(lit(1)).as("n"), g(col("x1")).as("s1"),
        g(col("x2")).as("s2"), g(col("x3")).as("s3"), g(col("x4")).as("s4"),
        sum(floor((z - col("y")) * lit(1.0e9))).as("sb")).head()
      val n = r.getAs[Long]("n").toDouble
      def upd(prev: Double, s: Long): Double =
        prev - lr * (s.toDouble / (n * 1.0e9))
      w = Array(upd(w(0), r.getAs[Long]("s1")), upd(w(1), r.getAs[Long]("s2")),
        upd(w(2), r.getAs[Long]("s3")), upd(w(3), r.getAs[Long]("s4")))
      b = upd(b, r.getAs[Long]("sb"))
    }
    (w, b)
  }

  /** Train portably and score the batch — the c13b query body. */
  def scoreGd(scored: DataFrame): DataFrame = {
    val feat = gdFeatures(scored)
    val (w, b) = trainGd(feat)
    feat.select(col("transaction_id"), col("fraud_score"),
      least(greatest(zOf(w, b), lit(0.0)), lit(1.0)).as("model_score"))
  }

  /** [[scoreGd]] mirrored in DuckDB SQL, iterations unrolled — the
    * affine fold, the floor-quantized gradient sums, the 0.5-literal
    * update and the clamp are spelled op-for-op (see the e4
    * `lloydOracleSql` pattern; `CAST(SUM AS BIGINT)` collapses
    * DuckDB's HUGEINT).
    */
  private def gdOracleSql(iters: Int): String = {
    def z(w: String) =
      s"($w.b + $w.w1 * f.x1 + $w.w2 * f.x2 + $w.w3 * f.x3 + $w.w4 * f.x4)"
    val iterCtes = (1 to iters).map { j =>
      val zp = z("w")
      def g(x: String) =
        s"CAST(SUM(CAST(floor((($zp - f.y) * $x) * 1000000000.0) AS BIGINT)) AS BIGINT)"
      s"""g$j AS (
         |  SELECT COUNT(*) AS n, ${g("f.x1")} AS s1, ${g("f.x2")} AS s2,
         |         ${g("f.x3")} AS s3, ${g("f.x4")} AS s4,
         |         CAST(SUM(CAST(floor(($zp - f.y) * 1000000000.0) AS BIGINT)) AS BIGINT) AS sb
         |  FROM f, w${j - 1} w),
         |w$j AS (
         |  SELECT w.w1 - 0.5 * (CAST(g.s1 AS DOUBLE) / (CAST(g.n AS DOUBLE) * 1000000000.0)) AS w1,
         |         w.w2 - 0.5 * (CAST(g.s2 AS DOUBLE) / (CAST(g.n AS DOUBLE) * 1000000000.0)) AS w2,
         |         w.w3 - 0.5 * (CAST(g.s3 AS DOUBLE) / (CAST(g.n AS DOUBLE) * 1000000000.0)) AS w3,
         |         w.w4 - 0.5 * (CAST(g.s4 AS DOUBLE) / (CAST(g.n AS DOUBLE) * 1000000000.0)) AS w4,
         |         w.b - 0.5 * (CAST(g.sb AS DOUBLE) / (CAST(g.n AS DOUBLE) * 1000000000.0)) AS b
         |  FROM w${j - 1} w, g$j g)""".stripMargin
    }.mkString(",\n")
    s"""WITH scored AS (
       |${Fraud.scoredSql}),
       |st AS (SELECT min(amount) AS mn, max(amount) AS mx FROM scored),
       |f AS (
       |  SELECT transaction_id, fraud_score,
       |         CAST(country_mismatch AS DOUBLE) AS x1,
       |         CAST(high_value_flag AS DOUBLE) AS x2,
       |         (amount - st.mn) / (st.mx - st.mn) AS x3,
       |         CASE WHEN discounted_price IS NULL THEN CAST(1 AS DOUBLE)
       |              ELSE CAST(0 AS DOUBLE) END AS x4,
       |         CASE WHEN fraud_score >= 1.0 THEN CAST(1 AS DOUBLE)
       |              ELSE CAST(0 AS DOUBLE) END AS y
       |  FROM scored, st),
       |w0 AS (SELECT CAST(0 AS DOUBLE) AS w1, CAST(0 AS DOUBLE) AS w2,
       |              CAST(0 AS DOUBLE) AS w3, CAST(0 AS DOUBLE) AS w4,
       |              CAST(0 AS DOUBLE) AS b),
       |$iterCtes
       |SELECT f.transaction_id, f.fraud_score,
       |       least(greatest(${z("w")}, CAST(0 AS DOUBLE)), CAST(1 AS DOUBLE)) AS model_score
       |FROM f, w$iters w""".stripMargin
  }

  /** Train on the scored batch and score it — the batch-ML capability
    * as queryable operators: c13 is MLlib (rows-only: L-BFGS internals
    * have no SQL twin), c13b is the portable GD twin with a full
    * oracle.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c13_ml_risk_score" -> ((s, d) => {
      val scored = Fraud.scoredTransactions(s, d)
      score(train(scored), scored)
        .select("transaction_id", "fraud_score", "model_score")
    }),
    "c13b_risk_score_gd" -> ((s, d) =>
      scoreGd(Fraud.scoredTransactions(s, d)))
  )

  def oracles: Map[String, String] = Map(
    "c13b_risk_score_gd" -> gdOracleSql(gdIters)
  )
}
