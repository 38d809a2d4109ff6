package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Learned quality filtering — the FineWeb-Edu-shaped curation step:
  * distill a teacher's judgments into a cheap linear scorer and run
  * THAT over the full corpus. Real deployments label a sample with an
  * expensive teacher (an LLM judge, human raters) and train on the
  * sample; the scorer then runs scan-side over 100 TB. Here the
  * built-in teacher is [[TextAnalysis.qualityScore]] (weak
  * supervision / distillation of the heuristic), and
  * [[fitOnLabels]] is the seam a real teacher column plugs into.
  *
  * The deployed artifact is the MARGIN `z = intercept + w·x` (a
  * monotone stand-in for the sigmoid probability): it is pure
  * +,*,/ over integer-derived features — IEEE-deterministic on both
  * engines, so the fitted model's scoring replays exactly in SQL
  * (the sigmoid's `exp` is not correctly-rounded-guaranteed and
  * could flip a rounding-boundary hash). The admission decision
  * `kept = z >= 0` is identical under either form.
  */
object QualityModel {

  /** Fitted linear model: `weights` align with [[featureCols]]'s
    * order. Plain doubles — model state ships as literals into the
    * scoring expression and into the generated oracle SQL.
    */
  case class LrModel(weights: Array[Double], intercept: Double)

  /** The three scan-side features (same signals as
    * [[TextAnalysis.qualityScore]], un-weighted): length saturation
    * `min(1, toks/100)`, stopword naturalness `min(1, 5·stop/toks)`,
    * distinct-token ratio. Zero-token docs feature as zeros. All
    * counts are integers and every op is +,*,/,min — exactly
    * replayable.
    */
  def featureCols(text: Column): Seq[Column] = {
    val toks = TextAnalysis.wsTokenCount(text).cast("double")
    val stop = TextAnalysis.stopwordCount(text).cast("double")
    val dist = TextAnalysis.distinctTokenCount(text).cast("double")
    Seq(
      when(toks > 0, least(lit(1.0), toks / 100.0)).otherwise(0.0),
      when(toks > 0, least(lit(1.0), stop * 5.0 / toks)).otherwise(0.0),
      when(toks > 0, dist / toks).otherwise(0.0))
  }

  /** Fit on an explicit 0/1 label column — the real-teacher seam.
    * spark.ml logistic regression (L2, intercept); the labeled frame
    * is typically a SAMPLE, so the fit is cheap next to the corpus
    * scan the model is deployed into.
    */
  def fitOnLabels(labeled: DataFrame, textCol: String,
                  labelCol: String): LrModel = {
    val feats = featureCols(col(textCol))
    val df = labeled.select(col(labelCol).cast("double").as("label"),
      array(feats: _*).as("f"))
    val assembled = df.select(col("label"),
      org.apache.spark.ml.functions.array_to_vector(col("f"))
        .as("features"))
    val lr = new org.apache.spark.ml.classification.LogisticRegression()
      .setMaxIter(50).setRegParam(0.01).setStandardization(true)
    // probe-phased (q179's bench scalar hides fit vs score): the LR
    // fit is the driver-side phase; scoring is a codegen'd scan
    val m = graft.Observe.time("lr_fit") { lr.fit(assembled) }
    LrModel(m.coefficients.toArray, m.intercept)
  }

  /** Fit against the built-in heuristic teacher: label = quality
    * score ≥ `threshold` (distillation of [[TextAnalysis
    * .qualityScore]] into the linear form).
    */
  def fit(docs: DataFrame, textCol: String,
          threshold: Double = 0.5): LrModel =
    fitOnLabels(
      docs.withColumn("__label",
        (TextAnalysis.qualityScore(col(textCol)) >= threshold)
          .cast("int")),
      textCol, "__label")

  /** Margin column `intercept + w·x` — left-associated sum, the
    * order the generated oracle SQL mirrors term for term.
    */
  def margin(model: LrModel, text: Column): Column =
    model.weights.zip(featureCols(text)).foldLeft(
      lit(model.intercept): Column) { case (acc, (w, f)) =>
      acc + lit(w) * f
    }

  /** Score + admit: (margin rounded at 6dp, kept = margin ≥ 0) per
    * row — one codegen'd scan-side expression, no shuffle, no model
    * object at execution time.
    */
  def score(model: LrModel, docs: DataFrame, idCol: String,
            textCol: String): DataFrame = {
    val z = margin(model, col(textCol))
    docs.select(col(idCol),
      (floor(z * 1000000.0 + 0.5) / 1000000.0).as("margin"),
      (z >= 0.0).as("kept"))
  }

  /** DuckDB expression replaying [[margin]] over SQL column `text` —
    * generated FROM the fitted model (the q76 fitted-oracle pattern),
    * feature expressions mirrored from [[featureCols]].
    */
  def marginSql(model: LrModel, stopRe: String): String = {
    def dd(x: Double) = java.lang.Double.toString(x)
    val f = Seq(
      "CASE WHEN toks > 0 THEN least(1.0, toks / 100.0) ELSE 0.0 END",
      "CASE WHEN toks > 0 THEN least(1.0, stop * 5.0 / toks) " +
        "ELSE 0.0 END",
      "CASE WHEN toks > 0 THEN dist / toks ELSE 0.0 END")
    model.weights.zip(f).foldLeft(s"(${dd(model.intercept)})") {
      case (acc, (w, fe)) => s"$acc + (${dd(w)}) * ($fe)"
    }
  }
}
