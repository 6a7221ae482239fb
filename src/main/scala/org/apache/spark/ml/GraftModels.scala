package org.apache.spark.ml

import org.apache.spark.ml.classification.LogisticRegressionModel
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.util.Identifiable

/** Static factory for fitted MLlib models whose constructors are
  * package-private (`private[spark]` / `private[ml]`), so a fit written
  * outside MLlib can return the same model types MLlib's own estimators
  * do.
  */
object GraftModels {

  /** A binomial logistic regression model with the default column
    * names (`features` in; `rawPrediction`, `probability`, `prediction`
    * out) and threshold 0.5, as `LogisticRegression().fit` returns one.
    */
  def logistic(coefficients: Vector, intercept: Double): LogisticRegressionModel =
    new LogisticRegressionModel(Identifiable.randomUID("logreg"), coefficients, intercept)

  /** A fitted pipeline over already-fitted stages. */
  def pipeline(stages: Array[Transformer]): PipelineModel =
    new PipelineModel(Identifiable.randomUID("pipeline"), stages)
}
