package graft.ops

import breeze.linalg.{DenseVector => BDV}
import breeze.optimize.{DiffFunction, LBFGS}

import org.apache.spark.HashPartitioner
import org.apache.spark.ml.{GraftModels, Pipeline => MlPipeline, PipelineModel}
import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel}
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.feature.{HashingTF, RegexTokenizer}
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.ml.tuning.{CrossValidator, CrossValidatorModel, ParamGridBuilder}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MLlib faces of the engine (BASELINE north star: "Spark DataFrame
  * ETL + MLlib pipelines").
  *
  *   - [[trainRelevanceClassifier]]: the Spark-side analog of the
  *     reference's relevance model head (SURVEY §2.8 M4 maps
  *     farm_trainer.py onto "MLlib CrossValidator over a logistic
  *     head"). Not a transformer parity target — the real model is a
  *     pluggable [[graft.scorer.RelevanceScorer]] — but the curated
  *     datasets this engine produces feed exactly this shape. It
  *     returns MLlib's fitted `PipelineModel` shape, but fits the
  *     logistic stage itself by model averaging: [[FitRounds]] Spark
  *     jobs over content-hashed shards, in place of MLlib's one job per
  *     L-BFGS iteration.
  *   - [[crossValidateRelevance]]: MLlib's `CrossValidator` over
  *     MLlib's `LogisticRegression`, which it keeps because it selects
  *     over regParam and elastic-net values.
  */
object MlPipelines {

  /** question+context text-pair relevance classifier:
    * tokenize → hashed TF → logistic regression, fitted by model
    * averaging (MLlib*, ICDE 2019) in [[FitRounds]] rounds.
    *
    * The rows go to S shards by a hash of their content (never by
    * input partition: a frame grouped by topic would give each shard
    * one topic's rows). Each round is one Spark job: every shard
    * starts from the broadcast current model, sorts its rows by
    * content, runs `maxIter` local L-BFGS iterations on the mean
    * logistic loss (standardized and unregularized, like MLlib's
    * defaults), and
    * returns its model and row count. The driver merges the shard
    * models in shard-id order into their row-weighted average, which
    * the next round starts from. The fit is therefore bit-reproducible
    * for a given frame content and S, whatever the frame's
    * partitioning or the order tasks finish in.
    *
    * S is one shard per [[BytesPerShard]] of the frame's plan-size
    * estimate (no Spark job), capped at the session's parallelism, so
    * a small frame gets the same shards and model on any machine.
    *
    * Scale: a fit is [[FitRounds]] jobs whatever `maxIter` is (MLlib's
    * L-BFGS runs one `treeAggregate` job per iteration), plus one
    * shuffle of the featurized rows, which the second round reuses.
    * The driver holds O(features) per merge step; a shard result that
    * arrives before its predecessors waits for them. It computes no
    * training summary. [[crossValidateRelevance]] stays on MLlib's
    * `LogisticRegression`: it selects over regParam and elastic-net
    * values, which this fit does not have.
    */
  def trainRelevanceClassifier(
      train: DataFrame, // (text: String, label: Double)
      numFeatures: Int = 1 << 14,
      maxIter: Int = 20
  ): PipelineModel = {
    val tok = new RegexTokenizer()
      .setInputCol("text").setOutputCol("tokens").setPattern("\\s+")
    val tf = new HashingTF()
      .setInputCol("tokens").setOutputCol("features").setNumFeatures(numFeatures)
    val s = shardCount(train)
    val shards = tf.transform(tok.transform(train))
      .select(pmod(xxhash64(col("text"), col("label")), lit(s)).cast("int").as("shard"),
        col("text"), col("label").cast("double"), col("features"))
      .rdd
      .map { r =>
        val v = r.getAs[Vector](3).toSparse
        (r.getInt(0), Example(r.getString(1), r.getDouble(2), v.indices, v.values))
      }
      .partitionBy(new HashPartitioner(s))
      .values
    val w = (1 to FitRounds).foldLeft(new Array[Double](numFeatures + 1))((w, _) =>
      averagedRound(shards, w, maxIter))
    GraftModels.pipeline(Array(tok, tf,
      GraftModels.logistic(Vectors.dense(w.take(numFeatures)), w(numFeatures))))
  }

  /** Rounds of a [[trainRelevanceClassifier]] fit: one Spark job each. */
  val FitRounds: Int = 2

  /** Plan-estimated bytes per shard of a [[trainRelevanceClassifier]]
    * fit.
    */
  private val BytesPerShard: Long = 4L << 10

  /** One featurized training row. */
  private final case class Example(text: String, label: Double, indices: Array[Int], values: Array[Double])

  private val ExampleOrder: Ordering[Example] =
    Ordering.by((e: Example) => (e.text, e.label))(Ordering.Tuple2(Ordering.String, Ordering.Double.TotalOrdering))

  /** One shard per [[BytesPerShard]] of the optimized plan's size
    * estimate, in [1, the session's default parallelism].
    */
  private def shardCount(train: DataFrame): Int = {
    val est = train.queryExecution.optimizedPlan.stats.sizeInBytes
    val n   = (est + BytesPerShard - 1) / BytesPerShard
    n.min(BigInt(train.sparkSession.sparkContext.defaultParallelism)).max(BigInt(1)).toInt
  }

  /** One round: every shard fits locally from `w0`; the row-weighted
    * average of the shard models, summed in shard-id order.
    */
  private def averagedRound(shards: RDD[Example], w0: Array[Double], maxIter: Int): Array[Double] = {
    val sc = shards.sparkContext
    val init = sc.broadcast(w0)
    val fitShard = (it: Iterator[Example]) => {
      val rows = it.toArray.sorted(ExampleOrder)
      if (rows.isEmpty) None else Some((rows.length.toLong, localFit(rows, init.value, maxIter)))
    }
    val sum     = new Array[Double](w0.length)
    var n       = 0L
    var next    = 0
    val arrived = scala.collection.mutable.HashMap.empty[Int, Option[(Long, Array[Double])]]
    try sc.runJob(shards, fitShard, (i: Int, r: Option[(Long, Array[Double])]) => {
      arrived(i) = r
      while (arrived.contains(next)) {
        arrived.remove(next).flatten.foreach { case (k, ws) =>
          n += k
          var j = 0
          while (j < ws.length) { sum(j) += k * ws(j); j += 1 }
        }
        next += 1
      }
    })
    finally init.destroy()
    require(n > 0, "trainRelevanceClassifier: the training frame is empty")
    sum.map(_ / n)
  }

  /** `maxIter` L-BFGS iterations on the mean logistic loss of `rows`
    * from `init` (coefficients, then the intercept last).
    *
    * Standardized like MLlib's default, centering included but kept
    * virtual so the rows stay sparse: the search runs over
    * v_j = w_j·σ_j against (x_j − μ_j) / σ_j, μ_j and σ_j the
    * feature's mean and standard deviation over the shard, with the
    * intercept b' = b + Σ w_j·μ_j. Each feature's step then scales with
    * its spread, and the intercept is the margin of the shard's mean
    * row. A feature constant over the shard (σ_j = 0) keeps its
    * starting weight, as a fixed offset to each row's margin.
    */
  private def localFit(rows: Array[Example], init: Array[Double], maxIter: Int): Array[Double] = {
    val d     = init.length - 1
    val n     = rows.length.toDouble
    val sum   = new Array[Double](d)
    val sumSq = new Array[Double](d)
    rows.foreach(e => e.indices.indices.foreach { j =>
      sum(e.indices(j)) += e.values(j)
      sumSq(e.indices(j)) += e.values(j) * e.values(j)
    })
    val sd = Array.tabulate(d)(i => math.sqrt(math.max(0.0, (sumSq(i) - sum(i) * sum(i) / n) / math.max(n - 1, 1))))
    // μ_j / σ_j of the spread features, 0 for the constant ones
    val mz = Array.tabulate(d)(i => if (sd(i) > 0) sum(i) / n / sd(i) else 0.0)
    def centering(v: Array[Double]): Double = {
      var c = 0.0
      var i = 0
      while (i < d) { c += v(i) * mz(i); i += 1 }
      c
    }
    // per row: the spread features, scaled, and the constant ones' offset
    val scaled = rows.map { e =>
      val (spread, constant) = e.indices.indices.partition(j => sd(e.indices(j)) > 0)
      (spread.map(e.indices).toArray, spread.map(j => e.values(j) / sd(e.indices(j))).toArray,
        constant.map(j => init(e.indices(j)) * e.values(j)).sum, e.label)
    }
    val loss = new DiffFunction[BDV[Double]] {
      def calculate(vv: BDV[Double]): (Double, BDV[Double]) = {
        val v = vv.toArray
        val g = new Array[Double](d + 1)
        val c = centering(v)
        var f = 0.0
        scaled.foreach { case (idx, z, offset, y) =>
          var m = v(d) + offset - c
          var j = 0
          while (j < idx.length) { m += v(idx(j)) * z(j); j += 1 }
          // log(1 + exp(m)) − y·m, stable for large |m|
          f += (if (m > 0) m + math.log1p(math.exp(-m)) else math.log1p(math.exp(m))) - y * m
          val r = 1.0 / (1.0 + math.exp(-m)) - y
          j = 0
          while (j < idx.length) { g(idx(j)) += r * z(j); j += 1 }
          g(d) += r
        }
        // the centering term's share of each coefficient's gradient
        var i = 0
        while (i < d) { g(i) -= mz(i) * g(d); i += 1 }
        (f / n, BDV(g.map(_ / n)))
      }
    }
    val v0 = Array.tabulate(d + 1)(i => if (i < d) init(i) * sd(i) else 0.0)
    v0(d) = init(d) + centering(v0)
    val v = new LBFGS[BDV[Double]](maxIter, 10, 1e-6).minimize(loss, BDV(v0)).toArray
    Array.tabulate(d + 1)(i => if (i == d) v(d) - centering(v) else if (sd(i) > 0) v(i) / sd(i) else init(i))
  }

  /** k-fold cross-validated hyperparameter selection for the relevance
    * head — the MLlib analog of the reference's FARM k-fold CV +
    * hyperparameter search (farm_trainer.py:291-348 `run_cv` /
    * trainer_optuna.py:14-120): `CrossValidator` over a regParam grid,
    * areaUnderROC as the selection metric, seeded folds.
    *
    * Scale: each (fold, param) fit is an independent Spark job;
    * `parallelism` bounds how many run concurrently — at cluster
    * scale the k·|grid| fits dominate, and they parallelize across
    * the cluster exactly like any other MLlib training job.
    *
    * Returns the fitted CrossValidatorModel (bestModel inside) and
    * the selected regParam.
    */
  def crossValidateRelevance(
      train: DataFrame, // (text: String, label: Double)
      regParams: Seq[Double] = Seq(0.0, 0.01, 0.1, 1.0),
      numFolds: Int = 3,
      numFeatures: Int = 1 << 14,
      maxIter: Int = 20,
      parallelism: Int = 4,
      elasticNetParam: Double = 0.0
  ): (CrossValidatorModel, Double) = {
    val tok = new RegexTokenizer()
      .setInputCol("text").setOutputCol("tokens").setPattern("\\s+")
    val tf = new HashingTF()
      .setInputCol("tokens").setOutputCol("features").setNumFeatures(numFeatures)
    val lr = new LogisticRegression()
      .setFeaturesCol("features").setLabelCol("label").setMaxIter(maxIter)
      .setElasticNetParam(elasticNetParam)
    val grid = new ParamGridBuilder().addGrid(lr.regParam, regParams).build()
    val cv = new CrossValidator()
      .setEstimator(new MlPipeline().setStages(Array(tok, tf, lr)))
      .setEvaluator(new BinaryClassificationEvaluator()
        .setLabelCol("label").setMetricName("areaUnderROC"))
      .setEstimatorParamMaps(grid)
      .setNumFolds(numFolds)
      .setParallelism(parallelism)
      .setSeed(42L)
    val model = cv.fit(train)
    val bestReg = model.bestModel.asInstanceOf[PipelineModel]
      .stages.last.asInstanceOf[LogisticRegressionModel].getRegParam
    (model, bestReg)
  }
}
