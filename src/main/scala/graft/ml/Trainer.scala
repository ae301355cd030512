package graft.ml

import org.apache.spark.ml.classification._
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
import org.apache.spark.ml.{Estimator, Model, Transformer}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model training + hyperparameter search, the MLlib re-expression of
  * the reference's training core
  * (reference: src/training/core/trainer.py TrainingOrchestrator,
  * src/training/core/optimizer.py ModelOptimizer,
  * src/training/core/ensemble.py ClassifierEnsembleOrchestrator).
  *
  * Model mapping: LogisticRegression↔sklearn LR (elasticnet, class
  * weights), RandomForestClassifier↔sklearn RF, GBTClassifier↔
  * LightGBM/XGBoost (gradient-boosted trees — Spark's native analog).
  * Optuna's seeded random search ↔ `randomSearch` (same loop shape:
  * sample params → fit on train → score on validation → keep best).
  * All training is distributed; nothing here collects the data.
  */
object Trainer {

  /** Hyperparameter range, log-scaled when `log`
    * (reference: training-config.yml search_space_params [lo, hi, log]).
    */
  final case class ParamRange(name: String, lo: Double, hi: Double, log: Boolean = false) {
    def sample(rnd: scala.util.Random): Double =
      if (log) math.exp(math.log(lo) + rnd.nextDouble() * (math.log(hi) - math.log(lo)))
      else lo + rnd.nextDouble() * (hi - lo)
  }

  sealed trait ModelKind
  case object LogReg extends ModelKind
  case object RandomForest extends ModelKind
  case object GBT extends ModelKind

  /** Add a `features` vector column from an array column. */
  def withFeaturesFromArray(df: DataFrame, arrayCol: String): DataFrame =
    df.withColumn("features", array_to_vector(col(arrayCol).cast("array<double>")))

  /** Positive-class probability as a plain double column. */
  def posProb(probabilityCol: String): Column =
    vector_to_array(col(probabilityCol)).getItem(1)

  /** Build a classifier for a sampled parameter assignment. */
  def classifier(kind: ModelKind, p: Map[String, Double], weightCol: Option[String]): Estimator[_ <: Model[_]] =
    kind match {
      case LogReg =>
        val c = new LogisticRegression()
          .setMaxIter(50)
          .setRegParam(p.getOrElse("regParam", 0.0))
          .setElasticNetParam(p.getOrElse("elasticNetParam", 0.0))
        weightCol.foreach(c.setWeightCol)
        c
      case RandomForest =>
        val c = new RandomForestClassifier()
          .setNumTrees(p.getOrElse("numTrees", 20.0).toInt)
          .setMaxDepth(p.getOrElse("maxDepth", 5.0).toInt)
          .setMinInstancesPerNode(p.getOrElse("minInstancesPerNode", 1.0).toInt)
          .setSeed(42L)
        weightCol.foreach(c.setWeightCol)
        c
      case GBT =>
        val c = new GBTClassifier()
          .setMaxIter(p.getOrElse("maxIter", 20.0).toInt)
          .setMaxDepth(p.getOrElse("maxDepth", 5.0).toInt)
          .setStepSize(p.getOrElse("stepSize", 0.1))
          .setSubsamplingRate(p.getOrElse("subsamplingRate", 1.0))
          .setSeed(42L)
        weightCol.foreach(c.setWeightCol)
        c
    }

  final case class Trial(params: Map[String, Double], metric: Double)
  final case class SearchResult(bestModel: Model[_], bestParams: Map[String, Double],
      bestMetric: Double, trials: Seq[Trial])

  sealed trait RegressorKind
  case object LinReg extends RegressorKind
  case object GBTReg extends RegressorKind

  /** Build a regressor for a sampled parameter assignment — the
    * regression seat next to [[classifier]] (sklearn
    * LinearRegression/ElasticNet ↔ MLlib LinearRegression,
    * LightGBM/XGBoost regressors ↔ GBTRegressor).
    */
  def regressor(kind: RegressorKind, p: Map[String, Double])
      : Estimator[_ <: Model[_]] = kind match {
    case LinReg =>
      new org.apache.spark.ml.regression.LinearRegression()
        .setMaxIter(50)
        .setRegParam(p.getOrElse("regParam", 0.0))
        .setElasticNetParam(p.getOrElse("elasticNetParam", 0.0))
    case GBTReg =>
      new org.apache.spark.ml.regression.GBTRegressor()
        .setMaxIter(p.getOrElse("maxIter", 20.0).toInt)
        .setMaxDepth(p.getOrElse("maxDepth", 5.0).toInt)
        .setStepSize(p.getOrElse("stepSize", 0.1))
        .setSeed(42L)
  }

  /** Validation RMSE of a fitted regressor (via the same
    * Evaluator.regressionMetrics the query surface uses).
    */
  def validationRmse(model: Transformer, valid: DataFrame): Double =
    Evaluator.regressionMetrics(model.transform(valid), "label", "prediction")
      .head().getAs[Double]("rmse")

  /** Seeded random search for regressors — the [[randomSearch]] loop
    * scored by validation RMSE. `Trial.metric`/`bestMetric` store
    * NEGATED RMSE so "higher is better" holds across all SearchResults
    * (tracker/champion comparators are shared with the classifier
    * paths).
    */
  def randomSearchRegression(kind: RegressorKind, space: Seq[ParamRange], train: DataFrame,
      valid: DataFrame, maxTrials: Int, seed: Long): SearchResult = {
    val rnd = new scala.util.Random(seed)
    val trials = (1 to maxTrials).map { _ =>
      val params = space.map(r => r.name -> r.sample(rnd)).toMap
      val model: Model[_] = regressor(kind, params).fit(train)
      (params, model, -validationRmse(model, valid))
    }
    val (bp, bm, bMetric) = trials.maxBy(_._3)
    SearchResult(bm, bp, bMetric, trials.map(t => Trial(t._1, t._3)))
  }

  /** Validation ROC-AUC of a fitted model. */
  def validationAuc(model: Transformer, valid: DataFrame): Double = {
    val pred = model.transform(valid)
    new BinaryClassificationEvaluator()
      .setLabelCol("label").setRawPredictionCol("rawPrediction")
      .setMetricName("areaUnderROC")
      .evaluate(pred)
  }

  /** Validation weighted F1 for multiclass models (reference:
    * trainer.py:193 evaluate_model handles "both binary and
    * multi-class"; the multiclass score is fbeta with
    * average='weighted' — AUC/ECE are binary-only there too).
    */
  def validationF1Weighted(model: Transformer, valid: DataFrame): Double = {
    val pred = model.transform(valid)
    new org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator()
      .setLabelCol("label").setPredictionCol("prediction")
      .setMetricName("weightedFMeasure")
      .evaluate(pred)
  }

  /** Multiclass seeded random search: the [[randomSearch]] loop scored
    * by weighted F1 instead of ROC-AUC. LogReg fits multinomial and RF
    * is natively multiclass in MLlib; GBTClassifier is binary-only, so
    * it's rejected up front instead of failing mid-fit.
    */
  def randomSearchMulticlass(kind: ModelKind, space: Seq[ParamRange], train: DataFrame,
      valid: DataFrame, maxTrials: Int, seed: Long,
      weightCol: Option[String] = None): SearchResult = {
    require(kind != GBT,
      "GBTClassifier is binary-only in MLlib; use LogReg (multinomial) or RandomForest for multiclass")
    val rnd = new scala.util.Random(seed)
    val scoredTrials = (1 to maxTrials).map { _ =>
      val params = space.map(r => r.name -> r.sample(rnd)).toMap
      val model: Model[_] = classifier(kind, params, weightCol).fit(train)
      (params, model, validationF1Weighted(model, valid))
    }
    val (bp, bm, bmetric) = scoredTrials.maxBy(_._3)
    SearchResult(bm, bp, bmetric, scoredTrials.map(t => Trial(t._1, t._3)))
  }

  /** Seeded random search (Optuna-analog): `maxTrials` samples from the
    * declared ranges, each fit on `train`, scored by ROC-AUC on `valid`,
    * best kept. Train/valid stay distributed; only metrics come back.
    */
  def randomSearch(kind: ModelKind, space: Seq[ParamRange], train: DataFrame,
      valid: DataFrame, maxTrials: Int, seed: Long,
      weightCol: Option[String] = None): SearchResult = {
    val rnd = new scala.util.Random(seed)
    val trials = (1 to maxTrials).map { _ =>
      val params = space.map(r => r.name -> r.sample(rnd)).toMap
      val model: Model[_] = classifier(kind, params, weightCol).fit(train)
      (params, model)
    }
    val scoredTrials = trials.map { case (params, model) => (params, model, validationAuc(model, valid)) }
    val (bp, bm, bmetric) = scoredTrials.maxBy(_._3)
    SearchResult(bm, bp, bmetric, scoredTrials.map(t => Trial(t._1, t._3)))
  }

  /** k-fold cross-validated grid search over a small explicit grid —
    * the CrossValidator path (reference: train.py cross_val_folds).
    */
  def crossValidateLogReg(train: DataFrame, regParams: Seq[Double], folds: Int): CrossValidatorModelWrapper = {
    val lr = new LogisticRegression().setMaxIter(50)
    val grid = new ParamGridBuilder().addGrid(lr.regParam, regParams).build()
    val cv = new CrossValidator()
      .setEstimator(lr)
      .setEvaluator(new BinaryClassificationEvaluator().setMetricName("areaUnderROC"))
      .setEstimatorParamMaps(grid)
      .setNumFolds(folds)
      .setSeed(42L)
    val m = cv.fit(train)
    CrossValidatorModelWrapper(m.bestModel.asInstanceOf[LogisticRegressionModel], m.avgMetrics.toSeq)
  }

  final case class CrossValidatorModelWrapper(best: LogisticRegressionModel, avgMetrics: Seq[Double])

  /** Soft-voting ensemble: average the positive-class probabilities of
    * the fitted models (reference: ensemble.py:245-305
    * create_voting_ensemble, voting_rule="soft"). Pure column algebra
    * over each model's transform — no extra shuffle.
    */
  def softVote(models: Seq[Transformer], df: DataFrame, threshold: Double = 0.5): DataFrame = {
    val scored = models.zipWithIndex.foldLeft(df) { case (d, (m, i)) =>
      m.transform(d)
        .withColumn(s"p$i", posProb("probability"))
        .drop("rawPrediction", "probability", "prediction")
    }
    val avgP = models.indices.map(i => col(s"p$i")).reduce(_ + _) / models.size
    scored.withColumn("ens_prob", avgP)
      .withColumn("ens_pred", (col("ens_prob") >= threshold).cast("double"))
      .drop(models.indices.map(i => s"p$i"): _*)
  }

  /** Majority vote over already-computed member 0/1 prediction columns.
    * Ties break to class 0 — sklearn `VotingClassifier`'s argmax-first
    * convention (reference: ensemble.py:44,143 voting_rule="hard").
    */
  def hardVoteColumn(preds: Seq[Column]): Column = {
    val ones = preds.map(_.cast("double")).reduce(_ + _)
    (ones > lit(preds.size) - ones).cast("double")
  }

  /** Hard-voting ensemble: majority over the fitted models' `prediction`
    * columns (reference: ensemble.py:44,143 voting_rule="hard" — the
    * branch [[softVote]] does not cover). Same no-shuffle column algebra
    * as softVote; ties go to class 0.
    */
  def hardVote(models: Seq[Transformer], df: DataFrame): DataFrame = {
    val scored = models.zipWithIndex.foldLeft(df) { case (d, (m, i)) =>
      m.transform(d)
        .withColumn(s"v$i", col("prediction"))
        .drop("rawPrediction", "probability", "prediction")
    }
    scored.withColumn("ens_pred", hardVoteColumn(models.indices.map(i => col(s"v$i"))))
      .drop(models.indices.map(i => s"v$i"): _*)
  }

  /** Successive-halving adaptive search — the budget-efficiency analog
    * of the reference's Optuna multivariate-TPE sampler (reference:
    * optimizer.py:329-400 tune_model, :370-381 TPESampler): sample
    * `initialConfigs` parameter sets, fit each rung on a growing
    * fraction of `train` (1/eta^(rungs−1), …, 1/eta, 1), keep the top
    * 1/eta by validation AUC after each rung. Bad configs die on cheap
    * small-sample fits, so the full-data budget concentrates on the
    * promising region — at equal total fits this dominates pure random
    * search on tasks where config quality is sample-size-stable.
    *
    * Fully seeded/deterministic. The returned best model is fitted on
    * the FULL train frame (final rung). Total fits =
    * Σ_r configs_r ≈ initialConfigs · eta/(eta−1) + log_eta rungs.
    */
  def successiveHalving(kind: ModelKind, space: Seq[ParamRange], train: DataFrame,
      valid: DataFrame, initialConfigs: Int, eta: Int, seed: Long,
      weightCol: Option[String] = None): SearchResult = {
    require(eta >= 2, "eta must be >= 2")
    val rnd = new scala.util.Random(seed)
    var survivors: Seq[Map[String, Double]] =
      (1 to initialConfigs).map(_ => space.map(r => r.name -> r.sample(rnd)).toMap)
    // fractions 1/eta^(nRungs-1) … 1/eta, 1: the first rung screens on
    // 1/eta of the data (not 1/initialConfigs — tiny first rungs rank
    // configs on noise and eliminate the good ones), the last rung fits
    // the final `eta`-ish survivors on the full frame
    val nRungs = math.max(1,
      math.ceil(math.log(initialConfigs.toDouble) / math.log(eta.toDouble)).toInt)
    var allTrials = Vector.empty[Trial]
    var lastScored: Seq[(Map[String, Double], Model[_], Double)] = Nil
    for (r <- 0 until nRungs if survivors.nonEmpty) {
      val frac = math.pow(eta.toDouble, (r - (nRungs - 1)).toDouble)
      val sub = if (frac >= 1.0) train else train.sample(withReplacement = false, frac, seed)
      lastScored = survivors.map { p =>
        val m: Model[_] = classifier(kind, p, weightCol).fit(sub)
        (p, m, validationAuc(m, valid))
      }
      allTrials ++= lastScored.map(t => Trial(t._1, t._3))
      // stable sort → deterministic survivor order on AUC ties
      survivors = lastScored.sortBy(-_._3).take(math.max(1, survivors.size / eta)).map(_._1)
    }
    val (bp, bm, bmetric) = lastScored.maxBy(_._3)
    SearchResult(bm, bp, bmetric, allTrials)
  }

  /** Tree-structured Parzen Estimator optimization loop over `space` —
    * the history-guided sampler behind the reference's
    * `optuna.samplers.TPESampler` (reference: optimizer.py:371),
    * re-implemented from the public algorithm (Bergstra et al. 2011,
    * "Algorithms for Hyper-Parameter Optimization"):
    *
    *   1. `nStartup` seeded random trials;
    *   2. afterwards, split history at the top-`gamma` quantile into
    *      good/bad sets, model each as a per-dimension Parzen mixture
    *      (Gaussians at the observed values + a uniform floor, in
    *      log-space for log ranges), draw `nCandidates` samples from
    *      the GOOD density and evaluate the one maximizing
    *      Σ_dims [log l(x) − log g(x)] — expected-improvement-greedy.
    *
    * MAXIMIZES the objective. Fully seeded/deterministic for a given
    * (space, seed, objective). The objective is a plain function so
    * the sampler is testable against rigged surfaces; [[tpeSearch]]
    * wraps it with the fit-and-score objective.
    */
  def tpeOptimize(space: Seq[ParamRange], maxTrials: Int, seed: Long,
      nStartup: Int = 8, gamma: Double = 0.25, nCandidates: Int = 24)
      (objective: Map[String, Double] => Double): Seq[Trial] = {
    require(space.nonEmpty, "search space must be non-empty")
    require(maxTrials >= 1 && nStartup >= 1 && nCandidates >= 1)
    require(gamma > 0.0 && gamma < 1.0, "gamma must be in (0,1)")
    val rnd = new scala.util.Random(seed)
    def toT(r: ParamRange, x: Double) = if (r.log) math.log(x) else x
    def fromT(r: ParamRange, t: Double) = if (r.log) math.exp(t) else t
    val lo = space.map(r => toT(r, r.lo))
    val hi = space.map(r => toT(r, r.hi))
    val width = space.indices.map(i => math.max(hi(i) - lo(i), 1e-12))

    // Parzen mixture density at x over observed transformed values:
    // equal-weight Gaussians (bandwidth shrinks ~1/sqrt(n)) plus a
    // uniform floor so the bad-density never zeroes the ratio
    def logDensity(obs: IndexedSeq[Double], x: Double, dim: Int): Double = {
      val sigma = math.max(width(dim) * 1e-3,
        width(dim) / math.max(1.0, math.sqrt(obs.size.toDouble)))
      val gauss = obs.map { mu =>
        val z = (x - mu) / sigma
        math.exp(-0.5 * z * z) / (sigma * math.sqrt(2.0 * math.Pi))
      }.sum / obs.size
      math.log(0.9 * gauss + 0.1 / width(dim))
    }

    var history = Vector.empty[Trial]
    def randomParams(): Map[String, Double] =
      space.map(r => r.name -> r.sample(rnd)).toMap
    while (history.size < maxTrials) {
      val params =
        if (history.size < nStartup) randomParams()
        else {
          val sorted = history.sortBy(-_.metric)
          val nGood = math.max(1, math.ceil(gamma * history.size).toInt)
          val goodT = space.indices.map(i =>
            sorted.take(nGood).map(t => toT(space(i), t.params(space(i).name))).toIndexedSeq)
          val badT = space.indices.map(i =>
            sorted.drop(nGood).map(t => toT(space(i), t.params(space(i).name))).toIndexedSeq)
          val candidates = Vector.fill(nCandidates) {
            space.indices.map { i =>
              val obs = goodT(i)
              val mu = obs(rnd.nextInt(obs.size))
              val sigma = math.max(width(i) * 1e-3,
                width(i) / math.max(1.0, math.sqrt(obs.size.toDouble)))
              math.min(hi(i), math.max(lo(i), mu + rnd.nextGaussian() * sigma))
            }
          }
          val bestCand = candidates.maxBy { xs =>
            space.indices.map { i =>
              logDensity(goodT(i), xs(i), i) -
                (if (badT(i).isEmpty) 0.0 else logDensity(badT(i), xs(i), i))
            }.sum
          }
          space.indices.map(i => space(i).name -> fromT(space(i), bestCand(i))).toMap
        }
      history :+= Trial(params, objective(params))
    }
    history
  }

  /** TPE-guided hyperparameter search: [[tpeOptimize]] with the same
    * fit-on-train / ROC-AUC-on-valid objective and SearchResult surface
    * as [[randomSearch]], so the tracker logs it identically
    * (reference: optimizer.py:329-400 tune_model with TPESampler).
    */
  def tpeSearch(kind: ModelKind, space: Seq[ParamRange], train: DataFrame,
      valid: DataFrame, maxTrials: Int, seed: Long,
      weightCol: Option[String] = None, nStartup: Int = 8,
      gamma: Double = 0.25, nCandidates: Int = 24): SearchResult = {
    var best: Option[(Map[String, Double], Model[_], Double)] = None
    val trials = tpeOptimize(space, maxTrials, seed, nStartup, gamma, nCandidates) { params =>
      val m: Model[_] = classifier(kind, params, weightCol).fit(train)
      val auc = validationAuc(m, valid)
      if (best.forall(_._3 < auc)) best = Some((params, m, auc))
      auc
    }
    val (bp, bm, bmetric) = best.get
    SearchResult(bm, bp, bmetric, trials)
  }

  /** Random search with trials fitted CONCURRENTLY (reference:
    * optimizer.py:402 tune_model_in_parallel). Results are IDENTICAL to
    * [[randomSearch]]: the parameter sets come from the same seeded
    * sampling sequence drawn up front, trial order is preserved, and
    * MLlib fits are deterministic — only wall-clock changes. The trials
    * split into `parallelism` contiguous groups that run as
    * [[graft.Lanes]], each group's trials in order: every trial is an
    * independent chain of Spark jobs, so concurrent submission overlaps
    * scheduling gaps and keeps executors busy while another trial's
    * driver-side phase runs.
    */
  def randomSearchParallel(kind: ModelKind, space: Seq[ParamRange], train: DataFrame,
      valid: DataFrame, maxTrials: Int, seed: Long,
      weightCol: Option[String] = None, parallelism: Int = 4): SearchResult = {
    require(parallelism >= 1)
    val rnd = new scala.util.Random(seed)
    val paramSets = (1 to maxTrials).map(_ => space.map(r => r.name -> r.sample(rnd)).toMap)
    val groupSize = math.max(1, (paramSets.size + parallelism - 1) / parallelism)
    val scored = graft.Lanes.all(paramSets.grouped(groupSize).toSeq.map { group => () =>
      group.map { p =>
        val m: Model[_] = classifier(kind, p, weightCol).fit(train)
        (p, m, validationAuc(m, valid))
      }
    }).flatten
    val (bp, bm, bmetric) = scored.maxBy(_._3)
    SearchResult(bm, bp, bmetric, scored.map(t => Trial(t._1, t._3)))
  }

  /** Feature importances (tree models) / coefficients (linear) as a
    * (feature_index, importance) DataFrame
    * (reference: evaluator.py:109-206 extract_feature_importance).
    */
  def featureImportance(model: Transformer): Seq[(Int, Double)] = model match {
    case m: RandomForestClassificationModel => m.featureImportances.toArray.zipWithIndex.map(_.swap).toSeq
    case m: GBTClassificationModel          => m.featureImportances.toArray.zipWithIndex.map(_.swap).toSeq
    case m: LogisticRegressionModel         => m.coefficients.toArray.zipWithIndex.map(_.swap).toSeq
    case _                                  => Seq.empty
  }
}
