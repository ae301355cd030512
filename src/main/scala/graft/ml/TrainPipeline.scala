package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Lanes
import graft.features.LabelOps
import graft.split.Splits

/** End-to-end training orchestration — the reference's train.py main
  * flow as one composable function (reference: src/training/train.py:
  * prepare_data → transformation pipeline → per-model optimize →
  * evaluate → champion select → calibrate → threshold → register;
  * src/training/core/trainer.py run_training_experiment).
  *
  * Everything stays distributed: splits are filters, weights join via
  * broadcast, search trials reuse the cached train/valid frames, and
  * only metrics and the champion model come back to the driver.
  *
  * Independent chains of Spark jobs run as [[graft.Lanes]]. On a small
  * feature set each step is a run of small, mostly one-task jobs, so a
  * serial walk leaves most cores idle between driver round trips. Every
  * lane's jobs carry the description `train_pipeline/<lane>`.
  *   - Search: each model's search is one lane (`search_<model>`);
  *     results keep `cfg.models` order, so `reports` and
  *     [[Champion.select]]'s tie-break do not depend on which lane
  *     finishes first.
  *   - Tail, on the caller's thread: calibration (`calibrate`), then the
  *     champion's scores are persisted and reduced to one
  *     [[Evaluator.scoreCounts]] table in one collect (`score_counts`);
  *     the threshold is tuned on the driver from it.
  *   - Tail lanes, one per independent step: `metrics` (binaryMetrics
  *     for AUC); `search_runs` (each search run's logRun and trials, in
  *     order); `confusion_matrix`; the curves `roc`, `pr`, `calibration`
  *     (small local frames off the count table) and `lift` (its own
  *     ranked pass); the bundle's `champion`, `calibrator` and
  *     `decision`; `valid_in`; and `valid_scored` (the bundle scoring the
  *     cached split).
  *   - After the join, on the caller's thread (`register`): the champion
  *     run's logRun and its `stages` entries (register, promote), so a
  *     run only points at a bundle, and is only promoted, once every
  *     write has landed.
  * The run log's writes share one lane and the caller's thread because
  * each logRun and logStage appends to one of the parquet tracker's
  * shared `runs`/`stages` tables, whose `_temporary` directory concurrent
  * appends would share; every other write goes to its own path. Results
  * do not change: every lane runs the same deterministic jobs.
  *
  * Trade-off: concurrent fits hold each model's internal cache at once
  * (LR instance blocks plus GBT tree points), so peak cache is the sum
  * over model kinds instead of the max. It is bounded by the number of
  * kinds in `cfg.models`, never by the number of trials.
  */
object TrainPipeline {

  final case class Config(
      labelCol: String,
      pkCol: String,
      featureArrayCol: String,
      trainFraction: Double = 0.8,
      seed: Long = 42L,
      models: Seq[(Trainer.ModelKind, Seq[Trainer.ParamRange])] = Seq(
        (Trainer.LogReg, Seq(Trainer.ParamRange("regParam", 1e-4, 1.0, log = true))),
        (Trainer.GBT, Seq(Trainer.ParamRange("maxDepth", 2, 5), Trainer.ParamRange("maxIter", 5, 15)))),
      trialsPerModel: Int = 2,
      deploymentThreshold: Double = 0.5,
      fbetaBeta: Double = 0.5,
      thresholdGrid: Seq[Double] = (1 to 19).map(_ * 0.05),
      balanceClasses: Boolean = true,
      /** "random" (trialsPerModel trials) or "halving"
        * (trialsPerModel initial configs, eta=3 rungs). */
      searchStrategy: String = "random",
      /** Calibrate the champion's scores before threshold tuning
        * (champion.py calibrate_pipeline; isotonic/sigmoid auto-picked
        * by calibration-set size). */
      calibrate: Boolean = false,
      /** When set, every searched model logs a tracker run here, and
        * the champion logs its confusion matrix + model path. */
      trackerDir: Option[String] = None,
      /** Which [[TrackerRegistry]] backend `trackerDir` names: "parquet"
        * (durable log, the default) or "memory" (shared in-process
        * store) — or any user-registered factory. */
      trackerBackend: String = "parquet",
      /** "binary" (ROC-AUC search, calibration + threshold tuning) or
        * "multiclass" (weighted-F1 search; calibration/threshold are
        * binary concepts and are skipped, exactly as the reference
        * skips ECE for multiclass — trainer.py:277). */
      objective: String = "binary",
      /** Log the champion's plot-ready figure set (roc/pr/calibration/
        * lift — reference visualizer.py) to the tracker. */
      logCurves: Boolean = true)

  final case class ModelReport(name: String, auc: Double, bestParams: Map[String, Double])

  /** `tunedThreshold` is on the CALIBRATED score scale whenever
    * `calibrator` is present — apply `calibrator.get.calibrate` to raw
    * champion scores before thresholding in deployment. For the
    * multiclass objective it is `Double.NaN` (argmax prediction has no
    * decision threshold).
    */
  final case class Result(
      champion: Option[Champion.Candidate],
      reports: Seq[ModelReport],
      tunedThreshold: Double,
      validMetrics: Map[String, Double],
      calibrationMethod: Option[String] = None,
      calibrator: Option[Calibration.Calibrator] = None,
      /** Unique tag of this pipeline invocation: tracker runIds are
        * `run_<tag>_<model>_<i>` and `champion_<tag>`, so repeated runs
        * into one trackerDir never mix trials or confusion matrices.
        */
      runTag: String = "")

  /** Run the full flow; if `modelDir` is set, persist the champion and
    * batch-score the validation split there (predict.py analog).
    */
  def run(spark: SparkSession, data: DataFrame, cfg: Config,
      modelDir: Option[String] = None): Result = {
    // unique per invocation — fixed runIds would mix repeated runs
    // sharing one trackerDir (trials under one id, clobbered champion)
    val runTag = s"${System.currentTimeMillis()}_${java.util.UUID.randomUUID().toString.take(8)}"
    // the tracker seam: trackerDir names a store, trackerBackend picks
    // the impl (parquet | memory | user-registered)
    val tracker = cfg.trackerDir.map(TrackerRegistry.create(cfg.trackerBackend, spark, _))
    // 1. features + (optional) balanced class weights
    val feats0 = Trainer.withFeaturesFromArray(
      data.withColumn("label", col(cfg.labelCol).cast("double")), cfg.featureArrayCol)
    val feats =
      if (!cfg.balanceClasses) feats0.withColumn("weight", lit(1.0))
      else {
        val w = LabelOps.balancedClassWeights(feats0, "label")
          .withColumnRenamed("label", "__wl").drop("n")
        feats0.join(broadcast(w), col("label") === col("__wl")).drop("__wl")
      }

    // 2. stratified train/valid split (disjointness by construction)
    val (train0, valid0) = Splits.stratifiedRandomSplit(
      feats, "label", cfg.pkCol, cfg.trainFraction, cfg.seed)
    val train = train0.cache(); val valid = valid0.cache()
    // Lanes.all returns only once every lane has stopped, on success or
    // failure, so nothing still reads the caches when they are dropped
    try runOnSplits(spark, cfg, modelDir, runTag, tracker, train, valid)
    finally { train.unpersist(); valid.unpersist() }
  }

  private def runOnSplits(spark: SparkSession, cfg: Config, modelDir: Option[String],
      runTag: String, tracker: Option[TrackerBackend], train: DataFrame,
      valid: DataFrame): Result = {
    // 3. per-model search on the shared splits, one lane per model:
    // multiclass scores by weighted F1 (random search); binary picks the
    // configured strategy
    val multiclass = cfg.objective == "multiclass"
    val searched = Lanes.named(spark, JobPrefix, cfg.models.map { case (kind, space) =>
      s"search_$kind" -> (() => {
        val r =
          if (multiclass) Trainer.randomSearchMulticlass(kind, space, train, valid,
            cfg.trialsPerModel, cfg.seed, weightCol = Some("weight"))
          else cfg.searchStrategy match {
            case "halving" => Trainer.successiveHalving(kind, space, train, valid,
              initialConfigs = cfg.trialsPerModel, eta = 3, cfg.seed, weightCol = Some("weight"))
            case "tpe" => Trainer.tpeSearch(kind, space, train, valid, cfg.trialsPerModel,
              cfg.seed, weightCol = Some("weight"))
            case "parallel" => Trainer.randomSearch(kind, space, train, valid,
              cfg.trialsPerModel, cfg.seed, weightCol = Some("weight"), parallelism = 4)
            case _ => Trainer.randomSearch(kind, space, train, valid, cfg.trialsPerModel,
              cfg.seed, weightCol = Some("weight"))
          }
        (kind.toString, r)
      })
    })
    val reports = searched.map { case (name, r) => ModelReport(name, r.bestMetric, r.bestParams) }
    def logSearch(t: TrackerBackend): Unit =
      searched.zipWithIndex.foreach { case ((name, r), i) =>
        t.logRun(ExperimentTracker.Run(
          runId = s"run_${runTag}_${name}_$i", model = name, params = r.bestParams,
          metrics = Map(searchMetric(cfg) -> r.bestMetric),
          timestampMs = System.currentTimeMillis() + i))
        t.logTrials(s"run_${runTag}_${name}_$i", r.trials)
      }

    // 4. champion selection with deployment gate
    val champion = Champion.select(
      searched.map { case (name, r) => Champion.Candidate(name, r.bestModel, r.bestMetric) },
      cfg.deploymentThreshold)
    val c = champion match {
      case Some(c) => c
      case None =>
        tracker.foreach(logSearch)
        return Result(None, reports, 0.5, Map.empty, runTag = runTag)
    }

    // 5. the champion's validation scores, persisted for the whole tail:
    // binary keeps (pk, label, p) with p the (optionally calibrated)
    // positive probability, multiclass the argmax prediction. The fitted
    // calibrator is RETURNED (Result.calibrator) — tunedThreshold lives
    // on the calibrated scale, so a deployment must apply the same map.
    // Multiclass: calibration, thresholds, and the binary curve set don't
    // apply (reference skips ECE for multiclass too) — metrics come from
    // multiclassSummary, the CM from the argmax prediction, and
    // tunedThreshold is NaN by contract.
    val raw = c.model.transform(valid)
    val (scored, calibrator) =
      if (multiclass) (raw.select(col(cfg.pkCol), col("label"), col("prediction")), None)
      else {
        val p = raw.withColumn("p", Trainer.posProb("probability"))
        val cal = Option.when(cfg.calibrate)(
          Lanes.described(spark, s"$JobPrefix/calibrate")(Calibration.fitAuto(p, "p", "label")))
        (cal.fold(p)(_.calibrate(p, "p", "pc").withColumn("p", col("pc")))
          .select(col(cfg.pkCol), col("label"), col("p")), cal)
      }
    scored.persist()
    try {
      val (tuned, metrics) = tail(spark, cfg, modelDir, runTag, tracker, valid, c, scored,
        calibrator, logSearch)
      Result(champion, reports, tuned, metrics, calibrator.map(_.method), calibrator, runTag)
    } finally scored.unpersist()
  }

  private val JobPrefix = "train_pipeline"
  private def searchMetric(cfg: Config): String =
    if (cfg.objective == "multiclass") "valid_weighted_f1" else "valid_auc"
  /** Calibration bins of the logged figure set (EvalArtifacts.logAll's). */
  private val CalibrationBins = 10

  /** Steps 6 and 7 over the persisted `scored` frame; returns the tuned
    * threshold and the validation metrics. */
  private def tail(spark: SparkSession, cfg: Config, modelDir: Option[String], runTag: String,
      tracker: Option[TrackerBackend], valid: DataFrame, c: Champion.Candidate,
      scored: DataFrame, calibrator: Option[Calibration.Calibrator],
      logSearch: TrackerBackend => Unit): (Double, Map[String, Double]) = {
    val multiclass = cfg.objective == "multiclass"
    val championRun = s"champion_$runTag"
    // 6. binary: one count table for the threshold sweep, the confusion
    // matrix at the tuned cut and the roc/pr/calibration curves — all
    // from the same (calibrated) scores and the same grid, so the curve
    // frames contain the deployed operating point
    val counts = Option.when(!multiclass)(Lanes.described(spark, s"$JobPrefix/score_counts")(
      Evaluator.scoreCounts(scored, "label", "p", cfg.thresholdGrid, CalibrationBins)))
    val tuned = counts.fold(Double.NaN)(_.bestThreshold(cfg.fbetaBeta))

    // 7. every independent step of the tail is a lane (see the object doc)
    val metricsLane = "metrics" -> (() => {
      val m =
        if (multiclass) Evaluator.multiclassSummary(scored, "label", "prediction").head()
        else Evaluator.binaryMetrics(scored, "label", "p", cfg.pkCol, tuned, cfg.fbetaBeta).head()
      m.schema.fieldNames.map(f => f -> m.getAs[Double](f)).toMap
    })
    val trackerLanes = tracker.toSeq.flatMap { tk =>
      Seq("search_runs" -> (() => logSearch(tk)),
        "confusion_matrix" -> (() => tk.logConfusionMatrix(championRun, counts.fold(
          Evaluator.confusionMatrix(scored, "label", "prediction"))(_.confusionMatrix(tuned))))) ++
        counts.filter(_ => cfg.logCurves).toSeq.flatMap(EvalArtifacts.curveWrites(tk, championRun,
          _, scored, "label", "p", cfg.pkCol))
    }
    val persistLanes = modelDir.toSeq.flatMap { dir =>
      val validIn = valid.select(col(cfg.pkCol), col("label"), col(cfg.featureArrayCol))
      val writeValidIn = () => validIn.write.mode("overwrite").parquet(s"$dir/valid_in")
      // multiclass: no Deployment bundle — its score() is
      // positive-probability + threshold algebra, a binary contract; the
      // champion persists bare and scores valid_in once it has landed
      if (multiclass) Seq(
        "champion" -> (() => Champion.save(c.model, s"$dir/champion")),
        "valid_in" -> (() => {
          writeValidIn()
          Champion.batchPredictMulticlass(spark, c.model, s"$dir/valid_in",
            s"$dir/valid_scored", cfg.featureArrayCol)
        }))
      else {
        // binary: the full deployable bundle (champion + calibrator +
        // tuned threshold), reloadable via Deployment.load in a fresh
        // session, and valid_scored through that same bundle from the
        // cached split. Its plan is built here, before any lane runs:
        // scoring sets the calibrator's output column, which the
        // calibrator's save lane must not see change under it.
        val validScored = Deployment.Bundle(c.model, calibrator, tuned)
          .score(validIn, cfg.featureArrayCol)
          .select(col(cfg.pkCol), col("label"), col(cfg.featureArrayCol), col("prediction"),
            col("score").as("pos_prob"))
        Deployment.saveWrites(spark, dir, c.model, calibrator, tuned) ++ Seq(
          "valid_in" -> writeValidIn,
          "valid_scored" -> (() => validScored.write.mode("overwrite").parquet(s"$dir/valid_scored")))
      }
    }
    val metrics = Lanes.named(spark, JobPrefix, metricsLane +: (trackerLanes ++ persistLanes))
      .head.asInstanceOf[Map[String, Double]]

    // 8. the persisted champion registers as a deployable tracker run
    // (model artifact), after every lane has landed
    for (tk <- tracker; dir <- modelDir) Lanes.described(spark, s"$JobPrefix/register") {
      tk.logRun(ExperimentTracker.Run(
        runId = championRun, model = c.name, params = Map.empty,
        metrics = metrics + (searchMetric(cfg) -> c.metric),
        timestampMs = System.currentTimeMillis(),
        // `bundle` points at the whole reloadable Deployment.save
        // directory — what ModelRegistry.loadChampionBundle reads
        // (binary only; multiclass has no bundle by contract)
        artifacts = Map("model" -> s"$dir/champion") ++
          (if (multiclass) Map.empty else Map("bundle" -> dir))))
      // lifecycle: the new run enters as a candidate and is promoted
      // (archiving any prior champion in this tracker)
      ModelRegistry.register(tk, championRun)
      ModelRegistry.promote(tk, championRun)
    }
    (tuned, metrics)
  }
}
