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
  * serial walk leaves most cores idle between driver round trips:
  *   - each model's search is one lane; results keep `cfg.models` order,
  *     so `reports` and [[Champion.select]]'s tie-break do not depend on
  *     which lane finishes first;
  *   - after threshold tuning, three lanes: the validation metrics;
  *     every tracker write, on one lane in a fixed order, because each
  *     search run's logRun appends to the parquet tracker's shared
  *     `runs` table, whose `_temporary` directory concurrent appends
  *     would share (trials, the confusion matrix and curves go to
  *     per-run paths); and persistence (`valid_in` alongside the
  *     champion bundle, then batch scoring through that bundle);
  *   - the champion run's logRun and its `stages` entries (register,
  *     promote) follow the join, on the caller's thread.
  * Results do not change: every lane runs the same deterministic jobs.
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
    val searchMetric = if (multiclass) "valid_weighted_f1" else "valid_auc"
    val searched = Lanes.all(cfg.models.map { case (kind, space) => () =>
      val r =
        if (multiclass) Trainer.randomSearchMulticlass(kind, space, train, valid,
          cfg.trialsPerModel, cfg.seed, weightCol = Some("weight"))
        else cfg.searchStrategy match {
          case "halving" => Trainer.successiveHalving(kind, space, train, valid,
            initialConfigs = cfg.trialsPerModel, eta = 3, cfg.seed, weightCol = Some("weight"))
          case "tpe" => Trainer.tpeSearch(kind, space, train, valid, cfg.trialsPerModel,
            cfg.seed, weightCol = Some("weight"))
          case "parallel" => Trainer.randomSearchParallel(kind, space, train, valid,
            cfg.trialsPerModel, cfg.seed, weightCol = Some("weight"))
          case _ => Trainer.randomSearch(kind, space, train, valid, cfg.trialsPerModel,
            cfg.seed, weightCol = Some("weight"))
        }
      (kind.toString, r)
    })
    val reports = searched.map { case (name, r) => ModelReport(name, r.bestMetric, r.bestParams) }
    def logSearch(t: TrackerBackend): Unit =
      searched.zipWithIndex.foreach { case ((name, r), i) =>
        t.logRun(ExperimentTracker.Run(
          runId = s"run_${runTag}_${name}_$i", model = name, params = r.bestParams,
          metrics = Map(searchMetric -> r.bestMetric),
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

    // 5. (optional) score calibration, then threshold tuning for the
    // champion. The fitted calibrator is RETURNED (Result.calibrator) —
    // tunedThreshold lives on the calibrated scale, so a deployment must
    // apply the same map. Multiclass: calibration, thresholds, and the
    // binary curve set don't apply (reference skips ECE for multiclass
    // too) — metrics come from multiclassSummary, the CM from the argmax
    // prediction, and tunedThreshold is NaN by contract.
    val (scored, tuned, calibrator) =
      if (multiclass) (c.model.transform(valid), Double.NaN, Option.empty[Calibration.Calibrator])
      else {
        val raw = c.model.transform(valid).withColumn("p", Trainer.posProb("probability"))
        val (scored, cal) =
          if (!cfg.calibrate) (raw, None)
          else {
            val fitted = Calibration.fitAuto(raw, "p", "label")
            (fitted.calibrate(raw, "p", "pc").withColumn("p", col("pc")).drop("pc"),
              Some(fitted))
          }
        val (t, _) = Calibration.tuneThreshold(scored, "label", "p", cfg.fbetaBeta, cfg.thresholdGrid)
        (scored, t, cal)
      }

    // 6. three lanes: validation metrics; every tracker write, in order
    // on one lane (see the object doc for why they share it); and
    // persistence + batch scoring (inference analog)
    val metricsLane = () => {
      val m =
        if (multiclass) Evaluator.multiclassSummary(scored, "label", "prediction").head()
        else Evaluator.binaryMetrics(scored, "label", "p", cfg.pkCol, tuned, cfg.fbetaBeta).head()
      m.schema.fieldNames.map(f => f -> m.getAs[Double](f)).toMap
    }
    val trackerLane = () => tracker.foreach { tk =>
      logSearch(tk)
      // confusion matrix from the SAME (calibrated) scores the
      // threshold was tuned on — raw scores + a calibrated-scale
      // threshold would make the logged CM disagree with metrics
      if (multiclass)
        tk.logConfusionMatrix(s"champion_$runTag",
          Evaluator.confusionMatrix(scored, "label", "prediction"))
      else {
        val withPred = scored.withColumn("pred", Evaluator.predictAt(col("p"), tuned))
        tk.logConfusionMatrix(s"champion_$runTag",
          Evaluator.confusionMatrix(withPred, "label", "pred"))
        // plot-ready figure set from the same calibrated scores AND
        // the same threshold grid the tuning ran on, so the curve
        // frames contain the deployed operating point
        if (cfg.logCurves)
          EvalArtifacts.logAll(tk, s"champion_$runTag", scored, "label", "p", cfg.pkCol,
            thresholds = cfg.thresholdGrid)
      }
    }
    val persistLane = () => modelDir.foreach { dir =>
      Lanes.all(Seq(
        () => valid.select(col(cfg.pkCol), col("label"), col(cfg.featureArrayCol))
          .write.mode("overwrite").parquet(s"$dir/valid_in"),
        // multiclass: no Deployment bundle — its score() is
        // positive-probability + threshold algebra, a binary contract;
        // the champion persists bare. Binary: the full deployable
        // bundle (champion + calibrator + tuned threshold), reloadable
        // via Deployment.load in a fresh session
        () => if (multiclass) Champion.save(c.model, s"$dir/champion")
          else Deployment.save(spark, dir, c.model, calibrator, tuned)))
      // binary: the same calibrated score and tuned cut as the bundle
      // saved next to it, under the file's `pos_prob` name
      if (multiclass) Champion.batchPredictMulticlass(spark, c.model, s"$dir/valid_in",
        s"$dir/valid_scored", cfg.featureArrayCol)
      else Deployment.Bundle(c.model, calibrator, tuned)
        .score(spark.read.parquet(s"$dir/valid_in"), cfg.featureArrayCol)
        .select(col(cfg.pkCol), col("label"), col(cfg.featureArrayCol), col("prediction"),
          col("score").as("pos_prob"))
        .write.mode("overwrite").parquet(s"$dir/valid_scored")
    }
    val metrics = Lanes.all(Seq[() => Any](metricsLane, trackerLane, persistLane))
      .head.asInstanceOf[Map[String, Double]]

    // 7. the persisted champion registers as a deployable tracker run
    // (model artifact), after every lane has landed
    for (tk <- tracker; dir <- modelDir) {
      tk.logRun(ExperimentTracker.Run(
        runId = s"champion_$runTag", model = c.name, params = Map.empty,
        metrics = metrics + (searchMetric -> c.metric),
        timestampMs = System.currentTimeMillis(),
        // `bundle` points at the whole reloadable Deployment.save
        // directory — what ModelRegistry.loadChampionBundle reads
        // (binary only; multiclass has no bundle by contract)
        artifacts = Map("model" -> s"$dir/champion") ++
          (if (multiclass) Map.empty else Map("bundle" -> dir))))
      // lifecycle: the new run enters as a candidate and is promoted
      // (archiving any prior champion in this tracker)
      ModelRegistry.register(tk, s"champion_$runTag")
      ModelRegistry.promote(tk, s"champion_$runTag")
    }
    Result(champion, reports, tuned, metrics, calibrator.map(_.method), calibrator, runTag)
  }
}
