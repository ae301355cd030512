package graft

import org.apache.spark.ml.classification.LogisticRegressionModel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ml._

class TrainerSpec extends SparkSpec {
  import spark.implicits._

  /** Separable synthetic data: two shifted Gaussian blobs, dim 4. */
  lazy val blobs: DataFrame = {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 400).map { i =>
      val label = i % 2
      val shift = if (label == 1) 1.5 else -1.5
      (i.toLong, label.toDouble, Array.fill(4)(rnd.nextGaussian() + shift))
    }
    Trainer.withFeaturesFromArray(
      rows.toDF("id", "label", "arr"), "arr").cache()
  }

  lazy val trainValid: (DataFrame, DataFrame) = {
    val t = blobs.filter($"id" % 5 =!= 0)
    val v = blobs.filter($"id" % 5 === 0)
    (t, v)
  }

  test("logistic regression learns a separable problem (AUC > 0.95)") {
    val (train, valid) = trainValid
    val m = Trainer.classifier(Trainer.LogReg, Map("regParam" -> 0.01), None).fit(train)
    assert(Trainer.validationAuc(m, valid) > 0.95)
  }

  test("multiclass: search by weighted F1; summary matches MLlib evaluator") {
    // three shifted Gaussian blobs, dim 4 (classes 0/1/2)
    val rnd = new scala.util.Random(21)
    val rows = (1 to 450).map { i =>
      val label = i % 3
      val shift = (label - 1) * 2.5
      (i.toLong, label.toDouble, Array.fill(4)(rnd.nextGaussian() + shift))
    }
    val data = Trainer.withFeaturesFromArray(rows.toDF("id", "label", "arr"), "arr")
    val train = data.filter($"id" % 5 =!= 0); val valid = data.filter($"id" % 5 === 0)
    val res = Trainer.randomSearchMulticlass(Trainer.LogReg,
      Seq(Trainer.ParamRange("regParam", 1e-4, 0.1, log = true)),
      train, valid, maxTrials = 2, seed = 3L)
    assert(res.trials.size == 2)
    assert(res.bestMetric > 0.9, s"weighted F1 ${res.bestMetric}")
    // the distributed multiclassSummary agrees with MLlib's evaluator
    val pred = res.bestModel.transform(valid)
    val s = Evaluator.multiclassSummary(pred, "label", "prediction").head()
    def mllib(metric: String): Double =
      new org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator()
        .setLabelCol("label").setPredictionCol("prediction")
        .setMetricName(metric).evaluate(pred)
    assert(math.abs(s.getAs[Double]("accuracy") - mllib("accuracy")) < 1e-9)
    assert(math.abs(s.getAs[Double]("weighted_f1") - mllib("weightedFMeasure")) < 1e-9)
    assert(math.abs(s.getAs[Double]("weighted_precision") - mllib("weightedPrecision")) < 1e-9)
    assert(math.abs(s.getAs[Double]("weighted_recall") - mllib("weightedRecall")) < 1e-9)
    // GBT is binary-only in MLlib: rejected up front, not mid-fit
    intercept[IllegalArgumentException](Trainer.randomSearchMulticlass(
      Trainer.GBT, Seq(Trainer.ParamRange("maxDepth", 2, 4)), train, valid, 1, 1L))
    // macro averages over the UNION of true/pred classes (sklearn
    // labels=None): y_true={0,1}, y_pred={0,2} → class 1 (never
    // predicted) and class 2 (predicted-only) both contribute zeros
    val hand = Seq((0.0, 0.0), (1.0, 2.0)).toDF("label", "prediction")
    val hs = Evaluator.multiclassSummary(hand, "label", "prediction").head()
    assert(math.abs(hs.getAs[Double]("macro_precision") - 1.0 / 3) < 1e-12)
    assert(math.abs(hs.getAs[Double]("macro_recall") - 1.0 / 3) < 1e-12)
    assert(math.abs(hs.getAs[Double]("weighted_precision") - 0.5) < 1e-12)
  }

  test("regression search: linear model recovers a linear target; GBT trains; RMSE negated") {
    val rnd = new scala.util.Random(13)
    val rows = (1 to 500).map { i =>
      val x = Array.fill(3)(rnd.nextGaussian())
      val y = 3.0 * x(0) - 2.0 * x(1) + 0.5 * x(2) + rnd.nextGaussian() * 0.1
      (i.toLong, y, x)
    }
    val data = Trainer.withFeaturesFromArray(rows.toDF("id", "label", "arr"), "arr").cache()
    val train = data.filter($"id" % 5 =!= 0)
    val valid = data.filter($"id" % 5 === 0)
    val res = Trainer.randomSearchRegression(Trainer.LinReg,
      Seq(Trainer.ParamRange("regParam", 1e-6, 0.1, log = true)), train, valid,
      maxTrials = 4, seed = 11L)
    // noise sigma is 0.1 -> a recovered fit's RMSE must be near it
    assert(-res.bestMetric < 0.2, s"rmse=${-res.bestMetric}")
    assert(res.trials.size == 4 && res.trials.forall(_.metric <= 0.0))
    val r2 = Evaluator.regressionMetrics(
      res.bestModel.asInstanceOf[org.apache.spark.ml.Transformer].transform(valid),
      "label", "prediction").head().getAs[Double]("r2")
    assert(r2 > 0.95, s"r2=$r2")
    // tree regressor path fits and predicts through the same surface
    val gbt = Trainer.randomSearchRegression(Trainer.GBTReg,
      Seq(Trainer.ParamRange("maxDepth", 2, 4)), train, valid, maxTrials = 1, seed = 3L)
    assert(-gbt.bestMetric < 1.5)
  }

  test("random search over RF/GBT spaces returns the best trial") {
    val (train, valid) = trainValid
    val res = Trainer.randomSearch(Trainer.GBT,
      Seq(Trainer.ParamRange("maxDepth", 2, 5), Trainer.ParamRange("maxIter", 3, 8)),
      train, valid, maxTrials = 2, seed = 42L)
    assert(res.trials.size == 2)
    assert(res.bestMetric == res.trials.map(_.metric).max)
    assert(res.bestMetric > 0.9)
    val rf = Trainer.randomSearch(Trainer.RandomForest,
      Seq(Trainer.ParamRange("numTrees", 5, 10), Trainer.ParamRange("maxDepth", 2, 4)),
      train, valid, maxTrials = 2, seed = 1L)
    assert(rf.bestMetric > 0.9)
  }

  test("TPE beats random search on a rigged objective at equal trial budget") {
    // 2-d surface with a sharp optimum at (0.7, log-space 1e-2):
    // history-guided sampling must concentrate there; random won't
    val space = Seq(
      Trainer.ParamRange("x", 0.0, 1.0),
      Trainer.ParamRange("r", 1e-4, 1.0, log = true))
    def objective(p: Map[String, Double]): Double = {
      val dx = p("x") - 0.7
      val dr = (math.log(p("r")) - math.log(1e-2)) / math.log(10)
      1.0 - (dx * dx + 0.1 * dr * dr)
    }
    val budget = 40
    val seeds = Seq(11L, 23L, 47L)
    val (tpeBests, rndBests) = seeds.map { s =>
      val tpe = Trainer.tpeOptimize(space, budget, s, nStartup = 8)(objective)
      val rnd = new scala.util.Random(s)
      val rand = (1 to budget).map(_ => objective(space.map(r => r.name -> r.sample(rnd)).toMap))
      (tpe.map(_.metric).max, rand.max)
    }.unzip
    // per-seed regret: TPE should dominate on every seed here, and by
    // a clear margin on average (deterministic: fixed seeds)
    seeds.indices.foreach { i =>
      assert(tpeBests(i) >= rndBests(i) - 1e-6,
        s"seed ${seeds(i)}: tpe ${tpeBests(i)} vs random ${rndBests(i)}")
    }
    assert(tpeBests.sum / 3 > rndBests.sum / 3)
    // late trials concentrate near the optimum
    val lateX = Trainer.tpeOptimize(space, budget, 11L, nStartup = 8)(objective)
      .drop(30).map(t => math.abs(t.params("x") - 0.7))
    assert(lateX.sum / lateX.size < 0.15, s"late mean |x-0.7| = ${lateX.sum / lateX.size}")
  }

  test("tpeSearch returns the SearchResult surface and a usable model") {
    val (train, valid) = trainValid
    val res = Trainer.tpeSearch(Trainer.LogReg,
      Seq(Trainer.ParamRange("regParam", 1e-4, 1.0, log = true)),
      train, valid, maxTrials = 6, seed = 3L, nStartup = 3)
    assert(res.trials.size == 6)
    assert(res.bestMetric == res.trials.map(_.metric).max)
    assert(res.bestMetric > 0.9)
  }

  test("parallel random search: identical results to sequential, all trials complete") {
    val (train, valid) = trainValid
    val space = Seq(Trainer.ParamRange("regParam", 1e-4, 1.0, log = true),
      Trainer.ParamRange("elasticNetParam", 0.0, 1.0))
    val seq_ = Trainer.randomSearch(Trainer.LogReg, space, train, valid, 4, 13L)
    val par = Trainer.randomSearch(Trainer.LogReg, space, train, valid, 4, 13L,
      parallelism = 4)
    assert(par.trials.size == 4)
    assert(par.trials.map(_.params) == seq_.trials.map(_.params))
    assert(par.trials.map(_.metric) == seq_.trials.map(_.metric))
    assert(par.bestParams == seq_.bestParams && par.bestMetric == seq_.bestMetric)
  }

  test("CV-fold calibration reduces Brier vs single-fit on a held-out set") {
    // miscalibrated scores: true P(y=1|s) = s^2; small calibration set
    // (isotonic single-fit overfits its steps), large held-out probe
    val rnd = new scala.util.Random(5)
    def mk(n: Int, offset: Int) = (1 to n).map { i =>
      val s = rnd.nextDouble()
      ((offset + i).toLong, s, if (rnd.nextDouble() < s * s) 1.0 else 0.0)
    }
    val calib = mk(300, 0).toDF("id", "p", "label")
    val holdout = mk(4000, 1000000).toDF("id", "p", "label").cache()
    val single = Calibration.IsotonicCalibrator(Calibration.fitIsotonic(calib, "p", "label"))
    val cv = Calibration.fitCvAuto(calib, "p", "label", k = 5, seed = 9L,
      isotonicMinRows = 100L) // force isotonic per fold (240 rows > 100)
    assert(cv.method == "cv5_isotonic")
    def brier(c: Calibration.Calibrator): Double =
      c.calibrate(holdout, "p", "pc")
        .agg(avg(pow($"pc" - $"label", 2))).head().getDouble(0)
    val (bs, bcv) = (brier(single), brier(cv))
    info(f"brier single=$bs%.5f cv=$bcv%.5f")
    assert(bcv < bs, s"cv $bcv should beat single-fit $bs")
    // persistence round-trip preserves the fold ensemble
    val dir = java.nio.file.Files.createTempDirectory("graft-cvcal").toString
    Calibration.save(cv, dir)
    val loaded = Calibration.load(dir)
    assert(loaded.method == "cv5_isotonic")
    assert(math.abs(brier(loaded) - bcv) < 1e-12)
  }

  test("cross-validated grid search picks a reg param") {
    val (train, _) = trainValid
    val cv = Trainer.crossValidateLogReg(train, Seq(0.001, 10.0), folds = 3)
    assert(cv.avgMetrics.size == 2)
    // heavy regularization should not win on separable data
    assert(cv.best.getRegParam == 0.001)
  }

  test("soft-voting ensemble averages probabilities of members") {
    val (train, valid) = trainValid
    val m1 = Trainer.classifier(Trainer.LogReg, Map("regParam" -> 0.01), None).fit(train)
    val m2 = Trainer.classifier(Trainer.RandomForest, Map("numTrees" -> 5.0), None).fit(train)
    val out = Trainer.softVote(Seq(m1, m2), valid)
    assert(out.columns.contains("ens_prob") && out.columns.contains("ens_pred"))
    val acc = out.filter($"ens_pred" === $"label").count().toDouble / out.count()
    assert(acc > 0.85, s"ensemble accuracy $acc")
  }

  test("hard vote is the member majority; ties and crafted splits disagree with soft vote") {
    // probs (0.9, 0.4, 0.4): soft avg = 0.567 → class 1, hard votes (1,0,0) → class 0
    val crafted = Seq((0.9, 0.4, 0.4)).toDF("p0", "p1", "p2")
    val preds = Seq($"p0" >= 0.5, $"p1" >= 0.5, $"p2" >= 0.5).map(_.cast("double"))
    val row = crafted.select(
      Trainer.hardVoteColumn(preds).as("hard"),
      (($"p0" + $"p1" + $"p2") / 3 >= 0.5).cast("double").as("soft")).head()
    assert(row.getDouble(0) == 0.0 && row.getDouble(1) == 1.0)
    // even-split tie → class 0 (sklearn argmax-first)
    val tie = Seq((1.0, 0.0)).toDF("a", "b")
      .select(Trainer.hardVoteColumn(Seq(col("a"), col("b"))).as("h")).head().getDouble(0)
    assert(tie == 0.0)
    // integration: ens_pred equals the independently recomputed majority
    val (train, valid) = trainValid
    val ms = Seq(
      Trainer.classifier(Trainer.LogReg, Map("regParam" -> 0.01), None).fit(train),
      Trainer.classifier(Trainer.RandomForest, Map("numTrees" -> 5.0), None).fit(train),
      Trainer.classifier(Trainer.GBT, Map("maxIter" -> 5.0), None).fit(train))
    val out = Trainer.hardVote(ms, valid)
    val indiv = ms.zipWithIndex.map { case (m, i) =>
      m.transform(valid).select($"id", col("prediction").as(s"ind$i")) }
    val cmp = out.select($"id", $"ens_pred").join(indiv.reduce(_.join(_, "id")), "id")
      .withColumn("maj", (($"ind0" + $"ind1" + $"ind2") > 1.5).cast("double"))
    assert(cmp.filter($"ens_pred" =!= $"maj").count() == 0)
  }

  /** Overlapping blobs: config quality matters (unlike the separable
    * fixture, where every config scores ~1.0).
    */
  lazy val noisyBlobs: DataFrame = {
    val rnd = new scala.util.Random(13)
    val rows = (1 to 600).map { i =>
      val label = i % 2
      val shift = if (label == 1) 0.55 else -0.55
      (i.toLong, label.toDouble, Array.fill(4)(rnd.nextGaussian() + shift))
    }
    Trainer.withFeaturesFromArray(rows.toDF("id", "label", "arr"), "arr").cache()
  }

  test("successive halving matches-or-beats random search at equal compute budget") {
    val train = noisyBlobs.filter($"id" % 5 =!= 0)
    val valid = noisyBlobs.filter($"id" % 5 === 0)
    val space = Seq(Trainer.ParamRange("numTrees", 2, 25),
      Trainer.ParamRange("maxDepth", 1, 8))
    val sha = Trainer.successiveHalving(Trainer.RandomForest, space, train, valid,
      initialConfigs = 9, eta = 3, seed = 42L)
    // rungs of 9 + 3 fits at data fractions 1/3, 1 → 12 fits costing
    // 9·(1/3) + 3·1 = 6 full-data-fit equivalents; random search gets
    // the same COMPUTE (6 full fits). That is the halving trade: screen
    // 9 configs for the price of 6 — at equal fit COUNT random would
    // simply hold more lottery tickets.
    assert(sha.trials.size == 12)
    val rnd = Trainer.randomSearch(Trainer.RandomForest, space, train, valid,
      maxTrials = 6, seed = 42L)
    assert(sha.bestMetric >= rnd.bestMetric,
      s"sha ${sha.bestMetric} < random ${rnd.bestMetric}")
    assert(sha.bestMetric > 0.7)
  }

  test("sigmoid calibration reduces ECE on a 500-row set; fitAuto picks by size") {
    val rnd = new scala.util.Random(11)
    def sig(x: Double) = 1.0 / (1.0 + math.exp(-x))
    // raw score s is MIScalibrated: true P(y=1|s) = sigmoid(6(s-0.5))
    val rows = (1 to 2500).map { i =>
      val s = rnd.nextDouble()
      (i.toLong, if (rnd.nextDouble() < sig(6 * (s - 0.5))) 1.0 else 0.0, s)
    }
    val df = rows.toDF("id", "label", "raw")
    val calib = df.filter($"id" <= 500)
    val rest = df.filter($"id" > 500)
    val cal = Calibration.fitAuto(calib, "raw", "label")
    assert(cal.method == "sigmoid") // 500 rows ≤ the reference's 1000 cutoff
    val calibrated = cal.calibrate(rest, "raw", "cal")
    val before = Evaluator.ece(rest, "label", "raw", 10).head().getAs[Double]("ece")
    val after = Evaluator.ece(calibrated, "label", "cal", 10).head().getAs[Double]("ece")
    assert(after < before, s"ece $before -> $after")
    assert(Calibration.fitAuto(df, "raw", "label").method == "isotonic") // 2500 rows
  }

  test("isotonic calibration reduces ECE of a miscalibrated score") {
    val (train, valid) = trainValid
    val m = Trainer.classifier(Trainer.LogReg, Map("regParam" -> 0.01), None).fit(train)
    // miscalibrate deliberately: shrink probabilities toward 0.35
    val scored = m.asInstanceOf[LogisticRegressionModel].transform(blobs)
      .withColumn("raw", Trainer.posProb("probability") * 0.5)
      .select($"id", $"label", $"raw")
    val calib = scored.filter($"id" % 3 === 0)
    val rest = scored.filter($"id" % 3 =!= 0)
    val iso = Calibration.fitIsotonic(calib, "raw", "label")
    val calibrated = Calibration.applyCalibration(rest, iso, "raw", "cal")
    val eceBefore = Evaluator.ece(rest, "label", "raw", 10).head().getAs[Double]("ece")
    val eceAfter = Evaluator.ece(calibrated, "label", "cal", 10).head().getAs[Double]("ece")
    assert(eceAfter < eceBefore, s"ece $eceBefore -> $eceAfter")
  }

  test("threshold tuning, champion selection, persistence, batch predict") {
    val (train, valid) = trainValid
    val lr = Trainer.classifier(Trainer.LogReg, Map("regParam" -> 0.01), None).fit(train)
    val scored = lr.asInstanceOf[LogisticRegressionModel].transform(valid)
      .withColumn("p", Trainer.posProb("probability"))
    val (best, sweep) = Calibration.tuneThreshold(scored, "label", "p", 0.5, Seq(0.3, 0.5, 0.7))
    assert(sweep.count() == 3 && best >= 0.3 && best <= 0.7)

    val aucLr = Trainer.validationAuc(lr, valid)
    val champ = Champion.select(Seq(
      Champion.Candidate("logreg", lr, aucLr),
      Champion.Candidate("dummy", lr, 0.1)), deploymentThreshold = 0.3)
    assert(champ.exists(_.name == "logreg"))
    assert(Champion.select(Seq(Champion.Candidate("bad", lr, 0.1)), 0.3).isEmpty)

    val dir = java.nio.file.Files.createTempDirectory("graft-champ").toString
    Champion.save(lr, s"$dir/model")
    val loaded = LogisticRegressionModel.load(s"$dir/model")
    assert(Trainer.validationAuc(loaded, valid) == aucLr)

    blobs.select($"id", $"label", $"arr").write.mode("overwrite").parquet(s"$dir/in")
    Champion.batchPredict(spark, loaded, s"$dir/in", s"$dir/out", "arr")
    val out = spark.read.parquet(s"$dir/out")
    assert(out.count() == blobs.count())
    assert(out.columns.contains("pos_prob") && out.columns.contains("prediction"))
  }

  test("feature importance comes back for linear and tree models") {
    val (train, _) = trainValid
    val lr = Trainer.classifier(Trainer.LogReg, Map("regParam" -> 0.01), None).fit(train)
    val rf = Trainer.classifier(Trainer.RandomForest, Map("numTrees" -> 5.0), None).fit(train)
    assert(Trainer.featureImportance(lr).size == 4)
    assert(Trainer.featureImportance(rf).size == 4)
  }

  test("TrainPipeline runs the full train.py flow end to end") {
    import graft.ml.{ModelRegistry, ParquetTracker, TrainPipeline}
    val data = blobs.select($"id", $"label", $"arr")
    val dir = java.nio.file.Files.createTempDirectory("graft-pipeline").toString
    val cfg = TrainPipeline.Config(labelCol = "label", pkCol = "id", featureArrayCol = "arr",
      trialsPerModel = 1, deploymentThreshold = 0.6, calibrate = true,
      trackerDir = Some(s"$dir/tracker"))
    // two invocations into one tracker: the concurrent lanes must not
    // change any result, and the tracker writes keep their order
    val runs = Seq("a", "b").map(m => TrainPipeline.run(spark, data, cfg, modelDir = Some(s"$dir/$m")))
    val res = runs.head
    assert(res.reports.size == 2)
    assert(res.champion.isDefined, s"reports: ${res.reports}")
    assert(res.validMetrics("roc_auc") > 0.9)
    assert(res.tunedThreshold > 0.0 && res.tunedThreshold < 1.0)
    val scored = spark.read.parquet(s"$dir/a/valid_scored")
    assert(scored.count() > 0 && scored.columns.contains("pos_prob"))
    // valid_scored is what the bundle saved next to it scores on valid_in
    // (calibrated score, tuned cut), row for row
    val bundleScored = Deployment.load(spark, s"$dir/a")
      .score(spark.read.parquet(s"$dir/a/valid_in"), "arr")
    def byId(df: DataFrame, scoreCol: String) = df.select($"id", col(scoreCol), $"prediction")
      .as[(Long, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(byId(scored, "pos_prob") == byId(bundleScored, "score"))
    val again = runs(1)
    assert(again.champion.map(c => (c.name, c.metric)) == res.champion.map(c => (c.name, c.metric)))
    assert(again.reports == res.reports)
    assert(again.tunedThreshold == res.tunedThreshold)
    assert(again.validMetrics == res.validMetrics)
    // the models' search runs plus one champion run per invocation,
    // every search run with its trials
    val tracker = new ParquetTracker(spark, s"$dir/tracker")
    val searchRuns = for (r <- runs; (name, i) <- Seq("LogReg", "GBT").zipWithIndex)
      yield s"run_${r.runTag}_${name}_$i"
    val championRuns = runs.map(r => s"champion_${r.runTag}")
    assert(tracker.listRuns().select("runId").as[String].collect().toSet ==
      (searchRuns ++ championRuns).toSet)
    searchRuns.foreach(id => assert(tracker.trialsOf(id).count() == 1, id))
    // lifecycle: each run enters as a candidate before it is promoted;
    // the second promotion archives the first champion
    val log = tracker.stageLog().orderBy($"seq").collect()
      .map(r => (r.getAs[String]("runId"), r.getAs[String]("stage"), r.getAs[Long]("seq")))
    assert(log.map(r => (r._1, r._2)).toSeq == Seq(
      (championRuns(0), ModelRegistry.Candidate), (championRuns(0), ModelRegistry.Champion),
      (championRuns(1), ModelRegistry.Candidate), (championRuns(1), ModelRegistry.Champion),
      (championRuns(0), ModelRegistry.Archived)))
    assert(log.map(_._3).distinct.length == log.length)
    // deployment gate: impossible threshold → no champion
    val gated = TrainPipeline.run(spark, data,
      TrainPipeline.Config("label", "id", "arr", trialsPerModel = 1, deploymentThreshold = 1.01))
    assert(gated.champion.isEmpty && gated.validMetrics.isEmpty)
  }

  test("TrainPipeline: a failing lane fails the run after every lane stopped; caches dropped") {
    import graft.ml.{ExperimentTracker, TrackerBackend, TrackerRegistry, TrainPipeline}
    val boom = new RuntimeException("logCurve failed")
    // a tracker that accepts every write up to the champion's curves
    TrackerRegistry.register("failing-curves", (s, _) => new TrackerBackend {
      val spark = s
      def logRun(run: ExperimentTracker.Run): Unit = ()
      def listRuns(): DataFrame = ???
      def logTrials(runId: String, trials: Seq[Trainer.Trial]): Unit = ()
      def trialsOf(runId: String): DataFrame = ???
      def logConfusionMatrix(runId: String, cm: DataFrame): Unit = ()
      def confusionMatrix(runId: String): DataFrame = ???
      def logCurve(runId: String, name: String, curve: EvalArtifacts.Curve): Unit = throw boom
      def curve(runId: String, name: String): EvalArtifacts.Curve = ???
      def curveNames(runId: String): Seq[String] = ???
      def logStage(runId: String, stage: String, seq: Long): Unit = ()
      def stageLog(): DataFrame = ???
    })
    val data = blobs.select($"id", $"label", $"arr")
    val cached = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[RuntimeException](TrainPipeline.run(spark, data,
      TrainPipeline.Config(labelCol = "label", pkCol = "id", featureArrayCol = "arr",
        trialsPerModel = 1, deploymentThreshold = 0.6,
        trackerDir = Some("unused"), trackerBackend = "failing-curves"),
      modelDir = Some(java.nio.file.Files.createTempDirectory("graft-failing").toString)))
    assert(e eq boom)
    // train/valid (and every fit's internal cache) are released
    assert((spark.sparkContext.getPersistentRDDs.keySet -- cached).isEmpty)
    import scala.jdk.CollectionConverters._
    assert(!Thread.getAllStackTraces.keySet.asScala.exists(t =>
      t.getName.startsWith("graft-lane") && t.isAlive))
  }

  test("TrainPipeline with halving search, calibration, and tracker wired in") {
    import graft.ml.{ParquetTracker, TrainPipeline}
    val data = blobs.select($"id", $"label", $"arr")
    val dir = java.nio.file.Files.createTempDirectory("graft-track").toString
    val res = TrainPipeline.run(spark, data,
      TrainPipeline.Config(labelCol = "label", pkCol = "id", featureArrayCol = "arr",
        models = Seq((Trainer.LogReg, Seq(Trainer.ParamRange("regParam", 1e-4, 1.0, log = true)))),
        trialsPerModel = 3, deploymentThreshold = 0.6,
        searchStrategy = "halving", calibrate = true, trackerDir = Some(dir)),
      modelDir = Some(dir + "/models"))
    assert(res.champion.isDefined)
    assert(res.calibrationMethod.contains("sigmoid")) // valid split ≪ 1000 rows
    assert(res.validMetrics("roc_auc") > 0.9)
    // tracker got the search run + the deployable champion run (with
    // model artifact), plus the champion's confusion matrix
    assert(new ParquetTracker(spark, dir).listRuns().count() == 2)
    assert(res.runTag.nonEmpty)
    assert(new ParquetTracker(spark, dir).bestDeployableRun("valid_auc", 10)
      .exists(r => r.runId == s"champion_${res.runTag}" &&
        r.artifacts("model").endsWith("/champion")))
    val cm = new ParquetTracker(spark, dir).confusionMatrix(s"champion_${res.runTag}")
    val cmTotal = cm.agg(sum($"n")).head().getLong(0)
    assert(cmTotal > 0 && cmTotal < data.count()) // covers exactly the valid split
    // the calibrator ships with the champion and round-trips: the tuned
    // threshold is on the calibrated scale
    assert(res.calibrator.isDefined)
    val loaded = Calibration.load(dir + "/models/calibrator")
    assert(loaded.method == "sigmoid")
    val probe = Seq((1L, 0.3), (2L, 0.9)).toDF("id", "p")
    val a = res.calibrator.get.calibrate(probe, "p", "c").orderBy($"id").collect().map(_.getDouble(2))
    val b = loaded.calibrate(probe, "p", "c").orderBy($"id").collect().map(_.getDouble(2))
    assert(a.zip(b).forall { case (x, y) => math.abs(x - y) < 1e-12 })
  }

  test("TrainPipeline multiclass objective: weighted-F1 flow end to end") {
    import graft.ml.{TrackerRegistry, TrainConfig, TrainPipeline}
    val rnd = new scala.util.Random(31)
    val rows = (1 to 450).map { i =>
      val label = i % 3
      val shift = (label - 1) * 2.5
      (i.toLong, label.toDouble, Array.fill(4)(rnd.nextGaussian() + shift))
    }
    val data = rows.toDF("id", "label", "arr")
    val dir = java.nio.file.Files.createTempDirectory("graft-mc").toString
    val key = s"graft-mc-${java.util.UUID.randomUUID()}"
    val res = TrainPipeline.run(spark, data,
      TrainPipeline.Config(labelCol = "label", pkCol = "id", featureArrayCol = "arr",
        models = Seq(
          (Trainer.LogReg, Seq(Trainer.ParamRange("regParam", 1e-4, 0.1, log = true))),
          (Trainer.RandomForest, Seq(Trainer.ParamRange("maxDepth", 2, 5)))),
        trialsPerModel = 1, deploymentThreshold = 0.6, objective = "multiclass",
        trackerDir = Some(key), trackerBackend = "memory"),
      modelDir = Some(dir))
    assert(res.champion.isDefined)
    assert(res.reports.size == 2)
    assert(res.validMetrics("weighted_f1") > 0.9)
    assert(res.validMetrics("accuracy") > 0.9)
    assert(res.tunedThreshold.isNaN) // argmax prediction has no threshold
    assert(res.calibrator.isEmpty)
    // batch scoring wrote prediction + per-class probabilities
    val scored = spark.read.parquet(s"$dir/valid_scored")
    assert(scored.columns.contains("prediction") && scored.columns.contains("class_probs"))
    assert(scored.select(size($"class_probs")).head().getInt(0) == 3)
    // tracker: champion run carries the weighted-F1 metric + model (no binary bundle)
    val t = TrackerRegistry.create("memory", spark, key)
    val champ = t.bestDeployableRun("valid_weighted_f1", 10).get
    assert(champ.runId == s"champion_${res.runTag}")
    assert(!champ.artifacts.contains("bundle"))
    // confusion matrix logged from argmax predictions, covers the valid split
    assert(t.confusionMatrix(s"champion_${res.runTag}")
      .agg(sum($"n")).head().getLong(0) == scored.count())
    // config validation: multiclass constraints fail fast (base config
    // must itself be VALID so each bad() trips exactly its own rule)
    val mcBase = TrainPipeline.Config("label", "id", "arr", objective = "multiclass",
      models = Seq((Trainer.LogReg, Seq(Trainer.ParamRange("regParam", 1e-4, 0.1, log = true)))))
    assert(TrainConfig.validate(mcBase) eq mcBase)
    def bad(f: TrainPipeline.Config => TrainPipeline.Config): Unit =
      intercept[IllegalArgumentException](TrainConfig.validate(f(mcBase)))
    bad(_.copy(searchStrategy = "halving"))
    bad(_.copy(calibrate = true))
    bad(_.copy(models = Seq((Trainer.GBT, Seq(Trainer.ParamRange("maxDepth", 2, 4))))))
    bad(_.copy(objective = "regression"))
  }

  test("tracker backends swap by name; memory backend shares its store per key") {
    import graft.ml.{ModelRegistry, TrackerRegistry, TrainConfig, TrainPipeline}
    val data = blobs.select($"id", $"label", $"arr")
    val key = s"graft-mem-${java.util.UUID.randomUUID()}"
    val res = TrainPipeline.run(spark, data,
      TrainPipeline.Config(labelCol = "label", pkCol = "id", featureArrayCol = "arr",
        models = Seq((Trainer.LogReg, Seq(Trainer.ParamRange("regParam", 1e-4, 1.0, log = true)))),
        trialsPerModel = 1, deploymentThreshold = 0.6,
        trackerDir = Some(key), trackerBackend = "memory"),
      modelDir = Some(java.nio.file.Files.createTempDirectory("graft-memb").toString))
    assert(res.champion.isDefined)
    // the same key resolves to the same in-memory store
    val t = TrackerRegistry.create("memory", spark, key)
    assert(t.listRuns().count() == 2)
    assert(t.bestDeployableRun("valid_auc", 10).exists(_.runId == s"champion_${res.runTag}"))
    assert(t.trialsOf(s"run_${res.runTag}_LogReg_0").count() == 1)
    assert(ModelRegistry.stageOf(t, s"champion_${res.runTag}").contains(ModelRegistry.Champion))
    // nothing leaked to the filesystem under the key
    assert(!new java.io.File(key).exists())
    // unknown backends fail fast, at create and at config validation
    // ("comet" stopped being a valid unknown in r15 — it is a real
    // registered wire backend now, see CometTrackerSpec)
    intercept[RuntimeException](TrackerRegistry.create("wandb", spark, key))
    intercept[IllegalArgumentException](TrainConfig.validate(
      TrainPipeline.Config("label", "id", "arr", trackerBackend = "wandb")))
  }

  test("plot-ready curves: champion logs roc/pr/calibration/lift; artifacts round-trip") {
    import graft.ml.{EvalArtifacts, ParquetTracker, TrackerRegistry, TrainPipeline}
    val data = blobs.select($"id", $"label", $"arr")
    val key = s"graft-curves-${java.util.UUID.randomUUID()}"
    val res = TrainPipeline.run(spark, data,
      TrainPipeline.Config(labelCol = "label", pkCol = "id", featureArrayCol = "arr",
        models = Seq((Trainer.LogReg, Seq(Trainer.ParamRange("regParam", 1e-4, 1.0, log = true)))),
        trialsPerModel = 1, deploymentThreshold = 0.6, calibrate = true,
        trackerDir = Some(key), trackerBackend = "memory"))
    val t = TrackerRegistry.create("memory", spark, key)
    val champId = s"champion_${res.runTag}"
    assert(t.curveNames(champId) == Seq("calibration", "lift", "pr", "roc"))
    val roc = t.curve(champId, "roc")
    assert(roc.chart == "roc" && roc.xLabel == "fpr" && roc.yLabel == "tpr")
    val pts = roc.frame.orderBy($"threshold").collect()
    assert(pts.length == 19) // default grid
    // fpr/tpr are rates and non-increasing as the threshold rises
    val fprs = pts.map(_.getAs[Double]("fpr"))
    assert(fprs.forall(v => v >= 0 && v <= 1) && fprs.zip(fprs.tail).forall { case (a, b) => a >= b })
    assert(t.curve(champId, "lift").frame.count() == 10)
    assert(t.curve(champId, "calibration").yLabel == "fraction_positive")

    // parquet backend round-trips a curve exactly (frame + axis metadata)
    val dir = java.nio.file.Files.createTempDirectory("graft-curve-pq").toString
    val pq = new ParquetTracker(spark, dir)
    val src = Seq((0.1, 0.2, 0.9), (0.5, 0.6, 0.5)).toDF("fpr", "tpr", "threshold")
    pq.logCurve("r1", "roc", EvalArtifacts.rocCurve(src))
    val back = pq.curve("r1", "roc")
    assert(back.chart == "roc" && back.xLabel == "fpr" && back.yLabel == "tpr")
    assert(back.frame.orderBy($"threshold").collect().toSeq ==
      src.orderBy($"threshold").collect().toSeq)
    assert(pq.curveNames("r1") == Seq("roc") && pq.curveNames("nope").isEmpty)
    // an EMPTY curve frame keeps its metadata (meta is a sidecar, not rows)
    pq.logCurve("r1", "empty", graft.ml.EvalArtifacts.Curve("lift", "decile", "lift",
      src.filter(lit(false))))
    val emptyBack = pq.curve("r1", "empty")
    assert(emptyBack.chart == "lift" && emptyBack.xLabel == "decile")
    assert(emptyBack.frame.count() == 0)
  }

  test("promoting a new champion archives the old; load picks the staged champion") {
    import graft.ml.{Deployment, ModelRegistry, ParquetTracker, TrainPipeline}
    val data = blobs.select($"id", $"label", $"arr")
    val trackDir = java.nio.file.Files.createTempDirectory("graft-stages").toString
    def fit(modelDir: String) = TrainPipeline.run(spark, data,
      TrainPipeline.Config(labelCol = "label", pkCol = "id", featureArrayCol = "arr",
        models = Seq((Trainer.LogReg, Seq(Trainer.ParamRange("regParam", 1e-4, 1.0, log = true)))),
        trialsPerModel = 1, deploymentThreshold = 0.6, trackerDir = Some(trackDir)),
      modelDir = Some(modelDir))
    val t = new ParquetTracker(spark, trackDir)
    val dir1 = java.nio.file.Files.createTempDirectory("graft-m1").toString
    val r1 = fit(dir1)
    assert(ModelRegistry.championRunId(t).contains(s"champion_${r1.runTag}"))
    val dir2 = java.nio.file.Files.createTempDirectory("graft-m2").toString
    val r2 = fit(dir2)
    // second deployment auto-promotes: first champion archived, one champion
    assert(ModelRegistry.stageOf(t, s"champion_${r1.runTag}").contains(ModelRegistry.Archived))
    assert(ModelRegistry.championRunId(t).contains(s"champion_${r2.runTag}"))
    assert(t.runIdsAtStage(ModelRegistry.Champion).size == 1)
    // archived runs are no longer deployable even though still best-by-metric eligible
    assert(t.bestDeployableRun("valid_auc", 10).exists(_.runId == s"champion_${r2.runTag}"))
    // ... including through a second tracker over the same dir (one ranking rule)
    assert(new ParquetTracker(spark, trackDir).bestDeployableRun("valid_auc", 10)
      .exists(_.runId == s"champion_${r2.runTag}"))
    // the staged champion's bundle loads and scores identically to its saved dir
    val bundle = ModelRegistry.loadChampionBundle(t).get
    val direct = Deployment.load(spark, dir2)
    val probe = data.limit(20)
    val a = bundle.score(probe, "arr").select($"id", $"score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = direct.score(probe, "arr").select($"id", $"score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a.keySet == b.keySet && a.forall { case (k, v) => math.abs(v - b(k)) < 1e-12 })
    // re-promoting the current champion is a no-op
    ModelRegistry.promote(t, s"champion_${r2.runTag}")
    assert(ModelRegistry.stageOf(t, s"champion_${r2.runTag}").contains(ModelRegistry.Champion))
  }

  test("config validation rejects nonsense; tracker keeps every search trial") {
    import graft.ml.{ParquetTracker, TrainConfig, TrainPipeline}
    val good = TrainPipeline.Config("label", "id", "arr")
    assert(TrainConfig.validate(good) eq good)
    def bad(f: TrainPipeline.Config => TrainPipeline.Config): Unit =
      intercept[IllegalArgumentException](TrainConfig.validate(f(good)))
    bad(_.copy(trainFraction = 1.5))
    bad(_.copy(trialsPerModel = 0))
    bad(_.copy(models = Seq((Trainer.LogReg, Seq()))))
    bad(_.copy(models = Seq((Trainer.LogReg, Seq(Trainer.ParamRange("r", -1, 1, log = true))))))
    bad(_.copy(thresholdGrid = Seq(1.5)))
    bad(_.copy(searchStrategy = "bayes"))
    // every trial of a search is logged and queryable in order
    val (train, valid) = trainValid
    val res = Trainer.randomSearch(Trainer.LogReg,
      Seq(Trainer.ParamRange("regParam", 1e-4, 1.0, log = true)), train, valid, 3, 7L)
    val dir = java.nio.file.Files.createTempDirectory("graft-trials").toString
    new ParquetTracker(spark, dir).logTrials("r1", res.trials)
    val back = new ParquetTracker(spark, dir).trialsOf("r1").collect()
    assert(back.length == 3)
    assert(back.map(_.getAs[Double]("metric")).toSeq == res.trials.map(_.metric))
    // malformed range grids fail fast with the config error type, not MatchError
    intercept[IllegalArgumentException](TrainConfig.parseGrid("0.1:0.9"))
    assert(TrainConfig.parseGrid("0.1:0.3:0.1") == Seq(0.1, 0.2, 0.3))
  }

  test("listRuns reads the legacy layout (runs at dir root, no artifacts column)") {
    import graft.ml.{ExperimentTracker, ParquetTracker}
    val dir = java.nio.file.Files.createTempDirectory("graft-legacy").toString
    // a pre-artifacts log: parquet directly under dir, old Run schema
    Seq(("old_run", "logreg", Map("regParam" -> 0.1), Map("valid_auc" -> 0.9), 100L))
      .toDF("runId", "model", "params", "metrics", "timestampMs")
      .write.mode("append").parquet(dir)
    // plus a current-layout run
    new ParquetTracker(spark, dir).logRun(ExperimentTracker.Run(
      "new_run", "rf", Map.empty, Map("valid_auc" -> 0.95), 200L,
      artifacts = Map("model" -> "/tmp/m")))
    val runs = new ParquetTracker(spark, dir).listRuns().as[ExperimentTracker.Run].collect()
    assert(runs.map(_.runId).toSeq == Seq("new_run", "old_run")) // recent first
    assert(runs.find(_.runId == "old_run").get.artifacts == Map.empty)
    assert(new ParquetTracker(spark, dir).bestRun("valid_auc", 10).get.runId == "new_run")
  }

  test("evaluateSplits reports metrics and class distribution per split") {
    val (train, valid) = trainValid
    val m = Trainer.classifier(Trainer.LogReg, Map("regParam" -> 0.01), None).fit(train)
    val out = Evaluator.evaluateSplits(m, Seq("train" -> train, "valid" -> valid),
      "label", 0.5, 0.5)
    val byKey = out.collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(byKey(("train", "roc_auc")) > 0.95 && byKey(("valid", "roc_auc")) > 0.95)
    assert(byKey(("train", "n")) == train.count().toDouble)
    assert(math.abs(byKey(("valid", "pos_rate")) - 0.5) < 0.2)
  }

  test("end-to-end: embeddings table trains through the full pipeline") {
    import graft.features.LabelOps
    val emb = Tables.embeddings(spark, sf)
      .withColumn("label", ($"label" % 2).cast("double"))
    val feats = Trainer.withFeaturesFromArray(emb, "embedding")
    val weights = LabelOps.balancedClassWeights(feats, "label")
      .withColumnRenamed("label", "wl")
    val withW = feats.join(broadcast(weights), $"label" === $"wl").drop("wl", "n")
    val (train, valid) = (withW.filter($"vec_id" % 5 =!= 0), withW.filter($"vec_id" % 5 === 0))
    val m = Trainer.classifier(Trainer.LogReg,
      Map("regParam" -> 0.1, "elasticNetParam" -> 0.5), Some("weight")).fit(train)
    val auc = Trainer.validationAuc(m, valid)
    assert(auc >= 0.0 && auc <= 1.0) // synthetic labels may be unlearnable; pipeline must run
  }
}
