package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType}

import graft.SparkEntry
import graft.features._
import graft.ml.{Deployment, Evaluator, TrainPipeline}
import graft.prep.Prep
import graft.split.Splits
import graft.streaming.Streams

/** A workload: closed-loop passes until the window closes, then output
  * checks. Each pass is a fresh batch job: there is no warm-up, because a
  * user running the job pays its first-pass JIT and codegen cost too. */
abstract class Workload {
  /** One pass; returns its seconds. `t.span` marks the calls into layers. */
  def pass(): Double
  /** Named pass/fail output checks, plus values for the capture. */
  def checks(): (Map[String, Boolean], Map[String, String])
  /** Per-layer metrics of a traced run. */
  def perLayer(): Map[String, Double]

  var attempted, failed = 0L
  protected def attempt[T](name: String)(f: => T): T = {
    attempted += 1
    try f
    catch { case e: Throwable => failed += 1; throw new RuntimeException(s"$name failed", e) }
  }
}

/** The paper's path as the user entry points compose it: raw CDC-shaped
  * parquet through prep, the offline feature store, a stratified split,
  * the fitted feature pipeline and the LR + GBT search with calibration
  * and a parquet tracker to a deployed bundle; then the reloaded bundle
  * scores the held-out split (test metrics) and serves a backlog of
  * request files through the validating streaming sink. Every step is one
  * attempt.
  */
final class MlPipeline(spark: SparkSession, t: Tracer, data: String, requests: String,
    work: String) extends Workload {
  import MlPipeline._
  private var outcomes = Vector.empty[Outcome]

  def pass(): Double = {
    val start = System.nanoTime()
    outcomes :+= t.span("pass")(run(s"$work/pass${outcomes.size}"))
    (System.nanoTime() - start) / 1e9
  }

  private def run(dir: String): Outcome = {
    def step[T](name: String)(f: => T): T = attempt(name)(t.span(name)(f))
    step("prep") {
      val cleaned = clean(spark.read.parquet(s"$data/cdc.parquet"))
      Prep.dedupByKeyKeepLatest(cleaned, Seq(Pk), Seq(col("ts").desc))
        .write.mode("overwrite").parquet(s"$dir/clean.parquet")
    }
    step("feature_store") {
      FeatureStore.saveOffline(spark.read.parquet(s"$dir/clean.parquet"), Pk, Label, "ts", s"$dir/store")
    }
    val (train, test) = step("split") {
      val (tr, te) = Splits.stratifiedRandomSplit(
        FeatureStore.loadTrainingSet(spark, s"$dir/store", Pk), Label, Pk, 0.8, Config.seed)
      tr.cache().count(); te.cache().count()
      (tr, te)
    }
    val fitted = step("features_fit")(FeaturePipeline.fit(train, Spec))
    val (trainF, testF) = step("features_transform") {
      val (a, b) = (featurize(fitted, train).cache(), featurize(fitted, test).cache())
      a.count(); b.count()
      (a, b)
    }
    val res = step("train_pipeline") {
      TrainPipeline.run(spark, trainF, Config.copy(trackerDir = Some(s"$dir/tracker")),
        modelDir = Some(s"$dir/model"))
    }
    val bundle = step("load")(Deployment.load(spark, s"$dir/model"))
    val auc = step("score") {
      val scored = bundle.score(testF, FeatureArray).withColumn(Label, col(Label).cast(DoubleType))
      Evaluator.binaryMetrics(scored, Label, "score", Pk, bundle.threshold, 0.5)
        .head().getAs[Double]("roc_auc")
    }
    step("serve") {
      val schema = spark.read.parquet(s"$requests/in").schema
      val input = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(s"$requests/in")
      val q = Streams.scoringSinkValidated(featurizeRequests(fitted, clean(input)), bundle,
        FeatureArray, Rules, s"$dir/scored", s"$dir/quarantine", s"$dir/checkpoint")
      try q.processAllAvailable() finally q.stop()
    }
    Seq(train, test, trainF, testF).foreach(_.unpersist())
    val champ = res.champion.map(_.name).getOrElse("none")
    val params = res.reports.find(_.name == champ).map(_.bestParams.toSeq.sorted
      .map { case (k, v) => f"$k=$v%.17g" }.mkString(",")).getOrElse("")
    Outcome(dir, champ, params, bundle.threshold, auc, fitted, bundle, train.select(Pk),
      test.select(Pk))
  }

  def checks(): (Map[String, Boolean], Map[String, String]) = {
    val last = outcomes.last
    val overlap = Splits.overlapCount(last.trainIds, last.testIds, Pk)
    val scored = spark.read.parquet(s"${last.dir}/scored")
    val landed = scored.select(col("id"), col("score"), lit(0L).as("q"))
      .unionByName(spark.read.parquet(s"${last.dir}/quarantine")
        .select(col("id"), lit(null).cast(DoubleType).as("score"), lit(1L).as("q")))
      .agg(count(lit(1)), countDistinct("id"), sum("q"), min("score"), max("score")).head()
    val (rows, ids, quarantined) = (landed.getLong(0), landed.getLong(1), landed.getLong(2))
    val manifest = scala.io.Source.fromFile(s"$requests/manifest.json")
    val (expectedRows, poisoned) =
      try {
        val text = manifest.mkString
        def total(key: String) = s""""$key": (\\d+)""".r.findAllMatchIn(text).map(_.group(1).toLong).sum
        (total("rows"), total("poisoned"))
      } finally manifest.close()
    // one request file scored again as a batch, through the same contract and bundle
    val raw = spark.read.parquet(s"$requests/in").filter(col("file_no") === 0)
    val ok = FeatureSchema.validate(featurizeRequests(last.fitted, clean(raw)), Rules).ok
    val batch = last.bundle.score(ok, FeatureArray).select("id", "score", "prediction")
    val stream = scored.filter(col("file_no") === 0).select("id", "score", "prediction")
    val diff = batch.exceptAll(stream).count() + stream.exceptAll(batch).count()
    quarantineRatio = quarantined.toDouble / rows
    (Map(
      "same_result_every_pass" -> (outcomes.map(_.signature).distinct.size == 1),
      "train_test_overlap_zero" -> (overlap == 0L),
      "test_auc_above_0.7" -> (last.auc > 0.7),
      "every_request_lands_once" -> (rows == ids && rows == expectedRows),
      "quarantine_equals_poisoned" -> (quarantined == poisoned),
      "scores_in_unit_interval" -> (landed.getDouble(3) >= 0.0 && landed.getDouble(4) <= 1.0),
      "stream_equals_batch_score" -> (diff == 0L && batch.count() > 0)),
      Map("signature" -> last.signature, "passes" -> outcomes.size.toString,
        "requests" -> rows.toString, "quarantined" -> quarantined.toString))
  }

  private var quarantineRatio = 0.0

  def perLayer(): Map[String, Double] = {
    val passes = t.spans.filter(_.name == "pass").map(_.id).toSet
    def stepSpans(name: String) = t.spans.filter(s => s.name == name && passes(s.parent)).toSeq
    def perPass(name: String): Counts = {
      val c = new Counts
      stepSpans(name).foreach(s => c += t.inclusive(s.id))
      c
    }
    val k = math.max(passes.size, 1).toDouble
    val steps = Seq("prep", "feature_store", "split", "features_fit", "features_transform",
      "train_pipeline", "score", "serve")
    val tp = perPass("train_pipeline").toMap
    val trials = Config.models.size.toDouble * Config.trialsPerModel
    val batches = t.batches.filter(_.numInputRows > 0).toSeq
    def secs(p: StreamingQueryProgress, key: String) = p.durationMs.getOrDefault(key, 0L) / 1e3
    val serve = perPass("serve")
    steps.map(s => s"ml_pipeline.${s}_s" -> Stats.median(stepSpans(s).map(_.seconds))).toMap ++
      Seq("jobs", "stages", "tasks", "task_s", "shuffle_write_bytes", "bytes_read", "spill_bytes")
        .map(c => s"ml_pipeline.train_pipeline.$c" -> tp(c) / k) ++
      CallSites.flatMap { f =>
        val (stages, s) = t.callsites.getOrElse(f, (0L, 0.0))
        Seq(s"ml_pipeline.callsite.$f.stage_s" -> s / k, s"ml_pipeline.callsite.$f.stages" -> stages / k)
      } ++ Seq(
        "ml_pipeline.stages_per_trial" -> tp("stages") / k / trials,
        "ml_pipeline.serve.batch_p50_s" -> Stats.median(batches.map(secs(_, "triggerExecution"))),
        "ml_pipeline.serve.batch_add_p50_s" -> Stats.median(batches.map(secs(_, "addBatch"))),
        "ml_pipeline.serve.batch_engine_p50_s" -> Stats.median(batches.map(p =>
          secs(p, "triggerExecution") - secs(p, "addBatch"))),
        "ml_pipeline.serve.batch_jobs" -> serve.jobs / batches.size.toDouble,
        "ml_pipeline.serve.batch_tasks" -> serve.tasks / batches.size.toDouble,
        "ml_pipeline.serve.rows_per_s" -> batches.map(_.numInputRows).sum /
          batches.map(secs(_, "triggerExecution")).sum,
        "ml_pipeline.serve.quarantine_ratio" -> quarantineRatio,
        "ml_pipeline.serve.bytes_written_per_row" -> serve.bytesWritten /
          math.max(batches.map(_.numInputRows).sum, 1L).toDouble)
  }
}

object MlPipeline {
  val Label = "Diabetes_binary"
  val Pk = "id"
  val FeatureArray = "features_arr"
  val Binary = Seq("HighBP", "HighChol", "CholCheck", "Smoker", "Stroke", "HeartDiseaseorAttack",
    "PhysActivity", "Fruits", "Veggies", "HvyAlcoholConsump", "AnyHealthcare", "NoDocbcCost",
    "DiffWalk", "Sex")
  val Numeric = Seq("BMI", "MentHlth", "PhysHlth")
  val Categorical = Seq("GenHlth", "Age", "Education", "Income")
  val Spec = FeaturePipelineSpec(
    imputers = Seq(ImputerSpec("BMI", Imputation.Median)),
    scalers = Seq(ScalerSpec("BMI", ScalerKind.Robust), ScalerSpec("MentHlth", ScalerKind.Standard),
      ScalerSpec("PhysHlth", ScalerKind.Standard)),
    oneHots = Categorical.map(OneHotSpec(_)))
  /** The scoring request contract: every rule a clean request satisfies. */
  val Rules = Seq(
    FeatureSchema.Rule("BMI", DoubleType, nullable = true, min = Some(10), max = Some(100)),
    FeatureSchema.Rule("MentHlth", DoubleType, min = Some(0), max = Some(30)),
    FeatureSchema.Rule("GenHlth", StringType, domain = Some((1 to 5).map(_.toString))),
    FeatureSchema.Rule("Age", IntegerType, min = Some(1), max = Some(13)))
  /** Source files whose stages the traced run reports: GBT fits, LR
    * iterations, metrics, isotonic calibration, tracker writes. */
  val CallSites = Seq("RandomForest", "RDDLossFunction", "BinaryClassificationMetrics",
    "IsotonicRegression", "TrackerBackend")

  /** The pipeline's default LR + GBT random search, one trial per model,
    * with calibration. Its seed is the pipeline's default, not the
    * workload's: the workload seed draws only the data, so every run
    * samples the same hyperparameters and does the same amount of work. */
  val Config: TrainPipeline.Config = TrainPipeline.Config(labelCol = Label, pkCol = Pk,
    featureArrayCol = FeatureArray, calibrate = true, trialsPerModel = 1)

  /** Missing tokens to NULL and numeric casts: a pure projection. */
  def clean(raw: DataFrame): DataFrame =
    Prep.castColumns(Prep.normalizeMissing(raw, "BMI" +: Categorical),
      (Binary ++ Numeric).map(_ -> DoubleType).toMap)

  /** Fitted transforms plus the model's feature array. */
  def featurize(fitted: FittedFeaturePipeline, df: DataFrame): DataFrame = {
    val oneHot = Categorical.flatMap(c => fitted.oneHotColumns(OneHotSpec(c)).map(_._1))
    fitted.transform(df).withColumn(FeatureArray, array((Binary ++ Numeric ++ oneHot).map(col): _*))
  }

  /** [[featurize]] for scoring requests: the numeric columns keep the raw
    * values the request contract ([[Rules]]) checks; the model reads
    * their transformed copies inside the feature array. */
  def featurizeRequests(fitted: FittedFeaturePipeline, df: DataFrame): DataFrame = {
    val withRaw = Numeric.foldLeft(df)((d, c) => d.withColumn(s"__raw_$c", col(c)))
    Numeric.foldLeft(featurize(fitted, withRaw))((d, c) =>
      d.withColumn(c, col(s"__raw_$c")).drop(s"__raw_$c"))
  }

  final case class Outcome(dir: String, champion: String, params: String, threshold: Double,
      auc: Double, fitted: FittedFeaturePipeline, bundle: Deployment.Bundle, trainIds: DataFrame,
      testIds: DataFrame) {
    def signature: String =
      f"""{"champion": "$champion", "params": "$params", """ +
        f""""threshold": $threshold%.17g, "auc": $auc%.17g}"""
  }
}

final class Analytics(spark: SparkSession, t: Tracer, data: String, work: String) extends Workload {
  import Analytics.Queries
  private val queries = SparkEntry.queries

  private def runAll(sink: (String, DataFrame) => Unit): Unit =
    Queries.foreach(q => attempt(q)(t.span(q)(sink(q, queries(q)(spark, data)))))

  /** One pass; every output lands as parquet for the oracle check. */
  def pass(): Double = {
    val start = System.nanoTime()
    t.span("pass")(runAll((q, df) => df.write.mode("overwrite").parquet(s"$work/out/$q")))
    (System.nanoTime() - start) / 1e9
  }

  /** Oracle SQL for the run.py side of the check (DuckDB). */
  def checks(): (Map[String, Boolean], Map[String, String]) =
    (Map.empty, Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap)

  def perLayer(): Map[String, Double] = {
    val passes = t.spans.filter(_.name == "pass").map(_.id).toSet
    Queries.flatMap { q =>
      val ss = t.spans.filter(s => s.name == q && passes(s.parent))
      val k = math.max(ss.size, 1).toDouble
      val c = new Counts
      ss.foreach(s => c += t.inclusive(s.id))
      val m = c.toMap
      Seq(s"analytics_skew.${q}_s" -> Stats.median(ss.map(_.seconds).toSeq)) ++
        Seq("jobs", "tasks", "shuffle_write_bytes", "bytes_read", "exchanges", "reused_exchanges")
          .map(n => s"analytics_skew.$q.$n" -> m(n) / k)
    }.toMap
  }
}

object Analytics {
  /** One pass, in this order. The stream-dedup drain is left out: one
    * call takes tens of seconds and would swamp the pass. q_moving_avg is
    * left out because its output differs from its oracle's whenever a
    * user's mean moving average lands on a half-tie at the 4th decimal
    * (round of a double mean, summed in different orders). */
  val Queries = Seq("q1_pricing_summary", "q2_revenue_nation", "q_sessionize",
    "q_scd2", "q_scd2_apply", "q_asof_attribution", "q_group_percentiles", "q_drift_audit",
    "q_dup_clusters", "q_simhash_neardup", "q_cosine_topk", "q_text_quality")
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }
}
