package graft.ml

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import ExperimentTracker.Run

/** Pluggable experiment-tracking backend (reference:
  * src/training/tracking/orchestrator.py:38 TrackerRegistry — the seam
  * that registers comet/mlflow tracker factories by name). Four
  * backends ship, each supplying only its own store:
  *  - [[ParquetTracker]]: runs, trials and stages as parquet tables
  *    under one directory; artifacts through [[FileRunArtifacts]];
  *  - [[InMemoryTracker]]: driver-side collections, for tests;
  *  - [[MlflowTracker]] and [[CometTracker]]: runs, trials and stages
  *    over each server's REST wire (shared client and tag codec in
  *    [[TrackerWire]]); artifacts through [[FileRunArtifacts]] under a
  *    local per-run root.
  *
  * Everything a tracker stores is queryable as DataFrames; the
  * selection rules ([[bestRun]]/[[bestDeployableRun]]) are default
  * methods so every backend ranks runs identically.
  */
trait TrackerBackend {
  def spark: SparkSession

  def logRun(run: Run): Unit
  /** All runs, most recent first. */
  def listRuns(): DataFrame
  /** A repeated call for one run appends: its trial indices continue
    * from the trials already logged. */
  def logTrials(runId: String, trials: Seq[Trainer.Trial]): Unit
  /** A run's logged search trials, in trial order. */
  def trialsOf(runId: String): DataFrame
  def logConfusionMatrix(runId: String, cm: DataFrame): Unit
  def confusionMatrix(runId: String): DataFrame

  /** Log a plot-ready curve artifact (ROC/PR/calibration/lift — the
    * reference's evaluation/visualizer.py figures, stored as data +
    * axis metadata instead of rendered pixels).
    */
  def logCurve(runId: String, name: String, curve: EvalArtifacts.Curve): Unit
  def curve(runId: String, name: String): EvalArtifacts.Curve
  def curveNames(runId: String): Seq[String]

  /** Upload a LOCAL directory (a model bundle — Deployment.save
    * layout) as run-attached binary artifact `name` on the tracker's
    * own store. Returns false when the backend has no binary-asset
    * wire (pointer-only backends: parquet/memory/comet keep payloads
    * on shared storage under the recorded pointer); true after a
    * completed upload. Reference: orchestrator.py:500-523 registers
    * the champion model WITH the tracker so a node that lost its
    * working dir can recover it.
    */
  def uploadArtifactDir(runId: String, name: String, localDir: String): Boolean = false

  /** Download binary artifact `name` of `runId` into `destDir`
    * (created if missing). Returns false when the backend has no
    * binary-asset wire or holds no such artifact — callers fall back
    * or fail loudly ([[ModelRegistry.loadChampionBundle]]'s recovery
    * path, reference orchestrator.py:808-840).
    */
  def downloadArtifactDir(runId: String, name: String, destDir: String): Boolean = false

  /** Append a lifecycle stage transition for a run (see
    * [[ModelRegistry]]; stages: candidate → champion → archived).
    * `seq` orders transitions; callers use [[ModelRegistry]] rather
    * than calling this directly.
    */
  def logStage(runId: String, stage: String, seq: Long): Unit
  /** The append-only stage log: (runId, stage, seq). */
  def stageLog(): DataFrame

  /** runIds whose LATEST stage transition is `stage`. */
  final def runIdsAtStage(stage: String): Seq[String] = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("runId")).orderBy(col("seq").desc)
    stageLog().withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("stage") === stage)
      .select("runId").collect().map(_.getString(0)).toSeq
  }

  /** Best run by a metric (ties → most recent), among the most recent
    * `maxRuns` (reference: training-config.yml max_eval_experiments).
    */
  final def bestRun(metric: String, maxRuns: Int): Option[Run] =
    collectRuns(maxRuns)
      .sortBy(r => (-r.metrics.getOrElse(metric, Double.NegativeInfinity), -r.timestampMs))
      .headOption

  /** Best run that ALSO carries a registered model artifact — the
    * deployable-only selection rule (reference: selector.py
    * select_best_model skips experiments without model files). Runs
    * whose lifecycle stage is `archived` are never deployable; runs
    * with no stage entry stay eligible (pre-registry logs).
    */
  final def bestDeployableRun(metric: String, maxRuns: Int,
      modelArtifact: String = "model"): Option[Run] = {
    val archived = runIdsAtStage(ModelRegistry.Archived).toSet
    collectRuns(maxRuns)
      .filter(r => r.artifacts.contains(modelArtifact) && !archived.contains(r.runId))
      .sortBy(r => (-r.metrics.getOrElse(metric, Double.NegativeInfinity), -r.timestampMs))
      .headOption
  }

  private def collectRuns(maxRuns: Int): Array[Run] =
    listRuns().limit(maxRuns).as[Run](Encoders.product[Run]).collect()
}

object TrackerBackend {
  /** A trials frame: (trial, params, metric) in trial order. */
  def trialFrame(spark: SparkSession, rows: Seq[(Int, Map[String, Double], Double)]): DataFrame = {
    import spark.implicits._
    rows.toDF("trial", "params", "metric").orderBy(col("trial"))
  }

  /** The one stage-log schema: (runId, stage, seq). */
  val StageSchema: StructType = StructType(Seq(
    StructField("runId", StringType), StructField("stage", StringType),
    StructField("seq", LongType, nullable = false)))

  /** A stage-log frame with [[StageSchema]]. */
  def stageFrame(spark: SparkSession, rows: Seq[(String, String, Long)]): DataFrame =
    spark.createDataFrame(rows.map(Row.fromTuple).asJava, StageSchema)
}

/** Confusion matrices and curves as parquet files under per-run paths:
  * the artifact layout the parquet, MLflow and Comet backends share.
  * A curve is its data frame at `<curvesDir>/<name>/data` plus a 1-row
  * axis-metadata sidecar at `<curvesDir>/<name>/meta`, so that an EMPTY
  * curve frame (e.g. calibration over an empty split) still round-trips
  * with its chart kind and labels.
  */
trait FileRunArtifacts extends TrackerBackend {
  /** The directory holding `runId`'s confusion matrix. */
  protected def confusionMatrixPath(runId: String): String
  /** The directory holding `runId`'s curves, one subdirectory each. */
  protected def curvesDir(runId: String): String

  override def logConfusionMatrix(runId: String, cm: DataFrame): Unit =
    cm.write.mode("overwrite").parquet(confusionMatrixPath(runId))

  override def confusionMatrix(runId: String): DataFrame =
    spark.read.parquet(confusionMatrixPath(runId))

  override def logCurve(runId: String, name: String, curve: EvalArtifacts.Curve): Unit = {
    val base = s"${curvesDir(runId)}/$name"
    curve.frame.write.mode("overwrite").parquet(s"$base/data")
    spark.createDataFrame(Seq((curve.chart, curve.xLabel, curve.yLabel)))
      .toDF("chart", "x_label", "y_label")
      .write.mode("overwrite").parquet(s"$base/meta")
  }

  override def curve(runId: String, name: String): EvalArtifacts.Curve = {
    val base = s"${curvesDir(runId)}/$name"
    val meta = spark.read.parquet(s"$base/meta").head()
    EvalArtifacts.Curve(meta.getAs[String]("chart"), meta.getAs[String]("x_label"),
      meta.getAs[String]("y_label"), spark.read.parquet(s"$base/data"))
  }

  override def curveNames(runId: String): Seq[String] = {
    val p = new Path(curvesDir(runId))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName).toSeq.sorted
  }
}

/** The durable parquet log. Layout under `dir`:
  *  - `runs/`: one row per run;
  *  - `trials/runId=<id>/`: a run's search trials;
  *  - `confusion_matrix/runId=<id>/`: a run's confusion matrix;
  *  - `curves/<id>/<name>/{data,meta}`: a run's curves;
  *  - `stages/`: the stage log.
  * `<id>` is escaped as Spark escapes a partition value, so a run's
  * paths are where a `partitionBy("runId")` write into the table puts
  * them.
  */
final class ParquetTracker(val spark: SparkSession, dir: String) extends FileRunArtifacts {
  private def runPartition(table: String, runId: String): String =
    s"$dir/$table/runId=${escapePathName(runId)}"

  private def exists(path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  protected def confusionMatrixPath(runId: String): String =
    runPartition("confusion_matrix", runId)
  protected def curvesDir(runId: String): String = s"$dir/curves/${escapePathName(runId)}"

  override def logRun(run: Run): Unit = {
    import spark.implicits._
    Seq(run).toDF().write.mode("append").parquet(s"$dir/runs")
  }

  /** All runs, most recent first. Reads BOTH storage layouts: the
    * current `dir/runs` and the legacy one (run parquet files directly
    * under `dir`, written before trials/artifacts landed), with the
    * Run schema imposed so pre-`artifacts` logs decode (missing column
    * → empty map) instead of failing `.as[Run]`.
    */
  override def listRuns(): DataFrame = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val legacy =
      if (!fs.exists(root)) Array.empty[String]
      else fs.listStatus(root).filter(st => st.isFile &&
        st.getPath.getName.endsWith(".parquet")).map(_.getPath.toString)
    val parts = (if (exists(s"$dir/runs")) Seq(s"$dir/runs") else Nil) ++ legacy.toSeq
    require(parts.nonEmpty, s"no experiment runs found under $dir")
    spark.read.schema(Encoders.product[Run].schema).parquet(parts: _*)
      .withColumn("artifacts",
        coalesce(col("artifacts"), map().cast("map<string,string>")))
      .orderBy(col("timestampMs").desc)
  }

  // the offset read runs only when the run already has trials, so a
  // fresh run id (all the pipeline logs) costs no extra Spark job
  override def logTrials(runId: String, trials: Seq[Trainer.Trial]): Unit = {
    import spark.implicits._
    val part = runPartition("trials", runId)
    val offset = if (exists(part)) spark.read.parquet(part).count().toInt else 0
    trials.zipWithIndex.map { case (t, i) => (offset + i, t.params, t.metric) }
      .toDF("trial", "params", "metric").write.mode("append").parquet(part)
  }

  override def trialsOf(runId: String): DataFrame = {
    val part = runPartition("trials", runId)
    if (exists(part)) spark.read.parquet(part).orderBy(col("trial"))
    else TrackerBackend.trialFrame(spark, Nil)
  }

  override def logStage(runId: String, stage: String, seq: Long): Unit =
    TrackerBackend.stageFrame(spark, Seq((runId, stage, seq)))
      .write.mode("append").parquet(s"$dir/stages")

  // read with the known schema: inferring it would cost a Spark job
  override def stageLog(): DataFrame =
    if (exists(s"$dir/stages")) spark.read.schema(TrackerBackend.StageSchema).parquet(s"$dir/stages")
    else TrackerBackend.stageFrame(spark, Nil)
}

/** In-memory tracker for tests and notebook-scale use: same contract,
  * no filesystem. Instances are shared per registry key (see
  * [[TrackerRegistry.create]]), so a pipeline can log into the store a
  * spec later reads. Test-scale only — state lives on the driver.
  */
final class InMemoryTracker(val spark: SparkSession) extends TrackerBackend {
  private val runs = scala.collection.mutable.ArrayBuffer[Run]()
  private val trials = scala.collection.mutable.LinkedHashMap[String, Seq[Trainer.Trial]]()
  private val cms = scala.collection.mutable.LinkedHashMap[String, DataFrame]()
  private val curves = scala.collection.mutable.LinkedHashMap[(String, String), EvalArtifacts.Curve]()
  private val stages = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()

  override def logRun(run: Run): Unit = synchronized { runs += run }
  override def listRuns(): DataFrame = synchronized {
    require(runs.nonEmpty, "no experiment runs logged")
    spark.createDataFrame(runs.toSeq).orderBy(col("timestampMs").desc)
  }
  override def logTrials(runId: String, ts: Seq[Trainer.Trial]): Unit =
    synchronized { trials(runId) = trials.getOrElse(runId, Seq.empty) ++ ts }
  override def trialsOf(runId: String): DataFrame = synchronized {
    TrackerBackend.trialFrame(spark,
      trials(runId).zipWithIndex.map { case (t, i) => (i, t.params, t.metric) })
  }
  override def logConfusionMatrix(runId: String, cm: DataFrame): Unit =
    synchronized { cms(runId) = cm }
  override def confusionMatrix(runId: String): DataFrame = synchronized { cms(runId) }
  override def logCurve(runId: String, name: String, curve: EvalArtifacts.Curve): Unit =
    synchronized { curves((runId, name)) = curve }
  override def curve(runId: String, name: String): EvalArtifacts.Curve =
    synchronized { curves((runId, name)) }
  override def curveNames(runId: String): Seq[String] =
    synchronized { curves.keys.filter(_._1 == runId).map(_._2).toSeq.sorted }
  override def logStage(runId: String, stage: String, seq: Long): Unit =
    synchronized { stages += ((runId, stage, seq)) }
  override def stageLog(): DataFrame = synchronized { TrackerBackend.stageFrame(spark, stages.toSeq) }
}

/** Backend factories by name (reference: orchestrator.py:38
  * TrackerRegistry.register). `parquet`, `memory`, `mlflow` and
  * `comet` ship built in; users register their own with [[register]].
  * Memory instances are shared per (name-independent) URI so the writer
  * and a later reader get the same store.
  */
object TrackerRegistry {
  type Factory = (SparkSession, String) => TrackerBackend

  private val factories = TrieMap[String, Factory](
    "parquet" -> ((s, uri) => new ParquetTracker(s, uri)),
    "memory" -> ((s, uri) => memoryStores.getOrElseUpdate(uri, new InMemoryTracker(s))),
    // uri = an MLflow tracking server URL (http://host:port); spec'd
    // against a local wire-format stub — see MlflowTracker
    "mlflow" -> ((s, uri) => new MlflowTracker(s, uri)),
    // uri = a Comet-format REST server URL — the reference registry's
    // second remote backend (orchestrator.py:84-105); spec'd against a
    // local wire-format stub — see CometTracker
    "comet" -> ((s, uri) => new CometTracker(s, uri)))
  private val memoryStores = TrieMap[String, InMemoryTracker]()

  def register(name: String, factory: Factory): Unit = factories.put(name, factory)
  def registered: Set[String] = factories.keySet.toSet

  /** Drop a shared in-memory store (memory trackers are retained per
    * key for the JVM lifetime otherwise — call this when a test or
    * notebook is done with a key).
    */
  def dropMemoryStore(uri: String): Unit = memoryStores.remove(uri)

  def create(name: String, spark: SparkSession, uri: String): TrackerBackend =
    factories.getOrElse(name,
      sys.error(s"unknown tracker backend '$name' (registered: ${registered.mkString(", ")})"))(
      spark, uri)
}
