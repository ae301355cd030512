package graft.ml

import org.apache.spark.ml.Transformer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Lanes

/** A deployable scoring bundle: champion model + optional calibration
  * map + tuned decision threshold — what [[TrainPipeline.Result]]
  * carries, persisted as ONE directory so a batch or streaming scorer
  * can reload it in a different session (reference:
  * src/inference/predict.py model loading + inference/api_server.py —
  * the Spark-native seat of the online scoring API is a foreachBatch
  * sink over this bundle, see graft.streaming.Streams.scoringSink).
  *
  * Layout: `dir/champion` (MLlib model), `dir/calibrator` (optional,
  * Calibration.save layout), `dir/decision` (1-row parquet with the
  * tuned threshold + calibration method). The threshold lives on the
  * CALIBRATED scale whenever a calibrator is present; [[Bundle.score]]
  * applies the map before comparing, so a loaded bundle can never pair
  * raw scores with a calibrated-scale threshold.
  */
object Deployment {

  final case class Bundle(model: Transformer,
      calibrator: Option[Calibration.Calibrator], threshold: Double) {

    /** Score a frame: features from `featureArrayCol` → model positive
      * probability → calibrated `score` → thresholded `prediction`.
      * Pure column algebra over the model transform — no extra shuffle,
      * applies identically to batch frames and stream microbatches.
      */
    def score(df: DataFrame, featureArrayCol: String): DataFrame = {
      val feats = Trainer.withFeaturesFromArray(df, featureArrayCol)
      val raw = model.transform(feats)
        .withColumn("score", Trainer.posProb("probability"))
        .drop("features", "rawPrediction", "probability", "prediction")
      val calibrated = calibrator match {
        case Some(c) => c.calibrate(raw, "score", "__cal")
          .withColumn("score", col("__cal")).drop("__cal")
        case None => raw
      }
      calibrated.withColumn("prediction", (col("score") >= threshold).cast("double"))
    }
  }

  /** Load any MLlib model persisted by [[Champion.save]] without
    * knowing its concrete class: the saved metadata records the class
    * name, whose static `load(path)` (every MLReadable has one) is
    * invoked reflectively.
    */
  def loadModel(spark: SparkSession, path: String): Transformer = {
    // MLlib writes metadata as single-line JSON, but read the whole file
    // (it's O(bytes of one JSON object)) so a pretty-printed or
    // multi-part metadata file can't silently truncate the class name
    val meta = spark.read.text(s"$path/metadata")
      .collect().map(_.getString(0)).mkString("\n")
    val cls = """"class"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(meta)
      .getOrElse(sys.error(s"no class in $path/metadata")).group(1)
    Class.forName(cls).getMethod("load", classOf[String])
      .invoke(null, path).asInstanceOf[Transformer]
  }

  def save(spark: SparkSession, dir: String, model: Transformer,
      calibrator: Option[Calibration.Calibrator], threshold: Double): Unit =
    Lanes.all(saveWrites(spark, dir, model, calibrator, threshold).map(_._2))

  /** [[save]]'s writes by part name, each to its own path, so they can
    * run side by side. */
  def saveWrites(spark: SparkSession, dir: String, model: Transformer,
      calibrator: Option[Calibration.Calibrator], threshold: Double): Seq[(String, () => Unit)] = {
    import spark.implicits._
    Seq("champion" -> (() => Champion.save(model, s"$dir/champion"))) ++
      calibrator.map(c => "calibrator" -> (() => Calibration.save(c, s"$dir/calibrator"))) :+
      ("decision" -> (() => Seq((threshold, calibrator.map(_.method).getOrElse("none")))
        .toDF("threshold", "calibration_method")
        .write.mode("overwrite").parquet(s"$dir/decision")))
  }

  def load(spark: SparkSession, dir: String): Bundle = {
    val model = loadModel(spark, s"$dir/champion")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val calibrator =
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$dir/calibrator")))
        Some(Calibration.load(s"$dir/calibrator"))
      else None
    val threshold = spark.read.parquet(s"$dir/decision")
      .head().getAs[Double]("threshold")
    Bundle(model, calibrator, threshold)
  }
}
