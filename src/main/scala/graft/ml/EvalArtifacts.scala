package graft.ml

import org.apache.spark.sql.DataFrame

import graft.Lanes

/** Plot-ready evaluation artifacts (reference:
  * src/evaluation/visualizer.py — ROC / precision-recall / calibration
  * / lift figures). The engine's seat of that surface is data + axis
  * metadata, not pixels: each curve is a small DataFrame plus the chart
  * kind and axis labels, logged through a [[TrackerBackend]] so any
  * plotting frontend can reconstruct the figure.
  */
object EvalArtifacts {

  /** One plot-ready curve: `chart` names the figure kind
    * (roc|pr|calibration|lift), `xLabel`/`yLabel` name the frame
    * columns to put on each axis; `frame` carries those columns plus
    * whatever extra columns the chart kind defines (thresholds, bin
    * counts, …).
    */
  final case class Curve(chart: String, xLabel: String, yLabel: String, frame: DataFrame)

  def rocCurve(sweep: DataFrame): Curve = Curve("roc", "fpr", "tpr", sweep)
  def prCurve(sweep: DataFrame): Curve = Curve("pr", "recall", "precision", sweep)
  def calibrationCurve(frame: DataFrame): Curve =
    Curve("calibration", "mean_predicted", "fraction_positive", frame)
  def liftCurve(frame: DataFrame): Curve = Curve("lift", "decile", "lift", frame)

  /** Compute and log the standard champion figure set for `runId`:
    * roc + pr (one threshold sweep), calibration, lift — the curves
    * visualizer.py renders (reference: evaluator.py:716-816
    * _log_calibration_curve / _log_roc_curve /
    * _log_precision_recall_curve / cumulative gains). The writes run as
    * [[graft.Lanes]], see [[curveWrites]].
    */
  def logAll(tracker: TrackerBackend, runId: String, scored: DataFrame,
      labelCol: String, scoreCol: String, tieBreakCol: String,
      thresholds: Seq[Double] = (1 to 19).map(_ * 0.05),
      calibrationBins: Int = 10, liftTiles: Int = 10): Unit = {
    val counts = Evaluator.scoreCounts(scored, labelCol, scoreCol, thresholds, calibrationBins)
    Lanes.all(curveWrites(tracker, runId, counts, scored, labelCol, scoreCol, tieBreakCol,
      liftTiles).map(_._2))
  }

  /** The figure set's writes, by curve name, each independent of the
    * others: roc, pr and calibration are small local frames derived from
    * `counts`; lift ranks `scored` in its own pass.
    */
  def curveWrites(tracker: TrackerBackend, runId: String, counts: Evaluator.ScoreCounts,
      scored: DataFrame, labelCol: String, scoreCol: String, tieBreakCol: String,
      liftTiles: Int = 10): Seq[(String, () => Unit)] = Seq(
    "roc" -> (() => tracker.logCurve(runId, "roc", rocCurve(counts.rocPr))),
    "pr" -> (() => tracker.logCurve(runId, "pr", prCurve(counts.rocPr))),
    "calibration" -> (() => tracker.logCurve(runId, "calibration",
      calibrationCurve(counts.calibration))),
    "lift" -> (() => tracker.logCurve(runId, "lift",
      liftCurve(Evaluator.liftGains(scored, labelCol, scoreCol, tieBreakCol, liftTiles)))))
}
