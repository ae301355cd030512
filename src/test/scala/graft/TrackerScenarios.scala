package graft

import org.scalatest.Assertions._

import graft.ml.{ExperimentTracker, TrackerBackend, Trainer}

/** Behaviour every [[TrackerBackend]] shares, run by each backend's spec
  * against its own store or wire stub.
  */
object TrackerScenarios {

  /** A second logTrials call for one run appends: its trial indices
    * continue from the first call's, and each trial keeps its params. */
  def repeatedLogTrials(t: TrackerBackend): Unit = {
    t.logRun(ExperimentTracker.Run("r1", "rf", Map.empty, Map("auc" -> 0.5), 1L))
    t.logTrials("r1", Seq(
      Trainer.Trial(Map("d" -> 1.0), 0.70),
      Trainer.Trial(Map("d" -> 2.0), 0.75)))
    t.logTrials("r1", Seq(Trainer.Trial(Map("d" -> 3.0), 0.80)))
    val trials = t.trialsOf("r1").collect()
    assert(trials.map(_.getAs[Int]("trial")).toSeq == Seq(0, 1, 2))
    assert(trials.map(_.getAs[Double]("metric")).toSeq == Seq(0.70, 0.75, 0.80))
    assert(trials.map(_.getAs[Map[String, Double]]("params")).toSeq ==
      Seq(Map("d" -> 1.0), Map("d" -> 2.0), Map("d" -> 3.0)))
  }
}
