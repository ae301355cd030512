package graft.ml

/** Minimal experiment tracking (reference: src/training/tracking/
  * experiment.py + experiment_tracker.py — the MLflow/Comet surface
  * reduced to its queryable core: log runs, list them, pick the best).
  * The stores are the [[TrackerBackend]]s; the durable log is
  * [[ParquetTracker]].
  */
object ExperimentTracker {

  /** One experiment run. `artifacts` is a name → URI/path map (model
    * directory, figure path, …) — the queryable core of the reference's
    * log_model/log_figure surface (experiment_tracker.py:68-127).
    */
  final case class Run(runId: String, model: String, params: Map[String, Double],
      metrics: Map[String, Double], timestampMs: Long,
      artifacts: Map[String, String] = Map.empty)
}
