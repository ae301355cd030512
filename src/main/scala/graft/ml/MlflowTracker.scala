package graft.ml

import java.net.URI
import java.net.http.{HttpRequest, HttpResponse}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import ExperimentTracker.Run

/** [[TrackerBackend]] speaking the MLflow REST wire format (the
  * reference's `_create_mlflow_tracker`, orchestrator.py:84-127,
  * targets the same protocol through the mlflow client library) —
  * metadata rides the documented HTTP endpoints (`runs/create`,
  * `runs/log-batch`, `runs/set-tag`, `runs/search`,
  * `metrics/get-history`, `experiments/create`), and artifacts
  * (confusion matrices, curves) are written directly under each run's
  * server-assigned `artifact_uri`, exactly as mlflow clients do with a
  * local artifact store — the REST API carries metrics/params/tags
  * only. No external service exists in this sandbox, so the spec
  * drives this against a local in-process stub implementing the same
  * wire format (MlflowTrackerSpec); pointing `uri` at a real tracking
  * server is the same code path.
  *
  * Contract mapping:
  *  - [[logRun]] → `runs/create` (graft run id, model and artifact
  *    pointers as tags) + one `runs/log-batch` of metrics and params
  *  - [[listRuns]] → `runs/search` ordered by start_time DESC
  *  - [[logTrials]] → genuine wire constructs: one `trial_metric`
  *    metric HISTORY (step = trial index, read back via
  *    `metrics/get-history`) + a params-JSON tag per trial
  *  - stage transitions → `graft.stage.<seq>` tags (append-only, like
  *    the parquet backend's stage log)
  *
  * Driver-side, O(runs) wire payloads — tracking metadata is tiny by
  * construction; the DATA stays in Spark.
  */
final class MlflowTracker(val spark: SparkSession, uri: String,
    pageSize: Int = 1000) extends FileRunArtifacts {
  private val base = uri.stripSuffix("/")
  private val http = new TrackerHttp(s"$base/api/2.0/mlflow", "mlflow")
  private val proxy = new TrackerHttp(s"$base/api/2.0/mlflow-artifacts/artifacts", "mlflow")
  private implicit val fmt: Formats = DefaultFormats

  /** One experiment per tracker instance, created on first use. */
  private lazy val experimentId: String =
    (http.post("experiments/create",
      JObject("name" -> JString(s"graft-${java.util.UUID.randomUUID()}")))
      \ "experiment_id").extract[String]

  // graft runId → (mlflow run_id, artifact_uri); misses resolve via
  // runs/search on the graft.run_id tag within THIS tracker's
  // experiment (each instance creates its own experiment — share a
  // tracker object across pipeline stages, like InMemoryTracker's
  // shared stores)
  private val known = scala.collection.concurrent.TrieMap[String, (String, String)]()

  /** Full scan of this tracker's experiment, following
    * `next_page_token` until the server is exhausted — beyond one page
    * of runs, a single request would silently truncate listRuns /
    * stageLog and fail resolve() for older runs.
    */
  private def searchRuns(): Seq[JValue] = {
    val acc = List.newBuilder[JValue]
    var token: Option[String] = None
    var more = true
    var pages = 0
    while (more) {
      val base = List[JField](
        "experiment_ids" -> JArray(List(JString(experimentId))),
        "order_by" -> JArray(List(JString("attributes.start_time DESC"))),
        "max_results" -> JInt(pageSize))
      val out = http.post("runs/search",
        JObject(base ++ token.map(t => "page_token" -> (JString(t): JValue))))
      val got = TrackerWire.items(out \ "runs")
      acc ++= got
      token = (out \ "next_page_token") match {
        case JString(t) if t.nonEmpty => Some(t)
        case _ => None
      }
      pages += 1
      require(pages <= 100000, "mlflow runs/search: page loop not converging")
      more = token.isDefined && got.nonEmpty
    }
    acc.result()
  }

  private def tagsOf(run: JValue): Map[String, String] =
    TrackerWire.pairs(run \ "data" \ "tags", "key", "value")

  // params come back as strings, metrics as numbers — accept either
  private def numOf(v: JValue): Double = v match {
    case JDouble(d) => d
    case JInt(i) => i.toDouble
    case JDecimal(d) => d.toDouble
    case JString(s) => s.toDouble
    case other => sys.error(s"mlflow: non-numeric value $other")
  }

  private def kvOf(run: JValue, section: String): Map[String, Double] =
    TrackerWire.items(run \ "data" \ section).map(m =>
      (m \ "key").extract[String] -> numOf(m \ "value")).toMap

  private def resolve(graftId: String): (String, String) =
    known.getOrElseUpdate(graftId, {
      val hit = searchRuns().find(r => tagsOf(r).get(TrackerWire.RunId).contains(graftId))
        .getOrElse(sys.error(s"mlflow tracker: unknown run '$graftId'"))
      ((hit \ "info" \ "run_id").extract[String],
        (hit \ "info" \ "artifact_uri").extract[String])
    })

  private def artifactDir(graftId: String): String = {
    val artUri = resolve(graftId)._2
    // direct artifact writes assume a LOCAL artifact root, as mlflow
    // clients do with file stores; an s3://http artifact root from a
    // remote server must fail loudly, not write to a bogus local path
    val scheme = Option(URI.create(artUri).getScheme).getOrElse("file")
    require(scheme == "file",
      s"mlflow tracker: artifact_uri '$artUri' has unsupported scheme " +
        s"'$scheme' — only local file: artifact roots are supported " +
        "(remote artifact stores need an mlflow artifacts proxy)")
    val d = artUri.stripPrefix("file:")
    new java.io.File(d).mkdirs()
    d
  }

  protected def confusionMatrixPath(runId: String): String =
    s"${artifactDir(runId)}/confusion_matrix"
  protected def curvesDir(runId: String): String = s"${artifactDir(runId)}/curves"

  private def setTag(mlflowId: String, key: String, value: String): Unit = {
    http.post("runs/set-tag", JObject("run_id" -> JString(mlflowId),
      "key" -> JString(key), "value" -> JString(value)))
    ()
  }

  override def logRun(run: Run): Unit = {
    val tags = (TrackerWire.RunId -> run.runId) :: (TrackerWire.Model -> run.model) ::
      run.artifacts.toList.map { case (k, v) => TrackerWire.artifactKey(k) -> v }
    val created = http.post("runs/create", JObject(
      "experiment_id" -> JString(experimentId),
      "start_time" -> JInt(run.timestampMs),
      "tags" -> JArray(tags.map { case (k, v) =>
        JObject("key" -> JString(k), "value" -> JString(v)) })))
    val mlflowId = (created \ "run" \ "info" \ "run_id").extract[String]
    val artUri = (created \ "run" \ "info" \ "artifact_uri").extract[String]
    known.put(run.runId, (mlflowId, artUri))
    http.post("runs/log-batch", JObject(
      "run_id" -> JString(mlflowId),
      "metrics" -> JArray(run.metrics.toList.map { case (k, v) =>
        JObject("key" -> JString(k), "value" -> JDouble(v),
          "timestamp" -> JInt(run.timestampMs), "step" -> JInt(0)) }),
      "params" -> JArray(run.params.toList.map { case (k, v) =>
        JObject("key" -> JString(k), "value" -> JString(v.toString)) })))
    ()
  }

  override def listRuns(): DataFrame = {
    val rows = searchRuns().map { r =>
      val tags = tagsOf(r)
      Run(
        runId = tags.getOrElse(TrackerWire.RunId,
          (r \ "info" \ "run_id").extract[String]),
        model = tags.getOrElse(TrackerWire.Model, ""),
        params = kvOf(r, "params"),
        metrics = kvOf(r, "metrics"),
        timestampMs = (r \ "info" \ "start_time").extract[Long],
        artifacts = TrackerWire.artifactsOf(tags))
    }
    require(rows.nonEmpty, "no experiment runs logged")
    spark.createDataFrame(rows).orderBy(col("timestampMs").desc)
  }

  /** The run's `trial_metric` history: (step, value) in wire order. */
  private def trialHistory(mlflowId: String): Seq[(Int, Double)] =
    TrackerWire.items(http.get("metrics/get-history",
      s"run_id=$mlflowId&metric_key=${TrackerWire.TrialMetric}") \ "metrics")
      .map(m => ((m \ "step").extract[Int], (m \ "value").extract[Double]))

  override def logTrials(runId: String, trials: Seq[Trainer.Trial]): Unit = {
    val (mlflowId, _) = resolve(runId)
    // steps continue from the existing history, so a repeated call
    // appends instead of overwriting trial 0's params tag
    val offset = trialHistory(mlflowId).size
    http.post("runs/log-batch", JObject(
      "run_id" -> JString(mlflowId),
      "metrics" -> JArray(trials.zipWithIndex.toList.map { case (t, i) =>
        JObject("key" -> JString(TrackerWire.TrialMetric), "value" -> JDouble(t.metric),
          "timestamp" -> JInt(0), "step" -> JInt(offset + i)) })))
    trials.zipWithIndex.foreach { case (t, i) =>
      setTag(mlflowId, TrackerWire.trialParamsKey(offset + i), TrackerWire.encodeParams(t.params))
    }
  }

  override def trialsOf(runId: String): DataFrame = {
    val (mlflowId, _) = resolve(runId)
    val run = searchRuns().find(r =>
      (r \ "info" \ "run_id").extract[String] == mlflowId).get
    TrackerWire.trials(spark, trialHistory(mlflowId), tagsOf(run))
  }

  // --- binary model-asset round-trip (reference orchestrator.py:
  // 500-523 uploads the champion model to the tracker; 808-840
  // downloads it back when no local copy exists). Rides the
  // mlflow-artifacts PROXY surface — the documented HTTP endpoints
  // mlflow clients use when the tracking server serves artifacts
  // (`mlflow server --serve-artifacts`, the default since 1.24):
  // PUT/GET file bytes at /api/2.0/mlflow-artifacts/artifacts/<path>,
  // JSON directory listing at the same endpoint with ?path=. The
  // DataFrame-shaped artifacts (curves, confusion matrices) stay on
  // the file: root — this wire is for opaque model bundles, where the
  // recovery story needs the bytes INSIDE the tracker.

  private def artifactsRel(mlflowId: String, name: String): String =
    s"experiments/$experimentId/runs/$mlflowId/artifacts/$name"

  override def uploadArtifactDir(runId: String, name: String, localDir: String): Boolean = {
    val (mlflowId, _) = resolve(runId)
    val root = java.nio.file.Paths.get(localDir)
    require(java.nio.file.Files.isDirectory(root),
      s"mlflow tracker: uploadArtifactDir expects a directory, got $localDir")
    val files = {
      import scala.jdk.CollectionConverters._
      val st = java.nio.file.Files.walk(root)
      try st.filter(p => java.nio.file.Files.isRegularFile(p))
        .iterator().asScala.toList
      finally st.close()
    }
    files.foreach { f =>
      val rel = root.relativize(f).toString.replace(java.io.File.separatorChar, '/')
      proxy.send(s"/${artifactsRel(mlflowId, name)}/$rel", s"artifact upload '$rel'",
        _.PUT(HttpRequest.BodyPublishers.ofByteArray(java.nio.file.Files.readAllBytes(f))),
        HttpResponse.BodyHandlers.ofString())
    }
    true
  }

  override def downloadArtifactDir(runId: String, name: String, destDir: String): Boolean = {
    val (mlflowId, _) = resolve(runId)
    def list(rel: String): Seq[(String, Boolean)] =
      TrackerWire.items(JsonMethods.parse(proxy.send(s"?path=$rel", s"artifact list '$rel'",
        _.GET(), HttpResponse.BodyHandlers.ofString())) \ "files")
        .map(f => ((f \ "path").extract[String], (f \ "is_dir").extractOrElse[Boolean](false)))
    // (remote rel under the artifact, local rel under destDir)
    def walk(rel: String, local: String): Seq[(String, String)] =
      list(rel).flatMap { case (child, isDir) =>
        val r = s"$rel/$child"; val l = if (local.isEmpty) child else s"$local/$child"
        if (isDir) walk(r, l) else Seq((r, l))
      }
    val top = artifactsRel(mlflowId, name)
    val entries = walk(top, "")
    if (entries.isEmpty) false
    else {
      entries.foreach { case (remoteRel, localRel) =>
        val bytes = proxy.send(s"/$remoteRel", s"artifact download '$remoteRel'", _.GET(),
          HttpResponse.BodyHandlers.ofByteArray())
        val out = java.nio.file.Paths.get(destDir, localRel.split('/').toSeq: _*)
        java.nio.file.Files.createDirectories(out.getParent)
        java.nio.file.Files.write(out, bytes)
      }
      true
    }
  }

  override def logStage(runId: String, stage: String, seq: Long): Unit = {
    val (mlflowId, _) = resolve(runId)
    setTag(mlflowId, TrackerWire.stageKey(seq), stage)
  }

  override def stageLog(): DataFrame =
    TrackerBackend.stageFrame(spark, searchRuns().flatMap { r =>
      val tags = tagsOf(r)
      TrackerWire.stagesOf(tags.getOrElse(TrackerWire.RunId, ""), tags)
    })
}
