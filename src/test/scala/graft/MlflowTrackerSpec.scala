package graft

import java.net.InetSocketAddress

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.ml.{EvalArtifacts, ExperimentTracker, MlflowTracker, ModelRegistry,
  TrackerRegistry, Trainer}

/** The MLflow-wire backend against a LOCAL stub implementing the same
  * REST surface (runs/create, runs/log-batch, runs/set-tag,
  * runs/search, metrics/get-history, experiments/create) with an
  * in-memory store and a file: artifact root — no network egress, and
  * the tracker code path is identical to a real tracking server. The
  * behavioral contract mirrors the parquet/memory backend specs:
  * log → list → best-run selection → trials → artifacts → registry
  * stages.
  */
class MlflowTrackerSpec extends SparkSpec {
  private implicit val fmt: Formats = DefaultFormats

  /** Minimal MLflow tracking server: JSON wire format over the five
    * endpoints the tracker uses.
    */
  private final class Stub(s3Artifacts: Boolean = false) {
    final case class StoredRun(
      runId: String, experimentId: String, startTime: Long,
      var params: Map[String, String] = Map.empty,
      var tags: Map[String, String] = Map.empty,
      // metric key -> history of (step, value); "latest" = last logged
      var metrics: Map[String, List[(Int, Double)]] = Map.empty)

    val runs = scala.collection.mutable.LinkedHashMap[String, StoredRun]()
    val experiments = scala.collection.mutable.LinkedHashMap[String, String]()
    val artifactRoot: String =
      java.nio.file.Files.createTempDirectory("mlflow-stub-artifacts").toString

    private def body(ex: HttpExchange): JValue =
      JsonMethods.parse(new String(ex.getRequestBody.readAllBytes(), "UTF-8"))

    private def respond(ex: HttpExchange, v: JValue): Unit = {
      val bytes = JsonMethods.compact(JsonMethods.render(v)).getBytes("UTF-8")
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(200, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
      ex.close()
    }

    private def runJson(r: StoredRun): JValue = JObject(
      "info" -> JObject(
        "run_id" -> JString(r.runId),
        "experiment_id" -> JString(r.experimentId),
        "start_time" -> JInt(r.startTime),
        "artifact_uri" -> JString(
          if (s3Artifacts) s"s3://some-bucket/artifacts/${r.runId}"
          else s"file:$artifactRoot/${r.runId}")),
      "data" -> JObject(
        "params" -> JArray(r.params.toList.map { case (k, v) =>
          JObject("key" -> JString(k), "value" -> JString(v)) }),
        "tags" -> JArray(r.tags.toList.map { case (k, v) =>
          JObject("key" -> JString(k), "value" -> JString(v)) }),
        "metrics" -> JArray(r.metrics.toList.map { case (k, hist) =>
          JObject("key" -> JString(k), "value" -> JDouble(hist.last._2)) })))

    val server: HttpServer = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/api/2.0/mlflow/", (ex: HttpExchange) => try {
      val path = ex.getRequestURI.getPath.stripPrefix("/api/2.0/mlflow/")
      path match {
        case "experiments/create" =>
          val name = (body(ex) \ "name").extract[String]
          val id = (experiments.size + 1).toString
          experiments(id) = name
          respond(ex, JObject("experiment_id" -> JString(id)))
        case "runs/create" =>
          val b = body(ex)
          val id = java.util.UUID.randomUUID().toString.replace("-", "")
          val tags = (b \ "tags") match {
            case JArray(ts) => ts.map(t =>
              (t \ "key").extract[String] -> (t \ "value").extract[String]).toMap
            case _ => Map.empty[String, String]
          }
          val r = StoredRun(id, (b \ "experiment_id").extract[String],
            (b \ "start_time").extract[Long], tags = tags)
          runs(id) = r
          respond(ex, JObject("run" -> runJson(r)))
        case "runs/log-batch" =>
          val b = body(ex)
          val r = runs((b \ "run_id").extract[String])
          (b \ "metrics") match {
            case JArray(ms) => ms.foreach { m =>
              val k = (m \ "key").extract[String]
              val entry = ((m \ "step").extractOrElse[Int](0),
                (m \ "value").extract[Double])
              r.metrics = r.metrics.updated(k, r.metrics.getOrElse(k, Nil) :+ entry)
            }
            case _ =>
          }
          (b \ "params") match {
            case JArray(ps) => ps.foreach { p =>
              r.params += ((p \ "key").extract[String] -> (p \ "value").extract[String])
            }
            case _ =>
          }
          respond(ex, JObject())
        case "runs/set-tag" =>
          val b = body(ex)
          val r = runs((b \ "run_id").extract[String])
          r.tags += ((b \ "key").extract[String] -> (b \ "value").extract[String])
          respond(ex, JObject())
        case "runs/search" =>
          val b = body(ex)
          val expIds = (b \ "experiment_ids") match {
            case JArray(ids) => ids.map(_.extract[String]).toSet
            case _ => Set.empty[String]
          }
          val hits = runs.values.filter(r => expIds.contains(r.experimentId))
            .toList.sortBy(-_.startTime)
          // paginated, like the real server: max_results per page, an
          // offset-encoded next_page_token while more remain
          val max = (b \ "max_results") match {
            case JInt(n) => n.toInt
            case _ => hits.size
          }
          val off = (b \ "page_token") match {
            case JString(t) => t.toInt
            case _ => 0
          }
          val page = hits.slice(off, off + max)
          val tok: List[JField] =
            if (off + max < hits.size)
              List("next_page_token" -> JString((off + max).toString))
            else Nil
          respond(ex, JObject(("runs" -> (JArray(page.map(runJson)): JValue)) :: tok))
        case "metrics/get-history" =>
          val q = ex.getRequestURI.getQuery.split("&")
            .map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
          val hist = runs(q("run_id")).metrics.getOrElse(q("metric_key"), Nil)
          respond(ex, JObject("metrics" -> JArray(hist.map { case (step, v) =>
            JObject("key" -> JString(q("metric_key")), "value" -> JDouble(v),
              "step" -> JInt(step), "timestamp" -> JInt(0)) })))
        case other =>
          ex.sendResponseHeaders(404, -1); ex.close()
      }
    } catch {
      case e: Throwable =>
        val msg = e.toString.getBytes("UTF-8")
        ex.sendResponseHeaders(500, msg.length.toLong)
        ex.getResponseBody.write(msg); ex.close()
    })
    // mlflow-artifacts proxy surface (`mlflow server --serve-artifacts`):
    // PUT/GET raw file bytes under .../artifacts/<path>, JSON listing of
    // a directory's immediate children via ?path=<dir>
    val assets = scala.collection.mutable.LinkedHashMap[String, Array[Byte]]()
    server.createContext("/api/2.0/mlflow-artifacts/artifacts", (ex: HttpExchange) => try {
      val rel = ex.getRequestURI.getPath
        .stripPrefix("/api/2.0/mlflow-artifacts/artifacts").stripPrefix("/")
      (ex.getRequestMethod, Option(ex.getRequestURI.getQuery)) match {
        case ("PUT", _) =>
          assets(rel) = ex.getRequestBody.readAllBytes()
          respond(ex, JObject())
        case ("GET", Some(q)) if q.startsWith("path=") =>
          val p = q.stripPrefix("path=")
          val kids = assets.keys.filter(_.startsWith(p + "/"))
            .map(_.stripPrefix(p + "/")).toList
          val files = kids.filter(!_.contains("/"))
            .map(n => JObject("path" -> JString(n), "is_dir" -> JBool(false)))
          val dirs = kids.filter(_.contains("/")).map(_.takeWhile(_ != '/')).distinct
            .map(n => JObject("path" -> JString(n), "is_dir" -> JBool(true)))
          respond(ex, JObject("files" -> JArray(dirs ++ files)))
        case ("GET", _) =>
          assets.get(rel) match {
            case Some(b) =>
              ex.sendResponseHeaders(200, b.length.toLong)
              ex.getResponseBody.write(b); ex.close()
            case None => ex.sendResponseHeaders(404, -1); ex.close()
          }
        case _ => ex.sendResponseHeaders(405, -1); ex.close()
      }
    } catch {
      case e: Throwable =>
        val msg = e.toString.getBytes("UTF-8")
        ex.sendResponseHeaders(500, msg.length.toLong)
        ex.getResponseBody.write(msg); ex.close()
    })
    server.start()
    def url: String = s"http://127.0.0.1:${server.getAddress.getPort}"
    def stop(): Unit = server.stop(0)
  }

  test("mlflow wire backend: runs, selection, trials, artifacts, stages round-trip") {
    val stub = new Stub
    try {
      val t = TrackerRegistry.create("mlflow", spark, stub.url)
      assert(TrackerRegistry.registered.contains("mlflow"))
      t.logRun(ExperimentTracker.Run("r1", "logreg", Map("regParam" -> 0.1),
        Map("auc" -> 0.81), timestampMs = 1000L, artifacts = Map("model" -> "/m/r1")))
      t.logRun(ExperimentTracker.Run("r2", "gbt", Map("maxDepth" -> 3.0),
        Map("auc" -> 0.86), timestampMs = 2000L, artifacts = Map("model" -> "/m/r2")))
      t.logRun(ExperimentTracker.Run("r3", "rf", Map.empty,
        Map("auc" -> 0.99), timestampMs = 3000L)) // no model artifact

      // the wire really was exercised: the stub holds the runs
      assert(stub.runs.size === 3)
      assert(stub.runs.values.exists(_.tags.get("graft.run_id").contains("r2")))

      // listRuns: most recent first, params/metrics/artifacts rebuilt
      val listed = t.listRuns().collect()
      assert(listed.map(_.getAs[String]("runId")).toSeq == Seq("r3", "r2", "r1"))
      // shared selection rules from the trait work over the wire data:
      // bestRun ignores deployability, bestDeployableRun skips r3
      assert(t.bestRun("auc", 10).map(_.runId).contains("r3"))
      assert(t.bestDeployableRun("auc", 10).map(_.runId).contains("r2"))

      // trials via metric history + params tags
      t.logTrials("r2", Seq(
        Trainer.Trial(Map("maxDepth" -> 2.0), 0.80),
        Trainer.Trial(Map("maxDepth" -> 3.0), 0.86)))
      val trials = t.trialsOf("r2").collect()
      assert(trials.length === 2)
      assert(trials(1).getAs[Double]("metric") === 0.86)
      assert(trials(1).getAs[Map[String, Double]]("params") == Map("maxDepth" -> 3.0))

      // artifacts land under the server-assigned artifact_uri
      import spark.implicits._
      t.logConfusionMatrix("r2", Seq((0, 0, 5L), (1, 1, 7L)).toDF("label", "pred", "n"))
      assert(t.confusionMatrix("r2").count() === 2)
      t.logCurve("r2", "roc", EvalArtifacts.Curve("line", "fpr", "tpr",
        Seq((0.0, 0.0), (1.0, 1.0)).toDF("fpr", "tpr")))
      assert(t.curveNames("r2") == Seq("roc"))
      assert(t.curve("r2", "roc").chart === "line")
      assert(t.curve("r2", "roc").frame.count() === 2)

      // registry stages as append-only tags; archived runs not deployable
      ModelRegistry.register(t, "r2")
      ModelRegistry.archive(t, "r2")
      assert(t.runIdsAtStage(ModelRegistry.Archived) == Seq("r2"))
      assert(ModelRegistry.stageOf(t, "r2").contains(ModelRegistry.Archived))
      assert(t.bestDeployableRun("auc", 10).map(_.runId).contains("r1"))
    } finally stub.stop()
  }

  test("second logTrials call appends steps instead of restarting at 0") {
    val stub = new Stub
    try TrackerScenarios.repeatedLogTrials(new MlflowTracker(spark, stub.url))
    finally stub.stop()
  }

  test("runs/search pagination: listRuns and per-run lookups span pages") {
    val stub = new Stub
    try {
      val t = new MlflowTracker(spark, stub.url, pageSize = 2)
      (1 to 5).foreach { i =>
        t.logRun(ExperimentTracker.Run(s"p$i", "logreg", Map.empty,
          Map("auc" -> (0.5 + i / 100.0)), timestampMs = i * 1000L))
      }
      // 5 runs over pageSize=2 → 3 pages; a single request would
      // return 2 and silently truncate
      val listed = t.listRuns().collect()
      assert(listed.length === 5, s"truncated listing: ${listed.length}")
      assert(listed.map(_.getAs[String]("runId")).toSeq ==
        Seq("p5", "p4", "p3", "p2", "p1"))
      // trialsOf scans runs/search for the oldest run's tags — it
      // lives on the LAST page
      t.logTrials("p1", Seq(Trainer.Trial(Map("d" -> 1.0), 0.7)))
      assert(t.trialsOf("p1").collect().length === 1)
      assert(t.stageLog().count() === 0)
    } finally stub.stop()
  }

  test("model-asset round-trip: uploaded bundle survives losing the local dir") {
    val stub = new Stub
    try {
      import spark.implicits._
      import graft.ml.{Deployment, ModelRegistry}
      val df = Seq((0L, 0.0, Array(0.2, 0.1)), (1L, 1.0, Array(0.9, 0.8)),
        (2L, 0.0, Array(0.1, 0.3)), (3L, 1.0, Array(0.8, 0.7)),
        (4L, 0.0, Array(0.15, 0.2)), (5L, 1.0, Array(0.95, 0.9)))
        .toDF("id", "label", "arr")
      val m = new org.apache.spark.ml.classification.LogisticRegression()
        .setMaxIter(10).fit(Trainer.withFeaturesFromArray(df, "arr"))
      val dir = java.nio.file.Files.createTempDirectory("graft-mlflow-bundle").toString
      Deployment.save(spark, dir, m, None, 0.5)
      val before = Deployment.load(spark, dir).score(df, "arr")
        .select($"id", $"score").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

      val t = new MlflowTracker(spark, stub.url)
      t.logRun(ExperimentTracker.Run("c1", "logreg", Map.empty, Map("auc" -> 0.9),
        timestampMs = 1000L, artifacts = Map("bundle" -> dir)))
      ModelRegistry.register(t, "c1"); ModelRegistry.promote(t, "c1")
      assert(t.uploadArtifactDir("c1", "bundle", dir))
      assert(stub.assets.nonEmpty &&
        stub.assets.keys.forall(_.contains("/artifacts/bundle/")), stub.assets.keys.toString)

      // lose the local working dir — the reference's recovery scenario
      // (orchestrator.py:808-840): the champion reloads THROUGH the
      // tracker and scores identically
      def rmrf(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rmrf)); f.delete(); ()
      }
      rmrf(new java.io.File(dir))
      val bundle = ModelRegistry.loadChampionBundle(t).get
      val after = bundle.score(df, "arr").select($"id", $"score").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(after.keySet == before.keySet &&
        after.forall { case (k, v) => math.abs(v - before(k)) < 1e-12 })
    } finally stub.stop()
  }

  test("missing bundle dir with no tracker asset fails loudly") {
    val stub = new Stub
    try {
      import graft.ml.ModelRegistry
      val t = new MlflowTracker(spark, stub.url)
      t.logRun(ExperimentTracker.Run("c2", "rf", Map.empty, Map("auc" -> 0.8),
        timestampMs = 1000L,
        artifacts = Map("bundle" -> "/tmp/graft-definitely-gone-bundle")))
      ModelRegistry.register(t, "c2"); ModelRegistry.promote(t, "c2")
      val e = intercept[IllegalArgumentException] {
        ModelRegistry.loadChampionBundle(t)
      }
      assert(e.getMessage.contains("missing") && e.getMessage.contains("c2"), e.getMessage)
    } finally stub.stop()
  }

  test("non-local artifact_uri fails loudly instead of writing a bogus local path") {
    val stub = new Stub(s3Artifacts = true)
    try {
      val t = new MlflowTracker(spark, stub.url)
      t.logRun(ExperimentTracker.Run("s1", "rf", Map.empty,
        Map("auc" -> 0.9), timestampMs = 1000L))
      import spark.implicits._
      val e = intercept[IllegalArgumentException] {
        t.logConfusionMatrix("s1", Seq((0, 0, 5L)).toDF("label", "pred", "n"))
      }
      assert(e.getMessage.contains("s3"), e.getMessage)
    } finally stub.stop()
  }
}
