package graft.ml

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** JSON over HTTP for the REST tracker backends: one client per API
  * root, sending `headers` (Comet's `Authorization`) on every request.
  * A non-200 answer fails loudly with the status and the head of the
  * body.
  */
private[ml] final class TrackerHttp(base: String, label: String, headers: (String, String)*) {
  private val http = HttpClient.newHttpClient()

  /** `suffix` is appended to the API root as is (`/path` or `?query`). */
  def send[T](suffix: String, what: String, method: HttpRequest.Builder => HttpRequest.Builder,
      body: HttpResponse.BodyHandler[T]): T = {
    val req = headers.foldLeft(HttpRequest.newBuilder(URI.create(base + suffix))) {
      case (b, (k, v)) => b.header(k, v)
    }
    val resp = http.send(method(req).build(), body)
    require(resp.statusCode() == 200, s"$label $what failed: HTTP ${resp.statusCode()} " +
      (resp.body() match { case s: String => s.take(300); case _ => "" }))
    resp.body()
  }

  def post(endpoint: String, json: JValue): JValue =
    JsonMethods.parse(send(s"/$endpoint", endpoint,
      _.header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(JsonMethods.compact(JsonMethods.render(json)))),
      HttpResponse.BodyHandlers.ofString()))

  def get(endpoint: String, query: String): JValue =
    JsonMethods.parse(send(s"/$endpoint?$query", endpoint, _.GET(),
      HttpResponse.BodyHandlers.ofString()))
}

/** The `graft.*` keys the REST backends store as tags (MLflow) or
  * others (Comet), and the trial-params codec: each search trial is one
  * `trial_metric` history sample at step = trial index plus a
  * params-JSON key for that index.
  */
private[ml] object TrackerWire {
  private implicit val fmt: Formats = DefaultFormats

  val RunId = "graft.run_id"
  val Model = "graft.model"
  val TimestampMs = "graft.timestamp_ms"
  val TrialMetric = "trial_metric"
  private val ArtifactPrefix = "graft.artifact."
  private val StagePrefix = "graft.stage."

  def artifactKey(name: String): String = ArtifactPrefix + name
  def stageKey(seq: Long): String = StagePrefix + seq
  def trialParamsKey(trial: Int): String = s"graft.trial_params.$trial"

  def artifactsOf(tags: Map[String, String]): Map[String, String] =
    tags.collect { case (k, v) if k.startsWith(ArtifactPrefix) => k.stripPrefix(ArtifactPrefix) -> v }

  /** A run's stage transitions: (runId, stage, seq). */
  def stagesOf(runId: String, tags: Map[String, String]): Seq[(String, String, Long)] =
    tags.collect { case (k, v) if k.startsWith(StagePrefix) =>
      (runId, v, k.stripPrefix(StagePrefix).toLong) }.toSeq

  /** The elements of a JSON array; none when the field is absent. */
  def items(v: JValue): List[JValue] = v match {
    case JArray(xs) => xs
    case _ => Nil
  }

  /** A JSON array of objects as a `key` → `value` string map. */
  def pairs(v: JValue, key: String, value: String): Map[String, String] =
    items(v).map(x => (x \ key).extract[String] -> (x \ value).extract[String]).toMap

  def encodeParams(params: Map[String, Double]): String =
    JsonMethods.compact(JsonMethods.render(
      JObject(params.toList.map { case (k, v) => k -> (JDouble(v): JValue) })))

  /** The trials frame from a `trial_metric` history of (step, metric)
    * and the run's keys. */
  def trials(spark: SparkSession, history: Seq[(Int, Double)],
      keys: Map[String, String]): DataFrame =
    TrackerBackend.trialFrame(spark, history.map { case (i, metric) =>
      val params = JsonMethods.parse(keys(trialParamsKey(i))) match {
        case JObject(fs) => fs.map { case (k, v) => k -> v.extract[Double] }.toMap
        case _ => Map.empty[String, Double]
      }
      (i, params, metric)
    })
}
