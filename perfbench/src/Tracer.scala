package perfbench

import scala.collection.mutable

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Work counted inside one span, from Spark's listener events. */
final class Counts {
  var jobs, stages, tasks, taskMs, shuffleWriteBytes, bytesRead, bytesWritten, spillBytes = 0L
  var exchanges, reusedExchanges = 0L

  def +=(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    shuffleWriteBytes += o.shuffleWriteBytes; bytesRead += o.bytesRead; bytesWritten += o.bytesWritten
    spillBytes += o.spillBytes
    exchanges += o.exchanges; reusedExchanges += o.reusedExchanges
  }

  def toMap: Map[String, Double] = Map(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
    "task_s" -> taskMs / 1e3, "shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "bytes_read" -> bytesRead.toDouble, "bytes_written" -> bytesWritten.toDouble,
    "spill_bytes" -> spillBytes.toDouble,
    "exchanges" -> exchanges.toDouble, "reused_exchanges" -> reusedExchanges.toDouble)
}

final case class Span(id: Int, name: String, parent: Int, startNs: Long, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Exchange and ReusedExchange nodes of an executed plan, descending into
  * adaptive query stages and subqueries (the final AQE plan). */
object PlanCounts extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan): (Int, Int) = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    (nodes.count(_.isInstanceOf[Exchange]), nodes.count(_.isInstanceOf[ReusedExchangeExec]))
  }
}

/** The benchmark's only in-process instrumentation.
  *
  * Always on: the largest `peakExecutionMemory` of any task until
  * [[finish]] closes the timed window. Everything else starts with
  * [[enable]]: a SparkListener (jobs, stages, tasks, bytes), a
  * QueryExecutionListener (exchange counts of each executed plan) and a
  * StreamingQueryListener (each microbatch's progress, recorded as a
  * span). Events are charged to the innermost open span; the listener bus
  * is drained at every span boundary, so an event can only land in the
  * span whose work posted it. Spans stay in memory and are written out
  * when the run ends.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  @volatile private var peakTaskMem = 0L
  @volatile private var on = false
  @volatile private var current = 0
  private val t0 = System.nanoTime()
  private val epochMinusNanoTime = System.currentTimeMillis() * 1000000L - t0
  val spans = mutable.ArrayBuffer(Span(0, "run", -1, t0))
  val counts = mutable.Map[Int, Counts]()
  /** Stage count and summed stage seconds per source file of the
    * stage's call site ("treeAggregate at RDDLossFunction.scala:61"). */
  val callsites = mutable.Map[String, (Long, Double)]()
  /** Progress of every microbatch seen while tracing. */
  val batches = mutable.ArrayBuffer[StreamingQueryProgress]()
  private val CallSiteFile = """ at ([A-Za-z0-9_$]+)\.scala""".r.unanchored

  spark.sparkContext.addSparkListener(this)

  private def drain(): Unit = ListenerBusDrain.drain(spark.sparkContext)
  private def here: Counts = counts.synchronized(counts.getOrElseUpdate(current, new Counts))

  def enable(): Unit = {
    drain()
    on = true
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = if (on) {
        val (ex, reused) = PlanCounts(qe.executedPlan)
        val c = here
        c.synchronized { c.exchanges += ex; c.reusedExchanges += reused }
      }
      def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()
    })
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (on) {
        val p = e.progress
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        external(s"batch ${p.batchId}", current, start, start + p.durationMs.get("triggerExecution"))
        batches.synchronized { batches += p; () }
      }
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
  }

  /** Run `body` as a span named `name`, child of the open span. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      drain()
      val parent = current
      val s = spans.synchronized {
        val s = Span(spans.size, name, parent, System.nanoTime())
        spans += s
        s
      }
      current = s.id
      try body
      finally {
        drain()
        s.endNs = System.nanoTime()
        current = parent
      }
    }

  /** Record a span timed elsewhere, in epoch milliseconds. */
  private def external(name: String, parent: Int, startMs: Long, endMs: Long): Unit =
    spans.synchronized {
      spans += Span(spans.size, name, parent, startMs * 1000000L - epochMinusNanoTime,
        endMs * 1000000L - epochMinusNanoTime)
      ()
    }

  def peakTaskMemMb: Double = peakTaskMem / (1024.0 * 1024.0)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (on) { val c = here; c.synchronized(c.jobs += 1) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) {
    val c = here
    c.synchronized(c.stages += 1)
    val info = e.stageInfo
    val secs = (for (s <- info.submissionTime; f <- info.completionTime) yield (f - s) / 1e3)
      .getOrElse(0.0)
    val file = info.name match {
      case CallSiteFile(f) => f
      case _ => "other"
    }
    callsites.synchronized {
      val (n, t) = callsites.getOrElse(file, (0L, 0.0))
      callsites(file) = (n + 1, t + secs)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      if (!finished && m.peakExecutionMemory > peakTaskMem) peakTaskMem = m.peakExecutionMemory
      if (on) {
        val c = here
        c.synchronized {
          c.tasks += 1
          c.taskMs += m.executorRunTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.bytesRead += m.inputMetrics.bytesRead
          c.bytesWritten += m.outputMetrics.bytesWritten
          c.spillBytes += m.diskBytesSpilled
        }
      }
    }
  }

  /** Counts of span `id` and all its descendants. */
  def inclusive(id: Int): Counts = {
    val total = new Counts
    def add(i: Int): Unit = {
      counts.get(i).foreach(total += _)
      spans.filter(_.parent == i).foreach(s => add(s.id))
    }
    add(id)
    total
  }

  /** Span duration minus the time its child spans cover. */
  def selfSeconds(s: Span): Double = s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  @volatile private var finished = false

  /** Close the timed window; later work (the output checks) is not counted. */
  def finish(): Unit = {
    drain()
    finished = true
    on = false
    spans(0).endNs = System.nanoTime()
  }

  def spansJson: String = spans.map { s =>
    val c = counts.getOrElse(s.id, new Counts).toMap.map { case (k, v) => s""""$k": $v""" }
    s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, """ +
      f""""start_s": ${(s.startNs - t0) / 1e9}%.6f, "end_s": ${(s.endNs - t0) / 1e9}%.6f, """ +
      f""""self_s": ${selfSeconds(s)}%.6f, "counts": {${c.mkString(", ")}}}"""
  }.mkString("[", ",\n ", "]")
}
