package perfbench

import java.io.{File, PrintWriter}

import graft.GraftSession
import graft.tools.Calib

/** One benchmark run inside one JVM: set-up, the timed closed loop, the
  * output checks, then a JSON capture for run.py. With `--trace 1` the
  * tracer's listeners are registered before the window opens and the
  * capture carries the per-layer metrics and the spans.
  */
object Main {
  /** CPU seconds of every thread of this JVM: tasks, planning, JIT, GC. */
  private val processCpu = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = a("cores").toInt
    val work = a("work")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val spark = GraftSession.builder("perfbench", shufflePartitions = cores)
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t = new Tracer(spark)
    val w: Workload = a("workload") match {
      case "ml_pipeline" => new MlPipeline(spark, t, a("data"), a("requests"), s"$work/ml")
      case "analytics_skew" => new Analytics(spark, t, a("data"), work)
    }
    val setupS = (System.currentTimeMillis() - a("t0-ms").toLong) / 1e3

    if (trace) t.enable()
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var passes, cpu = Vector.empty[Double]
    var error: Option[Throwable] = None
    while (error.isEmpty && (elapsed < seconds || passes.isEmpty)) {
      val cpu0 = processCpu.getProcessCpuTime
      try {
        passes :+= w.pass()
        cpu :+= (processCpu.getProcessCpuTime - cpu0) / 1e9
      } catch { case e: Throwable => error = Some(e); e.printStackTrace() }
    }
    val windowS = elapsed
    t.finish()

    val checksStart = System.nanoTime()
    val (checks, info) =
      if (error.isEmpty) w.checks() else (Map("window_completed" -> false), Map.empty[String, String])
    val checksS = (System.nanoTime() - checksStart) / 1e9
    val perLayer: Map[String, Double] =
      if (!trace || error.isDefined) Map.empty
      else {
        val all = t.inclusive(0)
        w.perLayer() ++ Map("tasks_per_pass" -> all.tasks / passes.size.toDouble,
          "stages_per_pass" -> all.stages / passes.size.toDouble)
      }
    // host-load stamps: the probes take seconds, so only traced runs pay them
    val stamps = (if (trace) Calib.jsonFields(Calib.cpuOnce(spark),
      Calib.ioOnce(spark, new File(s"$work/calib").getPath)) + "," else "") +
      s""""heap_gb":${Runtime.getRuntime.maxMemory / 1e9},"cores":$cores"""
    def num(d: Double) = if (d.isNaN || d.isInfinite) "0" else d.toString
    def obj(m: Iterable[(String, String)]) =
      m.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = obj(Seq(
      "workload" -> str(a("workload")),
      "seed" -> seed.toString,
      "setup_s" -> num(setupS),
      "passes_s" -> passes.map(num).mkString("[", ", ", "]"),
      "passes_cpu_s" -> cpu.map(num).mkString("[", ", ", "]"),
      "window_s" -> num(windowS),
      "checks_s" -> num(checksS),
      "peak_task_mem_mb" -> num(t.peakTaskMemMb),
      "attempted" -> w.attempted.toString,
      "failed" -> w.failed.toString,
      "checks" -> obj(checks.toSeq.sorted.map { case (k, v) => k -> v.toString }),
      "info" -> obj(info.toSeq.sorted.map { case (k, v) => k -> str(v) }),
      "per_layer" -> obj(perLayer.toSeq.sorted.map { case (k, v) => k -> num(v) }),
      "stamps" -> s"{$stamps}",
      "spans" -> (if (trace) t.spansJson else "[]")))
    val pw = new PrintWriter(a("out"))
    try pw.write(json) finally pw.close()
    spark.stop()
    if (error.isDefined) sys.exit(1)
  }
}
