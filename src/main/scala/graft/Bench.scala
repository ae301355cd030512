package graft
import org.apache.spark.sql.SparkSession

import java.util.concurrent.atomic.AtomicLong

/** Benchmark main: every SparkEntry query at SPARK_GRAFT_SF_DIR.
  *
  * Methodology: each query runs TWICE and the reported time is the
  * minimum — the first run absorbs JIT, codegen compilation, and FS
  * cache misses that otherwise land on whichever queries happen to run
  * first (round-2 driver captures showed 10-25x cold-start inflation on
  * the first ~12 queries). Failures are reported as failures, never as
  * a (fast-looking) elapsed time.
  *
  * Materialization is a NOOP WRITE, not count(): under count() the
  * optimizer prunes every non-aggregate projected expression, so a
  * query whose cost lives in its select list (percentiles,
  * fingerprints, simhash) would time only its scan. The noop sink
  * computes every output column and discards the rows — the same thing
  * Verify's parquet write computes, minus the I/O.
  */
object Bench {

  /** Per-run task-metrics delta: bytes read through the FS API (scan
    * WIDTH — counts page-cache hits too, which is the right measure for
    * "is this slope bytes-proportional"), disk spill, memory spill.
    */
  final case class Io(bytesRead: Long, spillDisk: Long, spillMem: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default to every core (the target is local[32]); a 4-thread default
    // silently quarters throughput when the env var is unset
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = GraftSession.builder("graft-bench", shufflePartitions = cpus.toInt)
      .master(s"local[$cpus]")
      // Hadoop vectored IO bypasses local-FS statistics (probed r16:
      // a 600k-row column scan reported 17.8 KB read), so the IO line
      // would carry footer bytes only. Off by default IN THE BENCH
      // HARNESS ONLY so bytesRead is truthful; on S3A/HDFS clusters the
      // metric works either way. A/B at sf1: suite delta within run
      // noise (see SCALING.md r16).
      .config("spark.hadoop.parquet.hadoop.vectored.io.enabled",
        sys.env.getOrElse("SPARK_GRAFT_VECTORED_IO", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.entry(spark).count() // warm up the session (JIT, codegen, FS)

    // Per-query IO accounting (r16): bytesRead + spill ride the capture
    // so a decade sweep's slope attribution (cold-scan vs plan defect)
    // is in the JSON itself, not a follow-up probe. Counters are global
    // + monotone; each run reads a delta after draining the listener bus.
    val ioBytesRead = new AtomicLong
    val ioSpillDisk = new AtomicLong
    val ioSpillMem = new AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          ioBytesRead.addAndGet(m.inputMetrics.bytesRead)
          ioSpillDisk.addAndGet(m.diskBytesSpilled)
          ioSpillMem.addAndGet(m.memoryBytesSpilled)
          ()
        }
      }
    })
    def drain(): Unit =
      org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)

    // CALIBRATION (r17, VERDICT r16 #6): fixed-cost, data-independent
    // probes timed right after warmup and again after the suite; each
    // ratio vs its committed unloaded reference stamps the capture with
    // its own host-load factor. Three rounds of driver BENCH captures
    // (r14-r16) needed hand-reruns to attribute uniform 1.6-4.7x
    // inflation to sandbox contention.
    // CPU probe: 2e9 codegen'd xxhash64 ops over 64 tasks — no shuffle,
    // no FS. Shuffle-bearing designs probed 3-39 s on the SAME idle JVM
    // (AQE's 1024-way reduce makes tiny-task scheduling the measurand),
    // while this shape reads 0.7-1.7 s idle across sessions. Each
    // reading is a median-of-3 to shed single stalls.
    // idle in-Bench readings r17 (2026-08-16): 0.55-0.85 across three
    // sessions — idle captures read load_factor ~0.9-1.3; the r16-style
    // contended captures would read 3-10+.
    // Both probe shapes live in graft.tools.Calib (r18 — shared with
    // the dev probes so THEY self-annotate too: the as-of skew probe
    // read 92.2 s twice and 16.1 s thirty minutes later on one binary,
    // indistinguishable from a regression without the stamp).
    // IO probe rationale (r18, VERDICT r17 #5): the CPU probe read
    // ~1.0 inside the r17 skew capture while bit-identical doc-family
    // controls moved 0.5-2.3x — cold-read/page-cache and task-commit
    // effects it cannot see. Fixed ~250 MB parquet write+read.
    val calibRefSec = graft.tools.Calib.CpuRefSec
    val ioCalibRefSec = graft.tools.Calib.IoRefSec
    val ioScratch = java.nio.file.Files
      .createTempDirectory("graft-bench-iocalib").toString
    def calibRead(): Double = graft.tools.Calib.cpuRead(spark)
    def ioCalibRead(): Double = graft.tools.Calib.ioRead(spark, ioScratch)
    graft.tools.Calib.cpuOnce(spark) // untimed: absorbs probe JIT/codegen
    val calibStart = calibRead()
    graft.tools.Calib.ioOnce(spark, ioScratch) // untimed: writer/reader JIT
    val ioCalibStart = ioCalibRead()

    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Either[String, (Double, Io)] = {
      drain()
      val (b0, d0, m0) = (ioBytesRead.get, ioSpillDisk.get, ioSpillMem.get)
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        val dt = (System.nanoTime() - t0) / 1e9 // bus drain stays untimed
        drain()
        Right((dt, Io(ioBytesRead.get - b0, ioSpillDisk.get - d0, ioSpillMem.get - m0)))
      } catch { case e: Throwable =>
        // Class + first message line: 49 bare "ExtendedAnalysisException"
        // entries once hid a single shared root cause for a full round.
        val firstLine = Option(e.getMessage).getOrElse("").linesIterator
          .find(_.trim.nonEmpty).getOrElse("").take(160)
        Left(s"${e.getClass.getSimpleName}: $firstLine")
      }
    }

    // END-TO-END streaming entries (full StreamingQuery harnesses:
    // staging writes + sink construction + N microbatches) are reported
    // under a SEPARATE metric — mixing an 80 s harness into the
    // min-of-2 batch suite made round-over-round totals incomparable
    // (r12: 53% of the suite total was one drain query). They run ONCE
    // (no min-of-2: the harness dominates, not JIT).
    val streamE2E = Set("q_stream_dedup_drain", "q_stream_simhash_drain",
      "q_stream_tws_dedup", "q_stream_tws_stats")

    // dev-only name filter for fast slope iteration (SCALING.md);
    // the driver contract is an arg-less run over every query
    val only = args.toSet
    val firstPass = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => (only.isEmpty || only(n)) && !streamE2E(n) }
      .map { case (name, fn) =>
      name -> ((once(fn), once(fn)) match {
        // IO rides the run that won on time (bytes are identical across
        // runs of the same plan; spill of the kept timing is the honest
        // companion number)
        case (Right(a), Right(b)) => Right(if (a._1 <= b._1) a else b)
        case (Left(e), _)         => Left(e)
        case (_, Left(e))         => Left(e)
      })
    }
    // dev-only: the drains are capped to the same 5,000-doc / 3,000-
    // event universe at every SF (oracle-seat design), so a huge-SF
    // sweep learns nothing from them while paying their harness's
    // global row_number scan over the full table — skippable there
    val skipStream = sys.env.get("SPARK_GRAFT_SKIP_STREAM").contains("1")
    val streamResults = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => !skipStream && (only.isEmpty || only(n)) && streamE2E(n) }
      .map { case (name, fn) => name -> once(fn) }
    // Load-noise guard: shared-sandbox captures have twice shown a
    // single query 3-4x slower than a solo run purely from CPU
    // contention during its two timings. Any query whose min-of-2
    // exceeds 3x the suite median gets a third, later run (the
    // contention window has usually passed) and reports the min of all
    // three — the bench should read like a solo run without one.
    val medianOk = {
      val vs = firstPass.collect { case (_, Right((v, _))) => v }.sorted
      if (vs.isEmpty) 0.0 else vs(vs.size / 2)
    }
    val byName = SparkEntry.queries
    val results = firstPass.map {
      case (name, Right(v)) if medianOk > 0 && v._1 > 3 * medianOk =>
        name -> (once(byName(name)) match {
          case Right(r) => Right(if (v._1 <= r._1) v else r)
          case Left(_)  => Right(v) // keep the measured time; failures were already caught
        })
      case other => other
    }
    val calibEnd = calibRead()
    val ioCalibEnd = ioCalibRead()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ioScratch))
    val okIo = results.collect { case (k, Right(v)) => k -> v }
    val ok = okIo.map { case (k, (v, _)) => k -> v }
    val failed = results.collect { case (k, Left(e)) => k -> e } ++
      streamResults.collect { case (k, Left(e)) => k -> e }
    val streamOkIo = streamResults.collect { case (k, Right(v)) => k -> v }
    val streamOk = streamOkIo.map { case (k, (v, _)) => k -> v }
    def f3(v: Double) = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def jstr(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => " "; case c => c.toString
    } + "\""
    val qs = ok.map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")
    val fs = failed.map { case (k, e) => "\"" + k + "\":" + jstr(e) }.mkString("{", ",", "}")
    // Shared-root-cause view: one entry per distinct (class: message),
    // with the count of queries it took down.
    val fgroups = failed.groupBy(_._2).toSeq.sortBy(-_._2.size)
      .map { case (e, ks) => jstr(e) + ":" + ks.size }.mkString("{", ",", "}")
    val total = ok.map(_._2).sum
    val streamTotal = streamOk.map(_._2).sum
    val sqs = streamOk.map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")
    // The capture harness keeps only the LAST ~2KB of stdout, so the
    // full per-query line goes first (queries leading, totals trailing —
    // a front-truncated tail still shows the totals) and a short,
    // always-parseable summary line goes LAST. "total"/"queries" is the
    // min-of-2 BATCH surface (comparable round-over-round);
    // "stream_e2e_queries"/"stream_e2e_total" is the run-once
    // end-to-end streaming surface.
    // Per-query IO goes on its OWN line, FIRST: the driver tail window
    // truncates from the front, so putting it before the queries line
    // keeps the per-query-seconds surface in the driver capture intact;
    // full-stdout sweep captures (bench_r*_sf*.json) carry every line.
    // Contract hardening (r19, VERDICT r18 #1): the driver's PERF
    // comparison parsed NOTHING for two rounds because sbt's logger
    // prefixed every stdout line with "[info] " (fixed in build.sbt via
    // run/outputStrategy := StdoutOutput) and its capture truncates the
    // tail. Belt and braces: every JSON line is ALSO written to a
    // sibling file next to the working directory — bench_summary.json
    // (the final one-line summary), bench_queries.json (the full
    // per-query line), bench_output.jsonl (every line, in order) — so
    // the numbers survive any stdout mangling. Files are .gitignored.
    def emitFile(name: String, line: String): Unit =
      try java.nio.file.Files.write(java.nio.file.Paths.get(name),
        (line + "\n").getBytes("UTF-8"))
      catch { case _: Throwable => () } // emit must never fail the bench
    def emit(line: String, file: Option[String]): Unit = {
      println(line)
      file.foreach(emitFile(_, line))
      try java.nio.file.Files.write(java.nio.file.Paths.get("bench_output.jsonl"),
        (line + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      catch { case _: Throwable => () }
    }
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get("bench_output.jsonl"))
    def ioJson(io: Io) = s"""{"br":${io.bytesRead},"sd":${io.spillDisk},"sm":${io.spillMem}}"""
    val ioqs = (okIo ++ streamOkIo).map { case (k, (_, io)) => "\"" + k + "\":" + ioJson(io) }
      .mkString("{", ",", "}")
    val vio = sys.env.getOrElse("SPARK_GRAFT_VECTORED_IO", "false")
    emit(s"""{"metric":"io","unit":"bytes","sf":"$sfDir","vectored_io":$vio,"query_io":$ioqs}""", None)
    // Stream-drain phase breakdown (r18, VERDICT r17 #4): the e2e
    // seconds decompose into prep/stage/sink_build/drain(+b0..bN)/
    // readback recorded by the harnesses themselves, so a 4x spread
    // across sessions self-attributes (staging IO vs batch cost vs
    // harness overhead) without a follow-up probe session.
    val phaseJson = streamOk.map { case (k, _) =>
      val ps = graft.streaming.DrainPhases.get(k)
        .map { case (p, v) => "\"" + p + "\":" + f3(v) }.mkString("{", ",", "}")
      "\"" + k + "\":" + ps
    }.mkString("{", ",", "}")
    if (streamOk.nonEmpty)
      emit(s"""{"metric":"stream_phases","unit":"sec","sf":"$sfDir","phases":$phaseJson}""", None)
    // load factors: mean of the two probe readings over the committed
    // idle reference — 1.0x = solo-run conditions; the r16 driver
    // capture would have read ~2-4x on the CPU axis. load_factor stays
    // the CPU probe (round-over-round comparability); io_load_factor
    // is the FS-touching probe (r18) that sees the cold-read /
    // commit-path contention the CPU probe is blind to.
    val loadFactor = f3((calibStart + calibEnd) / 2 / calibRefSec)
    val ioLoadFactor = f3((ioCalibStart + ioCalibEnd) / 2 / ioCalibRefSec)
    // driver heap rides the capture (r18): a q_scd2/q_scd2_apply chunk
    // silently run at the 16g default read 2x the 32g reference seat
    // (memory spill 18->37 GB) and cost a session of regression-hunting
    // — the heap is part of the measurement conditions, so stamp it.
    val heapGb = f3(Runtime.getRuntime.maxMemory / 1e9)
    val calib = s""""calib_start_sec":${f3(calibStart)},"calib_end_sec":${f3(calibEnd)},"calib_ref_sec":$calibRefSec,"load_factor":$loadFactor,"io_calib_start_sec":${f3(ioCalibStart)},"io_calib_end_sec":${f3(ioCalibEnd)},"io_calib_ref_sec":$ioCalibRefSec,"io_load_factor":$ioLoadFactor,"heap_gb":$heapGb"""
    emit(
      s"""{"queries":$qs,"stream_e2e_queries":$sqs,"failures":$fs,"failure_groups":$fgroups,"n_failed":${failed.size},"sf":"$sfDir","metric":"total","value":${f3(total)},"stream_e2e_total":${f3(streamTotal)},"unit":"sec",$calib}""",
      Some("bench_queries.json"))
    val slow = ok.sortBy(-_._2).take(5)
      .map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")
    // IO totals + top offenders ride the LAST line so even the driver's
    // tail-truncated capture carries the decade-attribution evidence
    val allIo = okIo ++ streamOkIo
    val brTotal = allIo.map(_._2._2.bytesRead).sum
    val sdTotal = allIo.map(_._2._2.spillDisk).sum
    val smTotal = allIo.map(_._2._2.spillMem).sum
    val topBytes = allIo.sortBy(-_._2._2.bytesRead).take(5)
      .map { case (k, (_, io)) => "\"" + k + "\":" + io.bytesRead }.mkString("{", ",", "}")
    val topSpill = allIo.filter(_._2._2.spillDisk > 0).sortBy(-_._2._2.spillDisk).take(5)
      .map { case (k, (_, io)) => "\"" + k + "\":" + io.spillDisk }.mkString("{", ",", "}")
    emit(
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","sf":"$sfDir","n_queries":${ok.size},"n_failed":${failed.size},"stream_e2e_total":${f3(streamTotal)},"n_stream_e2e":${streamOk.size},"slowest":$slow,"bytes_read_total":$brTotal,"spill_disk_total":$sdTotal,"spill_mem_total":$smTotal,"top_bytes_read":$topBytes,"top_spill_disk":$topSpill,$calib}""",
      Some("bench_summary.json"))
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
