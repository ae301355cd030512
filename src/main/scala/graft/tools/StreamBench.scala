package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The streaming grid that `tools/streambench_capture.py` reads.
  *
  * Streaming throughput bench (STREAMING.md): drives the production
  * sinks with REAL StreamingQuery runs — file source, exactly one
  * parquet file per microbatch (`maxFilesPerTrigger=1`), checkpointed
  * foreachBatch — and reports per-batch wall-clock and sustained
  * docs/s across batch sizes × kept-index sizes. This measures the
  * claim the batch sweeps can't: per-microbatch cost of the dedup
  * sinks is O(batch + candidates), NOT O(kept corpus), and stays flat
  * as the survivor index grows batch over batch
  * ([[graft.streaming.Streams.minhashDedupBatch]]'s contract).
  *
  * Stream universe for the dedup sinks: the tail of the sf10
  * replicated documents corpus (ScaleReplicate content-bijects
  * replicas, so stream docs are decorrelated from the kept prefix —
  * no replication-artifact near-dups — while every replica keeps the
  * organic within-replica dup structure, so batches DO hit real
  * near-dups against earlier survivors of their own replica).
  *
  * Usage: runMain graft.tools.StreamBench [all|simhash|minhash|scoring|drift] [universeDir]
  * Emits one JSON line per configuration plus a closing summary line.
  */
object StreamBench {

  final case class BatchRow(batchId: Long, rows: Long, sec: Double)

  private def cleanDir(p: String): String = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(p))
    new java.io.File(p).mkdirs()
    p
  }

  /** Land `nBatches` files of exactly `batchRows` rows each under
    * `dir`, named b000.parquet… with ascending mod-times so the file
    * source triggers them in order.
    */
  private def writeBatchFiles(df: DataFrame, orderCol: String, batchRows: Int,
      nBatches: Int, dir: String): Unit = {
    cleanDir(dir)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col(orderCol))
    val ranked = df.withColumn("__rn", row_number().over(w).cast("long") - 1L)
      .filter(col("__rn") < batchRows.toLong * nBatches)
      .withColumn("__b", (col("__rn") / batchRows).cast("int"))
      .localCheckpoint()
    for (b <- 0 until nBatches) {
      val tmp = s"$dir/__tmp"
      ranked.filter(col("__b") === b).drop("__rn", "__b")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
        .getOrElse(sys.error(s"no part file in $tmp"))
      val dst = new java.io.File(dir, f"b$b%03d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      dst.setLastModified(1700000000000L + b * 60000L)
      ()
    }
    cleanDir(s"$dir/__tmp"); new java.io.File(s"$dir/__tmp").delete()
    ()
  }

  /** Run a sink over the pre-landed batch files and collect per-batch
    * (id, rows, seconds) from the progress stream. `start` receives the
    * readStream frame; the returned query is drained with
    * processAllAvailable (file source + foreachBatch — returns once all
    * files are consumed) and stopped.
    */
  private def timeSink(spark: SparkSession, batchDir: String,
      expectBatches: Int)(start: DataFrame => StreamingQuery): Seq[BatchRow] = {
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[(java.util.UUID, BatchRow)]()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) {
          buf.add((p.id, BatchRow(p.batchId, p.numInputRows,
            p.durationMs.getOrDefault("triggerExecution", 0L).toDouble / 1e3)))
        }
        ()
      }
    }
    spark.streams.addListener(listener)
    val sch = spark.read.parquet(s"$batchDir/b000.parquet").schema
    val stream = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", "1").parquet(batchDir)
    val q = start(stream)
    try {
      val deadline = System.nanoTime() + 1800L * 1000 * 1000 * 1000
      var drained = false
      while (!drained && System.nanoTime() < deadline) {
        q.processAllAvailable()
        import scala.jdk.CollectionConverters._
        drained = buf.asScala.count(_._1 == q.id) >= expectBatches
        if (!drained) Thread.sleep(200)
      }
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
    import scala.jdk.CollectionConverters._
    buf.asScala.toSeq.filter(_._1 == q.id).map(_._2).sortBy(_.batchId)
  }

  private def report(sink: String, kept: Long, batchRows: Int,
      rows: Seq[BatchRow]): String = {
    // "rows" is the progress event's raw numInputRows, which counts
    // SOURCE READS, not offsets: a foreachBatch body with k actions on
    // the batch frame re-reads the staged file k times, so it reports
    // k × the staged row count. Throughput therefore uses batchRows
    // (the true staged size), never numInputRows.
    // batch 0 carries codegen/scan warmup; sustained = mean of the rest
    val warm = if (rows.size > 1) rows.tail else rows
    val mean = warm.map(_.sec).sum / math.max(1, warm.size)
    val dps = if (mean > 0) batchRows / mean else 0.0
    val js = rows.map(r => f"""{"b":${r.batchId},"rows":${r.rows},"sec":${r.sec}%.2f}""")
      .mkString("[", ",", "]")
    val line = f"""{"sink":"$sink","kept":$kept,"batch_rows":$batchRows,""" +
      f""""mean_warm_sec":$mean%.2f,"rows_per_s":$dps%.0f,"batches":$js}"""
    println(s"STREAMBENCH $line")
    line
  }

  def main(args: Array[String]): Unit = {
    val which = args.headOption.getOrElse("all")
    val universe = args.drop(1).headOption.getOrElse("/root/repo/benchdata/sf10")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    val scratch = cleanDir(sys.env.getOrElse("SPARK_GRAFT_STREAM_SCRATCH",
      "/tmp/graft-streambench"))
    val spark = graft.GraftSession.builder("stream-bench", cpus)
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      // local single-JVM streaming: the FileContext manager's rename
      // path shells out (hadoop Shell) and can hang; checksum writer
      // can deadlock snapshot upload (see TransformWithStateSpec)
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.streaming.Streams

    val docs = graft.Tables.documents(spark, universe)
      .select(col("doc_id"), col("text"))
    val nDocs = docs.count()
    val out = scala.collection.mutable.ArrayBuffer[String]()

    // dedup sinks: kept = the first K docs by id; stream = the LAST
    // 24k docs (disjoint from both kept sizes, identical across cells).
    // Env knobs (r16): SPARK_GRAFT_STREAM_KEPT / _BATCHES override the
    // grids for targeted decade probes (the kept=4M column at the
    // sf100 universe) without re-running the full default grid.
    val keptSizes = sys.env.get("SPARK_GRAFT_STREAM_KEPT")
      .map(_.split(",").toSeq.map(_.trim.toLong))
      .getOrElse(Seq(50000L, 400000L))
      .filter(_ < nDocs - 24000)
    val batchSizes = sys.env.get("SPARK_GRAFT_STREAM_BATCHES")
      .map(_.split(",").toSeq.map(_.trim.toInt))
      .getOrElse(Seq(250, 1000, 4000))
    val nBatches = 6
    val streamDocs = {
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("doc_id").desc)
      docs.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= 24000).drop("__rn")
    }
    val batchDir = s"$scratch/batches"

    def keptDocs(k: Long): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))
      // repartition: the global rank window collapses to ONE partition,
      // and anything derived from it (the 400k-doc corpus signature
      // build) would otherwise run single-threaded
      docs.withColumn("__rn", row_number().over(w).cast("long"))
        .filter(col("__rn") <= k).drop("__rn").repartition(cpus)
    }
    // corpus placement knob (r16): default keeps the corpus
    // localCheckpoint-ed (RAM-resident — the small-kept regime).
    // SPARK_GRAFT_STREAM_CORPUS_PARQUET=1 lands it as ID-SORTED
    // parquet and reads it back — the 100 TB deployment shape, where
    // the kept corpus cannot live in executor memory and every
    // per-batch corpus-text scan pays real IO. Range-partitioned +
    // sorted by doc_id so min/max row-group and page stats are tight
    // (the layout a real kept-corpus table has, and the one the
    // candidate-id pushdown's isin pruning needs to bite).
    val corpusOf: Long => DataFrame =
      if (sys.env.get("SPARK_GRAFT_STREAM_CORPUS_PARQUET").contains("1")) { k =>
        val p = s"$scratch/corpus_$k"
        keptDocs(k).repartitionByRange(cpus.toInt, col("doc_id"))
          .sortWithinPartitions("doc_id")
          .write.mode("overwrite").parquet(p)
        spark.read.parquet(p)
      } else { k => keptDocs(k).localCheckpoint() }

    if (which == "all" || which == "simhash") {
      for (k <- keptSizes; bs <- batchSizes) {
        writeBatchFiles(streamDocs, "doc_id", bs, nBatches, batchDir)
        val od = cleanDir(s"$scratch/sh_out"); val ck = cleanDir(s"$scratch/sh_ckpt")
        val corpus = corpusOf(k)
        val rows = timeSink(spark, batchDir, nBatches)(st =>
          // bands=4 → 15-bit band keys: random band-collision rate
          // 2^-15 keeps a 400k index from flooding candidates (the
          // 4-bit bands the small-data specs use would collide 1/16
          // of the index per band)
          Streams.simhashDedupSink(st, corpus, "doc_id", "text",
            maxDist = 3, bands = 4, s"$od/out", ck))
        out += report("simhash_dedup", k, bs, rows)
      }
    }

    if (which == "all" || which == "minhash") {
      for (k <- keptSizes; bs <- batchSizes) {
        writeBatchFiles(streamDocs, "doc_id", bs, nBatches, batchDir)
        val od = cleanDir(s"$scratch/mh_out"); val ck = cleanDir(s"$scratch/mh_ckpt")
        val corpus = corpusOf(k)
        val rows = timeSink(spark, batchDir, nBatches)(st =>
          // n=7 char-grams (the 26^3 background floor of 3-grams —
          // SCALING.md — vanishes), and b=21×r=3: stream batches are
          // doc_id-ordered so batch×survivor pairs share a replica
          // alphabet with background J ≈ 0.074, where r=2 admits 16%
          // of pairs as candidates (measured: per-batch cost tripled
          // over 3 batches as survivors accumulated) but J³ geometry
          // admits ~0.9% at the same 63-perm budget; true pairs at
          // J ≥ 0.62 are missed with (1−0.62³)²¹ ≈ 0.3%
          Streams.minhashDedupSink(st, corpus, "doc_id", "text",
            n = 7, b = 21, r = 3, seed = 7L, threshold = 0.62,
            s"$od/out", ck))
        out += report("minhash_dedup", k, bs, rows)
      }
    }

    if (which == "all" || which == "scoring") {
      import spark.implicits._
      val rnd = new scala.util.Random(3)
      def blob(i: Int) = {
        val shift = if (i % 2 == 1) 1.2 else -1.2
        Seq.fill(3)(rnd.nextGaussian() + shift)
      }
      val train = (1 to 300).map(i => (i.toLong, i % 2, blob(i))).toDF("id", "y", "arr")
      val events = graft.Tables.events(spark, universe)
        .select(col("event_id").as("id"),
          array(col("value"), col("value") * 0.3 - lit(1.0),
            (col("user_id") % 10).cast("double")).as("arr"))
      // model-complexity dimension standing in for the kept-index axis
      val bundles = Seq(
        ("logreg", Seq((graft.ml.Trainer.LogReg,
          Seq(graft.ml.Trainer.ParamRange("regParam", 1e-3, 0.1, log = true))))),
        ("gbt", Seq((graft.ml.Trainer.GBT,
          Seq(graft.ml.Trainer.ParamRange("maxDepth", 2, 4))))))
      for ((label, models) <- bundles; bs <- Seq(20000, 80000, 320000)) {
        val mdlDir = cleanDir(s"$scratch/model_$label")
        val res = graft.ml.TrainPipeline.run(spark, train, graft.ml.TrainPipeline.Config(
          labelCol = "y", pkCol = "id", featureArrayCol = "arr",
          models = models, trialsPerModel = 1, deploymentThreshold = 0.0,
          calibrate = true), modelDir = Some(mdlDir))
        require(res.champion.nonEmpty, s"no champion for $label")
        val bundle = graft.ml.Deployment.load(spark, mdlDir)
        writeBatchFiles(events, "id", bs, 5, batchDir)
        val od = cleanDir(s"$scratch/sc_out"); val ck = cleanDir(s"$scratch/sc_ckpt")
        val rows = timeSink(spark, batchDir, 5)(st =>
          Streams.scoringSink(st, bundle, "arr", s"$od/out", ck))
        out += report(s"scoring_$label", 0L, bs, rows)
      }
    }

    if (which == "all" || which == "drift") {
      val feats = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val stream = graft.Tables.lineitem(spark, universe)
        .select(col("l_orderkey") +: feats.map(col): _*)
      // baseline-size axis: per-batch cost must not depend on it
      // (the baseline is fit ONCE at sink construction)
      val baseDirs = Seq(("sf0.1", "/root/testdata/sf0.1"), ("sf1", "/root/repo/benchdata/sf1"))
      for ((bl, bd) <- baseDirs; bs <- Seq(20000, 80000, 320000)) {
        val baseline = graft.Tables.lineitem(spark, bd).select(feats.map(col): _*)
        writeBatchFiles(stream, "l_orderkey", bs, 5, batchDir)
        val od = cleanDir(s"$scratch/dr_out"); val ck = cleanDir(s"$scratch/dr_ckpt")
        val rows = timeSink(spark, batchDir, 5)(st =>
          Streams.driftMonitorSink(st, baseline, feats, s"$od/out", ck))
        out += report(s"drift_$bl", spark.read.parquet(s"$bd/lineitem.parquet").count(), bs, rows)
      }
    }

    println("STREAMBENCH_ALL [" + out.mkString(",") + "]")
    spark.stop()
  }
}
