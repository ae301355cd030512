package graft

import org.apache.spark.sql.functions._

import graft.ml.{InMemoryTracker, ParquetTracker, TrainPipeline, Trainer}

/** The parquet tracker's on-disk layout, pinned: the paths a pipeline
  * run writes, and logs written by a `partitionBy("runId")` append into
  * the table root (how trials and confusion matrices were first
  * written) still read back per run. Also the repeated-logTrials
  * contract for the parquet and in-memory backends.
  */
class ParquetTrackerSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def children(path: String): Set[String] =
    Option(new java.io.File(path).listFiles).toSeq.flatten
      .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
      .map(_.getName).toSet

  test("second logTrials call appends on the parquet and in-memory backends") {
    TrackerScenarios.repeatedLogTrials(new ParquetTracker(spark, tmp("graft-pq-trials")))
    TrackerScenarios.repeatedLogTrials(new InMemoryTracker(spark))
  }

  test("a TrainPipeline run writes the pinned parquet layout") {
    val rnd = new scala.util.Random(7)
    val data = (1 to 200).map { i =>
      val label = i % 2
      (i.toLong, label.toDouble, Array.fill(4)(rnd.nextGaussian() + (if (label == 1) 1.5 else -1.5)))
    }.toDF("id", "label", "arr")
    val dir = tmp("graft-pq-layout")
    val tracker = s"$dir/tracker"
    val res = TrainPipeline.run(spark, data,
      TrainPipeline.Config(labelCol = "label", pkCol = "id", featureArrayCol = "arr",
        trialsPerModel = 1, deploymentThreshold = 0.6, trackerDir = Some(tracker)),
      modelDir = Some(s"$dir/model"))
    assert(res.champion.isDefined)
    val champion = s"champion_${res.runTag}"
    val searchRuns = Seq("LogReg", "GBT").zipWithIndex.map { case (m, i) => s"run_${res.runTag}_${m}_$i" }
    assert(children(tracker) == Set("runs", "trials", "confusion_matrix", "curves", "stages"))
    assert(children(s"$tracker/runs").exists(_.endsWith(".parquet")))
    assert(children(s"$tracker/stages").exists(_.endsWith(".parquet")))
    assert(children(s"$tracker/trials") == searchRuns.map(id => s"runId=$id").toSet)
    searchRuns.foreach(id =>
      assert(children(s"$tracker/trials/runId=$id").exists(_.endsWith(".parquet")), id))
    assert(children(s"$tracker/confusion_matrix") == Set(s"runId=$champion"))
    assert(children(s"$tracker/confusion_matrix/runId=$champion").exists(_.endsWith(".parquet")))
    assert(children(s"$tracker/curves") == Set(champion))
    val curves = Set("roc", "pr", "calibration", "lift")
    assert(children(s"$tracker/curves/$champion") == curves)
    curves.foreach(c => assert(children(s"$tracker/curves/$champion/$c") == Set("data", "meta"), c))
    assert(new ParquetTracker(spark, tracker).curveNames(champion).toSet == curves)
  }

  test("trials and confusion matrices appended with partitionBy(runId) read back per run") {
    val dir = tmp("graft-pq-legacy")
    // the second id needs path escaping: ':' '/' and '=' are escaped in partition paths
    val ids = Seq("plain_run", "run:a/b=c")
    ids.zipWithIndex.foreach { case (id, k) =>
      Seq((id, 0, Map("d" -> (k + 1.0)), 0.7 + k), (id, 1, Map("d" -> (k + 2.0)), 0.8 + k))
        .toDF("runId", "trial", "params", "metric")
        .write.mode("append").partitionBy("runId").parquet(s"$dir/trials")
      Seq((0, 0, 10L + k), (1, 1, 20L + k)).toDF("label", "pred", "n")
        .withColumn("runId", lit(id))
        .write.mode("append").partitionBy("runId").parquet(s"$dir/confusion_matrix")
    }
    val t = new ParquetTracker(spark, dir)
    ids.zipWithIndex.foreach { case (id, k) =>
      val trials = t.trialsOf(id).collect()
      assert(trials.map(_.getAs[Int]("trial")).toSeq == Seq(0, 1), id)
      assert(trials.map(_.getAs[Double]("metric")).toSeq == Seq(0.7 + k, 0.8 + k), id)
      assert(trials.map(_.getAs[Map[String, Double]]("params")).toSeq ==
        Seq(Map("d" -> (k + 1.0)), Map("d" -> (k + 2.0))), id)
      assert(t.confusionMatrix(id).orderBy($"label").collect().map(r =>
        (r.getAs[Int]("label"), r.getAs[Int]("pred"), r.getAs[Long]("n"))).toSeq ==
        Seq((0, 0, 10L + k), (1, 1, 20L + k)), id)
    }
    // a new call continues a parent-written run's indices, in the same partition
    t.logTrials("run:a/b=c", Seq(Trainer.Trial(Map("d" -> 9.0), 0.9)))
    assert(t.trialsOf("run:a/b=c").collect().map(_.getAs[Int]("trial")).toSeq == Seq(0, 1, 2))
    // and the tracker's own writes land where a partitioned read of the table finds them
    val fresh = "fresh:x/y"
    t.logTrials(fresh, Seq(Trainer.Trial(Map("d" -> 1.0), 0.5)))
    t.logConfusionMatrix(fresh, Seq((1, 0, 3L)).toDF("label", "pred", "n"))
    assert(spark.read.parquet(s"$dir/trials").filter($"runId" === fresh)
      .select("trial", "metric").as[(Int, Double)].collect().toSeq == Seq((0, 0.5)))
    assert(spark.read.parquet(s"$dir/confusion_matrix").filter($"runId" === fresh)
      .select("label", "pred", "n").as[(Int, Int, Long)].collect().toSeq == Seq((1, 0, 3L)))
    assert(spark.read.parquet(s"$dir/trials").select("runId").distinct().as[String]
      .collect().toSet == (ids :+ fresh).toSet)
  }
}
