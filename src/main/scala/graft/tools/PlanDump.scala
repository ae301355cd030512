package graft.tools

import graft.{GraftSession, SparkEntry}

/** Diagnostic: run named SparkEntry queries (all of them with no args)
  * and print each one's final executed physical plan, after AQE has
  * re-planned it from the runtime stage statistics. Rows are discarded.
  * Usage: `SPARK_GRAFT_SF_DIR=<sf dir> sbt "runMain graft.tools.PlanDump
  * q_scd2 q_roc_auc"`; SPARK_GRAFT_CPUS sets the local core count.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    val spark = GraftSession.builder("graft-plandump", shufflePartitions = cpus)
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val t0 = System.nanoTime()
      // execute this frame's own plan, so the printed plan is final
      df.queryExecution.executedPlan.execute().foreach(_ => ())
      println(f"===== $name  ${(System.nanoTime() - t0) / 1e9}%.2f s  cores=$cpus")
      println(df.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
