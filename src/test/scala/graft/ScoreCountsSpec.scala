package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ml.{Calibration, Evaluator}

/** [[Evaluator.scoreCounts]] against the public functions it stands in
  * for in the champion tail, on the same frames: the threshold sweep,
  * the tuned threshold, the confusion matrix at each grid cut, the
  * ROC/PR frame and the calibration frame. Counts and thresholds must
  * match exactly. `mean_predicted` is compared within 1e-12: the count
  * table sums each bin's scores per (cell, label) row and then adds
  * those sums, where `avg` adds the raw scores in partition order, so
  * the two can differ in the last bits.
  */
class ScoreCountsSpec extends SparkSpec {
  import spark.implicits._

  private val grid = (1 to 19).map(_ * 0.05)
  private val bins = 10
  private val meanTolerance = 1e-12

  private def frame(rows: Seq[(Double, Double)]): DataFrame =
    rows.toDF("label", "score").repartition(3)

  /** Every derived view of the count table equals its reference. */
  private def checkAgainstReference(df: DataFrame, beta: Double = 0.5): Unit = {
    val counts = Evaluator.scoreCounts(df, "label", "score", grid, bins)

    val sweep = Evaluator.thresholdSweep(df, "label", "score", grid, beta).collect()
      .map(r => (r.getAs[Double]("threshold"), r.getAs[Long]("tp"), r.getAs[Long]("fp"),
        r.getAs[Long]("fn"), r.getAs[Long]("tn"), Option(r.getAs[java.lang.Double]("fbeta"))
          .map(_.doubleValue))).sortBy(_._1).toSeq
    assert(counts.sweep(beta).map(p => (p.threshold, p.tp, p.fp, p.fn, p.tn, p.fbeta)) == sweep)

    val tuned = Calibration.tuneThreshold(df, "label", "score", beta, grid)._1
    assert(counts.bestThreshold(beta) == tuned)

    grid.foreach { t =>
      val reference = Evaluator.confusionMatrix(
        df.withColumn("pred", Evaluator.predictAt(col("score"), t)), "label", "pred")
      assertSameRows(counts.confusionMatrix(t), reference)
    }

    assertSameRows(counts.rocPr, Evaluator.rocPrCurve(df, "label", "score", grid))

    val reference = Evaluator.calibrationCurve(df, "label", "score", bins)
    val mine = counts.calibration
    assert(mine.schema.map(f => (f.name, f.dataType)) == reference.schema.map(f => (f.name, f.dataType)))
    def byBin(d: DataFrame) = d.collect().map(r => r.getAs[Int]("bin") -> r).toMap
    val (got, want) = (byBin(mine), byBin(reference))
    assert(got.keySet == want.keySet)
    want.foreach { case (bin, w) =>
      val g = got(bin)
      assert(g.getAs[Long]("n") == w.getAs[Long]("n"), s"bin $bin")
      assert(g.getAs[Double]("fraction_positive") == w.getAs[Double]("fraction_positive"), s"bin $bin")
      assert(math.abs(g.getAs[Double]("mean_predicted") - w.getAs[Double]("mean_predicted")) <=
        meanTolerance, s"bin $bin")
    }
  }

  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema.map(f => (f.name, f.dataType)) == want.schema.map(f => (f.name, f.dataType)))
    def rows(d: DataFrame) = d.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    assert(rows(got) == rows(want))
  }

  test("scores exactly on the grid thresholds, at 0.0 and at 1.0") {
    // on-grid scores sit on the cell boundary: `>=` puts them in the
    // upper cell; 1.0 clamps into the top calibration bin
    val onGrid = (grid ++ grid).zipWithIndex.map { case (s, i) => ((i % 2).toDouble, s) }
    checkAgainstReference(frame(onGrid ++ Seq((0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0))))
  }

  test("empty bins and tied scores") {
    // nothing in [0.3, 0.7); every score shared by several rows
    val rows = (0 until 60).map(i => (if (i % 3 == 0) 1.0 else 0.0,
      Seq(0.05, 0.2, 0.2, 0.75, 0.9, 0.9)(i % 6)))
    checkAgainstReference(frame(rows))
    checkAgainstReference(frame(rows), beta = 2.0)
  }

  test("random scores over many partitions") {
    val rnd = new scala.util.Random(3)
    val rows = (0 until 2000).map { _ =>
      val label = if (rnd.nextDouble() < 0.3) 1.0 else 0.0
      (label, math.min(1.0, math.max(0.0, rnd.nextGaussian() * 0.2 + 0.3 + 0.3 * label)))
    }
    checkAgainstReference(frame(rows))
  }

  test("single-class sets: fbeta has no value where nothing is predicted or positive") {
    val scores = Seq(0.0, 0.12, 0.12, 0.5, 0.81)
    checkAgainstReference(frame(scores.map(1.0 -> _)))
    // no positives: fbeta is 0 where a negative is predicted and 0 / 0
    // once nothing is. Under ANSI (the session default) the reference
    // sweep fails on that division; without ANSI it reads null, which the
    // count table gives as None, and the tie-break still picks the
    // smallest threshold of the best value
    val negatives = frame(scores.map(0.0 -> _))
    withSQLConf("spark.sql.ansi.enabled" -> "false")(checkAgainstReference(negatives))
    val sweep = Evaluator.scoreCounts(negatives, "label", "score", grid, bins).sweep(0.5)
    assert(sweep.filter(_.threshold > 0.81).forall(_.fbeta.isEmpty))
    assert(sweep.filter(_.threshold <= 0.81).forall(_.fbeta.contains(0.0)))
  }

  test("integer labels keep their type in the confusion matrix") {
    val df = Seq((1, grid(5)), (0, grid(5)), (1, 0.9), (0, 0.05)).toDF("label", "score")
    val cm = Evaluator.scoreCounts(df, "label", "score", grid, bins).confusionMatrix(grid(5))
    assert(cm.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet ==
      Set((1, 1, 2L), (0, 1, 1L), (0, 0, 1L)))
  }

  test("an empty frame gives empty views and no threshold, as the references do") {
    val empty = frame(Nil)
    val counts = Evaluator.scoreCounts(empty, "label", "score", grid, bins)
    assert(counts.sweep(0.5).isEmpty && counts.rocPr.isEmpty && counts.calibration.isEmpty)
    intercept[NoSuchElementException](Calibration.tuneThreshold(empty, "label", "score", 0.5, grid))
    intercept[NoSuchElementException](counts.bestThreshold(0.5))
  }

  test("the views run no Spark job of their own") {
    val counts = Evaluator.scoreCounts(frame(Seq((1.0, 0.4), (0.0, 0.6))), "label", "score",
      grid, bins)
    val group = s"score-counts-${java.util.UUID.randomUUID()}"
    spark.sparkContext.setJobGroup(group, "derived views")
    try {
      counts.bestThreshold(0.5)
      counts.confusionMatrix(grid(7))
      counts.rocPr
      counts.calibration
    } finally spark.sparkContext.clearJobGroup()
    assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group).isEmpty)
  }
}
