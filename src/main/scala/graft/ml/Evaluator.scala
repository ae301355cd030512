package graft.ml

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed, DataFrame-native binary-classification evaluation —
  * the Spark re-expression of the reference's evaluator stack
  * (reference: src/training/evaluation/evaluator.py:546-908
  * BinaryClassificationEvaluator, src/training/core/optimizer.py:168-263
  * calc_perf_metrics).
  *
  * All metrics are single-pass aggregations over the predictions
  * DataFrame except rank-based AUC, which needs a global rank (one
  * sort-shuffle). At 100 TB swap `aucExact` for a fixed-grid binned
  * approximation — the ECE/lift machinery here already shows the
  * binned shape.
  */
object Evaluator {

  /** Hard prediction from a probability/score column. */
  def predictAt(score: Column, threshold: Double): Column =
    (score >= threshold).cast("int")

  /** Confusion-matrix cells as a (label, pred, n) DataFrame. */
  def confusionMatrix(df: DataFrame, labelCol: String, predCol: String): DataFrame =
    df.groupBy(col(labelCol), col(predCol)).agg(count(lit(1)).as("n"))

  private def cmAggs(label: Column, pred: Column): Seq[Column] = Seq(
    sum(when(label === 1 && pred === 1, 1L).otherwise(0L)).as("tp"),
    sum(when(label === 0 && pred === 1, 1L).otherwise(0L)).as("fp"),
    sum(when(label === 1 && pred === 0, 1L).otherwise(0L)).as("fn"),
    sum(when(label === 0 && pred === 0, 1L).otherwise(0L)).as("tn"))

  /** F-beta from confusion cells: (1+b²)tp / ((1+b²)tp + b²fn + fp) —
    * single formula, no intermediate div-by-zero.
    */
  def fbeta(tp: Column, fp: Column, fn: Column, beta: Double): Column = {
    val b2 = beta * beta
    (lit(1 + b2) * tp) / (lit(1 + b2) * tp + lit(b2) * fn + fp)
  }

  /** Accuracy / precision / recall / F1 / F-beta at a threshold, plus
    * rank-based ROC-AUC (Mann-Whitney). Tied scores get MID-RANKS (the
    * average of their positional ranks), matching the standard
    * Mann-Whitney / sklearn `roc_auc_score` convention — a tiebreak
    * order alone would bias the statistic on duplicate scores.
    *
    * Scale shape: ONE per-score groupBy (map-side combined — tie groups
    * collapse to a single row each, so a degenerate scorer with few
    * distinct scores costs nothing), then a distributed prefix sum over
    * the per-score frame (GlobalRank.withPrefixSums). The mid-rank of a
    * tie group is computed arithmetically from the cumulative count —
    * no row-level global rank and no per-score row window, so no
    * partition ever receives a whole tie group of raw rows.
    *
    * Single-row result, materialized eagerly (so the prefix-sum cache
    * can be released before returning). `tieBreakCol` is retained for
    * API compatibility only — mid-rank AUC needs no tiebreak.
    */
  def binaryMetrics(df: DataFrame, labelCol: String, scoreCol: String,
      tieBreakCol: String, threshold: Double, beta: Double): DataFrame = {
    val label = col(labelCol)
    val perScore = df.groupBy(col(scoreCol).as("__s"))
      .agg(count(lit(1)).cast("double").as("__n"),
        sum(when(label === 1, 1L).otherwise(0L)).cast("double").as("__np"))
    val ps = graft.operators.GlobalRank.withPrefixSums(
      perScore, Seq(col("__s").asc), Seq("__cum_n" -> col("__n")))
    // positional ranks of the tie group at score s span
    // (cum_n - n + 1) .. cum_n → mid-rank = cum_n - (n - 1) / 2
    val mid = col("__cum_n") - (col("__n") - 1) / 2
    val isPos = col("__s") >= threshold
    val res = ps.df.agg(
        sum(when(isPos, col("__np")).otherwise(0.0)).as("tp"),
        sum(when(isPos, col("__n") - col("__np")).otherwise(0.0)).as("fp"),
        sum(when(!isPos, col("__np")).otherwise(0.0)).as("fn"),
        sum(when(!isPos, col("__n") - col("__np")).otherwise(0.0)).as("tn"),
        sum(col("__np") * mid).as("sum_rank_pos"),
        sum(col("__np")).as("npos"),
        sum(col("__n") - col("__np")).as("nneg"))
      .select(
        (col("tp") + col("tn")) / (col("tp") + col("tn") + col("fp") + col("fn")) as "accuracy",
        col("tp") / (col("tp") + col("fp")) as "precision",
        col("tp") / (col("tp") + col("fn")) as "recall",
        fbeta(col("tp"), col("fp"), col("fn"), 1.0).as("f1"),
        fbeta(col("tp"), col("fp"), col("fn"), beta).as("fbeta"),
        ((col("sum_rank_pos") - col("npos") * (col("npos") + 1) / 2) /
          (col("npos") * col("nneg"))).as("roc_auc"))
    val rows = res.collect()
    ps.release()
    df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
  }

  /** Expected calibration error with `bins` equal-width probability bins
    * (reference: evaluator.py:818-875 calc_expected_calibration_error).
    * ECE = Σ_b (n_b/N)·|conf_b − acc_b|. One aggregation pass.
    */
  def ece(df: DataFrame, labelCol: String, scoreCol: String, bins: Int): DataFrame = {
    val bin = least(floor(col(scoreCol) * bins), lit(bins - 1)).cast("int")
    df.groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"), avg(col(scoreCol)).as("conf"), avg(col(labelCol)).as("acc"))
      .agg((sum(col("n") * abs(col("conf") - col("acc"))) / sum(col("n"))).as("ece"),
        sum(col("n")).as("n"))
  }

  /** Decile lift and cumulative gains (reference: evaluator.py:776-816
    * cumulative gains / lift curves) over a deterministic total order
    * (score desc, tiebreak asc).
    *
    * The tile is computed from a DISTRIBUTED global rank (GlobalRank —
    * range partition + offsets), not `ntile().over(Window.orderBy(...))`
    * whose no-partition window is a single-machine bottleneck. Tile
    * boundaries replicate SQL ntile exactly: the first N mod k tiles
    * get ceil(N/k) rows, the rest floor(N/k). Result (k rows) is
    * materialized eagerly so the rank cache can be released.
    */
  def liftGains(df: DataFrame, labelCol: String, scoreCol: String,
      tieBreakCol: String, nTiles: Int): DataFrame = {
    val ranked = graft.operators.GlobalRank.withGlobalRowNumber(
      df, Seq(col(scoreCol).desc, col(tieBreakCol).asc), "__r")
    val n = ranked.total
    val base = n / nTiles          // floor(N/k)
    val rem = n % nTiles           // first `rem` tiles get base+1 rows
    val cut = rem * (base + 1)
    // integer ceil-div keeps ranks exact past 2^53 (doubles would not)
    val dFirst = expr(s"CAST((__r + $base) DIV ${base + 1} AS INT)")
    val decile =
      if (base == 0) dFirst        // N < k: one row per tile
      else when(col("__r") <= cut, dFirst)
        .otherwise(expr(s"CAST($rem + (__r - $cut + ${base - 1}) DIV $base AS INT)"))
    val perTile = ranked.df.withColumn("decile", decile)
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"), sum(col(labelCol)).cast("long").as("n_pos"))
    val wAll = Window.partitionBy()
    // k-row windows over the per-tile aggregate — trivially bounded
    val wCum = Window.orderBy(col("decile")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val res = perTile
      .withColumn("cum_gain", sum(col("n_pos")).over(wCum).cast("double") / sum(col("n_pos")).over(wAll))
      .withColumn("lift",
        (col("n_pos").cast("double") / col("n")) /
          (sum(col("n_pos")).over(wAll).cast("double") / sum(col("n")).over(wAll)))
      .select(col("decile"), col("n"), col("n_pos"), col("cum_gain"), col("lift"))
    val rows = res.collect()
    ranked.release()
    df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
  }

  /** F-beta sweep over a threshold grid — the basis for decision-
    * threshold tuning (reference: evaluation/champion.py:144-173
    * tune_decision_threshold). One pass: thresholds explode against the
    * aggregated-per-row predicate, grouped by threshold.
    */
  def thresholdSweep(df: DataFrame, labelCol: String, scoreCol: String,
      thresholds: Seq[Double], beta: Double): DataFrame = {
    val tArr = array(thresholds.map(lit): _*)
    val label = col(labelCol)
    df.select(label.as("label"), col(scoreCol).as("score"), explode(tArr).as("threshold"))
      .groupBy(col("threshold"))
      .agg(cmAggs(col("label"), (col("score") >= col("threshold")).cast("int")).head,
        cmAggs(col("label"), (col("score") >= col("threshold")).cast("int")).tail: _*)
      .select(col("threshold"), col("tp"), col("fp"), col("fn"), col("tn"),
        fbeta(col("tp"), col("fp"), col("fn"), beta).as("fbeta"))
  }

  /** ROC curve points (FPR, TPR) + precision/recall at a threshold grid
    * (reference: evaluator.py:736-775 _log_roc_curve /
    * _log_precision_recall_curve). One pass via the same
    * threshold-explode shape as [[thresholdSweep]].
    */
  def rocPrCurve(df: DataFrame, labelCol: String, scoreCol: String,
      thresholds: Seq[Double]): DataFrame = {
    val sweep = thresholdSweep(df, labelCol, scoreCol, thresholds, 1.0)
    def safeDiv(num: Column, den: Column): Column =
      when(den === 0, lit(null)).otherwise(num.cast("double") / den)
    sweep.select(col("threshold"),
      safeDiv(col("fp"), col("fp") + col("tn")).as("fpr"),
      safeDiv(col("tp"), col("tp") + col("fn")).as("tpr"),
      safeDiv(col("tp"), col("tp") + col("fp")).as("precision"),
      safeDiv(col("tp"), col("tp") + col("fn")).as("recall"))
  }

  /** Calibration curve: per probability bin, mean predicted probability
    * vs empirical positive rate (reference: evaluator.py:716-735
    * _log_calibration_curve).
    */
  def calibrationCurve(df: DataFrame, labelCol: String, scoreCol: String, bins: Int): DataFrame =
    df.groupBy(probBin(col(scoreCol), bins).as("bin"))
      .agg(count(lit(1)).as("n"),
        avg(col(scoreCol)).as("mean_predicted"),
        avg(col(labelCol).cast("double")).as("fraction_positive"))

  /** Equal-width probability bin on [0,1]; 1.0 clamps into the top bin. */
  private def probBin(score: Column, bins: Int): Column =
    least(floor(score * bins), lit(bins - 1)).cast("int")

  /** A scored frame reduced to one small table, for the champion tail:
    * `(threshold-grid cell, calibration bin, label) → (n, Σ score)`, built
    * by ONE aggregation and ONE collect. A score's cell is the number of
    * grid thresholds it reaches (`score >= t`), so its prediction at the
    * grid's j-th smallest threshold is `cell > j`; its bin is
    * [[calibrationCurve]]'s. The table has at most (|grid| + 1) × bins ×
    * labels rows at any data size. [[ScoreCounts]] derives the F-beta
    * sweep, the tuned threshold, the confusion matrix at a grid cut, the
    * ROC/PR points and the calibration bins from it on the driver.
    */
  def scoreCounts(df: DataFrame, labelCol: String, scoreCol: String,
      thresholds: Seq[Double], bins: Int): ScoreCounts = {
    val grid = thresholds.distinct.sorted(Ordering.Double.TotalOrdering).toIndexedSeq
    val score = col(scoreCol)
    val cell = grid.map(t => (score >= t).cast("int")).reduce(_ + _)
    val rows = df.groupBy(cell.as("cell"), probBin(score, bins).as("bin"), col(labelCol).as("label"))
      .agg(count(lit(1)).as("n"), sum(score).as("score_sum"))
      .collect().toSeq
      .map(r => ScoreCounts.Entry(Option(r.getAs[Integer](0)).map(_.intValue), r.getInt(1),
        r.get(2), r.getLong(3), Option(r.getAs[java.lang.Double](4)).fold(0.0)(_.doubleValue)))
      // a fixed order, so the driver-side sums do not depend on the collect's
      .sortBy(e => (e.cell.getOrElse(-1), e.bin, String.valueOf(e.label)))
    ScoreCounts(df.sparkSession, labelCol, df.schema(labelCol).dataType, grid, rows)
  }

  /** The driver-side table of [[scoreCounts]]. Counts and thresholds
    * equal those of [[thresholdSweep]], [[Calibration.tuneThreshold]],
    * [[confusionMatrix]] (at a grid threshold), [[rocPrCurve]] and
    * [[calibrationCurve]] on the same frame. `mean_predicted` adds the
    * per-row score sums in another order than `avg`, so it can differ
    * from [[calibrationCurve]]'s in the last bits.
    */
  final case class ScoreCounts(spark: SparkSession, labelCol: String, labelType: DataType,
      grid: IndexedSeq[Double], rows: Seq[ScoreCounts.Entry]) {
    import ScoreCounts._

    /** One point per grid threshold, ascending. `fbeta` is None where
      * its denominator is 0, the rows on which [[thresholdSweep]] reads
      * null without ANSI and fails with it. Empty for an empty frame, as
      * the sweep is. */
    def sweep(beta: Double): Seq[SweepPoint] =
      if (rows.isEmpty) Seq.empty
      else grid.indices.map { j =>
        def n(pred: Boolean, label: Double) = rows.filter(r =>
          r.cell.exists(c => (c > j) == pred) && r.labelValue.contains(label)).map(_.n).sum
        val (tp, fp, fn) = (n(true, 1), n(true, 0), n(false, 1))
        val b2 = beta * beta
        val num = (1 + b2) * tp
        val den = num + b2 * fn + fp
        SweepPoint(grid(j), tp, fp, fn, n(false, 0), if (den == 0) None else Some(num / den))
      }

    /** [[Calibration.tuneThreshold]]'s pick: fbeta descending (NaN
      * largest, no value last), then the smaller threshold. */
    def bestThreshold(beta: Double): Double = {
      val rank = Ordering.by[SweepPoint, (Int, Double, Double)](p => p.fbeta match {
        case Some(f) if f.isNaN => (0, 0.0, p.threshold)
        case Some(f) => (1, -f, p.threshold)
        case None => (2, 0.0, p.threshold)
      })(Ordering.Tuple3(Ordering.Int, Ordering.Double.TotalOrdering, Ordering.Double.TotalOrdering))
      sweep(beta).minOption(rank)
        .getOrElse(throw new NoSuchElementException("threshold sweep over an empty frame"))
        .threshold
    }

    /** [[confusionMatrix]] of the prediction `score >= threshold`, as a
      * (label, pred, n) frame; `threshold` must be on the grid. */
    def confusionMatrix(threshold: Double): DataFrame = {
      val j = grid.indexOf(threshold)
      require(j >= 0, s"threshold $threshold is not on the grid ${grid.mkString(",")}")
      val cells = rows.groupMapReduce(r => (r.label, r.cell.map(c => if (c > j) 1 else 0)))(_.n)(_ + _)
      local(StructType(Seq(StructField(labelCol, labelType), StructField("pred", IntegerType),
          StructField("n", LongType, nullable = false))),
        cells.toSeq.sortBy { case ((l, p), _) => (Option(l).map(_.toString), p) }
          .map { case ((l, p), n) => Row(l, p.map(Int.box).orNull, n) })
    }

    /** [[rocPrCurve]]'s frame, one row per grid threshold. */
    def rocPr: DataFrame = {
      def ratio(num: Long, den: Long): Any = if (den == 0) null else num.toDouble / den
      local(StructType(StructField("threshold", DoubleType, nullable = false) +:
          Seq("fpr", "tpr", "precision", "recall").map(StructField(_, DoubleType))),
        sweep(1.0).map(p => Row(p.threshold, ratio(p.fp, p.fp + p.tn), ratio(p.tp, p.tp + p.fn),
          ratio(p.tp, p.tp + p.fp), ratio(p.tp, p.tp + p.fn))))
    }

    /** [[calibrationCurve]]'s frame, one row per non-empty bin. */
    def calibration: DataFrame = {
      def mean(sum: Double, n: Long): Any = if (n == 0) null else sum / n
      local(StructType(Seq(StructField("bin", IntegerType), StructField("n", LongType, nullable = false),
          StructField("mean_predicted", DoubleType), StructField("fraction_positive", DoubleType))),
        rows.groupBy(_.bin).toSeq.sortBy(_._1).map { case (bin, rs) =>
          val scored = rs.filter(_.cell.isDefined)
          val labelled = rs.flatMap(r => r.labelValue.map(_ -> r.n))
          Row(bin, rs.map(_.n).sum, mean(scored.map(_.scoreSum).sum, scored.map(_.n).sum),
            mean(labelled.map { case (l, n) => l * n }.sum, labelled.map(_._2).sum))
        })
    }

    private def local(schema: StructType, rows: Seq[Row]): DataFrame =
      spark.createDataFrame(rows.asJava, schema)
  }

  object ScoreCounts {
    /** One table row; `cell` is None for a null score, `label` is the
      * label column's value. */
    final case class Entry(cell: Option[Int], bin: Int, label: Any, n: Long, scoreSum: Double) {
      def labelValue: Option[Double] = label match {
        case v: Number => Some(v.doubleValue)
        case _ => None
      }
    }
    final case class SweepPoint(threshold: Double, tp: Long, fp: Long, fn: Long, tn: Long,
        fbeta: Option[Double])
  }

  /** Multiclass per-class metrics + shared accuracy (reference:
    * trainer.py:186-282 evaluates "both binary and multi-class").
    * Two small aggregations joined on the class; per-class precision/
    * recall/F1 with sklearn's 0-for-empty convention.
    */
  def multiclassMetrics(df: DataFrame, labelCol: String, predCol: String): DataFrame = {
    val byTrue = df.groupBy(col(labelCol).as("clazz"))
      .agg(count(lit(1)).as("n_true"),
        sum(when(col(labelCol) === col(predCol), 1L).otherwise(0L)).as("tp"))
    val byPred = df.groupBy(col(predCol).as("clazz"))
      .agg(count(lit(1)).as("n_pred"))
    val joined = byTrue.join(byPred, Seq("clazz"), "full_outer")
      .select(col("clazz"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"))
    val prec = when(col("n_pred") === 0, 0.0).otherwise(col("tp").cast("double") / col("n_pred"))
    val rec = when(col("n_true") === 0, 0.0).otherwise(col("tp").cast("double") / col("n_true"))
    val wAll = Window.partitionBy()
    joined
      .withColumn("prec", prec)
      .withColumn("rec", rec)
      .withColumn("f1", when(col("prec") + col("rec") === 0, 0.0)
        .otherwise(lit(2.0) * col("prec") * col("rec") / (col("prec") + col("rec"))))
      .withColumn("accuracy", sum(col("tp")).over(wAll).cast("double") / sum(col("n_true")).over(wAll))
  }

  /** One-row multiclass summary: accuracy + macro/weighted precision,
    * recall, F1 (sklearn average='macro'/'weighted' semantics),
    * aggregated from the k-row [[multiclassMetrics]] frame — O(classes)
    * work after the two small per-class aggregations.
    *
    * Macro averages run over the UNION of classes seen in y_true or
    * y_pred (sklearn labels=None): a predicted-only class contributes
    * its zero precision/recall to the macro mean. Weighted averages
    * weight by true support, so those classes get weight 0 — matching
    * MLlib's weighted metrics (spec-asserted).
    */
  def multiclassSummary(df: DataFrame, labelCol: String, predCol: String): DataFrame = {
    val per = multiclassMetrics(df, labelCol, predCol)
    per.agg(
      max(col("accuracy")).as("accuracy"),
      avg(col("prec")).as("macro_precision"),
      avg(col("rec")).as("macro_recall"),
      avg(col("f1")).as("macro_f1"),
      (sum(col("prec") * col("n_true")) / sum(col("n_true"))).as("weighted_precision"),
      (sum(col("rec") * col("n_true")) / sum(col("n_true"))).as("weighted_recall"),
      (sum(col("f1") * col("n_true")) / sum(col("n_true"))).as("weighted_f1"))
  }

  /** Brier score: mean squared error of the probability against the
    * 0/1 label — single aggregation pass.
    */
  def brierScore(df: DataFrame, labelCol: String, scoreCol: String): DataFrame =
    df.agg(avg(pow(col(scoreCol) - col(labelCol).cast("double"), 2.0)).as("brier"),
      count(lit(1)).as("n"))

  /** Exact two-sample Kolmogorov–Smirnov statistic between the score
    * distributions of positives and negatives: max over distinct scores
    * of |CDF_pos − CDF_neg|.
    *
    * Scale shape: one groupBy on score (map-side combined), then a
    * DISTRIBUTED prefix sum over the per-score frame
    * (GlobalRank.withPrefixSums — no single-partition window). Result
    * is a single row, materialized eagerly.
    */
  def ksStatistic(df: DataFrame, labelCol: String, scoreCol: String): DataFrame = {
    val label = col(labelCol)
    val perScore = df.groupBy(col(scoreCol).as("score"))
      .agg(sum(when(label === 1, 1L).otherwise(0L)).as("np"),
        sum(when(label === 0, 1L).otherwise(0L)).as("nn"))
    val ps = graft.operators.GlobalRank.withPrefixSums(
      perScore, Seq(col("score").asc),
      Seq("cum_pos" -> col("np"), "cum_neg" -> col("nn")))
    val tot = ps.df.agg(max(col("cum_pos")).as("tp"), max(col("cum_neg")).as("tn")).head()
    val (tp, tn) = (tot.getAs[Double]("tp"), tot.getAs[Double]("tn"))
    val res = ps.df.agg(
      max(abs(col("cum_pos") / tp - col("cum_neg") / tn)).as("ks"),
      count(lit(1)).as("n_thresholds"))
    val rows = res.collect()
    ps.release()
    df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
  }

  /** Average precision (PR-AUC as sklearn `average_precision_score`
    * computes it): AP = Σ_k (R_k − R_{k−1})·P_k over distinct score
    * thresholds descending, where P/R include all rows tied at the
    * threshold. Same distributed-prefix-sum shape as [[ksStatistic]].
    */
  def averagePrecision(df: DataFrame, labelCol: String, scoreCol: String): DataFrame = {
    val label = col(labelCol)
    val perScore = df.groupBy(col(scoreCol).as("score"))
      .agg(sum(when(label === 1, 1L).otherwise(0L)).as("np"),
        count(lit(1)).cast("long").as("nr"))
    val ps = graft.operators.GlobalRank.withPrefixSums(
      perScore, Seq(col("score").desc),
      Seq("cum_pos" -> col("np"), "cum_n" -> col("nr")))
    val npos = ps.df.agg(max(col("cum_pos"))).head().getDouble(0)
    // Σ ΔR·P = Σ (np/Npos)·(cum_pos/cum_n)
    val res = ps.df.agg(
      (sum(col("np") * col("cum_pos") / col("cum_n")) / npos).as("pr_auc"))
    val rows = res.collect()
    ps.release()
    df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
  }

  /** Fixed-grid binned ROC-AUC approximation — the 100 TB swap-in for
    * the exact rank AUC (the binned shape this file's other metrics
    * already use): ONE groupBy on the score bin (fixed cardinality →
    * map-side combined, no sort, no prefix-sum pass), then the
    * trapezoidal integral over the ≤`bins`-point ROC polyline on the
    * driver. Approximation error is bounded by the within-bin score
    * mixing — with monotone-in-score binning it converges to the exact
    * Mann-Whitney value as bins grow (spec checks the gap).
    */
  def binnedAuc(df: DataFrame, labelCol: String, scoreCol: String, bins: Int): Double = {
    val label = col(labelCol)
    val bin = least(floor(col(scoreCol) * bins), lit(bins - 1)).cast("int")
    val rows = df.groupBy(bin.as("bin"))
      .agg(sum(when(label === 1, 1L).otherwise(0L)).as("np"),
        sum(when(label === 0, 1L).otherwise(0L)).as("nn"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(-_._1) // descending score: ROC sweeps thresholds high → low
    val totP = rows.map(_._2).sum.toDouble
    val totN = rows.map(_._3).sum.toDouble
    var tp = 0.0; var fp = 0.0; var auc = 0.0
    rows.foreach { case (_, np, nn) =>
      val (tpr0, fpr0) = (tp / totP, fp / totN)
      tp += np; fp += nn
      auc += (fp / totN - fpr0) * (tp / totP + tpr0) / 2
    }
    auc
  }

  /** Per-slice ROC-AUC (model-fairness / segment evaluation): the
    * Mann-Whitney mid-rank AUC of [[binaryMetrics]], computed
    * independently per value of `groupCol` in ONE plan. Shape: per
    * (group, score) aggregate (map-side combined), then a window per
    * group over the per-score rows — each window partition holds only
    * a group's DISTINCT scores, never its raw rows, so a billion-row
    * group with a quantized scorer still costs O(distinct scores).
    */
  def groupedAuc(df: DataFrame, groupCol: String, labelCol: String,
      scoreCol: String): DataFrame = {
    val label = col(labelCol)
    val perScore = df.groupBy(col(groupCol).as("grp"), col(scoreCol).as("__s"))
      .agg(count(lit(1)).cast("double").as("__n"),
        sum(when(label === 1, 1L).otherwise(0L)).cast("double").as("__np"))
    val wCum = Window.partitionBy(col("grp")).orderBy(col("__s").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mid = sum(col("__n")).over(wCum) - (col("__n") - 1) / 2
    perScore.withColumn("__mid", mid)
      .groupBy(col("grp"))
      .agg(sum(col("__np") * col("__mid")).as("srp"),
        sum(col("__np")).as("npos"),
        sum(col("__n") - col("__np")).as("nneg"))
      .select(col("grp").as(groupCol),
        (col("npos") + col("nneg")).cast("long").as("n"),
        ((col("srp") - col("npos") * (col("npos") + 1) / 2) /
          (col("npos") * col("nneg"))).as("roc_auc"))
  }

  /** Per-bin proportions (p, q) of two score cohorts over a fixed
    * `bins`-wide grid on [0,1] — the shared scaffolding of the drift
    * measures ([[psi]], [[jsDivergence]]): two aggregation passes, one
    * per side, left-joined onto the grid so empty bins stay visible.
    */
  private def binnedCohorts(baseline: DataFrame, current: DataFrame,
      scoreCol: String, bins: Int): DataFrame = {
    def binned(df: DataFrame, out: String): DataFrame =
      df.groupBy(least(floor(col(scoreCol) * bins), lit(bins - 1)).cast("int").as("bin"))
        .agg(count(lit(1)).as(out))
    val grid = baseline.sparkSession.range(0, bins).select(col("id").cast("int").as("bin"))
    val joined = grid
      .join(binned(baseline, "nb"), Seq("bin"), "left")
      .join(binned(current, "nc"), Seq("bin"), "left")
      .select(col("bin"), coalesce(col("nb"), lit(0L)).as("nb"), coalesce(col("nc"), lit(0L)).as("nc"))
    val tot = joined.agg(sum(col("nb")).as("tb"), sum(col("nc")).as("tc"))
    joined.crossJoin(tot)
      .select(col("bin"), (col("nb") / col("tb")).as("p"), (col("nc") / col("tc")).as("q"))
  }

  /** Population stability index between a baseline and a current score
    * distribution over `bins` equal-width bins on [0,1] — the standard
    * serving-drift monitor. PSI = Σ_b (p_b − q_b)·ln(p_b/q_b); bins
    * empty on either side get a floor of `eps` mass (the conventional
    * guard against ln 0).
    */
  def psi(baseline: DataFrame, current: DataFrame, scoreCol: String,
      bins: Int, eps: Double = 1e-4): DataFrame =
    binnedCohorts(baseline, current, scoreCol, bins)
      .select(col("bin"),
        greatest(col("p"), lit(eps)).as("p"),
        greatest(col("q"), lit(eps)).as("q"))
      .agg(sum((col("p") - col("q")) * log(col("p") / col("q"))).as("psi"),
        count(lit(1)).as("n_bins"))

  /** Drift audit for MANY features in ONE melted pass — the
    * monitoring sweep run per model refresh.
    *
    * Shape (r11, replacing a range-sort design measured at 51 s on the
    * sf10 decade): both sides melt to (feature, v) and collapse to a
    * per-(feature, VALUE) HISTOGRAM in one hash aggregation — the only
    * job that touches raw rows, and its shuffle is the distinct-value
    * cells, not the rows (map-side combine does the 240M→2M collapse
    * at sf10). Everything downstream runs on cells: the exact
    * linear-interpolation quantile edges come from a per-feature
    * cumulative-count window over the cells (the k-th smallest
    * baseline value is the first cell whose running nb covers k —
    * weighted order statistics, no row sort anywhere), the
    * per-(feature, bin) counts are a second tiny aggregation of the
    * same cached cells, and PSI applies [[psi]]'s eps floor. Edges are
    * rounded to 4 dp so both engines of the oracle twin bin
    * identically; null/NaN values are excluded from the edge fit (as
    * quantile_cont does) but counted in the last bin (as the CASE
    * fall-through does), matching the previous design exactly.
    *
    * SCALE BOUNDARY + per-feature routing: the cumulative window puts
    * one feature's CELLS on one reducer, so a feature whose value
    * space turns out near-unique (> `maxCellsPerFeature` distinct
    * values — measured in the same stats job, no extra pass) routes
    * its EDGE FIT to [[graft.operators.GlobalRank.exactQuantilesByGroup]]
    * over its freshly-melted baseline rows instead: the composite-key
    * sort arm, any cardinality, same linear-interpolation semantics.
    * Routing is perf-only — both fits are exact and the bin counting
    * always runs on cells (one scan regardless of collapse). Monitored
    * features are near-universally value-bounded (scores, rates,
    * discretized amounts), so the common case never sorts a row.
    */
  def psiByFeature(baseline: DataFrame, current: DataFrame,
      features: Seq[String], probs: Seq[Double] = Seq(0.25, 0.5, 0.75),
      eps: Double = 1e-4, maxCellsPerFeature: Long = 2000000L): DataFrame = {
    require(features.nonEmpty && probs.nonEmpty)
    val spark = baseline.sparkSession
    val edgeNames = probs.indices.map(i => s"e${i + 1}")
    val cells = meltFeatures(baseline, features).withColumn("r", lit(1L))
      .unionByName(meltFeatures(current, features).withColumn("r", lit(0L)))
      .groupBy(col("feature"), col("v"))
      .agg(sum(col("r")).as("nb"), sum(lit(1L) - col("r")).as("nc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val valid = col("v").isNotNull && !isnan(col("v"))
    // per-feature totals, quantile row count (valid baseline rows), and
    // cell count — one tiny job that also materializes the cells cache
    val stats = cells.groupBy(col("feature"))
      .agg(sum(col("nb")).as("tb"), sum(col("nc")).as("tc"),
        sum(when(valid, col("nb")).otherwise(0L)).as("nq"),
        count(lit(1)).as("ncells"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // per-feature arm choice: histogram for value-bounded features,
    // composite-key sort for the near-unique remainder
    val histFeats = stats.collect {
      case (f, (_, _, _, nCells)) if nCells <= maxCellsPerFeature => f
    }.toSet
    val sortFeats = features.filter(f => stats.contains(f) && !histFeats(f))
    val sortedEdges: Option[DataFrame] =
      if (sortFeats.isEmpty) None
      else Some(graft.operators.GlobalRank.exactQuantilesByGroup(
          meltFeatures(baseline, sortFeats), "feature", col("v"),
          edgeNames.zip(probs), maxGroups = math.max(64, sortFeats.size))
        .select(col("feature") +: edgeNames.map(e =>
          (round(col(e), 4) + lit(0.0)).as(e)): _*))
    def floorR(t: BigDecimal): Long = t.setScale(0, BigDecimal.RoundingMode.FLOOR).toLong
    def ceilR(t: BigDecimal): Long = t.setScale(0, BigDecimal.RoundingMode.CEILING).toLong
    // 1-based boundary ranks per (histogram feature, prob) — floor/ceil
    // of p·(nq−1), BigDecimal-exact from the already-collected stats —
    // shipped as ONE broadcast row per feature (kLo_i, kHi_i, frac_i).
    // The edge VALUES are then read out by conditional aggregation over
    // the rank-covering cells inside the same job as the bin counting:
    // the r11 shape collected them in a separate boundary-fetch action
    // (plus a driver-built edge frame plus a counts checkpoint), and at
    // sf0.01 that barrier chain ~was~ the query (4.7 s at 1.9 MB).
    val bndRows: java.util.List[org.apache.spark.sql.Row] = stats.toSeq
      .collect { case (f, (_, _, nq, _)) if nq > 0 && histFeats(f) =>
        val cs = probs.flatMap { p =>
          val t = BigDecimal(p) * BigDecimal(nq - 1)
          Seq[Any](floorR(t) + 1L, ceilR(t) + 1L, (t - floorR(t)).toDouble)
        }
        org.apache.spark.sql.Row.fromSeq(f +: cs)
      }.asJava
    val bndDf = spark.createDataFrame(bndRows, org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("feature", org.apache.spark.sql.types.StringType) +:
        probs.indices.flatMap(i => Seq(
          org.apache.spark.sql.types.StructField(s"__klo$i", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField(s"__khi$i", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField(s"__fr$i", org.apache.spark.sql.types.DoubleType)))))
    // The whole hist arm is ONE chain over ONE exchange: cells join the
    // broadcast rank frame, a running-sum window gives each VALID cell
    // its cumulative baseline rank range, unbounded-frame conditional
    // window maxes read out the rank-covering boundary VALUES (the cell
    // holding rank k is the first whose running nb covers it), the
    // interpolated+rounded edges bin every row in place, and a hash
    // aggregation (already partitioned by feature — no second exchange)
    // reduces straight to PSI. The r11 shape collected the boundary
    // values in a separate action, built a driver-side edge frame,
    // broadcast it back, and checkpointed the bin counts — at sf0.01
    // that barrier chain ~was~ the query (4.7 s at 1.9 MB).
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("feature")).orderBy(col("v"))
    val wCum = wOrd.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    val wAll = wOrd.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.unboundedFollowing)
    def covering(k: Column): Column =
      valid && col("__cum") >= k && col("__cum") - col("nb") < k
    val nBins = probs.size + 1
    val binAggs = (0 until nBins).flatMap(b => Seq(
      sum(when(col("bin") === b, col("nb")).otherwise(0L)).as(s"__nb$b"),
      sum(when(col("bin") === b, col("nc")).otherwise(0L)).as(s"__nc$b")))
    val tb = (0 until nBins).map(b => col(s"__nb$b")).reduce(_ + _)
    val tc = (0 until nBins).map(b => col(s"__nc$b")).reduce(_ + _)
    // static bin count (probs+1) → per-bin masses as conditional sums:
    // no (feature, bin) exchange, no per-feature total window, no
    // second groupBy. A bin empty on both sides contributes
    // (eps−eps)·ln(1) = 0, identical to the row-per-bin shape.
    val psiExpr = (0 until nBins).map { b =>
      val p = greatest(col(s"__nb$b").cast("double") / col("__tb"), lit(eps))
      val q = greatest(col(s"__nc$b").cast("double") / col("__tc"), lit(eps))
      (p - q) * log(p / q)
    }.reduce(_ + _)
    def toPsi(binned: DataFrame): DataFrame = binned
      .groupBy(col("feature"))
      .agg(binAggs.head, binAggs.tail: _*)
      .withColumn("__tb", tb).withColumn("__tc", tc)
      .select(col("feature"), psiExpr.as("psi"),
        col("__tb").as("n_ref"), col("__tc").as("n_cur"))
    // invalid cells (null/NaN v) ride the window partition with zero
    // cum contribution and a disabled covering predicate — excluded
    // from the edge fit, counted in the last bin by the CASE
    // fall-through, exactly as before
    val histBinned = cells
      .join(broadcast(bndDf), Seq("feature")) // inner: hist feats, nq>0
      .withColumn("__cum", sum(when(valid, col("nb")).otherwise(0L)).over(wCum))
      .select((col("feature") +: col("nb") +: col("nc") +: col("v") +:
        probs.indices.map { i =>
          val vLo = max(when(covering(col(s"__klo$i")), col("v"))).over(wAll)
          val vHi = max(when(covering(col(s"__khi$i")), col("v"))).over(wAll)
          (round(vLo + col(s"__fr$i") * (vHi - vLo), 4) + lit(0.0)).as(s"__e$i")
        }): _*)
      .withColumn("bin",
        probs.indices.foldRight(lit(probs.size): Column) { case (i, tail) =>
          when(col("v") <= col(s"__e$i"), i).otherwise(tail)
        })
    val histPsi = toPsi(histBinned)
    // near-unique features (rare): bin against the sort-arm edges via
    // the broadcast join shape; binByEdges' inner join restricts cells
    // to exactly the sort features
    val outFrame = sortedEdges.fold(histPsi)(se =>
      histPsi.unionByName(toPsi(binByEdges(cells, se, edgeNames))))
    val outRows = outFrame.collect()
    cells.unpersist()
    // LocalRelation, not checkpoint/parallelize: O(features) rows whose
    // frame should carry its real tiny size (the bytes-product join
    // estimator trap — see exactQuantilesByGroup)
    spark.createDataFrame(java.util.Arrays.asList(outRows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("feature",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("psi",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("n_ref",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_cur",
          org.apache.spark.sql.types.LongType))))
  }

  private def meltFeatures(df: DataFrame, features: Seq[String]): DataFrame =
    df.select(explode(array(features.map(f =>
      struct(lit(f).as("feature"), col(f).cast("double").as("v"))): _*)).as("m"))
      .select(col("m.feature").as("feature"), col("m.v").as("v"))

  // exact per-feature quantile edges over an already-MELTED frame,
  // rounded for engine-identical binning; |features| is the (static)
  // group cardinality, so the exact arm is called directly — no router
  // probe pass. Takes the melted frame (not the wide one) so callers
  // can share one melt between this fit and their bin-count pass.
  private def fitEdges(meltedBaseline: DataFrame, nFeatures: Int,
      namedProbs: Seq[(String, Double)]): DataFrame =
    graft.operators.GlobalRank.exactQuantilesByGroup(
        meltedBaseline, "feature", col("v"), namedProbs,
        maxGroups = math.max(64, nFeatures))
      .select(col("feature") +: namedProbs.map { case (e, _) =>
        (round(col(e), 4) + lit(0.0)).as(e) }: _*)

  private def binByEdges(melted: DataFrame, edges: DataFrame,
      edgeNames: Seq[String]): DataFrame =
    melted.join(broadcast(edges), Seq("feature"))
      .withColumn("bin", edgeNames.zipWithIndex.foldRight(lit(edgeNames.size): Column) {
        case ((e, i), tail) => when(col("v") <= col(e), i).otherwise(tail)
      })

  /** [[psiByFeature]]'s baseline side fit ONCE and collected: rounded
    * quantile edges plus per-(feature, bin) reference proportions —
    * O(features × bins) values. For repeated scoring (per microbatch,
    * per day) refitting the reference quantiles every time is a full
    * extra scan of a frame that never changes; this summary makes each
    * subsequent PSI reading a single pass over the CURRENT side only.
    */
  case class DriftBaseline(features: Seq[String], edgeNames: Seq[String],
      edges: Seq[(String, Seq[Double])], refP: Map[(String, Int), Double],
      nRef: Map[String, Long])

  def fitDriftBaseline(baseline: DataFrame, features: Seq[String],
      probs: Seq[Double] = Seq(0.25, 0.5, 0.75)): DriftBaseline = {
    require(features.nonEmpty && probs.nonEmpty)
    val edgeNames = probs.indices.map(i => s"e${i + 1}")
    // same one-melt sharing as psiByFeature: edge fit materializes the
    // cache, the count collect reads it, then the cache is released
    val mb = meltFeatures(baseline, features)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val edges = fitEdges(mb, features.size, edgeNames.zip(probs))
    val edgeRows = edges.collect().map(r =>
      r.getString(0) -> edgeNames.indices.map(i => r.getDouble(i + 1)))
    val counts = binByEdges(mb, edges, edgeNames)
      .groupBy(col("feature"), col("bin")).agg(count(lit(1)).as("nb"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    mb.unpersist()
    val nRef = counts.groupBy(_._1._1).map { case (f, cs) => f -> cs.values.sum }
    val refP = counts.map { case ((f, b), nb) => (f, b) -> nb.toDouble / nRef(f) }
    DriftBaseline(features, edgeNames, edgeRows.toSeq, refP, nRef)
  }

  /** PSI of `current` against a fitted [[DriftBaseline]]: one pass
    * over the current side (melt → broadcast-join the O(features)
    * edge frame → one hash agg), then a driver-side fold over the
    * O(features × bins) cells — every reference bin participates even
    * when the current batch misses it (q floors to eps there), which
    * is exactly the empty-bin drift signal. Returns
    * (feature, psi, n_ref, n_cur) like [[psiByFeature]].
    */
  def psiAgainstBaseline(current: DataFrame, base: DriftBaseline,
      eps: Double = 1e-4): DataFrame = {
    val spark = current.sparkSession
    import spark.implicits._
    val edges = base.edges.map { case (f, es) =>
      Row.fromSeq(f +: es) }
    val edgesDf = spark.createDataFrame(
      spark.sparkContext.parallelize(edges, 1),
      org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("feature",
          org.apache.spark.sql.types.StringType, nullable = false) +:
        base.edgeNames.map(e => org.apache.spark.sql.types.StructField(e,
          org.apache.spark.sql.types.DoubleType, nullable = false))))
    val curCounts = binByEdges(meltFeatures(current, base.features), edgesDf, base.edgeNames)
      .groupBy(col("feature"), col("bin")).agg(count(lit(1)).as("nc"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val nCur = base.features.map(f =>
      f -> curCounts.collect { case ((`f`, _), c) => c }.sum).toMap
    val nBins = base.edgeNames.size + 1
    val rows = base.features.map { f =>
      val psi = (0 until nBins).map { b =>
        val p = math.max(base.refP.getOrElse((f, b), 0.0), eps)
        val q = math.max(
          if (nCur(f) == 0L) 0.0 else curCounts.getOrElse((f, b), 0L).toDouble / nCur(f), eps)
        (p - q) * math.log(p / q)
      }.sum
      (f, psi, base.nRef(f), nCur(f))
    }
    rows.toDF("feature", "psi", "n_ref", "n_cur")
  }

  /** Jensen-Shannon divergence of the same binned cohorts — symmetric
    * and bounded (≤ ln 2), the better-behaved cousin of [[psi]] when
    * cohorts have empty bins (0·ln 0 terms vanish, no eps needed).
    */
  def jsDivergence(baseline: DataFrame, current: DataFrame, scoreCol: String,
      bins: Int): DataFrame =
    binnedCohorts(baseline, current, scoreCol, bins)
      .withColumn("m", (col("p") + col("q")) / 2)
      .agg(((sum(when(col("p") > 0, col("p") * log(col("p") / col("m"))).otherwise(0.0)) +
        sum(when(col("q") > 0, col("q") * log(col("q") / col("m"))).otherwise(0.0))) / 2)
        .as("js_div"),
        count(lit(1)).as("n_bins"))

  /** Champion evaluation across named splits (reference:
    * evaluation/orchestrator.py TestSetEvaluationOrchestrator
    * evaluate_on_test_set — metrics on train AND test plus class
    * distributions, so overfit and label shift are visible in one
    * table). One long-format row per (split, metric); includes n and
    * pos_rate alongside the classifier metrics.
    */
  def evaluateSplits(model: org.apache.spark.ml.Transformer,
      splits: Seq[(String, DataFrame)], labelCol: String,
      threshold: Double, beta: Double): DataFrame = {
    val spark = splits.head._2.sparkSession
    import spark.implicits._
    val rows = splits.flatMap { case (name, df) =>
      val scored = model.transform(df).withColumn("__p", Trainer.posProb("probability"))
      val m = binaryMetrics(scored, labelCol, "__p", labelCol, threshold, beta).head()
      val dist = df.agg(count(lit(1)).cast("double").as("n"),
        avg(col(labelCol).cast("double")).as("pos_rate")).head()
      // degenerate splits yield null metrics (precision with tp+fp=0,
      // auc on a single-class split) — report NaN, don't NPE
      m.schema.fieldNames.zipWithIndex.map { case (f, idx) =>
        (name, f, if (m.isNullAt(idx)) Double.NaN else m.getDouble(idx))
      }.toSeq ++
        Seq((name, "n", dist.getDouble(0)), (name, "pos_rate", dist.getDouble(1)))
    }
    rows.toDF("split", "metric", "value")
  }

  /** Best threshold by F-beta (ties → smaller threshold). */
  def bestThreshold(df: DataFrame, labelCol: String, scoreCol: String,
      thresholds: Seq[Double], beta: Double): Double =
    thresholdSweep(df, labelCol, scoreCol, thresholds, beta)
      .orderBy(col("fbeta").desc, col("threshold").asc)
      .head().getAs[Double]("threshold")

  /** Regression metrics in ONE map-side-combinable aggregation pass:
    * n, MAE, RMSE, R² (sklearn mean_absolute_error /
    * mean_squared_error / r2_score semantics; R² from
    * 1 − SSE/SST with SST = Σy² − (Σy)²/n — no second pass for the
    * mean). Nothing data-proportional is buffered anywhere.
    */
  def regressionMetrics(df: DataFrame, labelCol: String, predCol: String): DataFrame = {
    val y = col(labelCol).cast("double")
    val p = col(predCol).cast("double")
    val sst = col("syy") - col("sy") * col("sy") / col("n")
    df.agg(
        count(lit(1)).as("n"),
        sum(abs(y - p)).as("sae"),
        sum((y - p) * (y - p)).as("sse"),
        sum(y * y).as("syy"),
        sum(y).as("sy"))
      .select(col("n"),
        (col("sae") / col("n")).as("mae"),
        sqrt(col("sse") / col("n")).as("rmse"),
        // sklearn r2_score on a constant target: 1.0 when the error is
        // also zero, else 0.0 (never null from the 0-SST division)
        when(sst > 0, lit(1.0) - col("sse") / sst)
          .otherwise(when(col("sse") === 0.0, lit(1.0)).otherwise(lit(0.0))).as("r2"))
  }

  /** Binary cross-entropy (log loss) with sklearn's probability
    * clipping to [eps, 1−eps] — single aggregation pass.
    */
  def logLoss(df: DataFrame, labelCol: String, scoreCol: String,
      eps: Double = 1e-7): DataFrame = {
    val y = col(labelCol).cast("double")
    val p = least(greatest(col(scoreCol).cast("double"), lit(eps)), lit(1.0 - eps))
    df.agg(
      (-avg(y * log(p) + (lit(1.0) - y) * log(lit(1.0) - p))).as("log_loss"),
      count(lit(1)).as("n"))
  }

  /** NDCG@k per group with exponential gain (2^rel − 1): DCG over the
    * top-k by score (ties broken by `tieCol` for determinism), divided
    * by the ideal DCG over the top-k by relevance. The ideal ranking's
    * tie order cannot change IDCG (equal rel ⇒ equal gain at fixed
    * positions).
    *
    * Shape matters more than it looks: only the top-k rows of each
    * ranking contribute (everything past k adds 0), and phrasing each
    * ranking as `row_number ≤ k` FILTER over its window lets Spark's
    * InferWindowGroupLimit rewrite it into a map-side partial top-k
    * (WindowGroupLimit) BEFORE the shuffle — each map task forwards at
    * most k rows per group instead of its whole partition. The
    * previous single-window form computed both ranks inside one
    * aggregate, so every row shuffled into #groups partitions and the
    * per-group sort ran single-threaded over n/groups rows — measured
    * 31.5 s at the sf10 decade (10M events, 5 groups); this form cuts
    * the shuffled volume to O(mappers · k · groups).
    */
  def ndcgAt(df: DataFrame, groupCol: String, scoreCol: String, relCol: String,
      tieCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
    val byScore = w.orderBy(col(scoreCol).desc, col(tieCol).asc)
    val byRel = w.orderBy(col(relCol).desc, col(tieCol).asc)
    val gain = pow(lit(2.0), col(relCol).cast("double")) - lit(1.0)
    val in = df.select(col(groupCol), col(scoreCol), col(relCol), col(tieCol))
    val dcg = in
      .withColumn("pos", row_number().over(byScore))
      .filter(col("pos") <= k) // → WindowGroupLimit (map-side top-k)
      .groupBy(col(groupCol))
      .agg(sum(gain / log2(col("pos") + 1)).as("dcg"))
    val idcg = in
      .withColumn("ideal_pos", row_number().over(byRel))
      .filter(col("ideal_pos") <= k)
      .groupBy(col(groupCol))
      .agg(sum(gain / log2(col("ideal_pos") + 1)).as("idcg"))
    // null-safe join condition: Seq(groupCol) equi-join drops NULL
    // group keys on both sides, so a null group would yield two
    // half-rows (dcg-only + idcg-only) instead of one joined row —
    // the usingColumns overload can't express <=>, so join on the
    // predicate and coalesce the two key columns back into one.
    dcg.as("d").join(idcg.as("i"), col(s"d.$groupCol") <=> col(s"i.$groupCol"), "full_outer")
      .select(coalesce(col(s"d.$groupCol"), col(s"i.$groupCol")).as(groupCol),
        col("d.dcg").as("dcg"), col("i.idcg").as("idcg"))
      .select(col(groupCol),
        coalesce(col("dcg"), lit(0.0)).as("dcg"),
        coalesce(col("idcg"), lit(0.0)).as("idcg"))
      .select(col(groupCol), col("dcg"), col("idcg"),
        when(col("idcg") > 0, col("dcg") / col("idcg")).otherwise(lit(0.0)).as("ndcg"))
  }

  /** Per-group fairness audit at a threshold: selection rate
    * (demographic parity), TPR (equal opportunity), FPR — one row per
    * group — plus the across-group max-min gaps repeated on every row
    * (whole-frame window over the #groups-sized result). Single
    * conditional-aggregation pass; groups with no positives/negatives
    * yield null TPR/FPR rather than fake zeros.
    */
  def fairnessMetrics(df: DataFrame, groupCol: String, labelCol: String,
      scoreCol: String, threshold: Double): DataFrame = {
    val y = col(labelCol)
    val sel = col(scoreCol) >= threshold
    val wAll = Window.partitionBy()
    df.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n"),
        avg(sel.cast("double")).as("sel_rate"),
        sum(when(y === 1 && sel, 1L).otherwise(0L)).as("__tp"),
        sum(when(y === 0 && sel, 1L).otherwise(0L)).as("__fp"),
        sum(when(y === 1, 1L).otherwise(0L)).as("__npos"),
        sum(when(y === 0, 1L).otherwise(0L)).as("__nneg"))
      // guard the zero denominators BEFORE dividing (ANSI mode throws)
      .withColumn("tpr", when(col("__npos") > 0, col("__tp") / col("__npos").cast("double")))
      .withColumn("fpr", when(col("__nneg") > 0, col("__fp") / col("__nneg").cast("double")))
      .drop("__tp", "__fp", "__npos", "__nneg")
      .withColumn("dp_gap", max(col("sel_rate")).over(wAll) - min(col("sel_rate")).over(wAll))
      .withColumn("tpr_gap", max(col("tpr")).over(wAll) - min(col("tpr")).over(wAll))
  }

  /** Cohen's kappa for two categorical raters: (p_o − p_e)/(1 − p_e)
    * with p_e from the rater marginals (sklearn cohen_kappa_score).
    * One pass for agreement + two tiny marginal aggregates joined on
    * the category — never a row-level join.
    */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val base = df.agg(count(lit(1)).cast("double").as("n"),
      avg((col(aCol) === col(bCol)).cast("double")).as("po"))
    val ma = df.groupBy(col(aCol).cast("string").as("k")).agg(count(lit(1)).as("na"))
    val mb = df.groupBy(col(bCol).cast("string").as("k")).agg(count(lit(1)).as("nb"))
    val pe = ma.join(mb, "k")
      .agg(sum(col("na").cast("double") * col("nb")).as("sab"))
    base.crossJoin(pe) // both sides are single rows
      .select(col("n").cast("long").as("n"), col("po"),
        (col("sab") / (col("n") * col("n"))).as("pe"))
      .select(col("n"), col("po"), col("pe"),
        when(col("pe") < 1.0, (col("po") - col("pe")) / (lit(1.0) - col("pe")))
          .otherwise(lit(0.0)).as("kappa"))
  }
}
