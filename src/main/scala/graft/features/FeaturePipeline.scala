package graft.features

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Fitted feature-engineering pipeline, Spark-first re-expression of the
  * reference's sklearn `DataPipelineCreator` / `TrainingDataPrep`
  * (reference: src/feature/utils/data.py:37-259, 262-732).
  *
  * Design for 100 TB: `fit` runs ONE aggregation pass per stat family
  * over the training data and collects O(columns) numbers to the
  * driver; `transform` re-injects them as literals, so applying the
  * pipeline to any split is a pure projection (whole-stage codegen, no
  * shuffle, no join). That is the distributed analog of sklearn's
  * fit/transform contract — and like sklearn, fitting on train and
  * transforming valid/test leaks nothing.
  *
  * Quantile stats are fit ONLY for columns whose transform reads them
  * (Median imputers, Robust scalers) — other columns carry NaN
  * quartiles, and a StandardScaler-only fit pays no quantile cost at
  * all. `exactQuantiles=true` (default) computes the consuming
  * columns' exact interpolated quartiles via
  * GlobalRank.exactQuantilesPerColumn — all of them melted through ONE
  * distributed composite-key (column, value) sort, never a pass per
  * column and never a single percentile buffer, so even the exact path
  * survives a 100 TB fit. `exactQuantiles=false` keeps them inside the
  * one wide aggregation via `approx_percentile` (single scan total) —
  * the right trade for VERY wide feature sets where even the melted
  * sort volume (k × rows pairs) outweighs sketch error.
  */
object Imputation extends Enumeration {
  val Mean, Median, Mode, Zero = Value
}

object ScalerKind extends Enumeration {
  val Standard, MinMax, Robust = Value
}

final case class ImputerSpec(col: String, strategy: Imputation.Value)
final case class ScalerSpec(col: String, kind: ScalerKind.Value)

/** Winsorization: clip to the column's fitted [pLo, pHi] exact
  * quantiles (the applied form of the IQR audit — q_winsorize is the
  * oracle-checked query twin). Applied AFTER imputation and BEFORE
  * scaling; scaler stats are fit on the winsorized distribution, so a
  * StandardScaler downstream sees the clipped mean/std (the order
  * sklearn users get from a clip-then-scale Pipeline).
  */
final case class WinsorSpec(col: String, pLo: Double = 0.05, pHi: Double = 0.95)

/** One-hot with sklearn semantics: categories sorted, optional
  * drop-first, categories with relative frequency < minFrequency
  * grouped into a single "infrequent" bucket
  * (reference: src/feature/utils/data.py:100-122 OneHotEncoder config).
  */
final case class OneHotSpec(col: String, dropFirst: Boolean = true, minFrequency: Double = 0.0)

final case class FeaturePipelineSpec(
    imputers: Seq[ImputerSpec] = Nil,
    scalers: Seq[ScalerSpec] = Nil,
    oneHots: Seq[OneHotSpec] = Nil,
    varianceThreshold: Option[Double] = None,
    varianceCols: Seq[String] = Nil,
    exactQuantiles: Boolean = true,
    winsors: Seq[WinsorSpec] = Nil
)

/** Per-column fitted stats. q1/median/q3 are NaN for columns without a
  * quartile consumer in the spec (no sort pass is paid for stats
  * nothing reads); mean/std/min/max are always fit (one wide agg).
  */
final case class NumStats(mean: Double, std: Double, min: Double, max: Double,
    q1: Double, median: Double, q3: Double)

final case class FittedFeaturePipeline(
    spec: FeaturePipelineSpec,
    numStats: Map[String, NumStats],          // fitted on RAW (pre-imputation) values — imputer semantics
    modes: Map[String, String],
    categories: Map[String, Seq[String]],     // kept (frequent) categories, sorted
    infrequent: Map[String, Seq[String]],     // grouped categories, sorted
    variances: Map[String, Double],
    scaleStats: Map[String, NumStats],        // fitted on IMPUTED (+winsorized) values (sklearn stage order)
    winsorBounds: Map[String, (Double, Double)] = Map.empty  // fitted on imputed values
) {

  /** sklearn-compatible feature-name cleanup
    * (reference: src/feature/utils/data.py:685-719 clean_up_feature_names).
    */
  def cleanName(s: String): String = s.replaceAll("[^A-Za-z0-9]+", "_")

  def imputeExpr(c: ImputerSpec): Column = {
    val base = col(c.col)
    val replacement = c.strategy match {
      case Imputation.Mean   => lit(numStats(c.col).mean)
      case Imputation.Median => lit(numStats(c.col).median)
      case Imputation.Mode   => lit(modes(c.col))
      case Imputation.Zero   => lit(0.0)
    }
    coalesce(base, replacement)
  }

  def winsorExpr(w: WinsorSpec): Column = {
    val (lo, hi) = winsorBounds(w.col)
    least(greatest(col(w.col), lit(lo)), lit(hi))
  }

  def scaleExpr(sc: ScalerSpec): Column = {
    // scaler stats come from the imputed distribution when the column
    // also has an imputer — matching the reference sklearn Pipeline
    // (data.py DataPipelineCreator: imputer → scaler fit order)
    val st = scaleStats(sc.col)
    val x = col(sc.col)
    sc.kind match {
      case ScalerKind.Standard => (x - lit(st.mean)) / lit(st.std)
      case ScalerKind.MinMax   => (x - lit(st.min)) / lit(st.max - st.min)
      case ScalerKind.Robust   => (x - lit(st.median)) / lit(st.q3 - st.q1)
    }
  }

  /** One-hot columns for a spec: frequent categories (minus the dropped
    * first) plus an "<col>_infrequent" bucket when grouping applies.
    */
  def oneHotColumns(oh: OneHotSpec): Seq[(String, Column)] = {
    val cats = categories(oh.col)
    val kept = if (oh.dropFirst) cats.drop(1) else cats
    val catCols = kept.map { c =>
      (cleanName(s"${oh.col}_$c"), when(col(oh.col) === c, 1).otherwise(0))
    }
    val infreq = infrequent(oh.col)
    if (infreq.nonEmpty)
      catCols :+ (cleanName(s"${oh.col}_infrequent"),
        when(col(oh.col).isin(infreq: _*), 1).otherwise(0))
    else catCols
  }

  /** Columns surviving the variance threshold. */
  def keptByVariance: Seq[String] =
    spec.varianceThreshold match {
      case Some(t) => variances.collect { case (c, v) if v >= t => c }.toSeq.sorted
      case None    => variances.keys.toSeq.sorted
    }

  /** Apply the fitted transforms: impute → winsorize → scale →
    * one-hot. Pure projection over the input — no shuffle, fully
    * codegen'd.
    */
  def transform(df: DataFrame): DataFrame = {
    val imputed = spec.imputers.foldLeft(df)((d, i) => d.withColumn(i.col, imputeExpr(i)))
    val winsored = spec.winsors.foldLeft(imputed)((d, w) => d.withColumn(w.col, winsorExpr(w)))
    val scaled = spec.scalers.foldLeft(winsored)((d, sc) => d.withColumn(sc.col, scaleExpr(sc)))
    spec.oneHots.foldLeft(scaled) { (d, oh) =>
      oneHotColumns(oh).foldLeft(d) { case (dd, (name, expr)) => dd.withColumn(name, expr) }
    }
  }
}

object FeaturePipeline {

  /** Fit all requested statistics on the training data.
    *
    * Cost model: one wide aggregation for numeric stats (single scan,
    * partial aggregation map-side), one melted sort for the exact
    * quartiles, one tiny groupBy per mode column, one groupBy per one-hot
    * column (k rows each), one aggregation for the variances. Everything
    * collected is O(columns + categories), never O(rows).
    *
    * Those stat families read only `train`, never each other, so they
    * run as [[graft.Lanes]]: on a small training set each is a few
    * one-task jobs, and run one after another they would leave most
    * cores idle. The scaler refit needs the imputation stats, so it runs
    * after them, its aggregate and its quartiles again as two lanes.
    */
  def fit(train: DataFrame, spec: FeaturePipelineSpec): FittedFeaturePipeline = {
    val numCols: Seq[String] =
      (spec.imputers.filter(_.strategy != Imputation.Mode).map(_.col) ++
        spec.scalers.map(_.col) ++
        spec.varianceThreshold.toSeq.flatMap(_ => Nil)).distinct

    // Quartiles are fit ONLY for the columns whose transform reads
    // them — Median imputers and Robust scalers. A StandardScaler-only
    // fit pays zero quantile cost (through r7 every numeric column got
    // a quartile pass regardless of consumer); columns without a
    // quartile consumer carry NaN quartiles in NumStats.
    val quantConsumers: Set[String] =
      (spec.imputers.filter(_.strategy == Imputation.Median).map(_.col) ++
        spec.scalers.filter(_.kind == ScalerKind.Robust).map(_.col)).toSet

    val modeCols = spec.imputers.filter(_.strategy == Imputation.Mode).map(_.col).distinct
    // each lane returns the update that records its family's stats
    type Update = FittedFeaturePipeline => FittedFeaturePipeline
    val raw = graft.Lanes.all(
      Seq[() => Update](
        () => { val s = numericStats(train, numCols, quantConsumers, spec.exactQuantiles)
          _.copy(numStats = s) },
        () => { val v = variances(train, spec.varianceCols); _.copy(variances = v) }) ++
        modeCols.map(c => () => { val m = mode(train, c); (f: FittedFeaturePipeline) =>
          f.copy(modes = f.modes + (c -> m)) }) ++
        spec.oneHots.map(oh => () => { val (freq, infreq) = inventory(train, oh)
          (f: FittedFeaturePipeline) => f.copy(categories = f.categories + (oh.col -> freq),
            infrequent = f.infrequent + (oh.col -> infreq)) })
    ).foldLeft(FittedFeaturePipeline(spec, Map.empty, Map.empty, Map.empty, Map.empty,
      Map.empty, Map.empty))((f, update) => update(f))
    val numStats = raw.numStats

    // Scaler stats must reflect the IMPUTED distribution for columns
    // that also have an imputer (sklearn Pipeline fit order: the scaler
    // sees the imputer's output). One extra aggregation pass, only over
    // the overlapping columns; replacement values come from the raw-fit
    // stats above, exactly like SimpleImputer's fit.
    val imputeBy: Map[String, Column] = spec.imputers.map { i =>
      i.col -> (i.strategy match {
        case Imputation.Mean   => lit(numStats(i.col).mean)
        case Imputation.Median => lit(numStats(i.col).median)
        case Imputation.Mode   => lit(raw.modes(i.col)).cast(train.schema(i.col).dataType)
        case Imputation.Zero   => lit(0.0)
      })
    }.toMap
    // Winsor bounds fit on the IMPUTED values (stage order: impute →
    // winsorize), one melted exact-quantile pass per distinct (pLo,
    // pHi) pair — columns sharing the default bounds share one sort.
    val winsorBounds: Map[String, (Double, Double)] =
      spec.winsors.groupBy(w => (w.pLo, w.pHi)).flatMap { case ((lo, hi), ws) =>
        val cols = ws.map(_.col).distinct
        val proj = train.select(cols.map(c =>
          imputeBy.get(c).map(r => coalesce(col(c), r)).getOrElse(col(c)).as(c)): _*)
        val qs = graft.operators.GlobalRank.exactQuantilesPerColumn(proj, cols, Seq(lo, hi))
        cols.map(c => c -> ((qs(c)(0), qs(c)(1))))
      }
    val winsorBy: Map[String, Column => Column] = winsorBounds.map { case (c, (lo, hi)) =>
      c -> ((x: Column) => least(greatest(x, lit(lo)), lit(hi)))
    }
    // scaler stats reflect every upstream stage's output: refit for
    // scaler columns that are imputed OR winsorized
    val refitCols = spec.scalers.map(_.col).distinct
      .filter(c => imputeBy.contains(c) || winsorBy.contains(c))
    val scaleStats: Map[String, NumStats] =
      if (refitCols.isEmpty) numStats
      else {
        val proj = train.select(refitCols.map { c =>
          val imputed = imputeBy.get(c).map(r => coalesce(col(c), r)).getOrElse(col(c))
          winsorBy.get(c).map(_(imputed)).getOrElse(imputed).as(c)
        }: _*)
        numStats ++ numericStats(proj, refitCols, quantConsumers, spec.exactQuantiles)
      }

    raw.copy(scaleStats = scaleStats, winsorBounds = winsorBounds)
  }

  /** mean/std/min/max of `cols` from one wide aggregation, plus the
    * quartiles of the columns in `quantConsumers`, NaN for the rest.
    * exact=true (the spec DEFAULT) uses
    * GlobalRank.exactQuantilesPerColumn — ALL consuming columns'
    * quartiles from ONE melted composite-key sort (never one pass per
    * column, and never Spark's exact `percentile`, whose aggregation
    * buffer holds every value — a single-executor OOM on a 100 TB fit),
    * run as a lane beside the aggregation; exact=false keeps quantiles
    * inside the wide agg via approx_percentile (one scan total — the
    * wide-feature-set trade).
    */
  private def numericStats(df: DataFrame, cols: Seq[String], quantConsumers: Set[String],
      exact: Boolean): Map[String, NumStats] =
    if (cols.isEmpty) Map.empty
    else {
      val aggs = cols.flatMap { c =>
        Seq(avg(col(c)).as(s"${c}__mean"), stddev_samp(col(c)).as(s"${c}__std"),
          min(col(c)).cast("double").as(s"${c}__min"), max(col(c)).cast("double").as(s"${c}__max")) ++
          (if (exact || !quantConsumers(c)) Nil
           else Seq(expr(s"approx_percentile(`$c`, array(0.25, 0.5, 0.75), 10000)").as(s"${c}__q")))
      }
      val qCols = cols.filter(quantConsumers)
      val Seq(row: Row, exactQs: Map[String, Array[Double]] @unchecked) = graft.Lanes.all(Seq(
        () => df.agg(aggs.head, aggs.tail: _*).head(),
        () => if (exact && qCols.nonEmpty)
          graft.operators.GlobalRank.exactQuantilesPerColumn(df, qCols, Seq(0.25, 0.5, 0.75))
        else Map.empty[String, Array[Double]]))
      val noQ = IndexedSeq(Double.NaN, Double.NaN, Double.NaN)
      cols.map { c =>
        val q =
          if (!quantConsumers(c)) noQ
          else if (exact) exactQs(c).toIndexedSeq
          else row.getAs[scala.collection.Seq[Double]](s"${c}__q").toIndexedSeq
        c -> NumStats(row.getAs[Double](s"${c}__mean"), row.getAs[Double](s"${c}__std"),
          row.getAs[Double](s"${c}__min"), row.getAs[Double](s"${c}__max"),
          q(0), q(1), q(2))
      }.toMap
    }

  /** Deterministic mode: highest count, ties broken by smallest value. */
  private def mode(train: DataFrame, c: String): String =
    train.filter(col(c).isNotNull).groupBy(col(c)).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col(c).asc).head().get(0).toString

  /** One-hot category inventory with frequency-based infrequent
    * grouping: (kept categories, grouped categories), each sorted.
    */
  private def inventory(train: DataFrame, oh: OneHotSpec): (Seq[String], Seq[String]) = {
    val counts = train.filter(col(oh.col).isNotNull)
      .groupBy(col(oh.col)).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.get(0).toString, r.getAs[Long]("n")))
    val total = counts.map(_._2).sum.toDouble
    val (freq, infreq) = counts.partition { case (_, n) => n / total >= oh.minFrequency }
    (freq.map(_._1).sorted.toSeq, infreq.map(_._1).sorted.toSeq)
  }

  /** Variance audit for the selector. Note sklearn's VarianceThreshold
    * uses population variance; we use var_samp (documented divergence —
    * it is a near-zero filter, the 1/(n-1) factor is immaterial).
    */
  private def variances(train: DataFrame, cols: Seq[String]): Map[String, Double] =
    if (cols.isEmpty) Map.empty
    else {
      val aggs = cols.map(c => var_samp(col(c)).as(c))
      val row = train.agg(aggs.head, aggs.tail: _*).head()
      cols.map(c => c -> row.getAs[Double](c)).toMap
    }
}
