package graft.features

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.AsofJoin

/** Offline feature-store layout + retrieval (reference:
  * src/feature/prep_data.py:152-180 save_transformed_data — features
  * and target written as separate event-timestamped parquet — and the
  * Feast get_historical_features point-in-time retrieval pattern).
  *
  * Scale: writes are plain partitionable parquet; point-in-time
  * retrieval is the single-shuffle [[AsofJoin]], not a theta-join.
  */
object FeatureStore {

  /** Write features (all columns minus label) and target (pk + label)
    * with an event-timestamp column, each as parquet under `dir`. The
    * two writes are independent scans of `df`, so they run as
    * [[graft.Lanes]].
    */
  def saveOffline(df: DataFrame, pkCol: String, labelCol: String,
      tsCol: String, dir: String): Unit =
    graft.Lanes.all(Seq(
      () => df.drop(labelCol).write.mode("overwrite").parquet(s"$dir/features.parquet"),
      () => df.select(col(pkCol), col(labelCol), col(tsCol))
        .write.mode("overwrite").parquet(s"$dir/target.parquet")))

  /** Entity-key retrieval: join features to target on the primary key
    * (the reference's training-set construction when timestamps align).
    */
  def loadTrainingSet(spark: SparkSession, dir: String, pkCol: String): DataFrame = {
    val features = spark.read.parquet(s"$dir/features.parquet")
    val target = spark.read.parquet(s"$dir/target.parquet")
    val dup = target.columns.filter(features.columns.contains).filterNot(_ == pkCol)
    features.join(target.drop(dup.toIndexedSeq: _*), Seq(pkCol))
  }

  /** Point-in-time retrieval: for each entity row (pk, ts), the latest
    * feature values at or before ts — leakage-safe historical features.
    */
  def historicalFeatures(entities: DataFrame, features: DataFrame, pkCol: String,
      tsCol: String, tieBreakCol: String, featureCols: Seq[String]): DataFrame =
    AsofJoin.asofBackward(entities, features, pkCol, tsCol, tieBreakCol, featureCols)

  /** One named feature view for multi-view retrieval (reference:
    * src/feature/feature_repo/define_feature.py:24-50 — the reference
    * composes FeatureViews, each with its own event-timestamped source;
    * Feast's get_historical_features takes a LIST of views). `name`
    * prefixes the view's output columns (`name__col`); key/ts/tiebreak
    * name the view's OWN columns (renamed internally to the entity
    * frame's), so views with heterogeneous schemas compose.
    */
  final case class FeatureView(name: String, source: DataFrame, keyCol: String,
      tsCol: String, tieBreakCol: String, featureCols: Seq[String],
      toleranceSec: Option[Double] = None)

  /** Multi-view point-in-time retrieval: for each entity row (key, ts),
    * the latest value of EVERY view's features at or before ts — each
    * view PIT-correct against its own event time (a view whose last
    * update predates another's still serves its own latest-at-ts row).
    *
    * Plan shape (pinned in SourcesPlanSpec): each view runs ONE as-of
    * union+window ([[graft.operators.AsofJoin.asofBackward]]) against
    * the NARROW (key, ts, tiebreak) entity projection — one shuffle per
    * view, independent so AQE runs them in parallel. View results are
    * then merge-joined on the entity triple: every as-of output is
    * already hash-partitioned by the entity key (the window's
    * partitioning), so the view⋈view joins and the final join back to
    * the full entity frame add NO exchange for the view side; the WIDE
    * entity frame is shuffled exactly once, at the end. Chaining
    * single-view [[historicalFeatures]] calls instead would re-shuffle
    * the accumulated (entities + earlier views) frame per view.
    *
    * PRECONDITION (same as AsofJoin.asofNearest): (keyCol, tsCol,
    * tieBreakCol) uniquely identifies entity rows — the recombining
    * joins would multiply duplicates.
    */
  def historicalFeaturesMulti(entities: DataFrame, keyCol: String, tsCol: String,
      tieBreakCol: String, views: Seq[FeatureView]): DataFrame = {
    require(views.nonEmpty, "historicalFeaturesMulti needs at least one view")
    require(views.map(_.name).distinct.size == views.size,
      s"duplicate view names: ${views.map(_.name).mkString(", ")}")
    val e = entities.select(col(keyCol), col(tsCol), col(tieBreakCol))
    val perView = views.map { v =>
      val renamed = v.source.select(
        col(v.keyCol).as(keyCol) +: col(v.tsCol).as(tsCol) +:
          col(v.tieBreakCol).as(tieBreakCol) +: v.featureCols.map(col): _*)
      AsofJoin.asofBackward(e, renamed, keyCol, tsCol, tieBreakCol,
          v.featureCols, v.toleranceSec)
        .select(Seq(col(keyCol), col(tsCol), col(tieBreakCol)) ++
          v.featureCols.map(c => col(s"asof_$c").as(s"${v.name}__$c")): _*)
    }
    val combined = perView.reduce(_.join(_, Seq(keyCol, tsCol, tieBreakCol)))
    entities.join(combined, Seq(keyCol, tsCol, tieBreakCol))
  }

  /** Online feature-view materialization (reference:
    * src/feature/feature_repo/define_feature.py:24-50 FeatureView over
    * the event-timestamped source + feature_store.yaml's online store;
    * Feast `materialize` compacts history to latest-per-entity serving
    * state). ONE hash aggregate — `max_by` of the feature struct keyed
    * on (ts, tieBreak), map-side combinable, O(1) state per key —
    * never a per-key window sort or value buffer, so the compaction is
    * a single shuffle on the entity key at any history size.
    *
    * Semantics contract (spec'd in SourcesPlanSpec "online
    * materialization equals historicalFeatures"): equals
    * [[historicalFeatures]] evaluated at the max event time — i.e. the
    * online row IS the point-in-time row "now".
    */
  def materializeOnline(features: DataFrame, pkCol: String, tsCol: String,
      tieBreakCol: String, featureCols: Seq[String]): DataFrame = {
    val carried = tsCol +: featureCols
    features.groupBy(col(pkCol))
      .agg(max_by(struct(carried.map(col): _*),
        struct(col(tsCol), col(tieBreakCol))).as("__latest"))
      .select(col(pkCol) +: carried.map(c => col(s"__latest.$c").as(c)): _*)
  }

  /** Write the online view as a bucketed table on the entity key, so a
    * serving-side point lookup or a scoring join against the snapshot
    * co-locates by key with NO further shuffle of the snapshot (the
    * same property the bucketed-tables spec pins for fact tables).
    */
  def saveOnline(spark: SparkSession, features: DataFrame, pkCol: String, tsCol: String,
      tieBreakCol: String, featureCols: Seq[String], table: String, path: String,
      buckets: Int = 32): Unit =
    materializeOnline(features, pkCol, tsCol, tieBreakCol, featureCols)
      .write.mode("overwrite")
      .option("path", path)
      .bucketBy(buckets, pkCol).sortBy(pkCol)
      .saveAsTable(table)
}
