package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Skew-adaptive evaluation of the RUN-COLLAPSE window family —
  * `sum(newRunFlag) over (partition key order ord)` (SCD2 version
  * runs, gap-based sessions) and `lead(value) over (partition key
  * order seq)` — for corpora whose keys carry a zipf head. A window
  * partition is not splittable, so the single-level plan puts the head
  * key's ENTIRE stream into one task: the r14 sf10skew sweep measured
  * q_scd2 at 39 s vs 6 s uniform (custkey 1 holds 3M of 15M orders —
  * one 3M-row sort + two window passes on one core) after the r13
  * width pins made the uniform base fast.
  *
  * The fix is TWO-LEVEL only where it pays. A 1% sample detects hot
  * keys (one cheap job, O(sampled keys) driver state); with none — the
  * uniform case, and every gated SF — the plan is EXACTLY the
  * single-level window with its r13 width pin, zero overhead. With hot
  * keys, EVERY row rides one (key, bucket) exchange (r18, the
  * [[chunkedCarry]] shape): hot keys bucket their stream into
  * contiguous ranges of the order key (sampled per-key range splits —
  * rows with equal order values share a bucket, so bucketing respects
  * the total order) while cold keys take the constant bucket 0, whose
  * (key, 0) window IS the plain per-key numbering. Runs number LOCALLY
  * per (key, bucket) window, then bucket boundaries repair via a
  * second window over O(buckets)-per-HOT-key summaries: a bucket's
  * first local run merges with the previous bucket's last run iff the
  * user predicate says the boundary pair does not start a new run, and
  * run numbers shift by the running sum of preceding buckets'
  * effective run counts; cold rows miss the broadcast repair frame and
  * keep their local numbers. The decomposition is exact, not
  * approximate — run numbering couples only ADJACENT rows.
  * An r14 measured rejection shaped this design: unconditionally
  * bucketing EVERY key (no hot-key gate) ran uniform sf10 q_scd2 at
  * 20.7 s vs 6.0 s — the boundary repair over keys×buckets summary
  * rows dwarfs its benefit when no partition is a straggler.
  *
  * Reference semantics: pandas groupby-apply run collapse
  * (src/features/feature_engineering.py's per-entity orderings) — the
  * single-machine stack never faces the partition-skew question this
  * operator answers.
  */
object SaltedRuns {

  /** Keys whose estimated row count exceeds `hotThreshold`, from a 1%
    * sample (seeded — deterministic plan choice); capped at the 64
    * heaviest. Detection affects PERFORMANCE only: both paths are
    * exact, so a missed hot key degrades to single-level and a false
    * positive pays the (small) repair overhead. PUBLIC so a caller
    * chaining [[numbered]] and [[chunkedLead]] detects ONCE on the
    * cheap source frame and passes the list to both — sampling an
    * expensive intermediate (e.g. the collapsed-runs frame) executes
    * its whole upstream pipeline just for the probe (measured +3 s on
    * uniform sf10 q_scd2). Hotness by SOURCE rows is a safe proxy for
    * any downstream per-key frame: per-key cardinality only shrinks.
    */
  def detectHotKeys(df: DataFrame, key: String,
      hotThreshold: Long = 1000000L): Seq[Any] = {
    val rate = 0.01
    val minSampled = math.max(2.0, hotThreshold * rate)
    // a NULL key never enters the hot list: the branch split rides
    // isInCollection, where null only yields null (no TRUE arm), so a
    // "hot" null group stays on the single-level path by design —
    // WindowExec groups nulls like any key, the decomposition doesn't
    df.select(col(key)).sample(withReplacement = false, rate, seed = 42L)
      .groupBy(col(key)).count()
      .filter(col("count") >= minSampled)
      .orderBy(col("count").desc).limit(64)
      .collect().map(_.get(0)).filter(_ != null).toSeq
  }

  private def singleLevelRuns(df: DataFrame, key: String, ordCols: Seq[Column],
      cur: Column, newRun: (Column, Column) => Column, outCol: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(ordCols: _*)
    // explicit width (REPARTITION_BY_NUM, exempt from AQE coalescing):
    // window stages are per-row CPU — the r13 qScd2 bytes-blind lesson
    df.repartition(GlobalRank.rangeWidth(df), col(key))
      .withColumn("__sr_prev", lag(cur, 1).over(w))
      .withColumn(outCol, sum(
        when(col("__sr_prev").isNull || newRun(col("__sr_prev"), cur), 1L)
          .otherwise(0L))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__sr_prev")
  }

  /** PER-KEY range splits of the order key: one approx-percentile
    * aggregate over the hot-only frame, grouped by key — O(hot keys ≤
    * 64) result rows. r14 used ONE pooled approxQuantile shared by all
    * hot keys, which degraded a hot key CONCENTRATED in a narrow order
    * range to ~1 bucket (single-level) whenever another hot key's wider
    * range dominated the pooled quantiles — the r14 documented limit,
    * now closed: each key's own quantiles split ITS stream evenly
    * regardless of how the keys' ranges interleave. Same job count as
    * the pooled pass.
    */
  private[graft] def perKeySplits(df: DataFrame, key: String, ord: String,
      buckets: Int): DataFrame = {
    val probes = array((1 until buckets).map(i =>
      lit(i.toDouble / buckets)): _*)
    df.groupBy(col(key))
      .agg(percentile_approx(col(ord), probes, lit(10000)).as("__sr_qs"))
  }

  private val srOrd = "__sr_ord"
  private val srBkt = "__sr_b"

  /** Null-safe hotness: a null key is never hot. */
  private def isHot(key: String, hot: Seq[Any]): Column =
    coalesce(col(key).isInCollection(hot), lit(false))

  /** `df` plus `__sr_ord` and `__sr_b`, in the ONE (key, bucket)
    * exchange every row of a salted path rides (r18). Hot rows bucket by
    * their key's sampled range splits of the order key; cold keys, and
    * hot keys whose sampled ords were all null, miss the broadcast LEFT
    * join, and `filter()` over their null splits yields null, so their
    * bucket coalesces to the constant 0 — whose (key, 0) window IS the
    * plain per-key window.
    *
    * Width is explicit (REPARTITION_BY_NUM, exempt from AQE coalescing)
    * and comes from the INPUT frame: rangeWidth over the joined frame
    * sees the broadcast join's multiplied sizeInBytes estimate and
    * saturates the 1024 cap (measured: 1024-task window stages vs the
    * plain path's 345 on the same bytes).
    *
    * The exchange sits behind a prune barrier. Each salted operator has
    * two consumers of it: the local window, and the boundary summary
    * over hot rows only. They read different columns and filter
    * differently, and without the barrier Catalyst pushes each one's
    * column pruning and filters below the exchange. The two exchange
    * subtrees then differ, AQE cannot reuse one for the other, and the
    * whole upstream, scan included, runs once per consumer. Behind the
    * barrier both plan the same exchange, which runs once and is
    * reused; the barrier itself plans to no physical operator.
    */
  private def bucketed(df: DataFrame, key: String, hotSplits: Seq[(Any, Any)],
      ordExpr: Column): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, StructField, StructType}
    val splitsDf = df.sparkSession.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(hotSplits.map { case (k, qs) =>
        org.apache.spark.sql.Row(k, qs) }).asJava,
      StructType(Seq(StructField(key, df.schema(key).dataType),
        StructField("__sr_qs", ArrayType(DoubleType)))))
    GraftBridge.barrier(df.withColumn(srOrd, ordExpr.cast("double"))
      .join(broadcast(splitsDf), Seq(key), "left")
      .withColumn(srBkt,
        coalesce(size(filter(col("__sr_qs"), v => v <= col(srOrd))), lit(0)))
      .drop("__sr_qs")
      .repartition(GlobalRank.rangeWidth(df), col(key), col(srBkt)))
  }

  /** The salted sub-window + boundary-repair path over the
    * [[bucketed]] exchange. Runs number locally per (key, bucket); the
    * boundary-repair summary is a second consumer of the same exchange
    * over the hot rows only, and its ≤64-keys × buckets repair frame
    * broadcast-LEFT-joins back — cold rows miss it and keep their exact
    * local numbering (base 0, merge 0).
    *
    * buckets stays CALLER-FIXED (16 default) — an r15 measured
    * rejection: flooring it at the hot frame's range width to chase
    * the 40%-head factor rise made every query WORSE (q_scd2 17.2 →
    * 18.1 s on sf10skew40): the rise is TOTAL-WORK, not bucket
    * starvation, so finer buckets only add probe/summary overhead.
    *
    * Exactness: run numbering couples only ADJACENT rows; rows with
    * equal order values share a bucket (sampled splits are values of
    * the order key, bucketing by `v <= ord` respects the total order);
    * duplicate split values just leave bucket-number gaps, which the
    * repair's lag-over-present-buckets window never notices. A hot key
    * whose sampled ords were all null gets null splits → all its rows
    * bucket 0 → plain numbering (repair over one bucket is identity).
    * Null ordinals bucket to 0 = first-in-traversal, consistent with
    * the window's asc_nulls_first default ordering.
    */
  private def saltedRuns(df: DataFrame, key: String,
      hotSplits: Seq[(Any, Any)], ordExpr: Column, tieCols: Seq[Column],
      cur: Column, newRun: (Column, Column) => Column,
      outCol: String): DataFrame = {
    val ordCols = col(srOrd) +: tieCols
    val pinned = bucketed(df, key, hotSplits, ordExpr)
    val w1 = Window.partitionBy(col(key), col(srBkt)).orderBy(ordCols: _*)
    def flagged(part: DataFrame): DataFrame = part
      .withColumn("__sr_prev", lag(cur, 1).over(w1))
      .withColumn("__sr_chg",
        when(col("__sr_prev").isNull || newRun(col("__sr_prev"), cur), 1L).otherwise(0L))
      .withColumn("__sr_lv", sum(col("__sr_chg")).over(
        w1.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // O(buckets) rows per hot key: boundary repair + cumulative
    // offsets. min_by/max_by pick each bucket's first/last carry struct
    // under the same total order the window used.
    val summ = flagged(pinned.filter(isHot(key, hotSplits.map(_._1))))
      .groupBy(col(key), col(srBkt))
      .agg(min_by(cur, struct(ordCols: _*)).as("__sr_first"),
        max_by(cur, struct(ordCols: _*)).as("__sr_last"),
        max(col("__sr_lv")).as("__sr_runs"))
    val w2 = Window.partitionBy(col(key)).orderBy(col(srBkt))
    val fix = summ
      .withColumn("__sr_pl", lag(col("__sr_last"), 1).over(w2))
      .withColumn("__sr_merge", when(col("__sr_pl").isNotNull &&
        !newRun(col("__sr_pl"), col("__sr_first")), 1L).otherwise(0L))
      .withColumn("__sr_eff", col("__sr_runs") - col("__sr_merge"))
      .withColumn("__sr_base", coalesce(sum(col("__sr_eff")).over(
        w2.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(key), col(srBkt), col("__sr_merge"), col("__sr_base"))
    // broadcast LEFT: hot keys × buckets rows — bounded by the 64-key
    // cap; cold (and null-key) rows miss and keep their local numbers
    flagged(pinned).join(broadcast(fix), Seq(key, srBkt), "left")
      .withColumn(outCol, coalesce(col("__sr_base"), lit(0L)) + col("__sr_lv")
        - coalesce(col("__sr_merge"), lit(0L)))
      .drop(srBkt, srOrd, "__sr_prev", "__sr_chg", "__sr_lv", "__sr_merge", "__sr_base")
  }

  /** Append `outCol` = 1-based global run number per `key`, where a new
    * run starts whenever `newRun(prevCarry, curCarry)` holds (the first
    * row of a key always starts run 1).
    *
    * @param ordExpr   numeric/date-castable order expression
    * @param tieCols   deterministic tiebreak completing the per-key
    *                  total order
    * @param carryCols columns `newRun` reads; exposed to it as struct
    *                  fields named after each column
    * @param newRun    (prev, cur) => TRUE iff cur starts a new run
    * @param buckets   sub-windows per hot key — the head key's
    *                  straggler task splits this many ways
    * @param hotThreshold rows per key above which the salted path is
    *                  used for that key
    */
  def numbered(df: DataFrame, key: String, ordExpr: Column, tieCols: Seq[Column],
      carryCols: Seq[Column], newRun: (Column, Column) => Column,
      outCol: String, buckets: Int = 16, hotThreshold: Long = 1000000L,
      hotOverride: Option[Seq[Any]] = None): DataFrame = {
    require(buckets >= 1, s"need buckets >= 1, got $buckets")
    // hot keys AND their sampled splits from ONE 1% sample scan —
    // with a caller-supplied empty hot list this costs zero jobs
    val hotSplits = if (buckets == 1) Nil
      else detectHotSplits(df, key, ordExpr, buckets, hotThreshold, hotOverride)
    val cur = struct(carryCols: _*)
    if (hotSplits.isEmpty)
      singleLevelRuns(df.withColumn(srOrd, ordExpr.cast("double")),
        key, col(srOrd) +: tieCols, cur, newRun, outCol).drop(srOrd)
    else saltedRuns(df, key, hotSplits, ordExpr, tieCols, cur, newRun, outCol)
  }

  /** Per-key 1-based row numbers over the [[bucketed]] exchange for a
    * non-empty `hotSplits` — the always-true-newRun special case of
    * [[saltedRuns]] with the machinery that case never needs stripped
    * out: `row_number()` instead of lag + carry-struct + running sum
    * (one window function, no struct projection), and a HASH-aggregable
    * count summary instead of the min_by/max_by struct SortAggregate —
    * boundary repair for plain numbering is just the running count of
    * preceding buckets (a run never merges). The summary aggregates the
    * exchange directly, so its branch skips the window evaluation.
    */
  private def numberedRowsWithSplits(df: DataFrame, key: String,
      ordExpr: Column, tieCols: Seq[Column], outCol: String,
      hotSplits: Seq[(Any, Any)]): DataFrame = {
    val pinned = bucketed(df, key, hotSplits, ordExpr)
    val w1 = Window.partitionBy(col(key), col(srBkt))
      .orderBy((col(srOrd) +: tieCols): _*)
    val summ = pinned.filter(isHot(key, hotSplits.map(_._1)))
      .groupBy(col(key), col(srBkt))
      .agg(count(lit(1)).as("__sr_n"))
    val w2 = Window.partitionBy(col(key)).orderBy(col(srBkt))
    val fix = summ
      .withColumn("__sr_base", coalesce(sum(col("__sr_n")).over(
        w2.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(key), col(srBkt), col("__sr_base"))
    pinned
      .withColumn("__sr_lv", row_number().over(w1).cast("long"))
      .join(broadcast(fix), Seq(key, srBkt), "left")
      .withColumn(outCol, coalesce(col("__sr_base"), lit(0L)) + col("__sr_lv"))
      .drop(srBkt, srOrd, "__sr_lv", "__sr_base")
  }

  /** A sliding ROWS-frame window aggregate —
    * `aggFn over (partition key order ord ROWS BETWEEN k PRECEDING AND
    * CURRENT ROW)` — without a per-key mega-partition. Exact by
    * construction: hot keys get a two-level per-key row number
    * ([[numbered]] with an always-true run predicate), dense
    * `chunkSize` chunks of it (no empty chunks, unlike value-range
    * buckets), and each chunk's last k rows REPLICATED into the next
    * chunk as context-only rows — so every row's frame holds exactly
    * the same rows as the single-level window, and Spark's frame
    * aggregation arithmetic is bit-identical (the frame is re-evaluated
    * over its ≤k+1 rows either way; no prefix-sum float drift).
    */
  def chunkedRowsAgg(df: DataFrame, key: String, ordExpr: Column,
      tieCols: Seq[Column], k: Int,
      aggFn: org.apache.spark.sql.expressions.WindowSpec => Column,
      outCol: String, chunkSize: Long = 65536L,
      hotThreshold: Long = 1000000L,
      hotOverride: Option[Seq[Any]] = None): DataFrame = {
    require(k >= 0 && chunkSize > k, s"need 0 <= k < chunkSize, got k=$k chunk=$chunkSize")
    def plain(part: DataFrame): DataFrame = {
      val w = Window.partitionBy(col(key))
        .orderBy((ordExpr +: tieCols): _*)
        .rowsBetween(-k, Window.currentRow)
      // explicit width — the r13 qScd2 bytes-blind lesson
      part.repartition(GlobalRank.rangeWidth(part), col(key))
        .withColumn(outCol, aggFn(w))
    }
    // hot keys AND their splits from ONE 1% sample scan
    val hotSplits = detectHotSplits(df, key, ordExpr, buckets = 16,
      hotThreshold, hotOverride)
    if (hotSplits.isEmpty) plain(df)
    else {
      // ONE SCAN: every row takes its per-key row number from one
      // numbering pass (cold keys ride its constant bucket 0). Hot keys
      // then get dense `chunkSize` chunks of the row number, cold keys
      // the constant chunk 0 — whose (key, 0) ROWS window is exactly
      // the plain single-level frame — and each hot chunk's last k rows
      // replicate into the next chunk as context-only rows. Base and
      // context are two consumers of the numbering exchange; the
      // (key, chunk) exchange evaluates the frames.
      val rn = "__sr_rn"; val ck = "__sr_ck"; val ctx = "__sr_ctx"
      val hot = isHot(key, hotSplits.map(_._1))
      val base = numberedRowsWithSplits(df, key, ordExpr, tieCols, rn, hotSplits)
        .withColumn(ck, when(hot,
          floor((col(rn) - 1) / lit(chunkSize))).otherwise(lit(0L)))
        .withColumn(ctx, lit(false))
      val context = base
        .filter(hot && (col(rn) - 1) % lit(chunkSize) >= lit(chunkSize - k))
        .withColumn(ck, col(ck) + 1)
        .withColumn(ctx, lit(true))
      val w1 = Window.partitionBy(col(key), col(ck)).orderBy(col(rn))
        .rowsBetween(-k, Window.currentRow)
      base.unionByName(context)
        .repartition(GlobalRank.rangeWidth(df), col(key), col(ck))
        .withColumn(outCol, aggFn(w1))
        .filter(!col(ctx))
        .drop(rn, ck, ctx)
    }
  }

  /** `lead(valueCol) over (partition key order seqCol)` without a
    * per-key mega-partition: the same sample-gated split — cold keys
    * take the plain window; hot keys lead within contiguous
    * `chunkSize` ranges of `seqCol` (which must be unique per key —
    * e.g. the run number [[numbered]] emits), each chunk's LAST row
    * taking the next non-empty chunk's first value from an
    * O(chunks)-per-key summary window. `outCol` is null for the key's
    * last row, as lead is.
    */
  def chunkedLead(df: DataFrame, key: String, seqCol: Column, valueCol: Column,
      outCol: String, chunkSize: Long = 65536L,
      hotThreshold: Long = 1000000L,
      hotOverride: Option[Seq[Any]] = None): DataFrame = {
    require(chunkSize >= 2, s"need chunkSize >= 2, got $chunkSize")
    val hot = hotOverride.getOrElse(detectHotKeys(df, key, hotThreshold))
    if (hot.isEmpty) {
      val wPlain = Window.partitionBy(col(key)).orderBy(seqCol)
      df.repartition(GlobalRank.rangeWidth(df), col(key))
        .withColumn(outCol, lead(valueCol, 1).over(wPlain))
    } else {
      // ONE SCAN, ONE EXCHANGE, behind a prune barrier like
      // [[bucketed]]'s: every row rides one (key, chunk) exchange —
      // cold keys (nulls included) take the CONSTANT chunk 0, so their
      // window IS the plain per-key lead; hot keys chunk by seqCol
      // ranges.
      val ck = "__sr_ck"
      val pinned = GraftBridge.barrier(df
        .withColumn(ck, when(isHot(key, hot), floor(seqCol / lit(chunkSize)))
          .otherwise(lit(0L)))
        .repartition(GlobalRank.rangeWidth(df), col(key), col(ck)))
      val w1 = Window.partitionBy(col(key), col(ck)).orderBy(seqCol)
      // lead rides struct(valueCol): the struct is non-null iff a NEXT
      // ROW exists, so the boundary coalesce below dispatches on
      // row-existence only — a null valueCol on a mid-chunk row stays
      // null (plain-lead semantics) instead of being conflated with
      // "last row of chunk" and patched with the next chunk's first
      // value.
      val led = pinned
        .withColumn("__sr_ld", lead(struct(valueCol.as("v")), 1).over(w1))
      // O(chunks) rows per hot key
      val cs = pinned.filter(isHot(key, hot)).groupBy(col(key), col(ck))
        .agg(min_by(struct(valueCol.as("v")), seqCol).as("__sr_cf"))
      val w2 = Window.partitionBy(col(key)).orderBy(col(ck))
      val nf = cs.withColumn("__sr_nf", lead(col("__sr_cf"), 1).over(w2))
        .select(col(key), col(ck), col("__sr_nf"))
      // broadcast LEFT: cold rows miss — their last row keeps lead's
      // null, every other row its local lead
      led.join(broadcast(nf), Seq(key, ck), "left")
        .withColumn(outCol, coalesce(col("__sr_ld"), col("__sr_nf")).getField("v"))
        .drop(ck, "__sr_ld", "__sr_nf")
    }
  }

  /** Hot keys AND their per-key split points of `ordExpr`, from ONE 1%
    * sample scan (cached — the quantile pass re-reads the sampled rows
    * from memory, not the source). Returns (key, splits) for the ≤64
    * heaviest keys over `hotThreshold`; a key's splits may be null when
    * its sampled ord values are all null (its rows then bucket to 0 —
    * the plain per-key window, exact). Sampled quantiles are a
    * performance-only approximation of the hot slice's true quantiles:
    * a hot key carries ≥ hotThreshold·1% ≈ 10k+ sampled values, and
    * bucketing needs only rough balance, never exactness.
    */
  private[graft] def detectHotSplits(df: DataFrame, key: String,
      ordExpr: Column, buckets: Int, hotThreshold: Long,
      hotOverride: Option[Seq[Any]]): Seq[(Any, Any)] = {
    val rate = 0.01
    val minSampled = math.max(2.0, hotThreshold * rate)
    val probes = array((1 until buckets).map(i =>
      lit(i.toDouble / buckets)): _*)
    val s = df.select(col(key), ordExpr.cast("double").as("__sr_o"))
      .sample(withReplacement = false, rate, seed = 42L)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val hot = hotOverride.getOrElse {
        s.groupBy(col(key)).count()
          .filter(col("count") >= minSampled)
          .orderBy(col("count").desc).limit(64)
          .collect().map(_.get(0)).toSeq
      }.filter(_ != null)
      if (hot.isEmpty) Nil
      else s.filter(isHot(key, hot))
        .groupBy(col(key))
        .agg(percentile_approx(col("__sr_o"), probes, lit(10000)).as("__sr_qs"))
        .collect().map(r => (r.get(0), r.get(1))).toSeq
    } finally { s.unpersist(); () }
  }

  /** Carry-forward — for each (in, out) pair in `carry`, `out` =
    * `last(in, ignoreNulls=true)` over (partition `key` order
    * `orderCols` ROWS unbounded-preceding..current) — without a
    * per-key mega-partition. This is the as-of join's core window
    * (r17, VERDICT r16 #4: q_asof_attribution read 2.3× at sf100skew
    * as the one window-family member with no skew gate).
    *
    * Hot keys (1% probe; none detected ⇒ the plain single-level plan)
    * bucket by per-key value-range splits of `ordExpr` — a NULL-FREE
    * numeric expression ASCENDING IN TRAVERSAL ORDER (callers negate
    * for descending traversals, and must coalesce nulls to the extreme
    * matching `orderCols`' nulls ordering: a bare null ordinal buckets
    * to 0 = first-in-traversal, which silently disagrees with a
    * nulls-LAST sort — the r17 forward as-of defect); since bucketing
    * only needs monotonicity, within-bucket ordering stays on the
    * caller's exact `orderCols`.
    *
    * ONE SCAN, ONE EXCHANGE (r18): every row rides the [[bucketed]]
    * exchange — the previous two-branch shape re-executed the upstream
    * scan (for AsofJoin the full two-sided union) once per branch, and
    * under cold-page-cache windows the gated as-of read 16–158 s
    * across four sessions on identical data while the ungated plan
    * held ~18 s. The carry-in summary over the hot rows is a second
    * consumer of the same exchange, and its ≤64×buckets frame
    * broadcast-LEFT-joins back — cold rows miss it and keep their
    * exact local carry. Exact either way: carry-forward couples a row
    * only to the latest preceding non-null, which lives either in its
    * own bucket (local wins) or in a preceding bucket (the summary's
    * carry-in).
    */
  def chunkedCarry(df: DataFrame, key: String, ordExpr: Column,
      orderCols: Seq[Column], carry: Seq[(String, String)],
      buckets: Int = 16, hotThreshold: Long = 1000000L,
      hotOverride: Option[Seq[Any]] = None): DataFrame = {
    require(buckets >= 1, s"need buckets >= 1, got $buckets")
    val wPlain = Window.partitionBy(col(key)).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def plain(part: DataFrame): DataFrame =
      carry.foldLeft(part.repartition(GlobalRank.rangeWidth(part), col(key))) {
        case (d, (in, out)) =>
          d.withColumn(out, last(col(in), ignoreNulls = true).over(wPlain))
      }
    if (buckets == 1) return plain(df)
    val hotSplits = detectHotSplits(df, key, ordExpr, buckets, hotThreshold,
      hotOverride)
    if (hotSplits.isEmpty) return plain(df)
    val pinned = bucketed(df, key, hotSplits, ordExpr)
    val w1 = Window.partitionBy(col(key), col(srBkt)).orderBy(orderCols: _*)
    val w1f = w1.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // __sr_rn rides the SAME window pass as the carries (one sort) and
    // orders the summary's pick of each bucket's last carry
    val localed = carry.foldLeft(
      pinned.withColumn("__sr_rn", row_number().over(w1))) {
      case (d, (in, out)) =>
        d.withColumn(out, last(col(in), ignoreNulls = true).over(w1f))
    }
    val aggs = carry.map { case (_, out) =>
      max_by(col(out), col("__sr_rn")).as(s"__sr_l_$out") }
    val summ = localed.filter(isHot(key, hotSplits.map(_._1)))
      .groupBy(col(key), col(srBkt))
      .agg(aggs.head, aggs.tail: _*)
    val w2 = Window.partitionBy(col(key)).orderBy(col(srBkt))
      .rowsBetween(Window.unboundedPreceding, -1)
    val fix = carry.foldLeft(summ) { case (d, (_, out)) =>
      d.withColumn(s"__sr_ci_$out",
        last(col(s"__sr_l_$out"), ignoreNulls = true).over(w2))
    }.select((col(key) +: col(srBkt) +: carry.map { case (_, out) =>
      col(s"__sr_ci_$out") }): _*)
    // broadcast LEFT: hot keys × buckets rows — bounded by the 64-key
    // cap; cold rows miss and keep their exact local carry
    carry.foldLeft(localed.join(broadcast(fix), Seq(key, srBkt), "left")) {
      case (d, (_, out)) =>
        d.withColumn(out, coalesce(col(out), col(s"__sr_ci_$out")))
    }.drop((Seq(srBkt, srOrd, "__sr_rn") ++ carry.map { case (_, out) =>
      s"__sr_ci_$out" }): _*)
  }
}
