package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Structured Streaming operators over the events stream (SURVEY.md
  * §2.8). The batch/stream duality is deliberate: `windowedAgg` is the
  * SAME declarative transform for a batch frame and a readStream frame
  * — which is how Structured Streaming is meant to be used, and what
  * lets the correctness gate check streaming semantics via a batch
  * oracle.
  */
object Streams {

  /** Tumbling-window aggregation: count + sum(value) per (window,
    * event_type). On a streaming input add `withWatermark` upstream;
    * state is bounded by the watermark.
    */
  def windowedAgg(df: DataFrame, windowDur: String): DataFrame =
    df.groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))

  /** Streaming variant with watermark (for readStream inputs). */
  def streamingWindowedAgg(stream: DataFrame, windowDur: String, watermark: String): DataFrame =
    windowedAgg(stream.withWatermark("ts", watermark), windowDur)

  /** Hopping (sliding) window aggregation: windows of `windowDur`
    * every `slideDur` — each event lands in windowDur/slideDur
    * overlapping windows. Same single-shuffle groupBy shape as
    * [[windowedAgg]] (the window assignment is a generator expression,
    * not a join); works identically on a watermarked stream.
    */
  def hoppingAgg(df: DataFrame, windowDur: String, slideDur: String): DataFrame =
    df.groupBy(window(col("ts"), windowDur, slideDur), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))

  /** Session-window aggregation via Spark's NATIVE session_window
    * (dynamic gap-merged windows in the groupBy — the declarative
    * sibling of [[sessionize]]'s lag+cumsum and [[statefulSessions]]'
    * explicit state). Works identically on a watermarked stream in
    * update/append mode. Gap semantics: windows merge when
    * next.start <= prev.end (= prev + gap), so an event at exactly
    * prev + gap MERGES — identical to [[sessionize]]'s
    * `diff > gapSeconds` new-session rule.
    */
  def sessionWindowAgg(df: DataFrame, gap: String): DataFrame =
    df.groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("sum_value"))

  /** Batch gap-based sessionization: a new session starts when the gap
    * to the previous event (per user) exceeds `gapSeconds`. Session
    * ids via [[graft.operators.SaltedRuns.numbered]] — the two-level
    * run numbering whose salted sub-windows keep a zipf-head user from
    * becoming one unsplittable window partition (r14 sf10skew measured
    * the single-level plan at 2.1× the uniform corpus: user 1 holds 2M
    * of 10M events). The gap rule reads only epoch SECONDS, so it is
    * invariant to tie order among same-second events — both engines
    * agree regardless of sub-second ordering.
    */
  def sessionize(df: DataFrame, gapSeconds: Long): DataFrame =
    graft.operators.SaltedRuns.numbered(
      df, "user_id", unix_timestamp(col("ts")), Seq(col("event_id")),
      Seq(unix_timestamp(col("ts")).as("__ts_s")),
      (p, c) => c.getField("__ts_s") - p.getField("__ts_s") > gapSeconds,
      "session_idx")

  /** Per-user session summary (batch): sessions and events per user. */
  def sessionSummary(df: DataFrame, gapSeconds: Long): DataFrame =
    sessionize(df, gapSeconds)
      .groupBy(col("user_id"))
      .agg(max(col("session_idx")).cast("long").as("n_sessions"), count(lit(1)).as("n_events"))

  final case class SessionState(sessionStartS: Long, lastSeenS: Long, nEvents: Long)
  final case class SessionOut(userId: Long, nEvents: Long, durationS: Long)

  /** Stateful streaming sessionization via flatMapGroupsWithState:
    * a session closes when a later event for the key arrives past the
    * gap, or (with ProcessingTimeTimeout) when the timeout fires.
    * State per key is O(1). Default NoTimeout keeps emission purely
    * data-driven (deterministic — what the spec asserts); production
    * can pass ProcessingTimeTimeout to also flush idle keys.
    */
  def statefulSessions(events: Dataset[(Long, Long)], gapSeconds: Long,
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), timeout) {
        case (userId, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(userId, s.nEvents, s.lastSeenS - s.sessionStartS))
          } else {
            val ts = rows.map(_._2).toSeq.sorted
            val closed = scala.collection.mutable.Buffer[SessionOut]()
            var st = state.getOption.getOrElse(SessionState(ts.head, ts.head, 0L))
            ts.foreach { t =>
              if (t - st.lastSeenS > gapSeconds) {
                closed += SessionOut(userId, st.nEvents, st.lastSeenS - st.sessionStartS)
                st = SessionState(t, t, 1L)
              } else st = st.copy(lastSeenS = t, nEvents = st.nEvents + 1)
            }
            state.update(st)
            if (timeout == GroupStateTimeout.ProcessingTimeTimeout)
              state.setTimeoutDuration(gapSeconds * 1000)
            closed.iterator
          }
      }
  }

  /** Streaming dedup by key within the watermark window. */
  def streamDedup(stream: DataFrame, watermark: String, keys: Seq[String]): DataFrame =
    stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  // ----- transformWithState (the Spark 4.x arbitrary-state API) -----

  final case class KeyStats(n: Long, total: Double, vMax: Double)
  final case class StatsUpdate(userId: Long, n: Long, total: Double, vMax: Double)

  /** Per-key running statistics on the Spark 4 `transformWithState`
    * API — the successor to [[statefulSessions]]'s
    * flatMapGroupsWithState, with typed named state, native TTL, and
    * timers. State per key is a single [[KeyStats]] row (O(1) — no
    * per-event retention); each microbatch emits the UPDATED cumulative
    * row for every key that received input, so after N batches the
    * latest row per key equals the batch groupBy over all input.
    * Requires the RocksDB state-store provider (`spark.sql.streaming.
    * stateStore.providerClass` — the 100 TB-scale store: state lives
    * off-heap/on-disk per executor, checkpointed incrementally via
    * changelog, never bounded by JVM heap the way the default HDFS-
    * backed in-memory map is).
    */
  class RunningStatsProcessor extends StatefulProcessor[Long, (Long, Double), StatsUpdate] {
    @transient private var st: ValueState[KeyStats] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[KeyStats]("stats", Encoders.product[KeyStats], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
        timers: TimerValues): Iterator[StatsUpdate] = {
      var s = if (st.exists()) st.get() else KeyStats(0L, 0.0, Double.NegativeInfinity)
      rows.foreach { case (_, v) => s = KeyStats(s.n + 1, s.total + v, math.max(s.vMax, v)) }
      st.update(s)
      Iterator.single(StatsUpdate(key, s.n, s.total, s.vMax))
    }
  }

  def runningStatsTws(events: Dataset[(Long, Double)]): Dataset[StatsUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .transformWithState(new RunningStatsProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** TTL'd first-seen dedup via transformWithState: a key passes iff no
    * live state marker exists, and the marker EXPIRES after `ttl` — the
    * "suppress repeats for an hour, then let one through" contract that
    * neither dropDuplicatesWithinWatermark (event-time, watermark-
    * coupled) nor mapGroupsWithState (manual timeout bookkeeping per
    * key) expresses directly; TTL state does it declaratively. State is
    * one boolean per live key and RocksDB evicts expired rows in the
    * background — at 100 TB the live-key working set, not the history,
    * bounds the store.
    */
  class TtlDedupProcessor(ttl: java.time.Duration)
      extends StatefulProcessor[Long, (Long, Double), (Long, Double)] {
    @transient private var seen: ValueState[Boolean] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Boolean]("seen", Encoders.scalaBoolean, TTLConfig(ttl))
    override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
        timers: TimerValues): Iterator[(Long, Double)] = {
      // marker is written only on EMISSION — suppressed repeats do not
      // refresh the TTL, so the contract is "at most one emission per
      // key per ttl window", not "one per quiet period".
      if (!seen.exists() && rows.hasNext) {
        seen.update(true)
        Iterator.single(rows.next())
      } else Iterator.empty
    }
  }

  def ttlDedupTws(events: Dataset[(Long, Double)], ttl: java.time.Duration): Dataset[(Long, Double)] = {
    import events.sparkSession.implicits._
    // TTL state demands ProcessingTime mode (expiry is wall-clock)
    events.groupByKey(_._1)
      .transformWithState(new TtlDedupProcessor(ttl), TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** Streaming INGEST dedup against an already-kept corpus — the
    * streaming twin of [[graft.dedup.Dedup]]'s incremental batch path
    * (q_dedup_incremental): documents arrive as a stream, in-stream
    * repeats are dropped by digest within the watermark (bounded
    * state — the digest is 16 bytes, never the text), and anything
    * already in the static corpus is removed by a digest anti-join.
    * The static side is a digest-only frame: at 100 TB the kept-corpus
    * digests are ~16 bytes/doc, and the join is stream-static (each
    * microbatch probes it; no streaming state grows with corpus size).
    * Emits the surviving novel documents with their digest, ready for
    * the downstream near-dup pass.
    */
  def streamDedupAgainstCorpus(stream: DataFrame, corpus: DataFrame,
      textCol: String, tsCol: String, watermark: String): DataFrame = {
    val dg = org.apache.spark.sql.functions.md5(col(textCol))
    val novel = stream.withColumn("digest", dg)
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("digest")
    novel.join(corpus.select(dg.as("digest")).distinct(), Seq("digest"), "left_anti")
  }

  /** SimHash banding shared by [[simhashDedupSink]]'s corpus index and
    * per-batch probes: (id, sh, b, v) — one row per (doc, band), v =
    * the band's 60/bands bits.
    */
  private[graft] def bandedSimhash(df: DataFrame, idCol: String, textCol: String,
      bands: Int, prefix: String): DataFrame = {
    val w = 60 / bands
    df.select(col(idCol).as(s"${prefix}_id"),
        graft.dedup.Dedup.simhash60(col(textCol)).as(s"${prefix}_sh"))
      .select(col(s"${prefix}_id"), col(s"${prefix}_sh"), explode(array(
        (0 until bands).map(i => struct(lit(i).as("b"),
          shiftright(col(s"${prefix}_sh"), i * w).bitwiseAND(lit((1L << w) - 1)).as("v"))): _*)).as("bd"))
      .select(col(s"${prefix}_id"), col(s"${prefix}_sh"),
        col("bd.b").as("b"), col("bd.v").as("v"))
  }

  /** One microbatch of [[simhashDedupSink]] — exposed so a spec can
    * replay a batch id and assert neither output nor signature rows
    * duplicate. Probes corpus-index ∪ accumulated survivors' `__sh`
    * signature column (own batch's rows EXCLUDED, so a replay sees
    * exactly the state the original run saw), drops in-batch near-dup
    * pairs keeping the min id, then lands survivors WITH their 60-bit
    * simhash (`__sh`) in their own `__batch_part=N` partition (dynamic
    * overwrite — the same idempotency contract as
    * [[writeScoredBatch]]).
    *
    * ONE action per microbatch (r14 — the r13 shape ran a gate count,
    * a checkpoint and two writes): the verify is an inline popcount,
    * so the in-batch self-join folds into the index probe as tagged
    * probe-side rows guarded by `id_old < id_new` (the keep-min rule,
    * same canonicalization as [[minhashDedupBatch]]), the survivors'
    * signature is a single recomputed codegen expression rather than a
    * second table, and AQE's runtime size check replaces the explicit
    * broadcast gate (a bounded batch's band rows broadcast; an
    * unthrottled catch-up batch degrades to the shuffle band join).
    * SimHash is one cheap codegen pass per evaluation, so the batch
    * scan appearing three times in the single plan (probe side, tagged
    * old side, write projection) beats any materialization barrier —
    * unlike the minhash twin, whose 126-permutation signatures justify
    * its persisted shingle frame.
    */
  private[graft] def simhashDedupBatch(corpusIdx: DataFrame, batch: DataFrame,
      batchId: Long, idCol: String, textCol: String, maxDist: Int, bands: Int,
      outPath: String): Unit = {
    val spark = batch.sparkSession
    val bsig = bandedSimhash(ensureWidth(batch), idCol, textCol, bands, "s")
    val outSchema = org.apache.spark.sql.types.StructType(
      batch.schema.fields ++ Seq(
        org.apache.spark.sql.types.StructField("__sh",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("batch_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("__batch_part",
          org.apache.spark.sql.types.LongType)))
    val kept: DataFrame =
      try {
        val t = spark.read.schema(outSchema).parquet(outPath)
          .filter(col("__batch_part") =!= batchId) // replay: pre-own-batch state
        bandedSimhashOf(t.select(col(idCol).as("c_id"), col("__sh").as("c_sh")), bands)
      } catch { case _: org.apache.spark.sql.AnalysisException => corpusIdx.limit(0) }
    // index probe + in-batch keep-min in ONE band join: the old side is
    // corpus ∪ survivors ∪ the batch's own band rows tagged __in_batch
    val oldSide = corpusIdx.unionByName(kept).withColumn("__in_batch", lit(false))
      .unionByName(bsig
        .select(col("s_id").as("c_id"), col("s_sh").as("c_sh"), col("b"), col("v"))
        .withColumn("__in_batch", lit(true)))
    val dropped = bsig.join(oldSide, Seq("b", "v"))
      .filter(!col("__in_batch") || col("c_id") < col("s_id"))
      .filter(bit_count(col("s_sh").bitwiseXOR(col("c_sh"))) <= maxDist)
      .select(col("s_id").as(idCol))
    // repartition(1) before the write (r18, guide §6): the anti-join
    // leaves the batch-bounded survivors on the verify pipeline's wide
    // partitioning, so every microbatch appended ~O(width) tiny files
    // that every LATER batch's kept-index scan re-reads — the drain
    // profile showed the write stage growing 116 → 181 tasks in three
    // batches. One shuffled partition writes one file per batch
    // (file count O(batches), the partitionBy contract's floor) while
    // the shuffle barrier keeps the upstream join width intact;
    // survivors are bounded by the microbatch size. THE BOUND (ADVICE
    // r18): every deployed source here runs maxFilesPerTrigger=1 —
    // one staged file per trigger — so even a replay/backfill drains
    // file-at-a-time and the single write task stays a few MB. A
    // deployment that raises the per-trigger cap should widen this
    // repartition with it (file-count slope trades against write
    // parallelism at O(batch) rows, not O(corpus)).
    batch.join(dropped, Seq(idCol), "left_anti")
      .withColumn("__sh", graft.dedup.Dedup.simhash60(col(textCol)))
      .withColumn("batch_id", lit(batchId))
      .withColumn("__batch_part", lit(batchId))
      .repartition(1)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__batch_part")
      .parquet(outPath)
  }

  /** (c_id, c_sh) → the (c_id, c_sh, b, v) band fan-out over an
    * ALREADY-computed simhash column (the survivors' stored `__sh`).
    */
  private def bandedSimhashOf(sig: DataFrame, bands: Int): DataFrame = {
    val w = 60 / bands
    sig.select(col("c_id"), col("c_sh"), explode(array(
      (0 until bands).map(i => struct(lit(i).as("b"),
        shiftright(col("c_sh"), i * w).bitwiseAND(lit((1L << w) - 1)).as("v"))): _*)).as("bd"))
      .select(col("c_id"), col("c_sh"), col("bd.b").as("b"), col("bd.v").as("v"))
  }

  /** Streaming NEAR-dup filter in Hamming space with a GROWING kept
    * index — the streaming twin of [[graft.dedup.Dedup.simhashNearDup]],
    * with the same pigeonhole guarantee: docs are SimHash-banded
    * (bands > maxDist contiguous bit-bands), joined to the kept index
    * on the 8-byte (band, bits) key, candidates verified by popcount,
    * matches dropped. The kept index is corpus-index ∪ ACCUMULATED
    * SURVIVOR SIGNATURES: each survivor row carries its 60-bit simhash
    * as a `__sh` column on `outPath` (idempotent per batch id; parquet
    * is columnar, so the index probe reads 8 bytes/doc and never the
    * text), so a near-dup of a batch-N survivor arriving in batch N+1
    * is caught — and in-batch near-dup pairs are dropped too (the same
    * band join, keep-min guard). The accumulated side lives in parquet
    * not streaming state, and the per-batch work is ONE band-join
    * query ending in the idempotent write. Deterministic recall (unlike
    * the MinHash twin [[minhashDedupSink]]): a kept doc within maxDist
    * bits is ALWAYS caught. The corpus index is persisted at
    * construction and unpersisted when the query terminates.
    */
  def simhashDedupSink(stream: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, maxDist: Int, bands: Int,
      outPath: String, checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    require(bands > maxDist && 60 % bands == 0,
      s"pigeonhole completeness needs bands > maxDist and bands | 60 (got $bands, $maxDist)")
    val corpusIdx = bandedSimhash(ensureWidth(corpus), idCol, textCol, bands, "c")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val qry = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        simhashDedupBatch(corpusIdx, batch.toDF(), batchId, idCol, textCol,
          maxDist, bands, outPath)
      }
      .start()
    releaseOnTermination(qry, corpusIdx)
    qry
  }

  /** Unpersist `cached` when `qry` terminates (and deregister the
    * listener) — the release path for sinks that pin an index at
    * construction; without it every sink constructed in a long-lived
    * session leaks its cache for the session lifetime.
    */
  private def releaseOnTermination(qry: org.apache.spark.sql.streaming.StreamingQuery,
      cached: DataFrame): Unit = {
    val streams = cached.sparkSession.streams
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.id == qry.id) {
          cached.unpersist()
          streams.removeListener(this)
        }
    }
    streams.addListener(listener)
  }

  /** One microbatch of [[minhashDedupSink]] — exposed for replay specs
    * (same contract as [[simhashDedupBatch]]). The kept-side INDEX is
    * signatures only: `corpusSig` (precomputed once at sink
    * construction) ∪ the accumulated survivors' `__sig` column read
    * back from `outPath` (own batch excluded for replay idempotence) —
    * 8·b·r bytes per kept doc; parquet is columnar, so the index probe
    * never reads the kept corpus's text bytes. Per-batch work is
    * therefore O(batch shingling + batch×index band probe +
    * candidates): survivor TEXT is re-read and re-shingled ONLY for
    * the old ids that actually band-collide with this batch (a
    * semi-join on the candidate ids pushes into the parquet scan),
    * where the previous revision re-shingled the ENTIRE kept corpus
    * every microbatch. Survivors land ONCE, idempotently per batch id:
    * rows + their banded signature (`__sig`) at `outPath` (the batch
    * frame must not already carry a `__sig`/`batch_id` column).
    *
    * `corpusBands` is the corpus index PRE-EXPLODED to (id, band, v)
    * rows (built and persisted once at sink construction), and the
    * candidate join BROADCASTS the batch's band rows when the batch is
    * bounded — via AQE's runtime size check on the band exchange, so an
    * unthrottled catch-up batch degrades to the shuffle band join
    * instead of blowing the broadcast limit: the kept index is probed
    * as a map-side scan of cached/parquet data, never shuffled. The
    * previous shape (generic bipartite band join, hash-shuffled both
    * sides) re-shuffled the entire b-fanned corpus index every
    * microbatch — measured at kept=400k/b=21: 8.4M index rows through
    * the exchange per batch, ~2× the per-batch cost of the broadcast
    * shape.
    */
  private[graft] def minhashDedupBatch(corpusText: DataFrame, corpusSig: DataFrame,
      corpusBands: DataFrame, batch: DataFrame, batchId: Long, idCol: String,
      textCol: String, n: Int,
      b: Int, r: Int, seed: Long, threshold: Double, outPath: String): Unit = {
    import graft.dedup.Dedup
    val spark = batch.sparkSession
    val coeffs = Dedup.permCoeffs(b * r, seed)
    val sc = spark.sparkContext
    // TWO actions per microbatch on the common path (r15; the r14
    // candidate-count action now reads the materialized cache's
    // row-count statistics instead — see below). r13 ran FIVE (gate
    // count, two candidate counts, checkpoint, two writes) plus their
    // AQE sub-stages — ~30 jobs/batch, and the removed MinhashBatchProbe
    // main (`git show d778dfa:src/main/scala/graft/tools/MinhashBatchProbe.scala`)
    // showed the per-batch floor is job count and inter-job planning
    // gaps, not data. The cuts: (1) self-pairs are canonicalized into the same
    // (id_new=dropped, id_old=keeper) shape as the bipartite pairs, so
    // ONE band join + ONE verify join + ONE count replace two of each;
    // (2) survivors carry their OWN signature column (__sig), so one
    // write and one read-back replace two of each; (3) the band-join
    // broadcast gate is AQE's runtime size check, not a count: the
    // batch's band rows arrive through an exchange whose ACTUAL bytes
    // AQE reads before picking broadcast vs shuffled join, so a bounded
    // batch broadcasts and an unthrottled catch-up batch degrades to
    // the shuffle join — the same contract the explicit
    // `batchRows * b <= maxBroadcastBandRows` gate enforced, without
    // paying a dedicated gate job for it.
    val shNew = Dedup.shingled(ensureWidth(batch), idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sigNew = shNew.withColumn("hs", Dedup.shingleHashes(col("sh")))
      .select(col("id"), Dedup.minhashSignature(col("hs"), coeffs).as("sig"))
    // explicit schema on the read-back: schema inference costs a
    // footer-read job per microbatch and the schema is statically known
    // (batch columns + __sig + batch_id + the partition column)
    val outSchema = org.apache.spark.sql.types.StructType(
      batch.schema.fields ++ Seq(
        org.apache.spark.sql.types.StructField("__sig",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)),
        org.apache.spark.sql.types.StructField("batch_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("__batch_part",
          org.apache.spark.sql.types.LongType)))
    val keptTable: Option[DataFrame] =
      try Some(spark.read.schema(outSchema).parquet(outPath)
        .filter(col("__batch_part") =!= batchId)) // replay: pre-own-batch state
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    // the growing index is the __sig COLUMN of the survivors table —
    // parquet is columnar, so the index probe reads 8·b·r bytes/doc and
    // never the text column
    val survSig = keptTable.map(_.select(col(idCol).as("id"), col("__sig").as("sig")))
      .getOrElse(corpusSig.limit(0))
    val bn = Dedup.bandedSigRows(sigNew, b, r)
      .select(col("id").as("id_new"), col("band"), col("v"))
    // ONE band join for BOTH candidate families: the probe side is the
    // kept index (corpus ∪ survivors) PLUS the batch's own band rows
    // tagged __in_batch, guarded by id_old < id_new — which is exactly
    // the in-batch keep-min rule lshCandidatesBanded expresses as a
    // separate self-join (id_a < id_b, drop id_b). Folding it here
    // removes that join and its own distinct — each is an AQE stage,
    // and MinhashBatchProbe (see above) showed the per-batch floor is
    // stage count.
    // Every candidate lands canonicalized as (id_new=dropped candidate,
    // id_old=keeper), so one verify join serves both families.
    val oldBands = corpusBands.unionByName(Dedup.bandedSigRows(survSig, b, r))
      .select(col("id").as("id_old"), col("band"), col("v"))
      .withColumn("__in_batch", lit(false))
      .unionByName(bn
        .select(col("id_new").as("id_old"), col("band"), col("v"))
        .withColumn("__in_batch", lit(true)))
    // persisted: feeds the hitText semi-join and the verify in one
    // output DAG. No broadcast hint: AQE sees the band exchange's
    // runtime size and broadcasts a bounded batch / keeps the shuffle
    // join for an unthrottled catch-up batch (see the header comment)
    val candsAll = bn.join(oldBands, Seq("band", "v"))
      .filter(!col("__in_batch") || col("id_old") < col("id_new"))
      .select(col("id_new"), col("id_old")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // verify side: text of ONLY the band-colliding old ids (batch-side
    // id_olds from self pairs simply miss this semi-join; their
    // shingles come from the shNew union below)
    val keptText = keptTable.map(_.select(col(idCol), col(textCol)))
      .getOrElse(corpusText.select(col(idCol), col(textCol)).limit(0))
    // candidate-ID PUSHDOWN (r16, VERDICT r15 #7): the default
    // left_semi join filters the kept text MAP-SIDE but cannot prune
    // the SCAN — every microbatch reads + decodes the full kept
    // corpus's text bytes (O(kept) IO per batch; the growing-index
    // claim covers the signature probe, not this verify read). When
    // enabled, the candidate id_old set is collected (bounded: only
    // when the exact pair count stays under the literal-list cap) and
    // pushed as an `isin` predicate, which reaches the parquet footer
    // (row-group + page pruning on the usually-ordered id column
    // skips the text pages of non-candidates). Costs one extra job
    // per microbatch (the count doubles as the cache materializer the
    // checkpoint scan provides on the default path); over the cap it
    // falls back to the semi join. Measured (STREAMING.md r16,
    // id-sorted parquet corpus): kept=4M/batch=1000 15.0 → 9.8
    // s/batch; parity at batch=4000 where candidates exceed the cap.
    // Session conf first (spec-settable), env as the deploy override.
    val pushdownOn = spark.conf.getOption("spark.graft.mh.idPushdown")
      .orElse(sys.env.get("SPARK_GRAFT_MH_ID_PUSHDOWN"))
      .contains("1")
    val pushIds: Option[Array[Any]] =
      if (!pushdownOn) None
      else {
        sc.setJobDescription(s"mh[$batchId] candidate id collect (id-pushdown gate)")
        // gate on DISTINCT keeper ids, not raw pair count (r17): many
        // pairs sharing few keeper ids used to fall back to the semi
        // join even though the pushed literal list would have been
        // small. limit(cap+1) bounds the driver regardless of the pair
        // count; the distinct's full scan of candsAll doubles as the
        // cache materializer the old count job provided.
        val cap = 5000
        val ids = candsAll.select(col("id_old")).distinct().limit(cap + 1).collect()
        if (ids.length > cap) None // literal-list cap: plan bloat + driver bound
        else Some(ids.map(_.get(0)))
      }
    // engagement is otherwise invisible from outside (r18: the 4M A/B
    // could not tell "engaged, no win" from "fell back") — one line
    // per batch, only when the opt-in knob is on
    if (pushdownOn) println(s"mh[$batchId] id-pushdown " +
      pushIds.map(i => s"ENGAGED n_keeper_ids=${i.length}")
        .getOrElse("FALLBACK: distinct keeper ids > cap"))
    val hitTextBase = corpusText.select(col(idCol), col(textCol)).unionByName(keptText)
    val hitText = pushIds match {
      case Some(ids) if ids.isEmpty => hitTextBase.filter(lit(false))
      case Some(ids) => hitTextBase.filter(col(idCol).isin(ids: _*))
      case None => hitTextBase
        .join(candsAll.select(col("id_old").as(idCol)), Seq(idCol), "left_semi")
    }
    // action 2 — MATERIALIZED (eager, bounded by the candidate set):
    // without the checkpoint boundary the optimizer collapses the
    // shingle projection into the verify join's inferred/pushed
    // predicates, and the interpreted higher-order shingling expression
    // re-evaluates per CORPUS row inside a Filter — measured 20 s/
    // microbatch over a 50k kept corpus vs <2 s with the boundary
    // (MinhashBatchProbe, see above). UNCONDITIONAL repartition, not ensureWidth:
    // reading the partition count off this AQE plan would finalize
    // (i.e. EXECUTE) the whole union+semi-join once and the checkpoint
    // would run it again. The shuffle moves only candidate-bounded text
    // once and gives the shingle stage full width.
    // (measured r14: folding this checkpoint into the write query made
    // batches SLOWER — 4.4-5.3 s vs 3.1-4.4 s — because the unbarriered
    // shingle subtree re-evaluates across several AQE query stages)
    // action 1 — the checkpoint job's semi-join scans candsAll FULLY,
    // so it also MATERIALIZES the candidate cache (r13 ran a dedicated
    // count action first; relying on the WRITE query to materialize
    // was the observed-to-MISS case — the candidate pipeline re-ran
    // inside a 1-task AQE-coalesced stage, 1-2 CPU-s per batch,
    // MinhashBatchProbe r14, see above. This scan precedes every other consumer,
    // so the guarantee holds without the count's job.)
    sc.setJobDescription(s"mh[$batchId] candidate text checkpoint")
    val shOld = Dedup.shingled(
      hitText.repartition(sc.defaultParallelism), idCol, textCol, n)
      .localCheckpoint()
    // pair count WITHOUT a dedicated job (r15; the r14 count action
    // existed only to size the verify width + force the cache): the
    // now-materialized InMemoryRelation carries an EXACT row-count
    // accumulator — read it off a fresh plan (the cache-lookup rewrite
    // substitutes the relation), falling back to the counting job if
    // the cache is somehow not loaded. Width is a performance knob, so
    // either path is correct; the stats path saves one whole
    // job + planning gap per microbatch (the profiled per-batch floor).
    // NOT exact: the cache-build accumulator can OVER-count if cached
    // partitions recompute after eviction or task retry. Width is a
    // performance knob (pairVerifyWidth caps at the AQE start width), so an
    // inflated count costs at most extra small partitions, never
    // correctness — do not treat this value as a row count elsewhere.
    val nPairs = candsAll.where(lit(true)).queryExecution.optimizedPlan
      .collectFirst {
        case im: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
          im.stats.rowCount
      }.flatten.map(_.toLong).getOrElse {
        sc.setJobDescription(s"mh[$batchId] candidate count fallback")
        candsAll.count()
      }
    // EXPLICIT verify width, sized from the PAIR COUNT: the candidate
    // frame is a few MB of id pairs, so AQE size-coalesces its exchange
    // to 1-2 partitions — blind to the quadratic per-row shingle-
    // intersection cost of the verify join that inherits the width
    // (measured 10.8 s on 2 of 32 cores per microbatch at sf0.1).
    // repartition-by-num is exempt from AQE coalescing. Pinned by
    // id_new ALONE: the verify's first join key, so the pin's
    // distribution survives even the shuffle fallback (a (id_new,
    // id_old) pin satisfied neither join key and was lost exactly when
    // the quadratic verify cost was largest).
    val cands = candsAll.repartition(verifyWidth(spark, nPairs), col("id_new"))
    // id_old shingles: kept/corpus docs from the checkpoint, batch docs
    // (self-pair keepers) from the batch's own cached shingles
    val dropped = Dedup
      .verifyJaccardBipartite(cands, shNew, shOld.unionByName(shNew), threshold)
      .select(col("id_new").as(idCol))
    // action 2: one idempotent write — survivors WITH their signature
    // column, each batch in its own __batch_part=N partition (dynamic
    // overwrite, same replay contract as before). No distinct on
    // `dropped`: the anti-join's build side dedups in its hash relation
    sc.setJobDescription(s"mh[$batchId] verify + survivors write")
    // repartition(1): see simhashDedupBatch — one file per batch
    // instead of O(verify width) tiny files whose count every later
    // batch's kept-table scan pays; the shuffle barrier keeps the
    // verify join's pinned width intact upstream.
    batch.join(dropped, Seq(idCol), "left_anti")
      .join(sigNew.select(col("id").as(idCol), col("sig").as("__sig")), Seq(idCol), "left")
      .withColumn("batch_id", lit(batchId))
      .withColumn("__batch_part", lit(batchId))
      .repartition(1)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__batch_part")
      .parquet(outPath)
    candsAll.unpersist()
    shNew.unpersist()
    sc.setJobDescription(null)
    ()
  }

  /** Floor a frame's partition count at cluster parallelism before a
    * compute-heavy per-row stage: a file-source microbatch arrives as
    * ONE staged file (1-2 splits), and a small corpus parquet is a
    * single split — so shingling + md5 minhashing would run 2-wide on
    * a 32-core cluster (measured: 15 s of a 40 s drain in one 2-task
    * stage). The shuffle moves only the bounded batch/corpus text once.
    */
  private[graft] def ensureWidth(df: DataFrame): DataFrame = {
    val floor = df.sparkSession.sparkContext.defaultParallelism
    // `df.rdd` compiles a SECOND QueryExecution (the deserialize-to-Row
    // one) per call — measurable per-batch planning overhead on the hot
    // streaming path (2-3 calls per microbatch). Read the partitioning
    // off the existing executed plan when it is known (localCheckpoint'd
    // batch frames), and fall back to the SAME QueryExecution's RDD
    // (toRdd — no second compile) for file scans, whose
    // outputPartitioning is UnknownPartitioning(0) until split
    // enumeration.
    val known = df.queryExecution.executedPlan.outputPartitioning.numPartitions
    val parts = if (known > 0) known else df.queryExecution.toRdd.getNumPartitions
    if (parts < floor) df.repartition(floor) else df
  }

  /** Verify-stage width for a candidate-pair frame — delegates to
    * [[graft.dedup.Dedup.pairVerifyWidth]], the shared sizing the
    * batch-library banded arms use too.
    */
  private[graft] def verifyWidth(spark: SparkSession, pairs: Long): Int =
    graft.dedup.Dedup.pairVerifyWidth(spark, pairs)

  /** Broadcast gate for the per-batch band probes: batch×bands rows at
    * ~28 bytes/row ≈ 60 MB at the gate — far under the 8 GB broadcast
    * hard limit but bounded, so an unthrottled catch-up microbatch
    * falls back to the shuffle band join instead of OOMing the driver.
    */
  private val maxBroadcastBandRows = 2L << 20

  /** Streaming near-dup filter in JACCARD space — the MinHash twin of
    * [[simhashDedupSink]], for the near-dups simhash misses: token
    * REPLACEMENTS barely move set overlap (high shingle Jaccard) but
    * flip many simhash bits (every replaced token shifts all 60 bit
    * sums), so a J ≥ threshold pair can sit far outside any Hamming
    * budget. Each microbatch runs
    * [[graft.dedup.Dedup.minhashNearDupBipartite]] against corpus ∪
    * accumulated survivors (read back from the output table — growing
    * index for free), plus an in-batch [[graft.dedup.Dedup.minhashNearDup]]
    * pass keeping the min id, landing idempotently per batch id.
    * Probabilistic recall ((1−t^r)^b miss bound — b×r banding, the
    * S-curve geometry the r10 sweep proved r=1 needs) where the simhash
    * twin is deterministic — run both sinks in sequence for the full
    * production shape (Hamming then Jaccard). All growing state is the
    * survivor rows themselves plus their SIGNATURES (the 8·b·r-byte
    * `__sig` column on `outPath` — columnar, so index probes never
    * read the text bytes); the kept corpus's text is touched per batch
    * only for ids that band-collide with the batch (see
    * [[minhashDedupBatch]]). The corpus signature index is computed
    * once at construction, persisted, and released on termination.
    */
  def minhashDedupSink(stream: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, n: Int, b: Int, r: Int, seed: Long,
      threshold: Double, outPath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.dedup.Dedup
    val corpusText = corpus.select(col(idCol), col(textCol))
    // width-floored: a single-split corpus parquet would otherwise
    // shingle+minhash 1-wide at construction (see [[ensureWidth]])
    val corpusSig = Dedup.shingled(ensureWidth(corpus), idCol, textCol, n)
      .withColumn("hs", Dedup.shingleHashes(col("sh")))
      .select(col("id"), Dedup.minhashSignature(col("hs"), Dedup.permCoeffs(b * r, seed)).as("sig"))
    // cache the index BANDED: per-batch probes scan these (id, band, v)
    // rows map-side (batch side broadcast) — caching the unexploded
    // sigs instead would re-run the b×xxhash band fan-out per batch
    val corpusBands = Dedup.bandedSigRows(corpusSig, b, r)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val qry = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        minhashDedupBatch(corpusText, corpusSig, corpusBands, batch.toDF(), batchId,
          idCol, textCol, n, b, r, seed, threshold, outPath)
      }
      .start()
    releaseOnTermination(qry, corpusBands)
    qry
  }

  /** Streaming model-scoring sink — the Spark-native seat of the
    * reference's online scoring API (reference: inference/api_server.py
    * FastAPI predict endpoint; SURVEY §1 scopes the HTTP server out,
    * this is the engine-side equivalent): every microbatch runs through
    * the deployed champion bundle (model → calibrated score → tuned
    * threshold) and lands as parquet. foreachBatch is at-least-once, so
    * exactly-once output comes from making the write IDEMPOTENT per
    * batch: each batch lands in its own `batch_id=N` partition via
    * dynamic partition overwrite, so a replayed batch overwrites its own
    * partition instead of appending duplicates. The scoring itself is
    * the same column algebra as batch (Deployment.Bundle.score), so
    * online and offline predictions can never diverge.
    */
  def scoringSink(stream: DataFrame, bundle: graft.ml.Deployment.Bundle,
      featureArrayCol: String, outPath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        writeScoredBatch(bundle, batch, featureArrayCol, outPath, batchId)
      }
      .start()

  /** [[scoringSink]] behind a [[graft.features.FeatureSchema]] gate —
    * the streaming seat of the reference's request validation
    * (api_server.py:96-131): each microbatch splits into clean rows
    * (scored and landed exactly as [[scoringSink]] does) and malformed
    * rows (landed under `quarantinePath` with per-row violation
    * reasons, idempotent per batch id the same way). A poisoned record
    * quarantines instead of killing the query. The two writes run side
    * by side as [[graft.Lanes]]; the batch completes once both landed.
    */
  def scoringSinkValidated(stream: DataFrame, bundle: graft.ml.Deployment.Bundle,
      featureArrayCol: String, rules: Seq[graft.features.FeatureSchema.Rule],
      outPath: String, quarantinePath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val split = graft.features.FeatureSchema.validate(batch, rules)
        graft.Lanes.all(Seq(
          () => split.quarantine
            .withColumn("batch_id", lit(batchId))
            .withColumn("__batch_part", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch_part")
            .parquet(quarantinePath),
          () => writeScoredBatch(bundle, split.ok, featureArrayCol, outPath, batchId)))
        ()
      }
      .start()

  /** The idempotent per-batch write behind [[scoringSink]] (exposed so a
    * spec can replay a batch id and assert no duplicates). Dynamic
    * partition overwrite replaces ONLY the partitions present in this
    * batch's data — i.e. its own `__batch_part=N` directory — leaving
    * prior batches untouched; the STATIC default would wipe the whole
    * table. The partition column is a SEPARATE internal copy of the id:
    * partition-column type inference would read a `batch_id` partition
    * back as int, silently changing the long data column consumers of
    * the pre-partitioned layout already bind to.
    */
  private[graft] def writeScoredBatch(bundle: graft.ml.Deployment.Bundle,
      batch: Dataset[org.apache.spark.sql.Row], featureArrayCol: String,
      outPath: String, batchId: Long): Unit =
    bundle.score(batch, featureArrayCol)
      .withColumn("batch_id", lit(batchId))
      .withColumn("__batch_part", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__batch_part")
      .parquet(outPath)

  /** Per-microbatch drift monitor — the streaming seat of
    * [[graft.ml.Evaluator.psiByFeature]]'s refresh-time sweep. The
    * baseline is fit ONCE at sink construction
    * ([[graft.ml.Evaluator.fitDriftBaseline]] — quantile edges +
    * reference bin proportions, O(features × bins) driver state), so
    * each microbatch costs one pass over that batch only: melt →
    * broadcast edge join → one hash agg → an O(cells) driver fold.
    * Rows (batch_id, feature, psi, n_ref, n_cur) land idempotently per
    * batch id (same dynamic-partition-overwrite contract as
    * [[scoringSink]]) — the table a threshold alert reads.
    */
  def driftMonitorSink(stream: DataFrame, baseline: DataFrame,
      features: Seq[String], outPath: String, checkpoint: String,
      probs: Seq[Double] = Seq(0.25, 0.5, 0.75)): org.apache.spark.sql.streaming.StreamingQuery = {
    val base = graft.ml.Evaluator.fitDriftBaseline(baseline, features, probs)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.ml.Evaluator.psiAgainstBaseline(batch, base)
          .withColumn("batch_id", lit(batchId))
          .withColumn("__batch_part", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("__batch_part")
          .parquet(outPath)
      }
      .start()
  }

  /** Stream-stream inner join with an event-time bound: a left event
    * joins right events on `key` whose `ts` falls in
    * [left.ts, left.ts + within] — the canonical impressions⋈clicks
    * attribution shape. BOTH sides carry watermarks and the join
    * condition carries the time range, which is what lets Spark purge
    * join state once the watermark passes the bound (without it,
    * stream-stream join state grows forever).
    */
  def streamStreamJoin(left: DataFrame, right: DataFrame, key: String,
      watermark: String, within: String): DataFrame = {
    // the right side's key/ts are pre-renamed so the output carries ONE
    // key column and distinct ts columns — identical names would make
    // any downstream select-by-name an ambiguous-column analysis error
    val l = left.withWatermark("ts", watermark)
    val r = right
      .withColumnRenamed(key, "__rk").withColumnRenamed("ts", "right_ts")
      .withWatermark("right_ts", watermark)
    l.join(r, expr(
        s"$key = __rk AND right_ts >= ts AND right_ts <= ts + interval $within"))
      .drop("__rk")
  }
}
