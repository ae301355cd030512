package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.SaltedRuns

/** The skew-adaptive run-collapse operator must equal the single-level
  * window EXACTLY on both of its paths — run numbering couples only
  * adjacent rows, so the salted decomposition (local sub-windows +
  * boundary repair) is lossless by construction; these specs pin it on
  * data with a zipf head, cross-bucket runs, and order-key ties, and
  * pin the PLAN contract: no hot keys → the r13 single-level pinned
  * window, zero overhead; hot keys → only they take the salted path.
  */
class SaltedRunsSpec extends SparkSpec {
  import spark.implicits._

  // zipf head: key 1 holds half the rows; values repeat in runs so
  // run boundaries land INSIDE and ACROSS quantile buckets; ties in
  // the order key exercise the same-bucket guarantee
  private def mkRows(n: Int, seed: Int): Seq[(Long, Long, Long, String)] = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map { i =>
      val key = if (rnd.nextBoolean()) 1L else 2L + rnd.nextInt(5)
      val ord = (rnd.nextInt(n / 4) + 1).toLong // many ties
      val v = s"p${rnd.nextInt(3)}"
      (key, ord, i.toLong, v) // i = unique tiebreak
    }
  }

  test("numbered equals the single-level window on both paths (hot key, ties)") {
    for ((buckets, thresh) <- Seq((1, 50L), (4, 50L), (16, 50L), (16, 1000000L))) {
      val df = mkRows(2000, seed = 7 + buckets).toDF("k", "ord", "tie", "v")
      val w = Window.partitionBy($"k").orderBy($"ord", $"tie")
      val expected = df
        .withColumn("chg", when(lag($"v", 1).over(w).isNull ||
          lag($"v", 1).over(w) =!= $"v", 1L).otherwise(0L))
        .withColumn("run", sum($"chg").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select($"k", $"ord", $"tie", $"v", $"run")
      val got = SaltedRuns.numbered(df, "k", $"ord", Seq($"tie"), Seq($"v"),
        (p, c) => p.getField("v") =!= c.getField("v"), "run",
        buckets = buckets, hotThreshold = thresh)
        .select($"k", $"ord", $"tie", $"v", $"run")
      assert(got.except(expected).isEmpty && expected.except(got).isEmpty,
        s"buckets=$buckets thresh=$thresh: run numbers diverge from the window")
    }
  }

  test("numbered repairs a run spanning several buckets into one number") {
    // one hot key, constant value: however the quantile splits fall,
    // the whole stream is ONE run — every bucket boundary must merge
    val df = (1 to 500).map(i => (9L, i.toLong, i.toLong, "same"))
      .toDF("k", "ord", "tie", "v")
    val got = SaltedRuns.numbered(df, "k", $"ord", Seq($"tie"), Seq($"v"),
      (p, c) => p.getField("v") =!= c.getField("v"), "run",
      buckets = 8, hotThreshold = 50L)
    assert(got.select($"run").distinct().as[Long].collect().toSeq == Seq(1L))
  }

  test("per-key splits: a concentrated hot key still spreads across buckets") {
    // the r14 documented limit, now closed: key 1 lives in a NARROW
    // order range [0,100) while key 2 spans [1000, 1e6] — POOLED
    // quantiles over the union would land all of key 1 below the first
    // split (~1 bucket = single-level for exactly the straggler key);
    // per-key quantiles split each key's own stream regardless
    val rows = (1 to 1000).map(i => (1L, (i % 100).toLong, i.toLong, s"p${i % 3}")) ++
      (1 to 1000).map(i => (2L, (i * 1000).toLong, (10000 + i).toLong, s"p${i % 3}"))
    val df = rows.toDF("k", "ord", "tie", "v")
    val sp = SaltedRuns.perKeySplits(
      df.withColumn("__sr_ord", $"ord".cast("double")), "k", "__sr_ord", 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(sp(1L).distinct.size >= 4 && sp(1L).max <= 100.0,
      s"key 1 splits must cover its own narrow range: ${sp(1L)}")
    assert(sp(2L).distinct.size >= 4 && sp(2L).min >= 1000.0,
      s"key 2 splits must cover its own wide range: ${sp(2L)}")
    // exactness on the adversarial fixture, both keys forced hot
    val w = Window.partitionBy($"k").orderBy($"ord", $"tie")
    val expected = df
      .withColumn("chg", when(lag($"v", 1).over(w).isNull ||
        lag($"v", 1).over(w) =!= $"v", 1L).otherwise(0L))
      .withColumn("run", sum($"chg").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"k", $"ord", $"tie", $"v", $"run")
    val got = SaltedRuns.numbered(df, "k", $"ord", Seq($"tie"), Seq($"v"),
      (p, c) => p.getField("v") =!= c.getField("v"), "run",
      buckets = 8, hotThreshold = 50L)
      .select($"k", $"ord", $"tie", $"v", $"run")
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty,
      "per-key-split salted path diverges from the window on the concentrated fixture")
  }

  test("chunkedLead equals lead across chunk boundaries, empty chunks, null values") {
    // seq has gaps (empty chunks at chunkSize=4); key 1 forced hot so
    // the chunked path is exercised, key 2 stays on the plain window.
    // Null values land mid-chunk (seq 2 — its PREDECESSOR's lead must
    // be null, not the next chunk's first value) and at a chunk's
    // first row (seq 17 — the previous chunk's last row must receive
    // null, not skip ahead): lead dispatches on row-existence, never
    // on value-nullness
    val rows = Seq(
      (1L, 1L, Some(10.0)), (1L, 2L, None), (1L, 3L, Some(30.0)), (1L, 5L, Some(50.0)),
      (1L, 9L, Some(90.0)), (1L, 17L, None), // chunks 0,0,0,1,2,4 — chunk 3 empty
      (1L, 18L, Some(180.0)), (1L, 19L, Some(190.0)), (1L, 20L, Some(200.0)), (1L, 21L, Some(210.0)),
      (2L, 4L, Some(4.0)), (2L, 8L, Some(8.0)))
      .toDF("k", "seq", "vf")
    val w = Window.partitionBy($"k").orderBy($"seq")
    val expected = rows.withColumn("nxt", lead($"vf", 1).over(w))
      .select($"k", $"seq", $"nxt")
    val got = SaltedRuns.chunkedLead(rows, "k", $"seq", $"vf", "nxt",
      chunkSize = 4L, hotThreshold = 2L)
    val exp = expected.collect().map(r => (r.getLong(0), r.getLong(1),
      Option(r.get(2)))).toSet
    val act = got.select($"k", $"seq", $"nxt").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)))).toSet
    assert(act == exp, s"chunkedLead diverges: $act vs $exp")
  }

  test("chunkedRowsAgg equals the single-level ROWS-frame window across chunk boundaries") {
    val rnd = new scala.util.Random(11)
    val rows = (1 to 1200).map { i =>
      val key = if (rnd.nextBoolean()) 1L else 2L + rnd.nextInt(3)
      (key, (rnd.nextInt(300) + 1).toLong, i.toLong, rnd.nextInt(100).toDouble)
    }.toDF("k", "ord", "tie", "v")
    val w = Window.partitionBy($"k").orderBy($"ord", $"tie")
      .rowsBetween(-3, Window.currentRow)
    val expected = rows.withColumn("mavg", avg($"v").over(w))
      .select($"k", $"ord", $"tie", round($"mavg", 9).as("mavg"))
    // chunkSize 16 forces MANY chunk boundaries; threshold 50 forces
    // the hot path for key 1 (~600 rows)
    val got = SaltedRuns.chunkedRowsAgg(rows, "k", $"ord", Seq($"tie"), k = 3,
      wd => avg($"v").over(wd), "mavg", chunkSize = 16L, hotThreshold = 50L)
      .select($"k", $"ord", $"tie", round($"mavg", 9).as("mavg"))
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty,
      "chunked ROWS-frame agg diverges from the single-level window")
    assert(got.count() === rows.count(), "context rows leaked into the output")
  }

  test("null keys survive the hot/cold split and number like the window") {
    // r15 find: bare isInCollection(hot) is NULL for a null key, which
    // BOTH branch filters drop — null-key rows silently vanished
    // whenever any hot key existed, while WindowExec groups nulls like
    // any key. The split is null-safe now (nulls ride the cold branch;
    // a "hot" null group stays single-level by design).
    val rows: Seq[(Option[Long], Long, Long, String)] =
      (1 to 400).map(i => (Some(1L), (i % 50).toLong, i.toLong, s"p${i % 2}")) ++
      (1 to 30).map(i => (None, i.toLong, (1000 + i).toLong, s"p${i % 3}")) ++
      (1 to 30).map(i => (Some(5L), i.toLong, (2000 + i).toLong, s"p${i % 2}"))
    val df = rows.toDF("k", "ord", "tie", "v")
    val w = Window.partitionBy($"k").orderBy($"ord", $"tie")
    val expected = df
      .withColumn("chg", when(lag($"v", 1).over(w).isNull ||
        lag($"v", 1).over(w) =!= $"v", 1L).otherwise(0L))
      .withColumn("run", sum($"chg").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"k", $"ord", $"tie", $"v", $"run")
    val got = SaltedRuns.numbered(df, "k", $"ord", Seq($"tie"), Seq($"v"),
      (p, c) => p.getField("v") =!= c.getField("v"), "run",
      buckets = 8, hotThreshold = 100L) // key 1 hot, null + key 5 cold
      .select($"k", $"ord", $"tie", $"v", $"run")
    assert(got.count() === df.count(), "null-key rows were dropped by the split")
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty,
      "null-key runs diverge from the window")
    // chunkedLead: same null-safety contract
    val ld = SaltedRuns.chunkedLead(df, "k", $"tie", $"ord".cast("double"), "nxt",
      chunkSize = 64L, hotThreshold = 100L)
    assert(ld.count() === df.count(), "chunkedLead dropped null-key rows")
  }

  test("plan contract: hot keys split (key, bucket)-wide; none -> r13 single-level") {
    val df = mkRows(2000, seed = 3).toDF("k", "ord", "tie", "v")
    // forced-hot: the salted branch's (key, bucket) repartition shows
    val hotPlan = SaltedRuns.numbered(df, "k", $"ord", Seq($"tie"), Seq($"v"),
      (p, c) => p.getField("v") =!= c.getField("v"), "run",
      buckets = 16, hotThreshold = 50L)
      .queryExecution.executedPlan.toString
    assert(hotPlan.contains("REPARTITION_BY_NUM"), hotPlan.take(800))
    assert(hotPlan.contains("__sr_b"), "salted bucket column missing from hot plan")
    // default threshold: nothing is hot at 2k rows — the plan must be
    // the plain pinned window with ZERO salting machinery (the r14
    // measured rejection: unconditional salting ran uniform sf10
    // q_scd2 at 20.7 s vs 6.0 s)
    val coldPlan = SaltedRuns.numbered(df, "k", $"ord", Seq($"tie"), Seq($"v"),
      (p, c) => p.getField("v") =!= c.getField("v"), "run")
      .queryExecution.executedPlan.toString
    assert(coldPlan.contains("REPARTITION_BY_NUM"), coldPlan.take(800))
    assert(!coldPlan.contains("__sr_b"),
      "cold path must carry no salting machinery")
  }

  // ADVICE r18: the one-exchange guarantee rests on ReuseExchange
  // canonicalizing the independently-built consumer subtrees of the
  // (key, bucket) shuffle; if a future edit de-canonicalizes one
  // consumer, the whole upstream silently re-executes per consumer —
  // the measured 2-4x fork (q_scd2 62.5 s vs 15.4 at sf10skew). These
  // executed-plan assertions guard it.
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
  import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}

  private def shuffleStages(df: org.apache.spark.sql.DataFrame): Seq[ShuffleQueryStageExec] = {
    df.collect() // finalize the adaptive plan
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // query stages are leaf nodes — recurse into their plans (the
    // reused instance of the one exchange typically sits under the
    // boundary-repair BROADCAST stage's subtree)
    def rec(p: SparkPlan): Seq[QueryStageExec] = {
      val here = p.collect { case s: QueryStageExec => s }
      here ++ here.flatMap(s => rec(s.plan))
    }
    rec(root).collect { case s: ShuffleQueryStageExec => s }
  }

  test("one-exchange contract: numbered's hot path runs ONE real shuffle + ReusedExchange") {
    val df = mkRows(2000, seed = 21).toDF("k", "ord", "tie", "v")
    val out = SaltedRuns.numbered(df, "k", $"ord", Seq($"tie"), Seq($"v"),
      (p, c) => p.getField("v") =!= c.getField("v"), "run",
      buckets = 8, hotThreshold = 50L)
    val stages = shuffleStages(out)
    val real = stages.map(_.plan).collect { case e: ShuffleExchangeLike => e }
    val reused = stages.map(_.plan).collect { case r: ReusedExchangeExec => r }
    // exactly ONE data exchange — (key, __sr_b) — plus the O(hot keys ×
    // buckets) summary-repair window's own tiny key exchange
    assert(real.count(_.outputPartitioning.toString.contains("__sr_b")) == 1,
      s"hot path must run exactly ONE (key, bucket) data shuffle:\n${real.mkString("\n")}")
    assert(real.size == 2,
      s"hot path must run one data + one summary shuffle, got ${real.size}: ${real.map(_.nodeName)}")
    assert(reused.exists(_.outputPartitioning.toString.contains("__sr_b")),
      "boundary-repair summary must REUSE the (key, bucket) exchange, not fork it")
  }

  test("one-exchange contract: chunkedRowsAgg's hot path runs TWO real shuffles, numbering reused") {
    val rnd = new scala.util.Random(31)
    val rows = (1 to 1500).map { i =>
      val key = if (rnd.nextBoolean()) 1L else 2L + rnd.nextInt(3)
      (key, (rnd.nextInt(300) + 1).toLong, i.toLong, rnd.nextInt(100).toDouble)
    }.toDF("k", "ord", "tie", "v")
    val out = SaltedRuns.chunkedRowsAgg(rows, "k", $"ord", Seq($"tie"), k = 3,
      wd => avg($"v").over(wd), "mavg", chunkSize = 64L, hotThreshold = 50L)
    val stages = shuffleStages(out)
    val real = stages.map(_.plan).collect { case e: ShuffleExchangeLike => e }
    val reused = stages.map(_.plan).collect { case r: ReusedExchangeExec => r }
    // exactly ONE (key, __sr_b) numbering exchange + the (key, __sr_ck)
    // chunk exchange + the summary-repair window's tiny key exchange
    assert(real.count(_.outputPartitioning.toString.contains("__sr_b")) == 1,
      s"chunked ROWS agg must run exactly ONE numbering data shuffle:\n${real.mkString("\n")}")
    assert(real.size == 3,
      s"chunked ROWS agg must run numbering + chunk + summary shuffles, got ${real.size}")
    assert(reused.exists(_.outputPartitioning.toString.contains("__sr_b")),
      "base/context/summary must REUSE the numbering exchange, not fork it")
  }

  test("one-exchange contract: chunkedCarry's hot path reuses its (key, bucket) exchange") {
    // payload column `p` is read by neither the carry nor the order —
    // exactly the column-pruning fork trigger the prune barrier exists for
    val rows = (1 to 1500).map { i =>
      val key = if (i % 3 == 0) 2L else 1L
      (key, i.toLong, if (i % 5 == 0) Some(i.toDouble) else None, s"payload$i")
    }.toDF("k", "ts", "x", "p")
    val out = SaltedRuns.chunkedCarry(rows, "k", $"ts", Seq($"ts"),
      Seq("x" -> "x_c"), buckets = 8, hotThreshold = 50L)
    val stages = shuffleStages(out)
    val real = stages.map(_.plan).collect { case e: ShuffleExchangeLike => e }
    val reused = stages.map(_.plan).collect { case r: ReusedExchangeExec => r }
    assert(real.count(_.outputPartitioning.toString.contains("__sr_b")) == 1,
      s"chunkedCarry must run exactly ONE (key, bucket) data shuffle:\n${real.mkString("\n")}")
    assert(reused.exists(_.outputPartitioning.toString.contains("__sr_b")),
      "carry summary must REUSE the (key, bucket) exchange, not fork it")
    // exactness with the unreferenced payload column present
    val w = Window.partitionBy($"k").orderBy($"ts")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expected = rows.withColumn("x_c", last($"x", ignoreNulls = true).over(w))
    assert(out.select($"k", $"ts", $"x_c").except(
      expected.select($"k", $"ts", $"x_c")).isEmpty,
      "chunkedCarry diverges from the plain carry window")
  }

  // The one-exchange contract on the inputs that used to fork it: a
  // nullable key with null rows, a payload column no operator reads,
  // and a map-typed column. The frame is read from parquet: an
  // in-memory frame with a map column plans as LocalRelations whose
  // map rows never compare equal, so it would reuse no exchange at all.
  private lazy val forkProne: org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(41)
    val rows = (1 to 1500).map { i =>
      val key: Option[Long] =
        if (i % 40 == 0) None else if (rnd.nextBoolean()) Some(1L) else Some(2L + rnd.nextInt(3))
      (key, (rnd.nextInt(300) + 1).toLong, i.toLong, s"p${rnd.nextInt(3)}",
        if (i % 4 == 0) None else Some(rnd.nextInt(100).toDouble),
        s"payload$i", Map(s"m${i % 7}" -> i))
    }
    val dir = java.nio.file.Files.createTempDirectory("saltedruns").resolve("fork").toString
    rows.toDF("k", "ord", "tie", "v", "x", "p", "m").write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def assertOneBucketExchange(out: org.apache.spark.sql.DataFrame,
      bucketCol: String): Unit = {
    val plans = shuffleStages(out).map(_.plan)
    val real = plans.collect {
      case e: ShuffleExchangeLike if e.outputPartitioning.toString.contains(bucketCol) => e }
    val reused = plans.collect {
      case r: ReusedExchangeExec if r.outputPartitioning.toString.contains(bucketCol) => r }
    assert(real.size == 1,
      s"expected ONE (key, $bucketCol) data shuffle, got ${real.size}:\n${real.mkString("\n")}")
    assert(reused.nonEmpty, s"the (key, $bucketCol) exchange must be REUSED, not forked")
  }

  private def assertSameRows(got: org.apache.spark.sql.DataFrame,
      expected: org.apache.spark.sql.DataFrame, cols: Seq[String]): Unit = {
    val g = got.select(cols.map(col): _*)
    val e = expected.select(cols.map(col): _*)
    assert(g.count() === e.count(), "row counts differ")
    assert(g.except(e).isEmpty && e.except(g).isEmpty,
      "diverges from the single-level window")
  }

  test("one-exchange contract (nullable key, unread payload, map column): numbered") {
    val df = forkProne
    val out = SaltedRuns.numbered(df, "k", $"ord", Seq($"tie"), Seq($"v"),
      (p, c) => p.getField("v") =!= c.getField("v"), "run",
      buckets = 8, hotThreshold = 50L)
    assertOneBucketExchange(out, "__sr_b")
    val w = Window.partitionBy($"k").orderBy($"ord", $"tie")
    val expected = df
      .withColumn("chg", when(lag($"v", 1).over(w).isNull ||
        lag($"v", 1).over(w) =!= $"v", 1L).otherwise(0L))
      .withColumn("run", sum($"chg").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    assertSameRows(out, expected, Seq("k", "ord", "tie", "run"))
  }

  test("one-exchange contract (nullable key, unread payload, map column): chunkedRowsAgg") {
    val df = forkProne
    val out = SaltedRuns.chunkedRowsAgg(df, "k", $"ord", Seq($"tie"), k = 3,
      wd => avg($"x").over(wd), "mavg", chunkSize = 64L, hotThreshold = 50L)
      .withColumn("mavg", round($"mavg", 9))
    assertOneBucketExchange(out, "__sr_b")
    val w = Window.partitionBy($"k").orderBy($"ord", $"tie")
      .rowsBetween(-3, Window.currentRow)
    val expected = df.withColumn("mavg", round(avg($"x").over(w), 9))
    assertSameRows(out, expected, Seq("k", "ord", "tie", "mavg"))
  }

  test("one-exchange contract (nullable key, unread payload, map column): chunkedLead") {
    val df = forkProne
    val out = SaltedRuns.chunkedLead(df, "k", $"tie", $"x", "nxt",
      chunkSize = 64L, hotThreshold = 50L)
    assertOneBucketExchange(out, "__sr_ck")
    val expected = df.withColumn("nxt",
      lead($"x", 1).over(Window.partitionBy($"k").orderBy($"tie")))
    assertSameRows(out, expected, Seq("k", "tie", "nxt"))
  }

  test("one-exchange contract (nullable key, unread payload, map column): chunkedCarry") {
    val df = forkProne
    val out = SaltedRuns.chunkedCarry(df, "k", $"ord", Seq($"ord", $"tie"),
      Seq("x" -> "x_c"), buckets = 8, hotThreshold = 50L)
    assertOneBucketExchange(out, "__sr_b")
    val w = Window.partitionBy($"k").orderBy($"ord", $"tie")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expected = df.withColumn("x_c", last($"x", ignoreNulls = true).over(w))
    assertSameRows(out, expected, Seq("k", "ord", "tie", "x_c"))
  }
}
