package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.features.MLlibPipeline

class SourcesPlanSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-io").toString

  test("csv round-trip preserves data with explicit schema") {
    val dir = tmp()
    val df = Tables.nation(spark, sf)
    df.write.mode("overwrite").option("header", "true").csv(s"$dir/nation_csv")
    val back = spark.read.option("header", "true")
      .schema(df.schema).csv(s"$dir/nation_csv")
    assert(back.count() == df.count())
    assert(back.exceptAll(df).count() == 0)
  }

  test("json round-trip preserves data") {
    val dir = tmp()
    val df = Tables.region(spark, sf)
    df.write.mode("overwrite").json(s"$dir/region_json")
    val back = spark.read.schema(df.schema).json(s"$dir/region_json")
    assert(back.exceptAll(df).count() == 0 && back.count() == df.count())
  }

  test("orc round-trip preserves data and pushes filters to the scan") {
    val dir = tmp()
    val df = Tables.lineitem(spark, sf).select($"l_orderkey", $"l_quantity", $"l_extendedprice")
    df.write.mode("overwrite").orc(s"$dir/lineitem_orc")
    val back = spark.read.orc(s"$dir/lineitem_orc")
    assert(back.count() == df.count() && back.exceptAll(df).count() == 0)
    val q = back.filter($"l_quantity" > 30).select($"l_orderkey")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(l_quantity,30.0)"),
      plan.take(800))
  }

  test("partitioned parquet write prunes partitions on read") {
    val dir = tmp()
    Tables.orders(spark, sf)
      .withColumn("status", $"o_orderstatus")
      .write.mode("overwrite").partitionBy("status").parquet(s"$dir/orders_part")
    // feature-store-style layout: one directory per partition value
    assert(new java.io.File(s"$dir/orders_part/status=O").exists())
    val pruned = spark.read.parquet(s"$dir/orders_part").filter($"status" === "O")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() == Tables.orders(spark, sf).filter($"o_orderstatus" === "O").count())
    // partition filter must reach the scan, not a post-scan Filter
    assert(plan.contains("PartitionFilters") && plan.contains("status"), plan.take(500))
  }

  test("parquet scan pushes filters and prunes columns") {
    val q = Tables.lineitem(spark, sf)
      .filter($"l_quantity" > 30)
      .select($"l_orderkey", $"l_quantity")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"), scan.take(800))
    // ReadSchema must not include unprojected columns like l_comment/l_tax
    val readSchema = scan.split("ReadSchema:")(1).split("\n")(0)
    assert(!readSchema.contains("l_tax") && readSchema.contains("l_orderkey"), readSchema)
  }

  test("q2 star join broadcasts the dimension tables") {
    val plan = graft.queries.CoreQueries.q2RevenueNation(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
  }

  test("q2 aggregates below the joins: no shuffle carries raw lineitem values") {
    // the r16 sf100skew scale-killer was the full-width lineitem⋈orders
    // intermediate shuffling on the zipf-head custkey; the fix collapses
    // revenue per orderkey then per custkey BEFORE customer, so raw
    // l_extendedprice/l_discount must never ride an Exchange.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val exec = graft.queries.CoreQueries.q2RevenueNation(spark, sf)
      .queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
    val shuffles = exec.collect { case e: ShuffleExchangeLike => e }
    assert(shuffles.nonEmpty, "expected at least one shuffle in the star join")
    shuffles.foreach { e =>
      val cols = e.output.map(_.name).toSet
      assert(!cols.contains("l_extendedprice") && !cols.contains("l_discount"),
        s"raw lineitem values ride a shuffle: ${cols.mkString(",")}")
    }
  }

  test("q1 aggregation is whole-stage codegen with partial aggregation") {
    val plan = graft.queries.CoreQueries.q1PricingSummary(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), "expected hash aggregation")
    // map-side combine before the shuffle (partial_sum/partial_avg)
    assert(plan.contains("partial_sum"), "expected partial aggregation")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"), "expected shipdate pushdown")
  }

  test("feature store offline layout round-trips and retrieves point-in-time") {
    import graft.features.FeatureStore
    val dir = tmp()
    val df = Tables.embeddings(spark, sf)
      .select($"vec_id", $"label", ($"vec_id" * 100).as("ts_s"),
        size($"embedding").as("dim"))
    FeatureStore.saveOffline(df, "vec_id", "label", "ts_s", dir)
    val training = FeatureStore.loadTrainingSet(spark, dir, "vec_id")
    assert(training.count() == df.count())
    assert(training.columns.sorted.toSeq == Seq("dim", "label", "ts_s", "vec_id"))

    // point-in-time: entity at ts 250 sees the feature row from ts 200, not 300
    val entities = Seq((2L, 250L, 0L), (3L, 50L, 1L)).toDF("vec_id", "ts_s", "eid")
    val feats = Seq((2L, 200L, 10L, 7.0), (2L, 300L, 11L, 9.0)).toDF("vec_id", "ts_s", "eid", "f")
    val out = FeatureStore.historicalFeatures(entities, feats, "vec_id", "ts_s", "eid", Seq("f"))
      .orderBy($"vec_id").collect()
    assert(out(0).getDouble(3) == 7.0)
    assert(out(1).isNullAt(3)) // no feature rows for key 3
  }

  test("multi-view PIT retrieval equals chained single-view; one shuffle per view, entity side shuffled once") {
    import graft.features.FeatureStore
    import graft.features.FeatureStore.FeatureView
    val entities = Seq((1L, 250L, 10L), (1L, 90L, 11L), (2L, 250L, 12L), (3L, 250L, 13L))
      .toDF("k", "ts_s", "eid").withColumn("payload", $"k" * lit(1000))
    // view A: own column names, two feature columns
    val vA = Seq((1L, 100L, 1L, 10.0, "a"), (1L, 200L, 2L, 20.0, "b"), (2L, 300L, 3L, 9.0, "x"))
      .toDF("entity", "event_ts", "seq", "f", "tag")
    // view B: updated on a DIFFERENT cadence — PIT must follow B's own event time
    val vB = Seq((1L, 50L, 1L, 0.5), (2L, 240L, 2L, 0.7), (3L, 260L, 3L, 0.9))
      .toDF("k", "ts_s", "eid", "g")
    val views = Seq(
      FeatureView("a", vA, "entity", "event_ts", "seq", Seq("f", "tag")),
      FeatureView("b", vB, "k", "ts_s", "eid", Seq("g")))
    val multi = FeatureStore.historicalFeaturesMulti(entities, "k", "ts_s", "eid", views)
    val rows = multi.orderBy($"k", $"ts_s").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.getAs[Any]("a__f")), Option(r.getAs[Any]("a__tag")), Option(r.getAs[Any]("b__g"))))
    assert(rows.toSeq == Seq(
      (1L, 90L, None, None, Some(0.5)),                    // A has nothing ≤90; B does
      (1L, 250L, Some(20.0), Some("b"), Some(0.5)),        // A's latest ≤250 is ts 200
      (2L, 250L, None, None, Some(0.7)),                   // A's only k=2 row is LATER (300)
      (3L, 250L, None, None, None)))                       // B's k=3 row is later (260)
    assert(multi.columns.contains("payload"), "entity columns must be preserved")

    // equals chaining single-view retrievals
    val chainA = FeatureStore.historicalFeatures(entities,
      vA.select($"entity".as("k"), $"event_ts".as("ts_s"), $"seq".as("eid"), $"f", $"tag"),
      "k", "ts_s", "eid", Seq("f", "tag"))
      .withColumnRenamed("asof_f", "a__f").withColumnRenamed("asof_tag", "a__tag")
    val chained = FeatureStore.historicalFeatures(chainA, vB, "k", "ts_s", "eid", Seq("g"))
      .withColumnRenamed("asof_g", "b__g")
    val cols = multi.columns.sorted.map(col).toIndexedSeq
    assert(multi.select(cols: _*).orderBy($"k", $"ts_s").collect().toSeq ==
      chained.select(cols: _*).orderBy($"k", $"ts_s").collect().toSeq)

    // plan: one shuffle per view + ONE for the wide entity frame — the
    // view⋈view and entity⋈views joins reuse the windows' key
    // partitioning (no extra exchange, no broadcast fallback needed)
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false",
      // GraftSession default (subset co-partition reuse) — the shared
      // spec session is built without GraftSession.builder
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false") {
      val plan = FeatureStore.historicalFeaturesMulti(entities, "k", "ts_s", "eid", views)
        .queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges == views.size + 1,
        s"expected ${views.size + 1} exchanges (one per view + one entity), got $exchanges:\n$plan")
    }
  }

  test("online materialization equals historicalFeatures at max event time; bucketed layout") {
    import graft.features.FeatureStore
    val feats = Seq(
      (1L, 100L, 1L, 10.0, "a"),
      (1L, 200L, 2L, 20.0, "b"),
      (1L, 200L, 3L, 30.0, "c"), // ts tie → largest tieBreak wins
      (2L, 50L, 4L, 5.0, "x")
    ).toDF("k", "ts_s", "eid", "f", "tag")
    val online = FeatureStore.materializeOnline(feats, "k", "ts_s", "eid", Seq("f", "tag"))
      .orderBy($"k").collect()
    assert(online.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3))).toSeq ==
      Seq((1L, 200L, 30.0, "c"), (2L, 50L, 5.0, "x")))
    // the online row IS the point-in-time row "now": equals
    // historicalFeatures evaluated at the max event time
    val entities = feats.select($"k").distinct()
      .withColumn("ts_s", lit(200L)).withColumn("eid", lit(Long.MaxValue))
    val pit = FeatureStore.historicalFeatures(entities, feats, "k", "ts_s", "eid", Seq("f", "tag"))
      .select($"k", $"asof_f", $"asof_tag").orderBy($"k").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
    assert(pit == online.map(r => (r.getLong(0), r.getDouble(2), r.getString(3))).toSeq)
    // saveOnline lands a bucketed-on-key snapshot (the no-reshuffle
    // serving-join property itself is pinned by the bucketed-tables
    // spec below — here we pin that the snapshot actually HAS the
    // bucketed layout and round-trips)
    val wh = tmp()
    try {
      FeatureStore.saveOnline(spark, feats, "k", "ts_s", "eid", Seq("f", "tag"),
        "online_view", s"$wh/online_view", buckets = 4)
      val t = spark.table("online_view")
      assert(t.count() == 2)
      assert(t.columns.toSeq == Seq("k", "ts_s", "f", "tag"))
      val desc = spark.sql("DESCRIBE EXTENDED online_view").collect().map(_.mkString("|"))
      assert(desc.exists(l => l.contains("Num Buckets") && l.contains("4")), desc.mkString("\n"))
      assert(desc.exists(l => l.contains("Bucket Columns") && l.contains("k")))
    } finally spark.sql("DROP TABLE IF EXISTS online_view")
  }

  test("bucketed tables join without a shuffle exchange") {
    val wh = tmp()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the issue
    try {
      Tables.orders(spark, sf).write.mode("overwrite")
        .bucketBy(4, "o_custkey").sortBy("o_custkey")
        .option("path", s"$wh/orders_b").saveAsTable("orders_b")
      Tables.customer(spark, sf).write.mode("overwrite")
        .bucketBy(4, "c_custkey").sortBy("c_custkey")
        .option("path", s"$wh/customer_b").saveAsTable("customer_b")
      val joined = spark.table("orders_b")
        .join(spark.table("customer_b"), $"o_custkey" === $"c_custkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan.take(300))
      assert(!plan.contains("Exchange hashpartitioning"),
        "bucketed join must not reshuffle:\n" + plan.take(1200))
      assert(joined.count() == Tables.orders(spark, sf)
        .join(Tables.customer(spark, sf), $"o_custkey" === $"c_custkey").count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("salted join is row-identical to the plain join") {
    import graft.operators.SaltedJoin
    // skewed fact: 80% of rows on one key
    val big = (Seq.fill(800)(1L) ++ (2L to 201L)).zipWithIndex
      .map { case (k, i) => (k, i.toLong) }.toDF("k", "row_id")
    val small = (1L to 201L).map(k => (k, s"dim_$k")).toDF("k", "v")
    val plain = big.join(small, Seq("k")).select($"row_id", $"v")
    val salted = SaltedJoin.innerSalted(big, small, "k", salts = 8).select($"row_id", $"v")
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).count() == 0)
  }

  test("AQE splits a skewed join partition (skew=true in the executed plan)") {
    // one key holds ~80% of the fact rows with a fat payload; with the
    // skew thresholds scaled down to test size, AQE must replace the
    // single oversized SMJ partition with split sub-partitions — the
    // runtime half of the skew story (SaltedJoin is the manual half)
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32768",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // payload must be incompressible — skew detection reads COMPRESSED
      // map-output sizes, and a constant pad lz4-compresses to nothing
      val big = spark.range(60000).select(
        when($"id" < 48000, 1L).otherwise($"id" % 499 + 2).as("k"),
        concat(sha2(concat($"id".cast("string"), lit("a")), 256),
          sha2(concat($"id".cast("string"), lit("b")), 256)).as("payload"))
      val dim = spark.range(600).select(($"id" + 1).as("k"), concat(lit("d"), $"id").as("v"))
      val q = big.join(dim, "k").agg(sum(length($"payload")).as("bytes"))
      // collect() (not head()) — head() spawns a separate limited
      // QueryExecution, leaving q's own adaptive plan unexecuted
      assert(q.collect().head.getLong(0) > 0)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        "AQE skew split did not fire:\n" + plan.take(2000))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("driver contract: every oracle twins a query; rows-only set is exactly q_ann_lsh") {
    // the correctness gate only checks queries that HAVE oracles — this
    // pins the exception list so coverage can't silently leak into
    // weaker rows-only checks
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet),
      (SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet).toSeq.sorted.mkString(", "))
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet == Set("q_ann_lsh"),
      (SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet).toSeq.sorted.mkString(", "))
  }

  test("no SparkEntry query plans a UDF, Python eval, or cartesian product") {
    // standing guard for the codegen-friendly surface contract
    // (SURVEY §3): planning only — no query executes here, though a few
    // fit-once queries run their tiny fit jobs at construction, and
    // q_shuffle_shards runs its full (collect-then-recreate) pipeline —
    // the returned frame is a local relation whose plan is still
    // checked; the cost is accepted because the sweep runs at sf0.001.
    // "UDF(" / ScalaUDF = actual user functions; bare "UDF" would also
    // match UDFAdaptors, the internal shim every typed Dataset op uses
    // (TopKAggregator's flatMap unpack is deliberate, O(queries×k))
    // piggybacked width guard (the r13 verdict's inverse assertion):
    // every EXPLICIT width pin (REPARTITION_BY_NUM) in any query's plan
    // must be far below the 1024 AQE start width at this toy SF — a pin
    // that reads 1024 here inherited the cap from garbage stats (the
    // r10 regression class: a Long.MaxValue size estimate pushes
    // rangeWidth to its cap and schedules 1024 near-empty tasks), and
    // this catches the NEXT such query at spec time instead of at the
    // next sf10 sweep.
    val pinWidth = """(?:hash|range)partitioning\(.*?, (\d+)\), REPARTITION_BY_NUM""".r
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      val plan = q(spark, sf).queryExecution.executedPlan.toString
      val udfish = Seq("UDF(", "ScalaUDF", "BatchEvalPython", "CartesianProduct")
        .filter(plan.contains).map(bad => s"$name: $bad")
      val fatPins = pinWidth.findAllMatchIn(plan).map(_.group(1).toInt)
        .filter(_ >= 1024).map(w => s"$name: width pin inherited the AQE cap ($w)")
      udfish ++ fatPins
    }
    assert(offenders.isEmpty, offenders.mkString(", "))
  }

  test("window-width pins survive planning (r13 AQE bytes-blind-coalescing fixes)") {
    // The r13 sf10 campaign pinned an explicit-width repartition under
    // every window/agg whose exchange AQE size-coalesced below the core
    // count while per-row CPU was high (q_scd2 23->6.5 s etc.). The pin
    // is a REPARTITION_BY_NUM shuffle origin in the executed plan —
    // exempt from AQE coalescing. q4_window_topn is the deliberate
    // EXCEPTION (a pin there breaks the map-side WindowGroupLimit
    // pushdown, 50 -> 227 MB shuffled), so it is pinned the other way:
    // its plan must keep WindowGroupLimit and must NOT carry the pin.
    val pinned = Seq("q_scd2", "q_intervals_merge", "q_moving_avg",
      "q_sessionize", "q_span_dedup", "q_dup_span_profile",
      "q_asof_attribution", "q_anomaly_zscore")
    val missing = pinned.filterNot { name =>
      SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
        .contains("REPARTITION_BY_NUM")
    }
    assert(missing.isEmpty, s"width pin lost in: ${missing.mkString(", ")}")
    val q4 = SparkEntry.queries("q4_window_topn")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(q4.contains("WindowGroupLimit"),
      "q4_window_topn lost the map-side WindowGroupLimit pushdown")
    assert(!q4.contains("REPARTITION_BY_NUM"),
      "q4_window_topn must not pin width (it would break the group-limit pushdown)")
  }

  test("textCorpus ingests line-per-doc files with content-addressed ids") {
    val dir = tmp()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/a.txt"),
      "alpha doc one\n\nbeta doc two\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/b.txt"),
      "gamma doc three\nalpha doc one\n")
    val docs = graft.sources.Sources.textCorpus(spark, dir).collect()
    assert(docs.length == 4, docs.mkString(",")) // blank line dropped
    assert(docs.map(_.getAs[String]("source")).toSet == Set("a.txt", "b.txt"))
    // content-addressed: the duplicate line shares its doc_id across files
    val byText = docs.groupBy(_.getAs[String]("text"))
    assert(byText("alpha doc one").map(_.getAs[Long]("doc_id")).distinct.length == 1)
    assert(byText.keySet.map(t => byText(t).head.getAs[Long]("doc_id")).size == 3)
  }

  test("mediaFromFiles ingests binary files to the media schema with glob pushdown") {
    val dir = tmp()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/x.png"),
      Array[Byte](1, 2, 3, 4))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/y.jpg"),
      Array[Byte](5, 6))
    val all = graft.sources.Sources.mediaFromFiles(spark, dir).collect()
    assert(all.length == 2)
    val png = all.find(_.getAs[org.apache.spark.sql.Row]("meta").getAs[String]("format") == "png").get
    assert(png.getAs[Array[Byte]]("payload").toSeq == Seq[Byte](1, 2, 3, 4))
    assert(png.getAs[Long]("n_bytes") == 4L)
    // glob filter prunes at the SOURCE (pathGlobFilter pushdown)
    val onlyJpg = graft.sources.Sources.mediaFromFiles(spark, dir, Some("*.jpg"))
    assert(onlyJpg.count() == 1)
    // ids are content-addressed: re-ingest produces identical ids
    val again = graft.sources.Sources.mediaFromFiles(spark, dir).collect()
    assert(again.map(_.getAs[Long]("media_id")).sorted.toSeq ==
      all.map(_.getAs[Long]("media_id")).sorted.toSeq)
  }

  test("simhash band join stays a shuffle join (pinned against the exploded-broadcast trap)") {
    // the optimizer costs the band frame from PRE-explode stats and
    // would broadcast a 5x-corpus frame at scale (PLANS.md r9 entry);
    // the shuffle_hash hint pins the (band, bits) hash shuffle — this
    // guard fails if a refactor drops the hint or AQE re-plans around it
    val docs = Tables.documents(spark, sf).filter($"doc_id" % 5 === 0)
    val plan = graft.dedup.Dedup.simhashNearDup(docs, "doc_id", "text", 4, 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), plan.take(1200))
    assert(!plan.contains("BroadcastHashJoin"),
      "band self-join must not broadcast the exploded frame:\n" + plan.take(1200))
  }

  test("shuffle-shard ranking plans no global-order window") {
    // q_shuffle_shards' scale contract: the training-order rank comes
    // from range partitioning + offsets, never a no-partition Window
    // (which collapses the corpus to one task)
    val docs = Tables.documents(spark, sf).select($"doc_id", $"source",
      md5(concat($"doc_id".cast("string"), lit("#42"))).as("k"))
    val ranked = graft.operators.GlobalRank.withGlobalRowNumber(
      docs, Seq($"k", $"doc_id"), "__r")
    try {
      val plan = ranked.df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), "no window expected:\n" + plan.take(1200))
      assert(plan.contains("rangepartitioning"), plan.take(1200))
    } finally ranked.release()
  }

  test("runtime bloom filter from a selective dim prunes the fact-side scan") {
    // the 100 TB story: a selective filter on the dim side should reach
    // the fact scan as a bloom-filter semi-filter BEFORE the shuffle
    // join (Spark's InjectRuntimeFilter); thresholds scaled to test size
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fact = Tables.lineitem(spark, sf).select($"l_orderkey", $"l_extendedprice")
      val dim = Tables.orders(spark, sf)
        .filter($"o_orderpriority" === "1-URGENT")
        .select($"o_orderkey")
      val q = fact.join(dim, $"l_orderkey" === $"o_orderkey")
        .agg(sum($"l_extendedprice").as("rev"))
      assert(q.collect().head.getDouble(0) > 0)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("bloomfilter") || plan.contains("might_contain"),
        "runtime bloom filter did not inject:\n" + plan.take(2000))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("experiment tracker logs runs and picks the best by metric") {
    import graft.ml.ParquetTracker
    import graft.ml.ExperimentTracker.Run
    val dir = tmp() + "/runs"
    new ParquetTracker(spark, dir).logRun(Run("r1", "lr", Map("reg" -> 0.1), Map("auc" -> 0.81), 1000L))
    new ParquetTracker(spark, dir).logRun(Run("r2", "gbt", Map("depth" -> 4), Map("auc" -> 0.93), 2000L))
    new ParquetTracker(spark, dir).logRun(Run("r3", "rf", Map("trees" -> 10), Map("auc" -> 0.88), 3000L))
    assert(new ParquetTracker(spark, dir).listRuns().count() == 3)
    assert(new ParquetTracker(spark, dir).bestRun("auc", maxRuns = 10).map(_.runId).contains("r2"))
    // bounded lookback: only the 1 most recent run is considered
    assert(new ParquetTracker(spark, dir).bestRun("auc", maxRuns = 1).map(_.runId).contains("r3"))
  }

  test("tracker logs artifacts: confusion matrix frame and model path per run") {
    import graft.ml.ParquetTracker
    import graft.ml.ExperimentTracker.Run
    val dir = tmp() + "/runs_art"
    new ParquetTracker(spark, dir).logRun(
      Run("r1", "lr", Map("reg" -> 0.1), Map("auc" -> 0.9), 1000L,
        artifacts = Map("model" -> "/models/r1", "roc_png" -> "/figs/r1.png")))
    val cm = Seq((1, 1, 40L), (0, 0, 50L), (1, 0, 7L), (0, 1, 3L)).toDF("label", "pred", "n")
    new ParquetTracker(spark, dir).logConfusionMatrix("r1", cm)
    new ParquetTracker(spark, dir).logConfusionMatrix("r2", cm.withColumn("n", $"n" * 2))
    val run = new ParquetTracker(spark, dir).bestRun("auc", 10).get
    assert(run.artifacts("model") == "/models/r1")
    val back = new ParquetTracker(spark, dir).confusionMatrix("r1")
    assert(back.count() == 4)
    assert(back.agg(sum($"n")).head().getLong(0) == 100L) // r2's doubled rows pruned out
  }

  test("properties config drives TrainPipeline.Config (training-config.yml analog)") {
    import graft.ml.{TrainConfig, Trainer}
    val f = java.nio.file.Files.createTempFile("graft-train", ".properties")
    java.nio.file.Files.writeString(f,
      """label_col=label
        |pk_col=id
        |feature_array_col=arr
        |train_fraction=0.75
        |seed=7
        |trials_per_model=3
        |deployment_threshold=0.6
        |fbeta_beta=1.0
        |threshold_grid=0.1:0.9:0.2
        |balance_classes=false
        |models=logreg,gbt
        |model.logreg.space=regParam:1e-4:1.0:log
        |model.gbt.space=maxDepth:2:5,maxIter:5:15
        |""".stripMargin)
    val cfg = TrainConfig.load(f.toString)
    assert(cfg.labelCol == "label" && cfg.pkCol == "id" && cfg.featureArrayCol == "arr")
    assert(cfg.trainFraction == 0.75 && cfg.seed == 7L && cfg.trialsPerModel == 3)
    assert(cfg.deploymentThreshold == 0.6 && cfg.fbetaBeta == 1.0 && !cfg.balanceClasses)
    assert(cfg.thresholdGrid == Seq(0.1, 0.3, 0.5, 0.7, 0.9))
    assert(cfg.models.map(_._1) == Seq(Trainer.LogReg, Trainer.GBT))
    assert(cfg.models.head._2 == Seq(Trainer.ParamRange("regParam", 1e-4, 1.0, log = true)))
    assert(cfg.models(1)._2 == Seq(
      Trainer.ParamRange("maxDepth", 2, 5), Trainer.ParamRange("maxIter", 5, 15)))
    // comma-list grid + defaults for unset keys
    val cfg2 = TrainConfig.fromMap(Map(
      "label_col" -> "y", "pk_col" -> "k", "feature_array_col" -> "f",
      "threshold_grid" -> "0.25, 0.5, 0.75"))
    assert(cfg2.thresholdGrid == Seq(0.25, 0.5, 0.75))
    assert(cfg2.trainFraction == 0.8 && cfg2.balanceClasses)
  }

  test("GraftSession builder carries the scale defaults") {
    // getOrCreate applies runtime SQL confs to the session (static
    // confs like extensions need a fresh JVM — registration is
    // spec'd separately via GraftFunctions.register)
    val s = graft.GraftSession.builder(shufflePartitions = 16).getOrCreate()
    assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(s.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(s.conf.get("spark.sql.files.maxPartitionBytes") == (128L * 1024 * 1024).toString)
  }

  test("MLlib composite pipeline fits and selects features") {
    val df = Tables.customer(spark, sf)
      .select($"c_custkey", $"c_acctbal", $"c_mktsegment",
        when($"c_custkey" % 7 === 0, lit(null)).otherwise($"c_acctbal").as("bal_dirty"))
    val model = MLlibPipeline.fit(df, numCols = Seq("bal_dirty"), catCols = Seq("c_mktsegment"))
    val out = model.transform(df)
    assert(out.columns.contains("features"))
    val v = out.select("features").head().getAs[org.apache.spark.ml.linalg.Vector](0)
    // 1 scaled numeric + (5 segments + keep-invalid slot - dropLast) one-hot
    assert(v.size == 6, s"feature vector size ${v.size}")
    val dir = tmp()
    model.write.overwrite().save(s"$dir/pipe")
    val loaded = org.apache.spark.ml.PipelineModel.load(s"$dir/pipe")
    assert(loaded.transform(df).select("features").head().getAs[org.apache.spark.ml.linalg.Vector](0) == v)
  }
}
