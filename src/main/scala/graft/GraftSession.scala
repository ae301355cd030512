package graft

import org.apache.spark.sql.SparkSession

/** Opinionated SparkSession builder carrying graft's 100 TB defaults —
  * the knobs every query in this library assumes (SURVEY.md §4). A
  * user can still override any of them afterwards. This is the only
  * place these defaults are written: `Bench`, `Verify`, `perfbench`,
  * the `graft.tools` mains and the specs' shared session all build
  * from it, each passing its own core count.
  */
object GraftSession {

  /** @param shufflePartitions initial shuffle width. On a real cluster
    *        size this ≈ 2-3× total executor cores (AQE coalesces the
    *        excess); the local harness passes the core count.
    */
  def builder(appName: String = "graft", shufflePartitions: Int = 200): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      // AQE re-plans at runtime from real stage stats: coalesces
      // over-provisioned shuffle partitions, converts sort-merge joins
      // to broadcast when a side turns out small, and splits skewed
      // partitions — all load-bearing at 100 TB where estimates lie.
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // A FIXED shuffle width is itself a scale bug: per-partition
      // bytes grow linearly with data until sorts/joins tip into spill
      // cascades (measured: q_minhash_pairs at the sf10 decade, all 32
      // executors thrashing in UnsafeExternalSorter spills). Start
      // every shuffle wide and let AQE coalesce DOWN from runtime
      // sizes — small SFs still collapse to a handful of partitions,
      // big SFs keep enough width that a partition's sort fits in
      // memory. This is the decoupling of parallelism from data size
      // that a 1000-executor cluster needs.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "1024")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", (64L * 1024 * 1024).toString)
      // Without this, AQE may not change a CACHED plan's output
      // partitioning — so a persisted aggregate materializes at the
      // full 1024-wide initialPartitionNum and every later read of the
      // cache schedules 1024 tasks (measured: q_drift_audit's cell
      // cache cost 3×0.6-1.3 s PER READ at sf0.01 in pure task
      // scheduling; 12 of its 13 jobs' stages were 1024-task stages
      // over <10 MB). With it, the cached frame coalesces like any
      // other shuffle output. The trade (losing a reusable wide
      // partitioning) doesn't apply here: cached frames in this
      // library are small aggregates, re-exchanged downstream anyway.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // 128 MB scan splits: big enough to amortize task overhead,
      // small enough that a task's columnar batches fit in executor
      // memory alongside shuffle buffers.
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      // Every loader/query in this library treats naive parquet
      // timestamps as UTC instants (Tables.t's NTZ→TIMESTAMP cast is
      // digit-preserving only under UTC), and TIMESTAMP(NANOS) files
      // must decode (as long) rather than crash the vectorized reader.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Allow joins to reuse a child partitioned on a SUBSET of the
      // join keys (e.g. as-of outputs hash-partitioned by entity key,
      // joined on (key, ts, tiebreak)): the default true re-shuffles
      // both sides onto the full key set, which doubles the exchanges
      // in multi-view PIT retrieval. Subset co-partition skew is the
      // trade-off; entity keys are high-cardinality here.
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      // registered custom expressions (sorted_intersect_size,
      // simhash60, poly_hash) available to SQL users session-wide
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
}
