package graft.tools

import graft.GraftSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Builds the sf1 / sf10 / sf10skew corpora that `Bench` and the
  * SCALING.md sweeps read above the driver-provided data.
  *
  * Bench-only scale-up: replicate an SF directory N× with per-replica
  * key offsets and content BIJECTIONS, so Bench can measure the
  * wall-clock slope one decade above the driver-provided data
  * (SCALING.md). Not for correctness runs — no oracle exists here.
  *
  * Naive row copying would be the WRONG test corpus: every doc would
  * gain N−1 exact cross-replica copies, so near-dup candidate pairs
  * (inverted-index buckets, LSH bands, embedding cosine) would grow
  * quadratically in N as a replication ARTIFACT — a real 10× corpus
  * has 10× diverse content. Instead each replica applies a bijection
  * that preserves all WITHIN-replica structure and decorrelates
  * ACROSS replicas:
  *
  *  - text: per-replica Caesar substitution over letters+digits (via
  *    `translate`, codegen'd). A bijection on strings preserves exact-
  *    dup groups, shingle-set overlaps, token counts, Zipf profile and
  *    doc lengths EXACTLY per replica, while replica i and j share
  *    only punctuation/whitespace shingles — no cross-replica
  *    candidates.
  *  - embeddings: per-replica seeded ±1 sign pattern, elementwise.
  *    (s⊙x)·(s⊙y) = x·y, so every within-replica cosine — near-dup
  *    pairs, centroid geometry — is preserved exactly; cross-replica
  *    cosines decorrelate to background.
  *  - keys: += replica · 10^9 (consistently on FK pairs, so joins and
  *    the `id % k` subset filters used by queries behave identically
  *    per replica — 10^9 is divisible by every modulus in use).
  *  - dims (region, nation) copy once; timestamps are unchanged (10×
  *    users/orders per window, per-key history unchanged — how a real
  *    10× tenant corpus scales).
  */
object ScaleReplicate {

  private val OFF = 1000000000L

  /** Per-replica substitution over letters+digits (via `translate`,
    * codegen'd). A seeded SHUFFLE, not a rotation: Caesar shifts repeat
    * mod 26, so at factor > 26 replicas i and i+26 would share the
    * letter mapping and digit-free docs would become EXACT cross-
    * replica dups — a replication artifact. Independent seeded
    * permutations keep every pair of replicas' alphabets decorrelated
    * at any factor; replica 0 stays the identity.
    */
  private def substitute(c: org.apache.spark.sql.Column, replica: Int): org.apache.spark.sql.Column = {
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    val digit = "0123456789"
    if (replica == 0) c
    else {
      val rnd = new scala.util.Random(0xC0FFEE ^ replica)
      def perm(s: String) = rnd.shuffle(s.toList).mkString
      translate(c, lower + upper + digit, perm(lower) + perm(upper) + perm(digit))
    }
  }

  def main(args: Array[String]): Unit = {
    // skew = 20% zipf head; skew40 = 40% head (the SCALING.md
    // amortization probe — does the salted-runs factor hold as the
    // head's mass doubles?)
    val (src, dst, factor, headMod) = args.toList match {
      case s :: d :: f :: Nil             => (s, d, f.toInt, 0)
      case s :: d :: f :: "skew" :: Nil   => (s, d, f.toInt, 1)
      case s :: d :: f :: "skew40" :: Nil => (s, d, f.toInt, 2)
      case _ => sys.error("usage: ScaleReplicate <srcDir> <dstDir> <factor> [skew|skew40]")
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    val spark = GraftSession.builder("graft-scale-replicate", shufflePartitions = cpus)
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def replicate(name: String, keyCols: Seq[String])(
        perReplica: (DataFrame, Int) => DataFrame): Unit = {
      // through the Tables loaders so ts encodings normalize
      val base = name match {
        case "customer"   => graft.Tables.customer(spark, src)
        case "supplier"   => graft.Tables.supplier(spark, src)
        case "part"       => graft.Tables.part(spark, src)
        case "orders"     => graft.Tables.orders(spark, src)
        case "lineitem"   => graft.Tables.lineitem(spark, src)
        case "events"     => graft.Tables.events(spark, src)
        case "documents"  => graft.Tables.documents(spark, src)
        case "embeddings" => graft.Tables.embeddings(spark, src)
      }
      // chunked appends: a single union of `factor` branches is fine at
      // 100 but at 1000 (the sf100 decade) the left-deep plan tree
      // strains the analyzer — write <=64 replicas per job instead
      (0 until factor).grouped(64).zipWithIndex.foreach { case (chunk, ci) =>
        val out = chunk.map { i =>
          val keyed = keyCols.foldLeft(base)((d, k) =>
            d.withColumn(k, col(k) + lit(i * OFF)))
          perReplica(keyed, i)
        }.reduce(_ unionByName _)
        out.write.mode(if (ci == 0) "overwrite" else "append")
          .parquet(s"$dst/$name.parquet")
      }
      println(s"[scale] $name x$factor -> $dst")
    }

    // dims copy once
    Seq("region", "nation").foreach { n =>
      spark.read.parquet(s"$src/$n.parquet")
        .write.mode("overwrite").parquet(s"$dst/$n.parquet")
    }
    replicate("customer", Seq("c_custkey"))((d, _) => d)
    replicate("supplier", Seq("s_suppkey"))((d, _) => d)
    replicate("part", Seq("p_partkey"))((d, _) => d)
    // zipf-head skew mode: TPC-H keys are UNIFORM, which a real corpus's
    // fact keys are not — production key distributions carry a head
    // (one tenant/user/customer owning a double-digit share). `skew`
    // reassigns a deterministic 20% of orders to custkey 1 and 20% of
    // events to user 1 ACROSS replicas, so the hot key's share survives
    // any factor: joins on the key get one oversized shuffle partition
    // (the AQE skew-split / SaltedJoin regime) and per-key windows get
    // one giant partition (not splittable by AQE — the honest window
    // boundary SCALING.md's skew table measures). Hash-of-PK selection
    // keeps it deterministic and spread evenly over order/event time.
    def hot(d: DataFrame, pk: String, fk: String): DataFrame =
      if (headMod == 0) d
      else d.withColumn(fk, when(pmod(xxhash64(col(pk)), lit(5)) < lit(headMod), lit(1L))
        .otherwise(col(fk)))
    replicate("orders", Seq("o_orderkey", "o_custkey"))((d, _) =>
      hot(d, "o_orderkey", "o_custkey"))
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))((d, _) => d)
    replicate("events", Seq("event_id", "user_id"))((d, _) =>
      hot(d, "event_id", "user_id"))
    replicate("documents", Seq("doc_id")) { (d, i) =>
      d.withColumn("text", substitute(col("text"), i))
    }
    val dim = graft.Tables.embeddings(spark, src)
      .select(size(col("embedding"))).head().getInt(0)
    replicate("embeddings", Seq("vec_id")) { (d, i) =>
      val rnd = new scala.util.Random(i)
      val signs = Array.fill(dim)(if (rnd.nextBoolean()) 1.0f else -1.0f)
      if (i == 0) d
      else d.withColumn("embedding",
        zip_with(col("embedding"), lit(signs), (x, s) => x * s).cast("array<float>"))
    }
    spark.stop()
  }
}
