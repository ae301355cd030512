package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.text.TextFunctions

/** Deduplication operators for web-scale corpora (SURVEY.md §2.5).
  *
  * Scale design:
  *  - exact dedup = single hash-groupBy shuffle on a 16-byte digest,
  *    never on the full text;
  *  - near-dup candidate generation is inverted-index (shingle) or
  *    LSH-band joins — work is O(candidates), never O(n²);
  *  - exact Jaccard verification runs only on candidate pairs.
  */
object Dedup {

  private val P = 1000000007L

  /** Normalization used before "normalized exact" dedup: lowercase,
    * collapse whitespace, trim.
    */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Exact-dedup stats over a text column: total rows, distinct digests,
    * duplicate rows beyond the first occurrence.
    */
  def exactDedupStats(df: DataFrame, textCol: String): DataFrame =
    df.agg(
      count(lit(1)).as("n_rows"),
      countDistinct(md5(col(textCol))).as("n_distinct"),
      (count(lit(1)) - countDistinct(md5(col(textCol)))).as("n_dup_rows"))

  /** Exact dedup keeping the smallest id per digest. One shuffle on the
    * digest; at 100 TB this is the canonical "drop exact copies" pass.
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("__digest", md5(col(textCol)))
      .groupBy(col("__digest"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .drop("__digest")

  /** (id, shingles) projection: distinct character n-gram sets, sorted
    * ascending — the invariant [[verifyJaccard]]'s two-pointer
    * intersection relies on.
    */
  def shingled(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"),
        array_sort(TextFunctions.shingleSet(col(textCol), n)).as("sh"))
      .withColumn("sh_n", size(col("sh")))

  /** Exact Jaccard similarity join via inverted shingle index: explode
    * shingles, join on shingle (only co-occurring pairs are generated —
    * exhaustive for J>0), count shared shingles per pair, compute
    * J = inter / (|a|+|b|-inter), filter at `threshold`.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b.
    */
  def jaccardJoinExact(shRaw: DataFrame, threshold: Double): DataFrame = {
    // the shingle table feeds both join sides AND the verification —
    // persist it (it is bounded by contract) so the self-join doesn't
    // recompute shingling once per plan branch
    val sh = shRaw.persist(StorageLevel.MEMORY_AND_DISK)
    val out = {
      val ex = sh.select(col("id"), col("sh_n"), explode(col("sh")).as("shingle"))
      val a = ex.select(col("id").as("id_a"), col("sh_n").as("n_a"), col("shingle"))
      val b = ex.select(col("id").as("id_b"), col("sh_n").as("n_b"), col("shingle"))
      a.join(b, Seq("shingle"))
        .filter(col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b"), col("n_a"), col("n_b"))
        .agg(count(lit(1)).as("inter"))
        .withColumn("jaccard", col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), col("jaccard"))
    }
    releaseAfter(out, sh)
  }

  /** Eagerly materialize `out` (localCheckpoint — bounded by contract:
    * these are thresholded candidate pairs), then unpersist the scratch
    * inputs. Keeps per-call caches from accumulating over a long-lived
    * session; the checkpoint itself is reclaimed by the ContextCleaner
    * once the returned DataFrame is unreferenced.
    */
  private def releaseAfter(out: DataFrame, scratch: DataFrame*): DataFrame = {
    val res = out.localCheckpoint()
    scratch.foreach(_.unpersist())
    res
  }

  /** Verify-stage width for a candidate-pair frame, from the PAIR
    * COUNT: each pair costs a two-pointer merge over two shingle
    * arrays, so ~2k pairs is a sub-second task regardless of byte
    * size. A candidate frame is a few MB of id pairs, so AQE
    * size-coalesces its exchange to 1-2 partitions — blind to the
    * quadratic per-pair CPU of the verify join that inherits the width
    * (r14 measured q_dedup_incremental's whole verify in ONE 7.9 s
    * task at sf1 before this pin). Floored at cluster parallelism,
    * capped at the AQE start width (the same cap
    * [[graft.operators.GlobalRank.rangeWidth]] respects).
    */
  private[graft] def pairVerifyWidth(spark: org.apache.spark.sql.SparkSession,
      pairs: Long): Int = {
    val floor = spark.sparkContext.defaultParallelism
    val cap = spark.conf
      .get("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "1024").toInt
    val perTask = 2048L
    ((pairs + perTask - 1) / perTask).max(floor.toLong).min(cap.max(floor).toLong).toInt
  }

  /** BIPARTITE exact Jaccard join — the INCREMENTAL-dedup candidate
    * step: only (new, old) pairs are generated (a production corpus
    * dedups each incoming batch against the kept corpus; new×new and
    * old×old pairs are someone else's query). Same inverted-shingle-
    * index shape as [[jaccardJoinExact]] — exhaustive for J > 0 —
    * with the index built over BOTH sides and the join keyed on the
    * shingle; at 100 TB the old side's exploded index is the big
    * side and shuffles once on the shingle key, exactly like the
    * self-join case.
    *
    * Returns (id_new, id_old, jaccard) at `threshold`.
    */
  def jaccardJoinBipartite(shNew: DataFrame, shOld: DataFrame, threshold: Double): DataFrame = {
    val a = shNew.select(col("id").as("id_new"), col("sh_n").as("n_new"),
      explode(col("sh")).as("shingle"))
    val b = shOld.select(col("id").as("id_old"), col("sh_n").as("n_old"),
      explode(col("sh")).as("shingle"))
    // shuffle-hash hint: the optimizer costs the exploded old side from
    // the pre-generate scan stats and tries to BROADCAST it — millions
    // of exploded shingle rows through a driver-built relation
    // (measured 4.5 → 2.5 s at sf0.1, and a guaranteed OOM at corpus
    // scale). Both exploded sides are shingle-keyed and huge; the
    // correct plan at any scale is a hash shuffle on the shingle.
    // The new side's shuffle is explicitly width-pinned: the exploded
    // shingle exchanges are few MB on a capped batch, so AQE
    // size-coalesces the join to ONE task while the per-shingle
    // pair-counting work is the quadratic term (9.5 s of
    // q_dedup_incremental's 13 s warm at sf10 in that single task);
    // REPARTITION_BY_NUM is exempt, and EnsureRequirements brings the
    // old side to the same width.
    // Deliberately NOT width-pinned (unlike the r13 window fixes):
    // AQE coalescing this join to few tasks on a capped batch looks
    // like the width-collapse defect but is actually the better trade
    // HERE — the per-pair count below combines fully map-side at low
    // width, while a pinned-wide join scatters each pair's shingles
    // across partitions and ships the uncombined partials (measured:
    // 64-wide moved q_dedup_incremental 2.1 → 3.4 s at sf0.1 for a
    // 116 MB partial-count exchange that one task kept at 26 MB).
    // This operator is the SMALL-BATCH exact path by contract
    // (callers cap it; minhashNearDupBipartiteBanded is the
    // corpus-scale path where band keys, not raw shingles, bound the
    // fan-out).
    a.join(b.hint("shuffle_hash"), Seq("shingle"))
      .groupBy(col("id_new"), col("id_old"), col("n_new"), col("n_old"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n_new") + col("n_old") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_new"), col("id_old"), col("jaccard"))
  }

  /** The 100 TB candidate path for INCREMENTAL near-dup: MinHash
    * signatures on BOTH sides under the same permutations, banded
    * (band, value) equi-join of new-side bands against old-side bands
    * — O(rows × bands) index work and a shuffle on the band key, never
    * the full inverted shingle index — then exact Jaccard verification
    * of the (new, old) candidates only. Same miss bound as
    * [[minhashNearDup]]: a true pair at J ≥ t escapes all numPerm
    * bands with probability (1−t)^numPerm. Spec'd equal to
    * [[jaccardJoinBipartite]] on real documents at numPerm = 64.
    */
  def minhashNearDupBipartite(
      newDf: DataFrame, oldDf: DataFrame, idCol: String, textCol: String,
      n: Int, numPerm: Int, seed: Long, threshold: Double): DataFrame =
    minhashNearDupBipartiteBanded(newDf, oldDf, idCol, textCol, n,
      b = numPerm, r = 1, seed = seed, threshold = threshold)

  /** [[minhashNearDupBipartite]] with the b×r S-curve the r=1 geometry
    * lacks — the production shape for incremental ingest against a big
    * kept corpus. The sf10 decade measured why r=1 floods: 3-gram
    * shingle types live in a ~26³ space, so background Jaccard is
    * nonzero between ANY same-alphabet documents, P(some single
    * signature slot of numPerm matches) → 1, and the candidate join
    * goes quadratic in batch×corpus. With r consecutive slots hashed
    * into each band key, a background pair at J≈0.05 collides a band
    * with prob J^r — at r=2 that is a ~30× candidate cut — while a true
    * pair at J ≥ t is missed with prob (1−t^r)^b (pick b for the
    * recall floor; planted-pair equality to the exact bipartite join is
    * spec'd in the dedup suite). Exact Jaccard verification of the
    * candidates makes precision 1 regardless of geometry.
    */
  def minhashNearDupBipartiteBanded(
      newDf: DataFrame, oldDf: DataFrame, idCol: String, textCol: String,
      n: Int, b: Int, r: Int, seed: Long, threshold: Double): DataFrame = {
    val coeffs = permCoeffs(b * r, seed)
    def prep(df: DataFrame): (DataFrame, DataFrame) = {
      val sh = shingled(df, idCol, textCol, n).persist(StorageLevel.MEMORY_AND_DISK)
      val sig = sh.withColumn("hs", shingleHashes(col("sh")))
        .select(col("id"), minhashSignature(col("hs"), coeffs).as("sig"))
      (sh, sig)
    }
    val (shNew, sigNew) = prep(newDf)
    val (shOld, sigOld) = prep(oldDf)
    // explicit verify width from the pair count (one bounded count on
    // the persisted candidates), pinned by id_new — the verify's first
    // join key — so the distribution survives a shuffle-join fallback
    val candsRaw = lshCandidatesBipartiteBanded(sigNew, sigOld, b, r)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cands = candsRaw.repartition(
      pairVerifyWidth(newDf.sparkSession, candsRaw.count()), col("id_new"))
    releaseAfter(verifyJaccardBipartite(cands, shNew, shOld, threshold),
      shNew, shOld, candsRaw)
  }

  /** Banded bipartite candidate pairs: every (new, old) pair agreeing
    * on at least one of the b band keys (xxhash64 of r consecutive
    * signature slots — 8-byte shuffle key regardless of r). Both band
    * fan-outs are keyed, balanced and potentially huge → hash shuffle,
    * never a broadcast (same hint rationale as [[jaccardJoinBipartite]]).
    */
  def lshCandidatesBipartiteBanded(sigNew: DataFrame, sigOld: DataFrame,
      b: Int, r: Int): DataFrame = {
    val bn = bandedSigRows(sigNew, b, r).select(col("id").as("id_new"), col("band"), col("v"))
    val bo = bandedSigRows(sigOld, b, r).select(col("id").as("id_old"), col("band"), col("v"))
    bn.join(bo.hint("shuffle_hash"), Seq("band", "v"))
      .select(col("id_new"), col("id_old")).distinct()
  }

  /** Exact-Jaccard verification of bipartite candidate (id_new, id_old)
    * pairs against the two sides' shingle frames — the two-sided twin
    * of [[verifyJaccard]].
    */
  def verifyJaccardBipartite(cands: DataFrame, shNew: DataFrame, shOld: DataFrame,
      threshold: Double): DataFrame =
    cands
      .join(shNew.select(col("id").as("id_new"), col("sh").as("sh_a"), col("sh_n").as("n_new")), Seq("id_new"))
      .join(shOld.select(col("id").as("id_old"), col("sh").as("sh_b"), col("sh_n").as("n_old")), Seq("id_old"))
      .withColumn("inter",
        graft.functions.SortedIntersectSize.sortedIntersectSize(col("sh_a"), col("sh_b")))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n_new") + col("n_old") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_new"), col("id_old"), col("jaccard"))

  /** [[incrementalDedup]] with the banded-MinHash candidate step — the
    * corpus-scale configuration: same `dup_of` output contract, but
    * candidates come from [[minhashNearDupBipartiteBanded]] (O(rows ×
    * b) band index + background-suppressed join) instead of the exact
    * inverted shingle index. Miss bound (1−t^r)^b per true pair;
    * exact-copy pairs sit at J = 1 and are missed with prob (1−1)^b = 0.
    */
  def incrementalDedupBanded(newDf: DataFrame, oldDf: DataFrame, idCol: String,
      textCol: String, n: Int, b: Int, r: Int, seed: Long,
      threshold: Double): DataFrame =
    bestMatch(newDf, idCol, minhashNearDupBipartiteBanded(
      newDf, oldDf, idCol, textCol, n, b, r, seed, threshold))

  /** INCREMENTAL dedup — the library seat behind q_dedup_incremental:
    * returns the new batch with a `dup_of` column (the old-corpus id
    * of the best near-dup match at `threshold`, by highest Jaccard
    * then smallest old id; null = keep). Exact copies are near-dups at
    * J = 1, so one bipartite join covers both layers; `keep =
    * flagged.filter(col("dup_of").isNull)` is the batch that enters
    * the corpus. Same bounded-candidate shape as the self-join path.
    */
  def incrementalDedup(newDf: DataFrame, oldDf: DataFrame, idCol: String,
      textCol: String, n: Int, threshold: Double): DataFrame =
    bestMatch(newDf, idCol, jaccardJoinBipartite(
      shingled(newDf, idCol, textCol, n), shingled(oldDf, idCol, textCol, n), threshold))

  /** `newDf` with `dup_of`: per new id, the old id of its best verified
    * (id_new, id_old, jaccard) pair — highest Jaccard, then smallest
    * old id; null when it has none.
    */
  private def bestMatch(newDf: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val best = pairs
      .groupBy(col("id_new"))
      .agg(max_by(col("id_old"), struct(col("jaccard"), -col("id_old"))).as("dup_of"))
    newDf.join(best, newDf(idCol) === best("id_new"), "left").drop("id_new")
  }

  /** Exact Jaccard similarity join with PREFIX FILTERING (PPJoin-style):
    * order each doc's shingles by ascending global document frequency
    * (rarest first, canonical tie-break), index only the first
    * k = n - ceil(t·n) + 1 shingles. Any pair with J ≥ t must share a
    * prefix shingle (if two sets share none of either's prefix, their
    * overlap is < t·max(|a|,|b|)), so the candidate set is exhaustive —
    * same output as [[jaccardJoinExact]], but the inverted index only
    * contains rare shingles, collapsing the candidate blowup on corpora
    * with high background similarity. This is the 100 TB path.
    */
  def jaccardJoinPrefix(shRaw: DataFrame, threshold: Double): DataFrame = {
    val sh = shRaw.persist(StorageLevel.MEMORY_AND_DISK)
    val ex = sh.select(col("id"), col("sh_n"), explode(col("sh")).as("shingle"))
    // global shingle document frequencies: small (vocab-bounded) → broadcast
    val freq = ex.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("df").asc, col("shingle").asc)
    val prefix = ex.join(broadcast(freq), Seq("shingle"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= col("sh_n") - ceil(col("sh_n") * threshold) + 1)
      .select(col("id"), col("shingle"))
    val cands = prefix.select(col("id").as("id_a"), col("shingle"))
      .join(prefix.select(col("id").as("id_b"), col("shingle")), Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    releaseAfter(verifyJaccard(cands, sh, threshold), sh)
  }

  /** C4-style duplicate-span REMOVAL — the ACTION behind the
    * q_span_dedup audit (Raffel et al. C4: drop all but one occurrence
    * of any repeated three-sentence span; word-`n`-gram spans are the
    * analog at this corpus's granularity). A span occurring more than
    * once in the corpus keeps ONLY its globally-first occurrence
    * (smallest (id, position) — deterministic); every other
    * occurrence's tokens are dropped from their documents, overlapping
    * removals unioned at token level.
    *
    * Scale shape: one explode into (id, pos, span-hash) — span
    * identity is a 128-bit key (two independently-seeded xxhash64
    * columns): with a single 64-bit key a multi-billion-span corpus
    * sits in birthday-collision range (~50% at 5B spans) and a
    * collision silently deletes NON-duplicate text; at 128 bits the
    * same corpus is at ~10⁻¹⁸. Both halves ride the one count shuffle
    * together (16 bytes/row, q_contamination discipline); the grouped
    * span frame carries min(struct(id, pos))
    * as the keeper — an O(distinct spans) aggregate, never a window
    * over occurrences. Per-doc removals then MERGE into disjoint
    * intervals relationally (gaps-and-islands over the dup rows: one
    * doc-keyed window + one aggregate — heavily duplicated regions
    * coalesce to FEW intervals), so reconstruction tests each token
    * against O(islands), not O(removed positions): a first cut tested
    * against the expanded covered-index array and measured 10×/decade
    * at sf10 (82 s) purely in that per-row membership loop — the
    * interval merge took the same corpus to 21.4 s (2.8×/decade,
    * sf0.1 5.7 → 2.0 s as a bonus). Nothing is ever
    * doc×doc and the corpus is scanned once per side of the join.
    *
    * Returns (id, `textCol` cleaned, n_tokens_before, n_tokens_after);
    * docs without duplicated spans pass through byte-identical (the
    * ORIGINAL string, not a token re-join — only docs that lose a
    * span are rebuilt via single-space concat).
    */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n >= 1, s"span length must be >= 1, got $n")
    // The token array MUST be materialized by its own Project before the
    // ngram generator consumes it: inlining tokens(text) into
    // wordNgramsOf re-executes split() per slice reference inside the
    // generator (measured 6.4 -> 22.8 s on the sf10 explode stage).
    val spans = df.select(col(idCol).as("id"),
        TextFunctions.tokens(col(textCol)).as("tk"))
      .select(col("id"),
        posexplode(TextFunctions.wordNgramsOf(col("tk"), n)).as(Seq("pos", "g")))
      .select(col("id"), col("pos"),
        xxhash64(col("g")).as("h"), xxhash64(lit(0x9E3779B9L), col("g")).as("h2"))
    // Keeper identity stays min(struct(id, pos)): it costs a
    // SortAggregate (struct buffers aren't hash-aggregable), but the
    // measured alternative — packing (id, pos) into a DECIMAL(38,0) so
    // the aggregate hashes — was 2x SLOWER at sf10 (precision-38
    // decimals are BigDecimal-backed; the per-row allocation in min()
    // dwarfs the sort it saved).
    val dupSpans = spans.groupBy(col("h"), col("h2"))
      .agg(count(lit(1)).as("c"), min(struct(col("id"), col("pos"))).as("keep"))
      .filter(col("c") > 1)
    val dupRows = spans.join(dupSpans.hint("shuffle_hash"), Seq("h", "h2"))
      .filter(!(col("id") === col("keep.id") && col("pos") === col("keep.pos")))
      .select(col("id"), col("pos"))
    // merge removal intervals [pos, pos+n-1] into disjoint islands:
    // a removal starts a new island iff it begins past the running
    // max end + 1 (touching intervals merge — identical union)
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("pos"))
    val wPrev = wOrd.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val islands = dupRows
      .withColumn("__prevE", max(col("pos") + lit(n - 1)).over(wPrev))
      .withColumn("__new",
        when(col("__prevE").isNull || col("pos") > col("__prevE") + 1, 1L).otherwise(0L))
      .withColumn("__isl", sum(col("__new")).over(wOrd))
      .groupBy(col("id"), col("__isl"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + lit(n - 1)).as("e"))
      .groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("s"), col("e")))).as("ivs"))
    // Reconstruction: the exchange carries only (id, original text) —
    // 1x corpus bytes; the token array is recomputed post-join (a
    // deterministic split of the text) rather than shuffled alongside
    // it, which halved the corpus-side exchange at sf10 (217 MB with
    // both columns). The width is pinned (REPARTITION_BY_NUM is exempt
    // from AQE coalescing): the narrower exchange would otherwise be
    // size-coalesced below the core count while the per-row CPU
    // (re-split + interval filter) went UP — the r10 bytes-blind-
    // coalescing lesson. Width from [[graft.operators.GlobalRank.rangeWidth]]
    // (bytes-estimate with a cluster-parallelism floor), NOT the raw
    // shuffle-partition conf — that reads the 1024-wide AQE
    // initialPartitionNum and schedules 1024 near-empty tasks.
    val slim = df.select(col(idCol).as("id"), col(textCol).as("__orig"))
    slim.repartition(graft.operators.GlobalRank.rangeWidth(slim), col("id"))
      .join(islands, Seq("id"), "left")
      .withColumn("tk", TextFunctions.tokens(col("__orig")))
      .withColumn("__kept",
        when(col("ivs").isNull, col("tk"))
          .otherwise(filter(col("tk"), (_, i) =>
            !exists(col("ivs"), iv => i >= iv.getField("s") && i <= iv.getField("e")))))
      .select(col("id").as(idCol),
        when(col("ivs").isNull, col("__orig"))
          .otherwise(concat_ws(" ", col("__kept"))).as(textCol),
        size(col("tk")).cast("long").as("n_tokens_before"),
        size(col("__kept")).cast("long").as("n_tokens_after"))
  }

  /** Exact-Jaccard verification of candidate (id_a, id_b) pairs against
    * the shingle sets (sorted, per [[shingled]]). The intersection uses
    * the custom [[graft.functions.SortedIntersectSize]] codegen
    * expression — a zero-allocation two-pointer merge, the hot loop of
    * near-dup verification at scale.
    */
  def verifyJaccard(cands: DataFrame, sh: DataFrame, threshold: Double): DataFrame =
    cands
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a"), col("sh_n").as("n_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b"), col("sh_n").as("n_b")), Seq("id_b"))
      .withColumn("inter",
        graft.functions.SortedIntersectSize.sortedIntersectSize(col("sh_a"), col("sh_b")))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** Deterministic MinHash permutation coefficients from a seed. */
  def permCoeffs(numPerm: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPerm)((1L + math.abs(rnd.nextLong()) % (P - 1), math.abs(rnd.nextLong()) % P))
  }

  /** md5-derived 60-bit hash (mod P) of each shingle in a set column.
    * Materialize this ONCE (withColumn) before computing signatures —
    * inlining it into the per-permutation lambdas makes Spark compute
    * md5 numPerm times per shingle.
    */
  def shingleHashes(shCol: Column): Column =
    transform(shCol, s => conv(substring(md5(s), 1, 15), 16, 10).cast("long") % P)

  /** MinHash signature from a precomputed hash-array column: for each
    * permutation i, min over shingle hashes of (a_i·h + b_i) mod P.
    * Delegates to the codegen'd [[graft.functions.MinHashSig]]
    * expression — one allocation-free double loop in generated Java
    * (the lambda pipeline it replaced allocated a boxed array per
    * permutation per row through HigherOrderFunction interpreters;
    * equality spec'd against it in the dedup suite).
    */
  def minhashSignature(hashesCol: Column, coeffs: Seq[(Long, Long)]): Column =
    graft.functions.MinHashSig.minhashSig(hashesCol, coeffs)

  /** The interpreted-HOF form of [[minhashSignature]] — retained ONLY
    * as the spec reference the codegen expression is asserted equal to.
    */
  private[graft] def minhashSignatureLambda(hashesCol: Column, coeffs: Seq[(Long, Long)]): Column = {
    val perms = array(coeffs.map { case (a, b) =>
      struct(lit(a).as("a"), lit(b).as("b"))
    }: _*)
    transform(perms, p =>
      array_min(transform(hashesCol, h => (p.getField("a") * h + p.getField("b")) % P)))
  }

  /** (id, band, v) fan-out of an (id, sig) frame into b bands of r
    * consecutive signature slots, band key = xxhash64 of the slice.
    * Guards the band geometry per row: a signature shorter than b*r
    * would make the trailing slice() calls return empty/truncated
    * arrays that hash IDENTICALLY for every row — that band then marks
    * ALL pairs candidates, the exact quadratic flood banding exists to
    * prevent. Fail loudly instead (assert_true evaluates to null on
    * success, so the when() passes the signature through unchanged).
    */
  private[graft] def bandedSigRows(sig: DataFrame, b: Int, r: Int): DataFrame = {
    require(b >= 1 && r >= 1, s"need b, r >= 1, got b=$b r=$r")
    val checkedSig = when(
      assert_true(size(col("sig")) >= b * r,
        concat(lit(s"bandedSigRows: size(sig) < b*r = ${b * r}, got "),
          size(col("sig")).cast("string"))).isNull,
      col("sig"))
    sig.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(b - 1)),
        i => xxhash64(lit(42L), slice(checkedSig, i * lit(r) + lit(1), lit(r))))).as(Seq("band", "v")))
  }

  /** LSH candidates with b bands of r rows — the S-curve knob r=1
    * lacks. A pair collides in one band iff ALL r signature values in
    * it match, so P(candidate | J) = 1 − (1 − J^r)^b: background pairs
    * (small J) are suppressed ~J^r while pairs above the threshold
    * keep near-1 recall with enough bands. r=1 over-generates on ANY
    * corpus with nonzero background similarity — the sf10 decade
    * measured it: 3-gram shingle types live in a ~26³ space, so even
    * content-disjoint replicas share background shingles, P(some
    * minhash of 32 matches) approaches 1, and candidates go quadratic.
    * At r=2, the same background J≈0.05 collides a band with prob
    * J²=0.0025 — a 30× candidate cut for a recall cost bounded by
    * (1−t^r)^b (pick b accordingly; planted-pair recall spec'd in the
    * dedup suite). The band key is xxhash64(band values) — an 8-byte
    * shuffle key regardless of r. Distinct pairs with id_a < id_b.
    */
  def lshCandidatesBanded(sig: DataFrame, b: Int, r: Int): DataFrame = {
    val banded = bandedSigRows(sig, b, r)
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.v") === col("y.v") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
  }

  /** MinHash+LSH near-dup pairs with b bands of r signature slots
    * (b·r permutations): candidates via [[lshCandidatesBanded]], then
    * exact Jaccard verification. [[minhashNearDup]] is its r = 1
    * geometry; r > 1 prunes background candidates, the corpus-scale
    * configuration.
    */
  def minhashNearDupBanded(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, b: Int, r: Int, seed: Long, threshold: Double): DataFrame = {
    val sh = shingled(df, idCol, textCol, n).persist(StorageLevel.MEMORY_AND_DISK)
    val sig = sh.withColumn("hs", shingleHashes(col("sh")))
      .select(col("id"), minhashSignature(col("hs"), permCoeffs(b * r, seed)).as("sig"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // same pair-count verify-width pin as the bipartite arm
    val candsRaw = lshCandidatesBanded(sig, b, r).persist(StorageLevel.MEMORY_AND_DISK)
    val cands = candsRaw.repartition(
      pairVerifyWidth(df.sparkSession, candsRaw.count()), col("id_a"))
    releaseAfter(verifyJaccard(cands, sh, threshold), sig, sh, candsRaw)
  }

  /** MinHash+LSH near-dup pipeline: [[minhashNearDupBanded]] with
    * numPerm bands of r=1 (each band key hashes one signature slot). A
    * pair at J≥t is missed with prob (1-t)^numPerm — at t=0.6,
    * numPerm=64 that is ~1e-26, i.e. the output equals the exact join
    * for any realistic dataset while the candidate step stays
    * sub-quadratic on real (non-adversarial) data.
    */
  def minhashNearDup(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, numPerm: Int, seed: Long, threshold: Double): DataFrame =
    minhashNearDupBanded(df, idCol, textCol, n, b = numPerm, r = 1, seed = seed,
      threshold = threshold)

  /** 60-bit SimHash over whitespace tokens: per bit, sum +1/-1 by each
    * token's hash bit; bit set iff the sum is non-negative. Delegates
    * to the codegen'd [[graft.functions.SimHash60]] Catalyst expression
    * (ONE pass over the token array in generated Java — the lambda
    * pipeline it replaced walked the array once per bit), whose integer
    * arithmetic is engine-independent and oracle-checked (q_simhash).
    */
  def simhash60(textCol: Column): Column =
    graft.functions.SimHash60.simhash60(TextFunctions.tokens(textCol))

  /** Hamming distance between two simhash longs. */
  def hammingDist(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs at Hamming distance ≤ `maxDist`, banded
    * LSH over the 60-bit signature — the Hamming-space twin of the
    * MinHash band join (ref: utils/prep.py duplicate handling is
    * exact-only; this is the standard web-scale extension, Manku et
    * al. WWW'07). The signature splits into `bands` contiguous
    * bit-bands; by pigeonhole, two signatures differing in ≤ maxDist
    * bits share at least one EXACT band whenever bands > maxDist, so
    * the candidate set is a per-band equality self-join on
    * (band_idx, band_bits) — an 8-byte shuffle key that spreads
    * random signatures across 2^(60/bands) buckets — and
    * verification is one codegen'd popcount per candidate pair.
    * ZERO missed pairs (pigeonhole is deterministic, unlike MinHash
    * banding's probabilistic recall) and never all-pairs: the
    * 100 TB shape. Signatures ride the candidate join, so the
    * checkpointed sig frame is scanned once by the band explode and
    * never re-joined for verification.
    */
  def simhashNearDup(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int, bands: Int = 5): DataFrame = {
    require(bands > maxDist,
      s"pigeonhole completeness needs bands > maxDist (got $bands <= $maxDist)")
    require(60 % bands == 0, s"bands must divide 60 (got $bands)")
    val w = 60 / bands
    val sig = df.select(col(idCol).cast("long").as("id"),
        simhash60(col(textCol)).as("sh"))
      .localCheckpoint() // feeds both sides of the candidate self-join
    val banded = sig.select(col("id"), col("sh"), explode(array(
        (0 until bands).map(i => struct(lit(i).as("b"),
          shiftright(col("sh"), i * w).bitwiseAND(lit((1L << w) - 1)).as("v"))): _*)).as("bd"))
      .select(col("id"), col("sh"), col("bd.b").as("b"), col("bd.v").as("v"))
    // shuffle_hash pinned: left alone, the optimizer costs the band
    // frame from PRE-explode stats and broadcasts it (the
    // q_dedup_incremental trap, PLANS.md:175) — a 5×-corpus broadcast
    // at scale. The (b, v) hash shuffle is the plan both sides need.
    banded.as("x").hint("shuffle_hash").join(banded.as("y"),
        col("x.b") === col("y.b") && col("x.v") === col("y.v") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        hammingDist(col("x.sh"), col("y.sh")).cast("int").as("dist"))
      .filter(col("dist") <= maxDist)
      .distinct() // a pair can collide in several bands
  }

  /** 120-bit SimHash near-dup — the wider-signature answer to the
    * 60-bit resolution ceiling the sf10 scaling decade measured
    * (SCALING.md): pigeonhole completeness at maxDist=4 caps 60-bit
    * bands at 12 bits, so bucket depth grows ∝ n/4096 and the
    * candidate join goes quadratic once the corpus passes a few
    * thousand docs. Doubling the signature doubles the band width:
    * 5 bands × 24 bits spread candidates over 2^24 buckets — depth
    * ∝ n/16.7M, flat into the 10^8-doc regime.
    *
    * The second 60-bit half reuses the SAME codegen'd [[simhash60]]
    * expression over salt-prefixed tokens: prefixing is a bijection on
    * the token set, so the salted polynomial hash is an independent
    * hash family and the two halves are independent fingerprints of
    * the same token multiset. Hamming distance on the 120-bit
    * signature is the sum of the two popcounts. Near-dup thresholds do
    * NOT transfer 1:1 from the 60-bit relation: a pair flipping d bits
    * in 60 flips ~2d in 120, so pass ~double the maxDist for the same
    * selectivity.
    */
  def simhashNearDup120(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int, bands: Int = 5): DataFrame = {
    require(bands > maxDist,
      s"pigeonhole completeness needs bands > maxDist (got $bands <= $maxDist)")
    require(120 % bands == 0 && 120 / bands <= 60,
      s"bands must divide 120 with width <= 60 (got $bands)")
    val w = 120 / bands
    val toks = TextFunctions.tokens(col(textCol))
    val sig = df.select(col(idCol).cast("long").as("id"),
        graft.functions.SimHash60.simhash60(toks).as("sa"),
        graft.functions.SimHash60.simhash60(
          transform(toks, t => concat(lit("\u0001"), t))).as("sb"))
      .localCheckpoint()
    // bits [i*w, i*w+w) of the 120-bit concatenation sa | sb<<60,
    // extracted with pure shift/and/or algebra (bands may straddle
    // the word boundary)
    def bandVal(i: Int): Column = {
      val lo = i * w; val hi = lo + w
      if (hi <= 60) shiftright(col("sa"), lo).bitwiseAND(lit((1L << w) - 1))
      else if (lo >= 60) shiftright(col("sb"), lo - 60).bitwiseAND(lit((1L << w) - 1))
      else {
        val fromA = 60 - lo
        shiftright(col("sa"), lo).bitwiseAND(lit((1L << fromA) - 1))
          .bitwiseOR(shiftleft(
            col("sb").bitwiseAND(lit((1L << (w - fromA)) - 1)), fromA))
      }
    }
    val banded = sig.select(col("id"), col("sa"), col("sb"), explode(array(
        (0 until bands).map(i => struct(lit(i).as("b"), bandVal(i).as("v"))): _*)).as("bd"))
      .select(col("id"), col("sa"), col("sb"), col("bd.b").as("b"), col("bd.v").as("v"))
    // shuffle_hash pinned for the same reason as [[simhashNearDup]]
    banded.as("x").hint("shuffle_hash").join(banded.as("y"),
        col("x.b") === col("y.b") && col("x.v") === col("y.v") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        (hammingDist(col("x.sa"), col("y.sa")) +
          hammingDist(col("x.sb"), col("y.sb"))).cast("int").as("dist"))
      .filter(col("dist") <= maxDist)
      .distinct()
  }

  /** Edge count at or below which components finish on the driver:
    * 1,000,000 (u, v) long pairs are ~16 MB, the same order as
    * SaltedRuns' 1,000,000-row hot-key threshold.
    */
  private val DriverEdges = 1000000

  /** Safety cap on star rounds: in practice they grow like log n (the
    * 100-node chain takes 8), so reaching 100 means a bug, not a big
    * graph.
    */
  private val MaxStarRounds = 100

  /** Near-dup CLUSTER formation: connected components over candidate
    * pairs, labeling every id with the minimum id of its component —
    * the step that turns pairwise near-dup hits into "keep one doc per
    * cluster" decisions in a corpus-dedup pipeline.
    *
    * The edges are canonicalised (larger id, smaller id) without
    * self-loops or repeats. Near-dup pairs are few next to their
    * corpus, so one bounded collect usually takes them all; a driver
    * union-find rooted at min ids labels them, and the labels join
    * back to `ids`. Edge sets above the driver bound stay a supported
    * input: large-star / small-star rounds (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014) keep every
    * component, never add edges and reach the min id in O(log² n)
    * rounds even on long chains. They stop once the round's one count
    * falls to the bound, and the driver finishes; a star forest that
    * converges above it labels each node from its star edge.
    *
    * @param ids   frame carrying `idCol` (one row per doc)
    * @param pairs (id_a, id_b) candidate/verified near-dup pairs; ids
    *              found only in pairs still connect components
    * @return (id: long, cluster: long) per row of `ids` — cluster is
    *         the component's min id; singletons keep cluster = id
    */
  def dupClusters(ids: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    dupClusters(ids, idCol, pairs, DriverEdges)

  /** [[dupClusters]] with the driver bound as an argument, so a spec
    * can reach both finishes on small graphs.
    */
  private[dedup] def dupClusters(ids: DataFrame, idCol: String, pairs: DataFrame,
      driverEdges: Int): DataFrame = {
    def canon(e: DataFrame): DataFrame =
      e.select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v")).distinct()
    val byU = org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
    // large-star: every neighbor LARGER than u links to m = min(Γ(u) ∪ {u})
    def largeStar(edges: DataFrame): DataFrame =
      edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
        .withColumn("m", least(col("u"), min(col("v")).over(byU)))
        .filter(col("v") > col("u")).select(col("v").as("u"), col("m").as("v"))
    // small-star: u's smaller neighbors (and u) all link to their min;
    // large-star's (u, v) edges all have u > v, repeats are harmless
    def smallStar(edges: DataFrame): DataFrame = {
      val withMin = edges.withColumn("m", min(col("v")).over(byU))
      withMin.filter(col("v") =!= col("m")).select(col("v").as("u"), col("m").as("v"))
        .unionByName(withMin.select(col("u"), col("m").as("v")))
    }
    // edge counts never grow, so an equal count with no new edge is
    // the fixpoint: one star per component, (non-root, root) edges
    @annotation.tailrec
    def starRounds(edges: DataFrame, n: Long, round: Int): DataFrame =
      if (n <= driverEdges) minRoots(ids.sparkSession, edges.collect())
      else if (round == MaxStarRounds) throw new IllegalStateException(
        s"dupClusters: star rounds did not converge in $MaxStarRounds rounds")
      else {
        val next = canon(smallStar(largeStar(edges))).localCheckpoint(eager = false)
        val m = next.count()
        if (m == n && next.exceptAll(edges).isEmpty)
          next.groupBy(col("u").as("id")).agg(min(col("v")).as("__root"))
        else starRounds(next, m, round + 1)
      }
    val edges = canon(pairs.select(col("id_a").cast("long").as("u"),
      col("id_b").cast("long").as("v")))
    val head = edges.limit(driverEdges + 1).collect()
    val roots = if (head.length <= driverEdges) minRoots(ids.sparkSession, head)
      else { val e = edges.localCheckpoint(eager = false); starRounds(e, e.count(), 0) }
    ids.select(col(idCol).cast("long").as("id"))
      .join(roots, Seq("id"), "left")
      .select(col("id"), coalesce(col("__root"), col("id")).as("cluster"))
  }

  /** Union-find over collected (u, v) edge rows: an (id, __root) frame
    * with the min id of each edge node's component. Nodes are indexed
    * in ascending id order and a union hangs the larger root under the
    * smaller, so each root is its component's min id.
    */
  private def minRoots(spark: SparkSession, edges: Array[Row]): DataFrame = {
    val nodes = edges.flatMap(e => Array(e.getLong(0), e.getLong(1))).distinct.sorted
    val parent = Array.range(0, nodes.length)
    def find(x: Long): Int = {
      var r = java.util.Arrays.binarySearch(nodes, x)
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    edges.foreach { e =>
      val (a, b) = (find(e.getLong(0)), find(e.getLong(1)))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    spark.createDataFrame(nodes.toSeq.map(x => x -> nodes(find(x)))).toDF("id", "__root")
  }
}
