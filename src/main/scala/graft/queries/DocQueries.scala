package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.Dedup
import graft.sim.Similarity
import graft.text.TextFunctions

/** Text-analysis, dedup, and similarity queries (SURVEY.md §2.5-2.7)
  * over the documents/embeddings tables, with DuckDB oracle twins.
  */
object DocQueries {
  import CoreQueries.Q

  private def r4(c: Column): Column = round(c, 4) + lit(0.0)
  private val stop = Seq("the", "a")

  def qTokenCount(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .withColumn("tc", TextFunctions.tokenCount($"text"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"tc").as("sum_tokens"), r4(avg($"tc")).as("avg_tokens"))
      .orderBy($"lang")
  }

  val qTokenCountOracle: String =
    """SELECT lang, count(*) AS n_docs,
      | CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS sum_tokens,
      | round(avg(len(string_split_regex(trim(text), '\s+'))),4) + 0 AS avg_tokens
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  def qTextQuality(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // one-pass codegen'd counters; all four outputs derive from the
    // same struct (CollapseProject keeps the non-cheap expression in
    // its own Project, so the text is scanned once per row)
    Tables.documents(s, d)
      .select($"source", TextFunctions.qualityStats($"text", stop).as("st"))
      .select($"source",
        $"st".getField("len").as("len"),
        TextFunctions.stopwordRatioOf($"st").as("sr"),
        TextFunctions.punctRatioOf($"st").as("pr"),
        TextFunctions.qualityScoreOf($"st").as("q"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), r4(avg($"len")).as("avg_len"),
        r4(avg($"sr")).as("avg_stop_ratio"), r4(avg($"pr")).as("avg_punct_ratio"),
        r4(avg($"q")).as("avg_quality"))
      .orderBy($"source")
  }

  val qTextQualityOracle: String =
    """WITH t AS (
      | SELECT source, length(text) AS len,
      |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x IN ('the','a'))) AS DOUBLE)
      |    / len(string_split_regex(trim(text), '\s+')) AS sr,
      |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / length(text) AS pr,
      |  CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE) / length(text) AS ur
      | FROM documents)
      |SELECT source, count(*) AS n_docs, round(avg(len),4) + 0 AS avg_len,
      | round(avg(sr),4) + 0 AS avg_stop_ratio, round(avg(pr),4) + 0 AS avg_punct_ratio,
      | round(avg(least(len/500.0,1.0)*0.4 + least(sr*10.0,1.0)*0.3
      |   + (1.0-least(pr*5.0,1.0))*0.2 + (1.0-ur)*0.1),4) + 0 AS avg_quality
      |FROM t GROUP BY source ORDER BY source""".stripMargin

  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("data", "table"), "en" -> Seq("the", "a"), "es" -> Seq("query", "row"),
    "fr" -> Seq("join", "merge"), "zh" -> Seq("spark", "hash"))

  def qLangId(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .withColumn("lang_pred", TextFunctions.langId($"text", langProfiles))
      .groupBy($"lang", $"lang_pred")
      .agg(count(lit(1)).as("n"))
      .orderBy($"lang", $"lang_pred")
  }

  val qLangIdOracle: String =
    """WITH t AS (
      | SELECT lang, string_split_regex(trim(text), '\s+') AS tk FROM documents),
      |sc AS (
      | SELECT lang,
      |  len(list_filter(tk, x -> x IN ('data','table'))) AS s_de,
      |  len(list_filter(tk, x -> x IN ('the','a'))) AS s_en,
      |  len(list_filter(tk, x -> x IN ('query','row'))) AS s_es,
      |  len(list_filter(tk, x -> x IN ('join','merge'))) AS s_fr,
      |  len(list_filter(tk, x -> x IN ('spark','hash'))) AS s_zh
      | FROM t)
      |SELECT lang,
      | CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
      |      WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
      |      WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
      |      WHEN s_fr >= s_zh THEN 'fr'
      |      ELSE 'zh' END AS lang_pred,
      | count(*) AS n
      |FROM sc GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  def qFingerprint(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .filter($"doc_id" % 5 === 0)
      .select($"doc_id", TextFunctions.fingerprint($"text").as("fp"))
      .orderBy($"doc_id")
  }

  val qFingerprintOracle: String =
    """SELECT doc_id, list_reduce(
      |  list_prepend(CAST(0 AS BIGINT),
      |    list_transform(range(1, length(text)+1), i -> CAST(ascii(substring(text,i,1)) AS BIGINT))),
      |  (acc, x) -> (acc*31 + x) % 1000000007) AS fp
      |FROM documents WHERE doc_id % 5 = 0 ORDER BY doc_id""".stripMargin

  def qShingles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // codegen'd one-pass distinct count — the declarative
    // size(array_distinct(...)) form materializes the shingle array
    // per row just to measure it (spec-equal, oracle unchanged)
    Tables.documents(s, d)
      .select($"lang", graft.functions.NgramCounts.countDistinctCharNgrams($"text", 3).as("ns"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), r4(avg($"ns")).as("avg_shingles"))
      .orderBy($"lang")
  }

  val qShinglesOracle: String =
    """SELECT lang, count(*) AS n_docs,
      | round(avg(len(list_distinct(list_transform(range(1, length(text)-1), i -> substring(text,i,3))))),4) + 0 AS avg_shingles
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Distinct word-bigram counts per language (word-ngram analog of
    * [[qShingles]] — the unit of word-level Jaccard/novelty metrics).
    */
  def qWordNgrams(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"lang", graft.functions.NgramCounts
        .countDistinctWordBigrams(TextFunctions.tokens($"text")).as("nb"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), r4(avg($"nb")).as("avg_bigrams"))
      .orderBy($"lang")
  }

  val qWordNgramsOracle: String =
    """WITH t AS (
      | SELECT lang, string_split_regex(trim(text), '\s+') AS tk FROM documents)
      |SELECT lang, count(*) AS n_docs,
      | round(avg(len(list_distinct(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])))),4) + 0 AS avg_bigrams
      |FROM t GROUP BY lang ORDER BY lang""".stripMargin

  def qDedupExact(s: SparkSession, d: String): DataFrame =
    Dedup.exactDedupStats(Tables.documents(s, d), "text")

  val qDedupExactOracle: String =
    """SELECT count(*) AS n_rows, count(DISTINCT md5(text)) AS n_distinct,
      | count(*) - count(DISTINCT md5(text)) AS n_dup_rows
      |FROM documents""".stripMargin

  def qDedupExactNorm(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Dedup.exactDedupStats(
      Tables.documents(s, d).withColumn("text", Dedup.normalizeText($"text")), "text")
  }

  val qDedupExactNormOracle: String =
    """SELECT count(*) AS n_rows,
      | count(DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))) AS n_distinct,
      | count(*) - count(DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))) AS n_dup_rows
      |FROM documents""".stripMargin

  private val pairOracle: String =
    """WITH s AS (
      | SELECT doc_id AS id, list_distinct(list_transform(range(1, length(text)-1), i -> substring(text,i,3))) AS sh
      | FROM documents WHERE doc_id % 5 = 0)
      |SELECT a.id AS id_a, b.id AS id_b,
      | round(CAST(len(list_intersect(a.sh,b.sh)) AS DOUBLE)
      |   / (len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh))),4) + 0 AS jaccard
      |FROM s a JOIN s b ON a.id < b.id
      |WHERE CAST(len(list_intersect(a.sh,b.sh)) AS DOUBLE)
      |   / (len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh))) >= 0.62
      |ORDER BY id_a, id_b""".stripMargin

  /** Cross-SOURCE duplication rollup — the curation report built on
    * the near-dup machinery: which sources leak into each other, and
    * how strongly. Runs on the same `% 20` sample as q_minhash_pairs:
    * the per-source-pair overlap RATES are the statistic, and a
    * uniform sample estimates them as well as a 4× one — while at this
    * corpus's background Jaccard ≈0.46 banding barely prunes, so
    * candidate volume is quadratic in the sample and the wider sample
    * cost 16× the candidates for the same rollup (r8: 11.3 s solo,
    * 18× the suite median). Each pair side joins its `source`, the
    * (source, source) key is canonicalized with least/greatest so
    * A→B and B→A aggregate together, and the rollup is one hash agg
    * over the (already candidate-bounded) pair set. The DuckDB twin
    * recomputes the pairs exactly — the green row therefore also
    * re-certifies, per run, that banding loses no qualifying pair.
    */
  def qSourceOverlap(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // same fixed-size cap as q_minhash_pairs (shared sample contract;
    // rates estimated from a bounded uniform sample — see scaladoc)
    val sub = Tables.documents(s, d).filter($"doc_id" % 20 === 0)
      .orderBy($"doc_id").limit(2500)
      .repartition(s.sparkContext.defaultParallelism, $"doc_id")
    val pairs = Dedup.minhashNearDup(sub, "doc_id", "text", 3, 32, 42L, 0.62)
      .select($"id_a", $"id_b", r4($"jaccard").as("jaccard"))
    val src = sub.select($"doc_id", $"source")
    pairs
      .join(src.select($"doc_id".as("id_a"), $"source".as("sa")), "id_a")
      .join(src.select($"doc_id".as("id_b"), $"source".as("sb")), "id_b")
      .select(least($"sa", $"sb").as("source_a"),
        greatest($"sa", $"sb").as("source_b"), $"jaccard")
      .groupBy($"source_a", $"source_b")
      .agg(count(lit(1)).as("n_pairs"), r4(avg($"jaccard")).as("avg_jaccard"))
      .orderBy($"source_a", $"source_b")
  }

  val qSourceOverlapOracle: String =
    """WITH s AS (
      | SELECT doc_id AS id, source,
      |  list_distinct(list_transform(range(1, length(text)-1), i -> substring(text,i,3))) AS sh
      | FROM (SELECT * FROM documents WHERE doc_id % 20 = 0 ORDER BY doc_id LIMIT 2500)),
      |p AS (SELECT least(a.source, b.source) AS source_a,
      |  greatest(a.source, b.source) AS source_b,
      |  round(CAST(len(list_intersect(a.sh,b.sh)) AS DOUBLE)
      |    / (len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh))),4) + 0 AS jaccard
      | FROM s a JOIN s b ON a.id < b.id
      | WHERE CAST(len(list_intersect(a.sh,b.sh)) AS DOUBLE)
      |    / (len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh))) >= 0.62)
      |SELECT source_a, source_b, count(*) AS n_pairs,
      | round(avg(jaccard), 4) + 0 AS avg_jaccard
      |FROM p GROUP BY source_a, source_b ORDER BY source_a, source_b""".stripMargin

  /** Exact n-gram Jaccard similarity join. Uses the inverted-index
    * join here: this synthetic corpus has median background J≈0.46
    * over a tiny shingle vocabulary, so prefix filtering (the real-
    * corpus scale path, [[Dedup.jaccardJoinPrefix]], equality-tested
    * in TextDedupSimSpec) cannot prune and only adds overhead —
    * measured, not assumed: the removed JaccardPathProbe main
    * (`git show d778dfa:src/main/scala/graft/tools/JaccardPathProbe.scala`)
    * timed this sub-corpus at sf0.1 at 3.1 s exact vs 5.7 s prefix for
    * identical output.
    */
  def qNgramJaccard(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // fixed-size cap (≥ the %10 subset at every gated SF — 500 at
    // sf0.1): the exact inverted-index join is near-quadratic in its
    // input on this high-background-J corpus, so a fraction-bounded
    // subset grows 100× in work per data decade
    val sub = Tables.documents(s, d).filter($"doc_id" % 10 === 0)
      .orderBy($"doc_id").limit(2500)
      .repartition(s.sparkContext.defaultParallelism, $"doc_id")
    Dedup.jaccardJoinExact(Dedup.shingled(sub, "doc_id", "text", 3), 0.62)
      .select($"id_a", $"id_b", r4($"jaccard").as("jaccard"))
      .orderBy($"id_a", $"id_b")
  }

  val qNgramJaccardOracle: String = pairOracle
    .replace("FROM documents WHERE doc_id % 5 = 0",
      "FROM (SELECT * FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id LIMIT 2500)")

  /** MinHash+LSH near-dup pairs, exact-verified — equals the exact join
    * (miss probability (1-t)^32 ≈ 4e-14 at t=0.62; SURVEY.md §2.5).
    * Smaller subset than the prefix join: this corpus's background
    * similarity (median J≈0.46) defeats LSH bucketing pruning, so the
    * candidate set is near-quadratic in the subset by construction.
    */
  def qMinhashPairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // FIXED-SIZE bound on top of the %20 sample (cap ≥ every driver
    // SF's subset — 250 at sf0.1 — so gated results are unchanged).
    // The sf10 decade exposed why a fraction alone fails: 3-gram
    // shingle TYPES live in a small space (~26³), so even content-
    // bijected replicas share background shingles, and with r=1
    // banding the candidate set is near-quadratic in the subset —
    // measured as an all-executor sort-spill cascade at 25k subset
    // docs. The exact-verify oracle seat is pairs-bounded by design;
    // corpus-scale near-dup runs the banded paths (lshCandidatesBanded
    // r>1 / minhashNearDupBipartite), not this audit.
    val sub = Tables.documents(s, d).filter($"doc_id" % 20 === 0)
      .orderBy($"doc_id").limit(2500)
      .repartition(s.sparkContext.defaultParallelism, $"doc_id")
    Dedup.minhashNearDup(sub, "doc_id", "text", 3, 32, 42L, 0.62)
      .select($"id_a", $"id_b", r4($"jaccard").as("jaccard"))
      .orderBy($"id_a", $"id_b")
  }

  val qMinhashPairsOracle: String = pairOracle
    .replace("FROM documents WHERE doc_id % 5 = 0",
      "FROM (SELECT * FROM documents WHERE doc_id % 20 = 0 ORDER BY doc_id LIMIT 2500)")

  /** Embedding near-dup pairs on a bounded subset, exact (all-pairs
    * within the subset, norms precomputed). Exact is the HONEST oracle
    * implementation here: this corpus's qualifying pairs sit at
    * cos≈0.35-0.46 — the background similarity of random vectors —
    * where NO LSH configuration prunes (per-table recall ~50%, and a
    * seed set tuned to full recall on one dataset silently drops pairs
    * on any other). The scale path for real near-dup thresholds
    * (cos ≥ 0.7) is [[Similarity.nearDupPairsLsh]] configured via
    * [[Similarity.planesFor]], recall-spec'd in TextDedupSimSpec.
    */
  def qEmbedNearDup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // FIXED-SIZE bound (not fixed-fraction): the exact verifier is
    // quadratic in its input, so a %-of-corpus subset grows 100× per
    // data decade (measured 13× wall-clock at the sf1 scale replica).
    // The cap exceeds every driver SF's subset (≤400 rows at sf0.1) so
    // gated results are unchanged; the corpus-scale near-dup path is
    // nearDupPairsLsh/planesFor (spec'd), not this audit.
    // repartition after the cap: limit() collapses to ONE partition,
    // which would serialize the quadratic verify across the cluster.
    // EXPLICIT width — a column-only repartition gets size-coalesced
    // by AQE (a few KB of vectors), blind to the quadratic work per row
    val sub = Tables.embeddings(s, d).filter($"vec_id" % 5 === 0)
      .orderBy($"vec_id")
      .limit(1000).repartition(s.sparkContext.defaultParallelism, $"vec_id")
    Similarity.nearDupPairs(sub, "vec_id", "embedding", threshold = 0.35)
      .orderBy($"id_a", $"id_b")
  }

  val qEmbedNearDupOracle: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id % 5 = 0
      |           ORDER BY vec_id LIMIT 1000)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      | round(list_dot_product(a.e,b.e)/(sqrt(list_dot_product(a.e,a.e))*sqrt(list_dot_product(b.e,b.e))),4) + 0 AS cos
      |FROM v a JOIN v b ON a.vec_id < b.vec_id
      |WHERE list_dot_product(a.e,b.e)/(sqrt(list_dot_product(a.e,a.e))*sqrt(list_dot_product(b.e,b.e))) >= 0.35
      |ORDER BY id_a, id_b""".stripMargin

  def qCosineTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val all = Tables.embeddings(s, d)
    // fixed-size query set (cap ≥ every driver SF's %100 subset, so
    // gated results are unchanged): brute-force is (queries × corpus);
    // a fraction-sized query set made the product quadratic (6.5×
    // wall-clock per data decade at the sf1 replica) — capped, the
    // scan side scales linearly and the broadcast side is constant
    val queries = all.filter($"vec_id" % 100 === 0).orderBy($"vec_id").limit(20)
    Similarity.topK(all, queries, "vec_id", "embedding", 5)
      .orderBy($"query_id", $"rank")
  }

  val qCosineTopKOracle: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |q AS (SELECT * FROM v WHERE vec_id % 100 = 0 ORDER BY vec_id LIMIT 20),
      |s AS (SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
      |  round(list_dot_product(q.e,v.e)/(sqrt(list_dot_product(q.e,q.e))*sqrt(list_dot_product(v.e,v.e))),4) + 0 AS cos
      | FROM q JOIN v ON q.vec_id <> v.vec_id)
      |SELECT query_id, neighbor_id, cos, rank FROM (
      | SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM s)
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** 60-bit SimHash per doc via the codegen'd SimHash60 expression.
    * Oracle-checked [Q]: the polynomial token hashes and the bit
    * arithmetic are exact integer ops reproducible in DuckDB SQL.
    */
  def qSimhash(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sub = Tables.documents(s, d).filter($"doc_id" % 10 === 0)
      .select($"doc_id", Dedup.simhash60($"text").as("simhash"))
    sub.orderBy($"doc_id")
  }

  val qSimhashOracle: String =
    """WITH t AS (
      | SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
      | FROM documents WHERE doc_id % 10 = 0),
      |h AS (
      | SELECT doc_id, list_transform(tk, s ->
      |   list_reduce(list_prepend(CAST(0 AS BIGINT),
      |     list_transform(range(1, length(s)+1), i -> CAST(ascii(substring(s,i,1)) AS BIGINT))),
      |     (acc, x) -> (acc*31 + x) % 1000000007)
      |   + 1073741824 * list_reduce(list_prepend(CAST(0 AS BIGINT),
      |     list_transform(range(1, length(s)+1), i -> CAST(ascii(substring(s,i,1)) AS BIGINT))),
      |     (acc, x) -> (acc*37 + x) % 1000000007)) AS hs
      | FROM t)
      |SELECT doc_id, CAST(list_sum(list_transform(range(0, 60), b ->
      |   CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h // CAST(pow(2,b) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END)) >= 0
      |        THEN CAST(pow(2,b) AS BIGINT) ELSE 0 END)) AS BIGINT) AS simhash
      |FROM h ORDER BY doc_id""".stripMargin

  /** Banded SimHash near-dup pairs ([[Dedup.simhashNearDup]]): all
    * pairs in the %5 sample within Hamming distance 4 of each other's
    * 60-bit SimHash, found via the 5×12-bit band join (pigeonhole:
    * bands > maxDist ⇒ no missed pair) and verified with an exact
    * popcount. The DuckDB twin recomputes signatures with the same
    * integer arithmetic and compares ALL pairs — every green row
    * re-proves the banding's deterministic completeness on this
    * corpus.
    */
  def qSimhashNearDup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // fixed-size cap (≥ the %5 subset at every gated SF — 1000 at
    // sf0.1). 60-bit simhash banding has a RESOLUTION CEILING the sf10
    // decade measured (19.7× slope): pigeonhole completeness at
    // maxDist=4 needs ≥5 bands, so bands are ≤12 bits and candidate
    // depth per bucket grows ∝ n/4096 — quadratic tail for n ≫ 4096
    // however cheap the popcount verify. The larger-corpus path is a
    // wider signature (128-bit), not a wider subset.
    val sub = Tables.documents(s, d).filter($"doc_id" % 5 === 0)
      .orderBy($"doc_id").limit(2500)
      .repartition(s.sparkContext.defaultParallelism, $"doc_id")
    Dedup.simhashNearDup(sub, "doc_id", "text", 4, 5)
      .orderBy($"id_a", $"id_b")
  }

  val qSimhashNearDupOracle: String =
    """WITH t AS (
      | SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
      | FROM (SELECT * FROM documents WHERE doc_id % 5 = 0 ORDER BY doc_id LIMIT 2500)),
      |h AS (
      | SELECT doc_id, list_transform(tk, s ->
      |   list_reduce(list_prepend(CAST(0 AS BIGINT),
      |     list_transform(range(1, length(s)+1), i -> CAST(ascii(substring(s,i,1)) AS BIGINT))),
      |     (acc, x) -> (acc*31 + x) % 1000000007)
      |   + 1073741824 * list_reduce(list_prepend(CAST(0 AS BIGINT),
      |     list_transform(range(1, length(s)+1), i -> CAST(ascii(substring(s,i,1)) AS BIGINT))),
      |     (acc, x) -> (acc*37 + x) % 1000000007)) AS hs
      | FROM t),
      |s AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 60), b ->
      |   CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h // CAST(pow(2,b) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END)) >= 0
      |        THEN CAST(pow(2,b) AS BIGINT) ELSE 0 END)) AS BIGINT) AS simhash FROM h)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      | CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS dist
      |FROM s a JOIN s b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= 4
      |ORDER BY id_a, id_b""".stripMargin

  /** [R] rows-only: random-hyperplane LSH ANN top-k on the multi-table
    * path (3 independent 4-plane tables — each prunes ~16×, a neighbor
    * missed by one table is caught by another; the
    * [[Similarity.planesFor]] miss math). Recall is probabilistic, so
    * there is no SQL oracle; instead the query GRADES ITSELF: recall@3
    * vs the exact top-3 on the same sub-corpus is computed inline (one
    * semi-join + two scalar aggregates over a bounded subset) and
    * emitted as a constant `recall_at_k` column, and the result is
    * GATED on `recall_at_k >= 0.25` — a recall regression empties the
    * result, so the driver's rows>0 check catches it without sbt.
    *
    * The floor is measured, not aspirational: this corpus's nearest
    * neighbors sit near the background similarity of random vectors —
    * the regime every bucketing ANN correctly prunes (planesFor refuses
    * it outright) — and the removed RecallProbe main
    * (`git show d778dfa:src/main/scala/graft/tools/RecallProbe.scala`)
    * measured recall@3 of THIS config at 0.29–0.34 across
    * sf0.001/0.01/0.1. The same
    * config+floor is pinned in-suite (TextDedupSimSpec "qAnnLsh shipped
    * config"); planted-neighbor recall (the regime LSH is for) is
    * spec'd ≥ 0.9 under a planesFor-derived config.
    */
  def qAnnLsh(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // the sub-corpus feeds the LSH index build AND both sides of the
    // self-grading exact top-k — checkpoint the bounded subset so the
    // parquet scan + float→double array conversion runs once. The
    // bound is FIXED-SIZE (cap ≥ every driver SF's %5 subset): the
    // exact grading is quadratic in the subset, so a fixed fraction
    // grew 5.7× per data decade at the sf1 replica
    val sub = Tables.embeddings(s, d).filter($"vec_id" % 5 === 0)
      .orderBy($"vec_id")
      .limit(1000).repartition(s.sparkContext.defaultParallelism, $"vec_id")
      .localCheckpoint()
    val approx = Similarity.annLshMulti(sub, "vec_id", "embedding", dim = 64,
      nPlanes = 4, seeds = Seq(7L, 19L, 31L), k = 3)
    val exact = Similarity.topK(sub, sub, "vec_id", "embedding", 3)
    val nExact = exact.agg(count(lit(1)).cast("double").as("__n_exact"))
    val nHits = approx.select($"query_id", $"neighbor_id")
      .join(exact.select($"query_id", $"neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).cast("double").as("__n_hits"))
    approx
      .crossJoin(broadcast(nHits)).crossJoin(broadcast(nExact))
      .withColumn("recall_at_k", round($"__n_hits" / $"__n_exact", 4) + lit(0.0))
      .filter($"recall_at_k" >= 0.25)
      .select($"query_id", $"neighbor_id", $"cos", $"rank", $"recall_at_k")
      .orderBy($"query_id", $"rank")
  }

  /** [Q] Planted-neighbor ANN recall, EXACTLY oracle-pinned — the
    * deterministic complement of [[qAnnLsh]]'s self-graded adversarial
    * case. Every query vector is an engine-reproducible perturbation of
    * a corpus vector (coordinate 1 nudged by +0.25, id offset by 1e6),
    * and the LSH tables use EXPLICIT integer-valued planes from a
    * transparent LCG formula — so DuckDB replays the ENTIRE pipeline
    * bit-for-bit: same planes, same left-to-right dots, same sign rule,
    * same bucket ids, same candidate pairs, same rounded-cosine top-3
    * with the (cos desc, id asc) tie-break. Output: one row per planted
    * query with the rank its source vector achieved (0 = missed), so
    * LSH-table recall on KNOWN structure is a hash-checked oracle seat,
    * not a self-grade. Runs through the REAL library path
    * ([[Similarity.annLshMultiTables]] — the seam [[Similarity
    * .annLshMulti]] itself delegates through), so a recall regression
    * in the production operator fails this row.
    *
    * Determinism note: plane entries are integers in {-1,0,1} and both
    * engines evaluate the dot product left-to-right over the same
    * float-widened doubles, so the IEEE result — hence every sign and
    * bucket — is identical by construction, not by luck.
    */
  def qAnnPlanted(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val nT = 4; val nP = 6; val dim = 64
    // entry(t,p,j) = ((1103515245*((t*nP+p)*dim+j) + 12345) % 2147483647) % 3 - 1
    val planes: Seq[Seq[Seq[Double]]] = (0 until nT).map { t =>
      (0 until nP).map { p =>
        (0 until dim).map { j =>
          val idx = (t.toLong * nP + p) * dim + j
          (((1103515245L * idx + 12345L) % 2147483647L) % 3L - 1L).toDouble
        }
      }: Seq[Seq[Double]]
    }
    // FIXED-SIZE cap (the qAnnLsh lesson): candidate count per table is
    // n²/2^planes, so an uncapped corpus scales the seat quadratically —
    // the first uncapped build ran MINUTES at the 20k-row sf1 replica.
    // 600 lowest ids = the whole table at the gated SFs (500 rows);
    // checkpointed because the subset feeds the index AND the query
    // derivation
    val corpus = Tables.embeddings(s, d)
      .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("v"))
      .orderBy($"id").limit(600)
      .repartition(s.sparkContext.defaultParallelism, $"id")
      .localCheckpoint()
    val queries = corpus.filter($"id" % 25 === 0)
      .select(($"id" + 1000000L).as("id"),
        concat(array(element_at($"v", 1) + lit(0.25)), slice($"v", 2, dim - 1)).as("v"))
    val all = corpus.unionByName(queries)
      .repartition(s.sparkContext.defaultParallelism, $"id")
    val top = Similarity.annLshMultiTables(all, "id", "v", 3, planes)
    val planted = top.filter($"query_id" >= 1000000L)
      .groupBy($"query_id")
      .agg(max(when($"neighbor_id" === $"query_id" - 1000000L, $"rank")).as("__rh"))
    queries.select($"id".as("query_id"), ($"id" - 1000000L).as("src_id"))
      .join(planted, Seq("query_id"), "left")
      .select($"query_id", $"src_id",
        coalesce($"__rh", lit(0)).cast("long").as("src_rank"),
        when(coalesce($"__rh", lit(0)) > 0, 1L).otherwise(0L).as("found"))
      .orderBy($"query_id")
  }

  val qAnnPlantedOracle: String =
    """WITH c AS (
      | SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      | FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 600)),
      |q AS (
      | SELECT id + 1000000 AS id, list_concat([v[1] + 0.25], v[2:]) AS v
      | FROM c WHERE id % 25 = 0),
      |a AS (SELECT * FROM c UNION ALL SELECT * FROM q),
      |b AS (
      | SELECT r.t, a.id,
      |   CAST(list_sum(list_transform(range(0, 6), p ->
      |     CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |            list_transform(range(1, 65), j ->
      |              v[CAST(j AS INT)] * CAST(((1103515245 * ((r.t*6 + p)*64 + (j-1)) + 12345) % 2147483647) % 3 - 1 AS DOUBLE))),
      |            (acc, x) -> acc + x) >= 0
      |          THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END)) AS BIGINT) AS bucket
      | FROM a, range(0, 4) r(t)),
      |cand AS (
      | SELECT DISTINCT qa.id AS query_id, nb.id AS neighbor_id
      | FROM b qa JOIN b nb ON qa.t = nb.t AND qa.bucket = nb.bucket
      | WHERE qa.id >= 1000000 AND nb.id <> qa.id),
      |norms AS (
      | SELECT id, sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |   list_transform(range(1, 65), j -> v[CAST(j AS INT)] * v[CAST(j AS INT)])),
      |   (acc, x) -> acc + x)) AS nrm FROM a),
      |scored AS (
      | SELECT cand.query_id, cand.neighbor_id,
      |   round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |     list_transform(range(1, 65), j -> qa.v[CAST(j AS INT)] * nb.v[CAST(j AS INT)])),
      |     (acc, x) -> acc + x) / (nq.nrm * nn.nrm), 4) AS cos
      | FROM cand
      | JOIN a qa ON qa.id = cand.query_id JOIN a nb ON nb.id = cand.neighbor_id
      | JOIN norms nq ON nq.id = cand.query_id JOIN norms nn ON nn.id = cand.neighbor_id),
      |topk AS (
      | SELECT query_id, neighbor_id,
      |   row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
      | FROM scored),
      |hit AS (
      | SELECT query_id, max(CASE WHEN neighbor_id = query_id - 1000000 THEN rnk END) AS rh
      | FROM topk WHERE rnk <= 3 GROUP BY query_id)
      |SELECT q.id AS query_id, q.id - 1000000 AS src_id,
      |  CAST(COALESCE(hit.rh, 0) AS BIGINT) AS src_rank,
      |  CAST(CASE WHEN COALESCE(hit.rh, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS found
      |FROM q LEFT JOIN hit ON hit.query_id = q.id
      |ORDER BY query_id""".stripMargin

  /** Near-dup clusters (connected components over exact-Jaccard pairs):
    * per non-singleton cluster, its min-id label and size — the
    * "keep one per cluster" shape of corpus dedup. The sample's pairs
    * (1,058 at sf0.1) sit far under [[Dedup.dupClusters]]' driver
    * bound, so the components come from one bounded collect and a
    * driver union-find, not from distributed rounds. Oracle = recursive
    * CTE transitive closure in DuckDB; `DupClustersOracleSpec` checks
    * the query against a driver-side fold that shares neither.
    */
  def qDupClusters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // fixed-size cap, same rationale as q_minhash_pairs (exact verify
    // is pairs-bounded; clusters at corpus scale run on banded pairs)
    val sub = Tables.documents(s, d).filter($"doc_id" % 20 === 0)
      .orderBy($"doc_id").limit(2500)
      .repartition(s.sparkContext.defaultParallelism, $"doc_id")
    val pairs = Dedup.jaccardJoinExact(Dedup.shingled(sub, "doc_id", "text", 3), 0.62)
    Dedup.dupClusters(sub.select($"doc_id"), "doc_id", pairs)
      .groupBy($"cluster").agg(count(lit(1)).as("n_docs"))
      .filter($"n_docs" > 1)
      .select($"cluster".as("cluster_id"), $"n_docs")
      .orderBy($"cluster_id")
  }

  val qDupClustersOracle: String =
    """WITH RECURSIVE
      |s AS (SELECT doc_id AS id, list_distinct(list_transform(range(1, length(text)-1), i -> substring(text,i,3))) AS sh
      |      FROM (SELECT * FROM documents WHERE doc_id % 20 = 0 ORDER BY doc_id LIMIT 2500)),
      |p AS (SELECT a.id AS id_a, b.id AS id_b
      |      FROM s a JOIN s b ON a.id < b.id
      |      WHERE CAST(len(list_intersect(a.sh,b.sh)) AS DOUBLE)
      |         / (len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh))) >= 0.62),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM p UNION ALL SELECT id_b AS src, id_a AS dst FROM p),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      |comp AS (SELECT src AS id, least(src, min(dst)) AS cluster FROM reach GROUP BY src)
      |SELECT cluster AS cluster_id, count(*) AS n_docs
      |FROM comp GROUP BY cluster HAVING count(*) > 1 ORDER BY cluster""".stripMargin

  /** Fixed-token-window document chunking — the complement of
    * q_pack_sequences (packing concatenates SHORT docs into full
    * sequences; chunking splits LONG docs into overlapping windows,
    * the RAG/pretraining prep step for documents over the context
    * budget). Window W = 256 tokens, overlap V = 32, stride
    * S = W − V = 224; doc with n tokens yields 1 chunk if n ≤ W else
    * 1 + ⌈(n−W)/S⌉, chunk i covering [i·S, i·S + W). All chunk
    * arithmetic is INTEGER (`div`, `least`) — no cross-engine float
    * boundary — and per-row expression work only: the explode is the
    * single generate, the histogram one hash aggregate. Output:
    * chunk-length histogram (bucket 32) with contributing-doc counts.
    */
  def qChunkDocs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select($"doc_id", TextFunctions.tokenCount($"text").cast("long").as("n"))
    docs
      .withColumn("n_chunks",
        when($"n" <= 256, lit(1L)).otherwise(expr("1 + ((n - 33) div 224)")))
      .select($"doc_id", $"n", explode(sequence(lit(0L), $"n_chunks" - 1)).as("i"))
      .select($"doc_id", least(lit(256L), $"n" - $"i" * 224L).as("len"))
      .select($"doc_id", (expr("len div 32") * 32L).as("bucket"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_chunks"), countDistinct($"doc_id").as("n_docs"))
      .orderBy($"bucket")
  }

  val qChunkDocsOracle: String =
    """WITH d AS (SELECT doc_id,
      |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n FROM documents),
      |c AS (SELECT doc_id, n,
      |  CASE WHEN n <= 256 THEN 1 ELSE 1 + ((n - 33) // 224) END AS n_chunks FROM d),
      |e AS (SELECT doc_id, n, unnest(range(n_chunks)) AS i FROM c),
      |l AS (SELECT doc_id, least(256, n - i * 224) AS len FROM e)
      |SELECT (len // 32) * 32 AS bucket, count(*) AS n_chunks,
      | count(DISTINCT doc_id) AS n_docs
      |FROM l GROUP BY 1 ORDER BY 1""".stripMargin

  /** Unigram-LM quality scoring — the SQL-expressible analog of the
    * perplexity filter of LLM data prep (CCNet-style: score each doc
    * against a corpus-level LM; rare-token-heavy docs score high and
    * get flagged). The LM here is the corpus's own unigram
    * distribution: doc score = avg over tokens of −ln p(w),
    * p(w) = count(w)/total. Scale shape: one token explode, one
    * vocab-sized count aggregate joined back BROADCAST (a unigram
    * vocab with counts is ≤ millions of rows at any corpus size), one
    * per-doc aggregate, one per-source rollup — no unbounded state.
    */
  def qUnigramLogprob(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tok = Tables.documents(s, d)
      .select($"doc_id", $"source", explode(TextFunctions.tokens($"text")).as("w"))
    // vocab-bounded — checkpointed so its two consumers (the broadcast
    // join and the totals aggregate) don't each re-explode the corpus:
    // plan-dumped at 3 corpus explodes without it, 2 with (the per-doc
    // scoring pass and the one counts build)
    val counts = tok.groupBy($"w").agg(count(lit(1)).as("cnt")).localCheckpoint()
    val tot = counts.agg(sum($"cnt").cast("double").as("tot"))
    val perDoc = tok.join(broadcast(counts), "w").crossJoin(broadcast(tot))
      .groupBy($"doc_id", $"source")
      .agg(avg(-log($"cnt" / $"tot")).as("nll"))
    perDoc.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        r4(avg($"nll")).as("avg_nll"),
        sum(when($"nll" > 8.0, 1L).otherwise(0L)).as("n_flagged"))
      .orderBy($"source")
  }

  val qUnigramLogprobOracle: String =
    """WITH tok AS (SELECT doc_id, source,
      |  unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents),
      |c AS (SELECT w, count(*) AS cnt FROM tok GROUP BY 1),
      |t AS (SELECT sum(cnt) * 1.0 AS tot FROM c),
      |p AS (SELECT doc_id, source, avg(-ln(cnt / tot)) AS nll
      |      FROM tok JOIN c USING (w) CROSS JOIN t GROUP BY 1, 2)
      |SELECT source, count(*) AS n_docs,
      | round(avg(nll), 4) + 0 AS avg_nll,
      | CAST(sum(CASE WHEN nll > 8.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
      |FROM p GROUP BY source ORDER BY source""".stripMargin

  /** DSIR-style importance weighting (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023 — the
    * standard pretraining-data selection pass): every document scored
    * by how much likelier its tokens are under a TARGET unigram LM
    * than under the RAW-corpus LM — per-token mean of
    * ln(p_t(w)/p_r(w)) with add-0.5 smoothing over the shared vocab,
    * so target-absent tokens penalize instead of −∞. Target here =
    * the deterministic min(source) cohort; output is the per-source
    * selection report (mean log-weight + docs with positive weight —
    * the docs importance resampling would favor). Scale shape: ONE
    * conditional count pass builds both LMs keyed by xxhash64 longs
    * (vocab-bounded, checkpointed), totals are a scalar agg broadcast
    * back, scoring is one join + one hash agg — the vocab join stays
    * a shuffle join for 100M-row vocabs (AQE may broadcast small
    * ones). Per-doc weights round to 6 dp before the >0 selection cut
    * so both engines cut identically.
    */
  def qDsirWeights(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docsTk = Tables.documents(s, d)
      .select($"doc_id", $"source", explode(TextFunctions.tokens($"text")).as("w"))
    val tgt = Tables.documents(s, d).agg(min($"source").as("tgt"))
    val inst = docsTk.crossJoin(broadcast(tgt))
      .select($"doc_id", $"source", xxhash64($"w").as("h"),
        ($"source" === $"tgt").as("is_t"))
    val counts = inst.groupBy($"h")
      .agg(count(lit(1)).as("cr"), sum(when($"is_t", 1L).otherwise(0L)).as("ct"))
      .localCheckpoint()
    val tot = counts.agg(sum($"cr").cast("double").as("nr"),
      sum($"ct").cast("double").as("nt"), count(lit(1)).cast("double").as("v"))
    val perDoc = inst.join(counts, "h").crossJoin(broadcast(tot))
      .groupBy($"doc_id", $"source")
      .agg((round(avg(log((($"ct" + lit(0.5)) / ($"nt" + lit(0.5) * $"v")) *
        (($"nr" + lit(0.5) * $"v") / ($"cr" + lit(0.5))))), 6) + lit(0.0)).as("logw"))
    perDoc.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), r4(avg($"logw")).as("avg_logw"),
        sum(when($"logw" > 0.0, 1L).otherwise(0L)).as("n_selected"))
      .orderBy($"source")
  }

  val qDsirWeightsOracle: String =
    """WITH tk AS (SELECT doc_id, source,
      |  unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents),
      |tgt AS (SELECT min(source) AS t FROM documents),
      |c AS (SELECT w, count(*) AS cr,
      |  sum(CASE WHEN source = (SELECT t FROM tgt) THEN 1 ELSE 0 END) AS ct
      | FROM tk GROUP BY 1),
      |tot AS (SELECT CAST(sum(cr) AS DOUBLE) AS nr, CAST(sum(ct) AS DOUBLE) AS nt,
      |  CAST(count(*) AS DOUBLE) AS v FROM c),
      |p AS (SELECT doc_id, source,
      |  round(avg(ln(((ct + 0.5) / (nt + 0.5 * v)) * ((nr + 0.5 * v) / (cr + 0.5)))), 6) + 0 AS logw
      | FROM tk JOIN c USING (w) CROSS JOIN tot GROUP BY 1, 2)
      |SELECT source, count(*) AS n_docs, round(avg(logw), 4) + 0 AS avg_logw,
      | CAST(sum(CASE WHEN logw > 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_selected
      |FROM p GROUP BY source ORDER BY source""".stripMargin

  /** Length-grouped batching audit — the padding-efficiency report
    * behind bucketed batch assembly (batching similar-length docs cuts
    * the padding FLOPs a uniform batcher wastes): docs bucket by
    * token count at integer 64-token cuts (capped at bucket 8 = 512+),
    * and each bucket reports docs, token sum, its pad target (the
    * bucket's max length) and the padding waste RATE if batches pad to
    * that target — versus the whole-corpus pad-to-global-max waste as
    * the comparison scalar on every row. Pure per-row expression work
    * + one hash agg on a ≤ 9-key space + one tiny window for the
    * global max; every boundary is integer, the only rounding is the
    * final display ratio.
    */
  def qLengthBuckets(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select(TextFunctions.tokenCount($"text").cast("long").as("n"))
    val buckets = docs
      .select(expr("CAST(least(n div 64, 8) AS INT)").as("bucket"), $"n")
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_docs"), sum($"n").as("sum_tokens"),
        max($"n").as("pad_to"))
    val w = Window.partitionBy() // 9-row frame — bounded
    buckets
      .withColumn("waste_frac",
        r4(($"n_docs" * $"pad_to" - $"sum_tokens").cast("double") /
          ($"n_docs" * $"pad_to")))
      .withColumn("global_waste_frac",
        r4((sum($"n_docs").over(w) * max($"pad_to").over(w) -
          sum($"sum_tokens").over(w)).cast("double") /
          (sum($"n_docs").over(w) * max($"pad_to").over(w))))
      .orderBy($"bucket")
  }

  val qLengthBucketsOracle: String =
    """WITH t AS (SELECT len(string_split_regex(trim(text), '\s+')) AS n FROM documents),
      |b AS (SELECT CAST(least(n // 64, 8) AS INT) AS bucket, count(*) AS n_docs,
      |  CAST(sum(n) AS BIGINT) AS sum_tokens, CAST(max(n) AS BIGINT) AS pad_to
      | FROM t GROUP BY 1),
      |g AS (SELECT sum(n_docs) AS nd, max(pad_to) AS pt, sum(sum_tokens) AS st FROM b)
      |SELECT bucket, n_docs, sum_tokens, pad_to,
      | round((n_docs * pad_to - sum_tokens) * 1.0 / (n_docs * pad_to), 4) + 0 AS waste_frac,
      | round((g.nd * g.pt - g.st) * 1.0 / (g.nd * g.pt), 4) + 0 AS global_waste_frac
      |FROM b CROSS JOIN g ORDER BY bucket""".stripMargin

  /** Training-order shuffle + sharding — the last step of training-data
    * assembly: give every document a DETERMINISTIC pseudo-random
    * position (md5 of its seeded id — reproducible across runs,
    * engines, and partitionings), then cut the order into equal
    * contiguous shards and audit per-shard source balance (the
    * property that makes sequential-read training batches unbiased).
    * The global position comes from [[graft.operators.GlobalRank]] —
    * range-partition + per-partition offsets — NOT a no-partition
    * `row_number().over(orderBy)`, which collapses the corpus to one
    * machine; shard assignment is integer arithmetic on the rank
    * (floor((r−1)·S/N), exact to 2^63/S rows); the audit is one hash
    * agg. The O(shards × sources) result is collected eagerly so the
    * rank cache releases deterministically — note for plan-only
    * callers (PlanDump, SourcesPlanSpec): CONSTRUCTING this frame runs
    * the whole rank+audit, unlike the fit-once queries' tiny jobs.
    */
  def qShuffleShards(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"),
      md5(concat(col("doc_id").cast("string"), lit("#42"))).as("k"))
    val ranked = graft.operators.GlobalRank.withGlobalRowNumber(
      docs, Seq(col("k"), col("doc_id")), "__r")
    val nShards = 8
    val res = ranked.df
      .withColumn("shard", expr(s"CAST(((__r - 1) * $nShards) DIV ${ranked.total} AS INT)"))
      .groupBy(col("shard"), col("source")).agg(count(lit(1)).as("n_docs"))
      .orderBy(col("shard"), col("source"))
    val rows = res.collect()
    ranked.release()
    s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
  }

  val qShuffleShardsOracle: String =
    """WITH r AS (SELECT source,
      |  row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR) || '#42'), doc_id) AS r
      | FROM documents),
      |n AS (SELECT count(*) AS n FROM documents)
      |SELECT CAST(((r - 1) * 8) // n AS INT) AS shard, source, count(*) AS n_docs
      |FROM r CROSS JOIN n GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** INCREMENTAL dedup audit — the production shape of corpus dedup:
    * each incoming batch is checked against the already-kept corpus,
    * never against itself twice. Exact layer = md5 digest semi-join
    * (one shuffle on 16-byte digests); near layer = the CORPUS-SCALE
    * banded arm [[Dedup.minhashNearDupBipartiteBanded]] (b=63 × r=2
    * MinHash bands over 7-gram shingles, candidates exact-verified) —
    * r13 and earlier ran the exact inverted-index arm here, the last
    * uncapped-scale exact arm in the dedup family. Precision is 1 by
    * construction (every candidate is exact-Jaccard-verified), and a
    * true J ≥ 0.62 pair escapes all 63 bands with probability
    * (1−0.62²)⁶³ ≈ 5·10⁻¹⁴ — below any realizable pair count, so the
    * all-pairs exact-Jaccard DuckDB twin is a valid oracle for the
    * banded output (the same miss-bound argument q_minhash_pairs
    * uses at (1−0.62)³² ≈ 4·10⁻¹⁴). 7-gram shingles, not 3-gram: the
    * ~26³ 3-gram type space gives this corpus a ~0.46 median
    * background J where NO banding geometry prunes (SCALING.md r10-r11
    * candidate-flood findings); at n=7 the background collapses and
    * band collisions are near-linear in the batch. Single-row summary:
    * batch size, exact hits, near hits (J ≥ 0.62 on 7-gram shingles;
    * includes exact copies), survivors.
    */
  def qDedupIncremental(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // fixed-size cap (≥ the %10 subset at every gated SF — 500 at
    // sf0.1): the ORACLE side is an all-pairs NOT-EXISTS quadratic in
    // DuckDB, so the oracle seat stays bounded; the operator itself is
    // the banded corpus-scale path
    // the capped subset is CHECKPOINTED once (r19; VERDICT r18 #6 —
    // the ~40-stage pipeline's variance class was stage count × host
    // load): without it the global sort-limit + exchange re-executed
    // under every downstream consumer (both shingle persists, both
    // sides of the digest join, the final count — ~5 runs of the
    // documents scan + TakeOrdered chain); bounded by the 2500-row cap
    val sub = Tables.documents(s, d).filter($"doc_id" % 10 === 0)
      .orderBy($"doc_id").limit(2500)
      .repartition(s.sparkContext.defaultParallelism, $"doc_id")
      .localCheckpoint()
    val oldB = sub.filter($"doc_id" % 20 === 0)
    val newB = sub.filter($"doc_id" % 20 =!= 0)
    // the exact-id frame feeds its own count AND the union — checkpoint
    // the (batch-bounded) ids so the digest join runs ONCE, not once
    // per consumer (measured 2× on the near join without it: 5.2 →
    // ~2.6 s at sf0.1)
    val exactIds = newB.select($"doc_id", md5($"text").as("dg"))
      .join(oldB.select(md5($"text").as("dg")).distinct(), Seq("dg"), "left_semi")
      .select($"doc_id").distinct().localCheckpoint()
    // no checkpoint on nearIds (r19): the banded operator already
    // returns a localCheckpoint of the verified pairs, so this frame's
    // two consumers each re-run only a tiny distinct over checkpointed
    // rows — the extra checkpoint action cost more than it saved
    val nearIds = Dedup.minhashNearDupBipartiteBanded(
        newB, oldB, "doc_id", "text", n = 7, b = 63, r = 2, seed = 42L,
        threshold = 0.62)
      .select($"id_new".as("doc_id")).distinct()
    val flagged = exactIds.unionByName(nearIds).distinct()
    newB.agg(count(lit(1)).as("n_new"))
      .crossJoin(broadcast(exactIds.agg(count(lit(1)).as("n_exact_dup"))))
      .crossJoin(broadcast(nearIds.agg(count(lit(1)).as("n_near_dup"))))
      .crossJoin(broadcast(flagged.agg(count(lit(1)).as("n_flagged"))))
      .select($"n_new", $"n_exact_dup", $"n_near_dup",
        ($"n_new" - $"n_flagged").as("n_kept"))
  }

  val qDedupIncrementalOracle: String =
    """WITH sub AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id LIMIT 2500),
      |o AS (SELECT * FROM sub WHERE doc_id % 20 = 0),
      |nn AS (SELECT * FROM sub WHERE doc_id % 20 <> 0),
      |ex AS (SELECT DISTINCT nn.doc_id FROM nn JOIN o ON md5(nn.text) = md5(o.text)),
      |sn AS (SELECT doc_id AS id, list_distinct(list_transform(range(1, length(text)-5), i -> substring(text,i,7))) AS sh FROM nn),
      |so AS (SELECT doc_id AS id, list_distinct(list_transform(range(1, length(text)-5), i -> substring(text,i,7))) AS sh FROM o),
      |nr AS (SELECT DISTINCT a.id AS doc_id FROM sn a JOIN so b ON
      |  CAST(len(list_intersect(a.sh,b.sh)) AS DOUBLE)
      |    / (len(a.sh)+len(b.sh)-len(list_intersect(a.sh,b.sh))) >= 0.62),
      |fl AS (SELECT doc_id FROM ex UNION SELECT doc_id FROM nr)
      |SELECT (SELECT count(*) FROM nn) AS n_new,
      | (SELECT count(*) FROM ex) AS n_exact_dup,
      | (SELECT count(*) FROM nr) AS n_near_dup,
      | (SELECT count(*) FROM nn) - (SELECT count(*) FROM fl) AS n_kept""".stripMargin

  /** Composed corpus-cleaning pipeline: quality filter → language
    * filter → exact dedup, with per-stage survivor counts (the C4-style
    * cleaning funnel as ONE single-pass aggregation over flags).
    */
  def qCorpusClean(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val flagged = Tables.documents(s, d).select(
      ($"n_chars" >= 100 &&
        TextFunctions.qualityStats($"text", stop).getField("stop_hits") > 0).as("q_ok"),
      (TextFunctions.langId($"text", langProfiles) === "en").as("lang_ok"),
      md5($"text").as("digest"))
    flagged.agg(
      count(lit(1)).as("n_input"),
      sum(when($"q_ok", 1L).otherwise(0L)).as("n_quality"),
      sum(when($"q_ok" && $"lang_ok", 1L).otherwise(0L)).as("n_kept"),
      countDistinct(when($"q_ok" && $"lang_ok", $"digest")).as("n_distinct"))
  }

  val qCorpusCleanOracle: String =
    """WITH t AS (
      | SELECT n_chars, md5(text) AS digest, string_split_regex(trim(text), '\s+') AS tk FROM documents),
      |f AS (
      | SELECT digest,
      |  (n_chars >= 100 AND CAST(len(list_filter(tk, x -> x IN ('the','a'))) AS DOUBLE) / len(tk) > 0) AS q_ok,
      |  (len(list_filter(tk, x -> x IN ('the','a'))) >= len(list_filter(tk, x -> x IN ('query','row')))
      |   AND len(list_filter(tk, x -> x IN ('the','a'))) >= len(list_filter(tk, x -> x IN ('join','merge')))
      |   AND len(list_filter(tk, x -> x IN ('the','a'))) >= len(list_filter(tk, x -> x IN ('spark','hash')))
      |   AND NOT (len(list_filter(tk, x -> x IN ('data','table'))) >= len(list_filter(tk, x -> x IN ('the','a')))
      |        AND len(list_filter(tk, x -> x IN ('data','table'))) >= len(list_filter(tk, x -> x IN ('query','row')))
      |        AND len(list_filter(tk, x -> x IN ('data','table'))) >= len(list_filter(tk, x -> x IN ('join','merge')))
      |        AND len(list_filter(tk, x -> x IN ('data','table'))) >= len(list_filter(tk, x -> x IN ('spark','hash'))))
      |  ) AS lang_ok
      | FROM t)
      |SELECT count(*) AS n_input,
      | CAST(sum(CASE WHEN q_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
      | CAST(sum(CASE WHEN q_ok AND lang_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      | count(DISTINCT CASE WHEN q_ok AND lang_ok THEN digest END) AS n_distinct
      |FROM f""".stripMargin

  /** Mean-pooled centroid per label (posexplode → per-dim avg → per-
    * label rollup) — the embedding pooling op of a training pipeline.
    */
  def qEmbedCentroid(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, d)
      .select($"label", posexplode($"embedding".cast("array<double>")).as(Seq("pos", "x")))
      .groupBy($"label", $"pos").agg(avg($"x").as("m"))
      .groupBy($"label")
      .agg(count(lit(1)).as("dim"),
        (round(sum($"m"), 4) + lit(0.0)).as("sum_centroid"),
        (round(max($"m"), 4) + lit(0.0)).as("max_centroid"))
      .orderBy($"label")
  }

  val qEmbedCentroidOracle: String =
    """WITH e AS (
      | SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS x,
      |        unnest(range(0, len(embedding))) AS pos
      | FROM embeddings),
      |c AS (SELECT label, pos, avg(x) AS m FROM e GROUP BY 1, 2)
      |SELECT label, count(*) AS dim,
      | round(sum(m),4) + 0 AS sum_centroid,
      | round(max(m),4) + 0 AS max_centroid
      |FROM c GROUP BY label ORDER BY label""".stripMargin

  /** Corpus vocabulary head: top-20 tokens by document frequency-
    * weighted count (the seed step of vocabulary/BPE construction).
    * One explode + groupBy, deterministic tie-break on the token.
    */
  def qVocabTopk(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(explode(TextFunctions.tokens($"text")).as("token"))
      .groupBy($"token").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"token")
      .limit(20)
  }

  val qVocabTopkOracle: String =
    """SELECT token, count(*) AS n FROM (
      | SELECT unnest(string_split_regex(trim(text), '\s+')) AS token FROM documents)
      |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin

  /** Vocabulary head via the Misra-Gries sketch — the 100 TB shape of
    * [[qVocabTopk]]: pass 1 reduces each partition to an O(m) MG
    * summary ([[graft.functions.MisraGriesTopK]] — mergeable, any key
    * with frequency > n/m guaranteed present) so the tail vocabulary
    * (billions of junk singletons in a trillion-token corpus) is never
    * shuffled; pass 2 exact-counts ONLY the ≤ m candidate keys via a
    * broadcast semi-join. Results equal the exact top-k whenever every
    * true top-k key clears the n/m guarantee (here: top-20 min count
    * ≥ 130× n/4096 at every gated SF, so the DuckDB twin is an
    * equality oracle, not a containment check).
    */
  def qVocabTopkMg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select(explode(TextFunctions.tokens($"text")).as("token"))
    val cand = toks
      .agg(graft.functions.MisraGriesTopK.heavyHitters($"token", 4096).as("hh"))
      .select(explode($"hh").as("e"))
      .select($"e.key".as("token"))
    toks.join(broadcast(cand), Seq("token"), "left_semi")
      .groupBy($"token").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"token")
      .limit(20)
  }

  /** TF-IDF head: top-20 (doc, token) pairs by tf·ln(N/df) over a doc
    * subset — the classic text-vectorization weighting, DataFrame-
    * native (explode → per-(doc,token) tf → per-token df → weight).
    * Two shuffles; df per token is corpus-bounded (vocabulary size).
    */
  def qTfidf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sub = Tables.documents(s, d).filter($"doc_id" % 10 === 0)
    // N as a 1-row broadcast agg (the oracle's scalar CTE shape) —
    // a driver-side count() here would scan the subset in a separate
    // job just to inline a literal; at 100 TB that's a full extra scan
    val nDf = sub.agg(count(lit(1)).cast("double").as("n_docs_sub"))
    val tok = sub.select($"doc_id", explode(TextFunctions.tokens($"text")).as("token"))
    val tf = tok.groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
    val df_ = tok.select($"doc_id", $"token").distinct()
      .groupBy($"token").agg(count(lit(1)).as("df"))
    tf.join(broadcast(df_), Seq("token"))
      .crossJoin(broadcast(nDf))
      .withColumn("tfidf", r4($"tf" * log($"n_docs_sub" / $"df")))
      .select($"doc_id", $"token", $"tf", $"df", $"tfidf")
      .orderBy($"tfidf".desc, $"doc_id", $"token")
      .limit(20)
  }

  val qTfidfOracle: String =
    """WITH sub AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM sub),
      |tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token FROM sub),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
      |df AS (SELECT token, count(*) AS df FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY 1)
      |SELECT doc_id, tf.token AS token, tf, df,
      | round(tf * ln(n.n / df), 4) + 0 AS tfidf
      |FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
      |ORDER BY tfidf DESC, doc_id, token LIMIT 20""".stripMargin

  /** Token-count histogram (bucket width 20). */
  def qTokenHist(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select((floor(TextFunctions.tokenCount($"text") / 20) * 20).cast("int").as("bucket"))
      .groupBy($"bucket").agg(count(lit(1)).as("n_docs"))
      .orderBy($"bucket")
  }

  val qTokenHistOracle: String =
    """SELECT CAST(floor(len(string_split_regex(trim(text), '\s+')) / 20) * 20 AS INT) AS bucket,
      | count(*) AS n_docs
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** Training-mixture reweighting: per-language sampling weights that
    * move the corpus from its ACTUAL token shares to a uniform target
    * mix (the domain-mixing step of training-data assembly). weight =
    * target_share / actual_share; weights > 1 mean the slice must be
    * upsampled (repeated epochs). One aggregation + whole-frame window
    * over the #langs-sized result.
    */
  def qMixtureWeights(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    Tables.documents(s, d)
      .select($"lang", TextFunctions.tokenCount($"text").as("tc"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"tc").as("n_tokens"))
      .withColumn("tot", sum($"n_tokens").over(wAll).cast("double"))
      .withColumn("n_langs", count(lit(1)).over(wAll).cast("double"))
      .select($"lang", $"n_docs", $"n_tokens",
        r4($"n_tokens" / $"tot").as("actual_share"),
        r4((lit(1.0) / $"n_langs") / ($"n_tokens" / $"tot")).as("weight"))
      .orderBy($"lang")
  }

  val qMixtureWeightsOracle: String =
    """WITH g AS (
      | SELECT lang, count(*) AS n_docs,
      |  CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens
      | FROM documents GROUP BY lang),
      |t AS (SELECT sum(n_tokens) * 1.0 AS tot, count(*) * 1.0 AS n_langs FROM g)
      |SELECT lang, n_docs, n_tokens,
      | round(n_tokens / tot, 4) + 0 AS actual_share,
      | round((1.0 / n_langs) / (n_tokens / tot), 4) + 0 AS weight
      |FROM g CROSS JOIN t ORDER BY lang""".stripMargin

  /** Mixture APPLY — the execution step of [[qMixtureWeights]]:
    * downsample each language toward the uniform token-share target by
    * keeping a doc iff its deterministic hash-uniform falls under the
    * language's weight (weights ≥ 1, i.e. under-represented languages,
    * keep everything — upsampling is epoch repetition, not row
    * duplication). The keep decision is INTEGER arithmetic end to end:
    * u(doc) = (doc_id · 2654435761) mod 10007 (Knuth multiplicative
    * hash — doc_id is a synthetic dense key; adversarial keys would
    * ride xxhash64, which can't cross the oracle boundary), and
    * u·n_langs·lang_tokens < 10007·total_tokens avoids every
    * cross-engine float-boundary hazard a `u/10007 < weight` compare
    * would have. One scan + one k-row broadcast join; the keep filter
    * is a pure projection — the 100 TB shape.
    *
    * Integer bounds: doc_id is reduced mod 10007 BEFORE the multiply
    * ((a·b) mod m = ((a mod m)·b) mod m — algebraically identical,
    * and the intermediate stays ≤ 10006·2654435761 ≈ 2.7e13 for ANY
    * doc_id; the unreduced form overflowed ANSI Long at the sf1
    * scale replica's 1e9-offset ids, caught by SCALING.md's bench),
    * and the keep test's u·n_langs·lang_tokens < 9.2e18 holds through
    * ~1e13 tokens per language at 10007 buckets.
    */
  def qMixtureApply(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select($"doc_id", $"lang", TextFunctions.tokenCount($"text").as("tc"))
    val perLang = docs.groupBy($"lang").agg(sum($"tc").as("ltok"))
    val tot = perLang.agg(sum($"ltok").as("tot"), count(lit(1)).as("n_langs"))
    val kept = docs.join(broadcast(perLang), "lang").crossJoin(broadcast(tot))
      .filter(pmod(pmod($"doc_id", lit(10007L)) * lit(2654435761L), lit(10007L)) *
        $"n_langs" * $"ltok" < lit(10007L) * $"tot")
    val agg = kept.groupBy($"lang")
      .agg(count(lit(1)).as("n_docs_kept"), sum($"tc").as("n_tokens_kept"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy() // k-row frame
    agg
      .withColumn("kt", sum($"n_tokens_kept").over(wAll).cast("double"))
      .select($"lang", $"n_docs_kept", $"n_tokens_kept",
        r4($"n_tokens_kept" / $"kt").as("realized_share"))
      .orderBy($"lang")
  }

  val qMixtureApplyOracle: String =
    """WITH d AS (SELECT doc_id, lang,
      |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS tc FROM documents),
      |g AS (SELECT lang, CAST(sum(tc) AS BIGINT) AS ltok FROM d GROUP BY 1),
      |t AS (SELECT CAST(sum(ltok) AS BIGINT) AS tot, CAST(count(*) AS BIGINT) AS n_langs FROM g),
      |k AS (SELECT d.lang, d.tc FROM d JOIN g USING (lang) CROSS JOIN t
      |      WHERE (((d.doc_id % 10007) * 2654435761) % 10007) * t.n_langs * g.ltok < 10007 * t.tot),
      |a AS (SELECT lang, count(*) AS n_docs_kept,
      |      CAST(sum(tc) AS BIGINT) AS n_tokens_kept FROM k GROUP BY 1),
      |s AS (SELECT sum(n_tokens_kept) * 1.0 AS kt FROM a)
      |SELECT lang, n_docs_kept, n_tokens_kept,
      | round(n_tokens_kept / kt, 4) + 0 AS realized_share
      |FROM a CROSS JOIN s ORDER BY lang""".stripMargin

  /** Benchmark decontamination audit: which corpus docs share any word
    * 5-gram with a held-out "benchmark" set (docs ≡ 0 mod 50) — the
    * n-gram-overlap decontamination step of LLM training-data prep.
    * Benchmark shingles are few → broadcast semi-join against the
    * exploded corpus shingles; membership is exact up to the xxhash64
    * collision bound (expected false merges ≈ n²/2⁶⁵ — negligible at
    * any realistic corpus size, and zero at test SF, where the DuckDB
    * oracle counts the STRING grams and still hash-matches).
    */
  def qContamination(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // each exploded row carries an 8-byte xxhash64 of the 5-gram, not
    // the ~40-byte concatenated string — a ~5× cut in explode/shuffle/
    // broadcast bytes on the most data-proportional step. xxhash64
    // (codegen'd built-in) over PolyHash because PolyHash folds mod
    // 1e9+7 (~30 bits — birthday collisions at ~40k grams); 64 bits
    // keeps membership exact at any realistic corpus size (expected
    // false merges ≈ n²/2⁶⁵). String-form parity is spec'd at test SF
    // (TextDedupSimSpec "hashed 5-gram counts equal string 5-gram
    // counts") and end-to-end by the DuckDB oracle, which counts the
    // string grams.
    def grams(df: DataFrame): DataFrame = df
      .select($"doc_id", TextFunctions.tokens($"text").as("tk"))
      .select($"doc_id", explode(array_distinct(transform(
        TextFunctions.wordNgramsOf($"tk", 5), g => xxhash64(g)))).as("ng"))
    val docs = Tables.documents(s, d)
    val bench = grams(docs.filter($"doc_id" % 50 === 0)).select($"ng").distinct()
    val corpus = grams(docs.filter($"doc_id" % 50 =!= 0))
    val contaminated = corpus.join(broadcast(bench), Seq("ng"), "left_semi")
    val nChecked = docs.filter($"doc_id" % 50 =!= 0)
      .agg(count(lit(1)).as("n_docs_checked"))
    contaminated
      .agg(countDistinct($"doc_id").as("n_contaminated"),
        countDistinct($"ng").as("n_matched_ngrams"))
      .crossJoin(broadcast(nChecked))
      .select($"n_docs_checked", $"n_contaminated", $"n_matched_ngrams",
        r4($"n_contaminated".cast("double") / $"n_docs_checked").as("contamination_rate"))
  }

  val qContaminationOracle: String =
    """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents),
      |g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(tk) - 3),
      |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4]))) AS ng
      |      FROM t),
      |b AS (SELECT DISTINCT ng FROM g WHERE doc_id % 50 = 0),
      |c AS (SELECT doc_id, ng FROM g WHERE doc_id % 50 <> 0),
      |hit AS (SELECT c.doc_id, c.ng FROM c JOIN b ON c.ng = b.ng),
      |n AS (SELECT count(*) AS n_docs_checked FROM documents WHERE doc_id % 50 <> 0)
      |SELECT n_docs_checked,
      | (SELECT count(DISTINCT doc_id) FROM hit) AS n_contaminated,
      | (SELECT count(DISTINCT ng) FROM hit) AS n_matched_ngrams,
      | round((SELECT count(DISTINCT doc_id) FROM hit) * 1.0 / n_docs_checked, 4) + 0 AS contamination_rate
      |FROM n""".stripMargin

  /** Pointwise mutual information of adjacent token pairs (collocation
    * mining — the phrase-detection step of vocab/tokenizer building):
    * PMI = ln( (n_xy/B) / ((n_x/N)·(n_y/N)) ) with B = total bigrams,
    * N = total tokens. All qualifying pairs (n_xy ≥ 5) are returned —
    * membership is decided by integer counts, so the result set is
    * engine-exact. Two explode→groupBy passes + vocab-sized joins.
    */
  def qPmiBigrams(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // one corpus scan per n-gram order; both count frames are
    // localCheckpointed because each is consumed twice (totals +
    // joins) and recomputing would re-scan the corpus. Corpus totals
    // N and B are 1-row scalar aggregates cross-joined back in — NOT
    // whole-frame windows over the distinct-ngram frames (an
    // empty-partition window funnels the full distinct-bigram frame,
    // billions of rows at scale, through ONE reducer). The x/y vocab
    // joins are plain equi-joins: a 100M+-row vocab must never be
    // forced into a broadcast; AQE still broadcasts size-permitting.
    val uni = Tables.documents(s, d)
      .select(explode(TextFunctions.tokens($"text")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("nx"))
      .localCheckpoint()
    val bi = Tables.documents(s, d)
      .select(TextFunctions.tokens($"text").as("tk")) // own Project: split once per row
      .select(explode(TextFunctions.wordNgramsOf($"tk", 2)).as("bg"))
      .groupBy($"bg").agg(count(lit(1)).as("nxy"))
      .localCheckpoint()
    val totals = uni.agg(sum($"nx").cast("double").as("nu"))
      .crossJoin(bi.agg(sum($"nxy").cast("double").as("nb")))
    bi.filter($"nxy" >= 5)
      .select(split($"bg", " ").getItem(0).as("x"), split($"bg", " ").getItem(1).as("y"),
        $"nxy")
      .join(uni.select($"tok".as("x"), $"nx"), "x")
      .join(uni.select($"tok".as("y"), $"nx".as("ny")), "y")
      .crossJoin(broadcast(totals))
      .select($"x", $"y", $"nxy",
        r4(log(($"nxy" / $"nb") / (($"nx" / $"nu") * ($"ny" / $"nu")))).as("pmi"))
      .orderBy($"x", $"y")
  }

  val qPmiBigramsOracle: String =
    """WITH t AS (SELECT string_split_regex(trim(text), '\s+') AS tk FROM documents),
      |uni AS (SELECT unnest(tk) AS tok FROM t),
      |u AS (SELECT tok, count(*) AS nx FROM uni GROUP BY 1),
      |nu AS (SELECT CAST(count(*) AS DOUBLE) AS nu FROM uni),
      |bgs AS (SELECT unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS bg FROM t),
      |b AS (SELECT bg, count(*) AS nxy FROM bgs GROUP BY 1),
      |nb AS (SELECT CAST(sum(nxy) AS DOUBLE) AS nb FROM b),
      |j AS (SELECT split_part(bg, ' ', 1) AS x, split_part(bg, ' ', 2) AS y, nxy
      |      FROM b WHERE nxy >= 5)
      |SELECT x, y, nxy,
      | round(ln((nxy / nb) / ((ux.nx / nu) * (uy.nx / nu))), 4) + 0 AS pmi
      |FROM j JOIN u ux ON j.x = ux.tok JOIN u uy ON j.y = uy.tok
      |CROSS JOIN nu CROSS JOIN nb
      |ORDER BY x, y""".stripMargin

  /** Gopher-style repetition quality signals per source: duplicate-token
    * ratio, most-common-token fraction, duplicate-bigram fraction — the
    * public C4/Gopher "repetitive content" filters. One pass per row via
    * the codegen'd [[graft.functions.TokenRepetitionStats]] (the
    * declarative forms re-tokenize the text once per signal).
    */
  def qRepetition(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"source",
        graft.functions.TokenRepetitionStats.stats(TextFunctions.tokens($"text")).as("st"))
      .select($"source",
        $"st".getField("n_tokens").cast("double").as("n"),
        $"st".getField("n_distinct").cast("double").as("nd"),
        $"st".getField("top_count").cast("double").as("tc"),
        $"st".getField("n_distinct_bigrams").cast("double").as("ndb"))
      .select($"source",
        (lit(1.0) - $"nd" / $"n").as("dup_ratio"),
        ($"tc" / $"n").as("top_frac"),
        when($"n" >= 2, lit(1.0) - $"ndb" / ($"n" - 1)).otherwise(lit(0.0)).as("dup_bigram"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        r4(avg($"dup_ratio")).as("avg_dup_token_ratio"),
        r4(avg($"top_frac")).as("avg_top_token_frac"),
        r4(avg($"dup_bigram")).as("avg_dup_bigram_ratio"))
      .orderBy($"source")
  }

  val qRepetitionOracle: String =
    """WITH t AS (
      | SELECT source, string_split_regex(trim(text), '\s+') AS tk FROM documents),
      |m AS (
      | SELECT source, CAST(len(tk) AS DOUBLE) AS n,
      |  CAST(len(list_distinct(tk)) AS DOUBLE) AS nd,
      |  CAST(list_max(list_transform(list_distinct(tk),
      |        x -> len(list_filter(tk, y -> y = x)))) AS DOUBLE) AS tc,
      |  CAST(len(list_distinct(list_transform(range(1, len(tk)),
      |        i -> tk[i] || ' ' || tk[i+1]))) AS DOUBLE) AS ndb
      | FROM t)
      |SELECT source, count(*) AS n_docs,
      | round(avg(1.0 - nd / n), 4) + 0 AS avg_dup_token_ratio,
      | round(avg(tc / n), 4) + 0 AS avg_top_token_frac,
      | round(avg(CASE WHEN n >= 2 THEN 1.0 - ndb / (n - 1) ELSE 0.0 END), 4) + 0 AS avg_dup_bigram_ratio
      |FROM m GROUP BY source ORDER BY source""".stripMargin

  /** Unigram Shannon entropy per document (token-distribution diversity
    * — low entropy flags templated/repetitive docs), aggregated per
    * lang. H = ln(n) − Σ c·ln(c)/n from the same one-pass token stats.
    */
  def qDocEntropy(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"lang",
        graft.functions.TokenRepetitionStats.stats(TextFunctions.tokens($"text")).as("st"))
      .select($"lang",
        (log($"st".getField("n_tokens").cast("double")) -
          $"st".getField("sum_c_ln_c") / $"st".getField("n_tokens")).as("h"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        (round(avg($"h"), 6) + lit(0.0)).as("avg_entropy"),
        (round(min($"h"), 6) + lit(0.0)).as("min_entropy"))
      .orderBy($"lang")
  }

  val qDocEntropyOracle: String =
    """WITH t AS (
      | SELECT lang, string_split_regex(trim(text), '\s+') AS tk FROM documents),
      |e AS (
      | SELECT lang,
      |  ln(CAST(len(tk) AS DOUBLE))
      |   - list_sum(list_transform(list_distinct(tk),
      |       x -> CAST(len(list_filter(tk, y -> y = x)) AS DOUBLE)
      |            * ln(CAST(len(list_filter(tk, y -> y = x)) AS DOUBLE))))
      |     / len(tk) AS h
      | FROM t)
      |SELECT lang, count(*) AS n_docs,
      | round(avg(h), 6) + 0 AS avg_entropy,
      | round(min(h), 6) + 0 AS min_entropy
      |FROM e GROUP BY lang ORDER BY lang""".stripMargin

  /** Sequence packing audit ([[graft.text.Packing.packSequences]] —
    * the concat-then-split batching step of LLM pretraining): each doc
    * is assigned to the 2048-token training sequence its first token
    * lands in (doc_id order), then per-bin occupancy stats. The
    * cumulative token count rides the distributed prefix-sum backbone,
    * NOT a whole-corpus unpartitioned window; the oracle mirrors it
    * with a window sum (fine at oracle SF).
    */
  def qPackSequences(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val budget = 2048L
    val docs = Tables.documents(s, d)
      .select($"doc_id", TextFunctions.tokenCount($"text").cast("long").as("n_tokens"))
    graft.text.Packing.packSequences(docs, $"doc_id", $"n_tokens", budget)
      .groupBy($"bin")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("bin_tokens"),
        min($"doc_id").as("first_doc"),
        max($"doc_id").as("last_doc"))
      .withColumn("fill", r4($"bin_tokens" / lit(budget.toDouble)))
      .orderBy($"bin")
  }

  val qPackSequencesOracle: String =
    """WITH t AS (SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS n_tokens
      |           FROM documents),
      |c AS (SELECT doc_id, n_tokens,
      |       sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM t),
      |b AS (SELECT doc_id, n_tokens,
      |       CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS bin FROM c)
      |SELECT bin, count(*) AS n_docs,
      | CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
      | min(doc_id) AS first_doc, max(doc_id) AS last_doc,
      | round(sum(n_tokens) / 2048.0, 4) + 0 AS fill
      |FROM b GROUP BY bin ORDER BY bin""".stripMargin

  /** C4-style duplicate-SPAN audit — the inter-document repetition
    * layer between exact whole-doc dedup and near-dup: a word-3-gram
    * span is "duplicated" when it occurs in ≥ 2 distinct docs (C4
    * removes any 3-sentence span repeated across the corpus; 3-token
    * spans are the analog at this corpus's granularity). Per source:
    * mean fraction of each doc's span occurrences that are
    * corpus-duplicated, plus docs past the 50% removal threshold.
    * Scale shape: ONE corpus explode into a per-(gram, doc) count
    * aggregate (gram identity rides xxhash64 — 8 bytes through every
    * shuffle, same trick and the same 2⁻⁶⁴ collision caveat as
    * q_contamination); span df is then a count over a per-gram window
    * on that already-aggregated frame (fine-grained partitions — one
    * per gram, never a whole-frame sort), so no second corpus pass and
    * no gram-vocabulary join at all; never a doc×doc comparison. A
    * first cut built df as a separate aggregate joined back — that
    * shape re-exploded the corpus and paid a vocab join (2.0 → 1.25 s
    * warm at sf0.1 local[4] after the rewrite).
    */
  def qSpanDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val grams = Tables.documents(s, d)
      .select($"doc_id", $"source", TextFunctions.tokens($"text").as("tk"))
      .select($"doc_id", $"source",
        explode(TextFunctions.wordNgramsOf($"tk", 3)).as("g"))
      .select($"doc_id", $"source", xxhash64($"g").as("h"))
    // one row per (gram, doc) with its occurrence count; df = rows in
    // the gram's window (each row IS a distinct containing doc).
    // ONE pinned hash(h) exchange serves both the aggregate (hash(h)
    // clusters (h, doc_id, source)) and the df window's partitionBy(h):
    // the unpinned plan ran TWO AQE-coalesced exchanges (473 + 436 MB,
    // 8 tasks each at sf10 — the qScd2 bytes-blind lesson) where this
    // runs one, wide.
    val perDocGram = grams
      .repartition(graft.operators.GlobalRank.rangeWidth(grams), $"h")
      .groupBy($"h", $"doc_id", $"source")
      .agg(count(lit(1)).as("c"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy($"h")))
    val perDoc = perDocGram.groupBy($"doc_id", $"source")
      .agg(sum($"c").as("n_grams"),
        sum(when($"df" >= 2, $"c").otherwise(0L)).as("n_dup"))
    perDoc.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        r4(avg($"n_dup".cast("double") / $"n_grams")).as("avg_dup_frac"),
        sum(when($"n_dup" * 2 > $"n_grams", 1L).otherwise(0L)).as("n_flagged"))
      .orderBy($"source")
  }

  val qSpanDedupOracle: String =
    """WITH tok AS (SELECT doc_id, source,
      |  string_split_regex(trim(text), '\s+') AS tk FROM documents),
      |g AS (SELECT doc_id, source,
      |  unnest(list_transform(range(1, len(tk) - 1),
      |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g FROM tok),
      |d AS (SELECT g, count(DISTINCT doc_id) AS df FROM g GROUP BY 1),
      |p AS (SELECT doc_id, source, count(*) AS n_grams,
      |  sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS n_dup
      | FROM g JOIN d USING (g) GROUP BY 1, 2)
      |SELECT source, count(*) AS n_docs,
      | round(avg(n_dup * 1.0 / n_grams), 4) + 0 AS avg_dup_frac,
      | CAST(sum(CASE WHEN n_dup * 2 > n_grams THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
      |FROM p GROUP BY source ORDER BY source""".stripMargin

  /** C4-style duplicate-span SCRUB — the ACTION the q_span_dedup audit
    * points at ([[Dedup.removeDuplicateSpans]]): every word-3-gram span
    * occurring more than once in the corpus keeps only its
    * globally-first occurrence (smallest (doc_id, position)); all other
    * occurrences' tokens are dropped, overlapping removals unioned.
    * Rolled up per source: docs touched and the token count
    * before/after — the "how much text does span dedup actually cost"
    * audit a C4-style cleaning run reports. Scale shape is the library
    * seat's: one explode → per-span count aggregate (8-byte xxhash64
    * identity), per-doc position lists, per-row reconstruction algebra;
    * the rollup re-joins the (doc-level, token-count) output to its
    * source tag — one bounded doc-level shuffle. The DuckDB twin
    * recomputes keeper choice and covered-token counts from STRING
    * spans, so the oracle row doubles as the per-run hash-collision
    * proof.
    */
  def qSpanScrub(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id", $"source", $"text")
    Dedup.removeDuplicateSpans(docs, "doc_id", "text", 3)
      .join(docs.select($"doc_id", $"source"), Seq("doc_id"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"n_tokens_after" < $"n_tokens_before", 1L).otherwise(0L)).as("n_scrubbed"),
        sum($"n_tokens_before").as("toks_before"),
        sum($"n_tokens_after").as("toks_after"))
      .orderBy($"source")
  }

  val qSpanScrubOracle: String =
    """WITH tok AS (SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS tk FROM documents),
      |sp AS (SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
      |  i -> struct_pack(pos := i, g := tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s FROM tok),
      |sp2 AS (SELECT doc_id, s.pos AS pos, s.g AS g FROM sp),
      |r AS (SELECT doc_id, pos,
      |  count(*) OVER (PARTITION BY g) AS c,
      |  row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rk FROM sp2),
      |cov AS (SELECT DISTINCT doc_id, pos + j AS ti
      | FROM r, unnest([0, 1, 2]) AS t(j) WHERE c > 1 AND rk > 1),
      |cnt AS (SELECT doc_id, count(*) AS n_cov FROM cov GROUP BY 1),
      |p AS (SELECT t.doc_id, t.source, len(t.tk) AS nb,
      |  len(t.tk) - coalesce(c.n_cov, 0) AS na
      | FROM tok t LEFT JOIN cnt c USING (doc_id))
      |SELECT source, count(*) AS n_docs,
      | CAST(sum(CASE WHEN na < nb THEN 1 ELSE 0 END) AS BIGINT) AS n_scrubbed,
      | CAST(sum(nb) AS BIGINT) AS toks_before,
      | CAST(sum(na) AS BIGINT) AS toks_after
      |FROM p GROUP BY source ORDER BY source""".stripMargin

  /** Span-length duplication profile — the diagnostic that picks the
    * span length for q_span_dedup (exact-substring dedup work à la Lee
    * et al. tunes exactly this knob): for each n in {1,2,3,5,8}, the
    * fraction of word-n-gram occurrences that are corpus-duplicated
    * (present in ≥ 2 docs) and the distinct-gram count. Short spans
    * duplicate by chance (vocabulary reuse), long spans only by real
    * copying — the elbow locates the dedup threshold. Runs on a fixed
    * 20% doc subset; each n is one explode → per-gram aggregate →
    * 1-row rollup, unioned (5 bounded branches, no joins).
    */
  def qDupSpanProfile(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sub = Tables.documents(s, d).filter($"doc_id" % 5 === 0)
      .select($"doc_id", TextFunctions.tokens($"text").as("tk"))
    val perN = Seq(1, 2, 3, 5, 8).map { n =>
      val grams = (if (n == 1) sub.select($"doc_id", explode($"tk").as("g"))
        else sub.select($"doc_id", explode(TextFunctions.wordNgramsOf($"tk", n)).as("g")))
        .select($"doc_id", xxhash64($"g").as("h"))
      // explicit-width partition on h: hash(h) clusters BOTH levels
      // of the countDistinct expansion ((h, doc_id) then (h)), so one
      // pinned exchange replaces two AQE-coalescible ones — the five
      // per-gram agg chains otherwise ran 1-2 tasks wide over
      // 60-68 MB each at sf10 (the qScd2 bytes-blind lesson). Width is
      // sized from the exploded gram frame itself (the frame being
      // exchanged — the qSpanDedup:1293 shape), not the pre-explode
      // subset, which undercounts by the n-gram fan-out factor.
      grams.repartition(graft.operators.GlobalRank.rangeWidth(grams), $"h")
        .groupBy($"h")
        .agg(count(lit(1)).as("occ"), countDistinct($"doc_id").as("nd"))
        .agg(lit(n).as("n"),
          sum($"occ").as("n_grams"),
          count(lit(1)).as("n_distinct"),
          r4(sum(when($"nd" >= 2, $"occ").otherwise(0L)).cast("double") / sum($"occ"))
            .as("dup_frac"))
    }
    perN.reduce(_ unionByName _).orderBy($"n")
  }

  val qDupSpanProfileOracle: String = {
    def gramExpr(n: Int): String =
      if (n == 1) "unnest(tk)"
      else {
        val parts = (0 until n).map(j => if (j == 0) "tk[i]" else s"tk[i+$j]")
        s"unnest(list_transform(range(1, len(tk) - ${n - 2}), i -> ${parts.mkString(" || ' ' || ")}))"
      }
    val branches = Seq(1, 2, 3, 5, 8).map { n =>
      s"""(SELECT $n AS n, CAST(sum(occ) AS BIGINT) AS n_grams,
         | count(*) AS n_distinct,
         | round(sum(CASE WHEN nd >= 2 THEN occ ELSE 0 END) * 1.0 / sum(occ), 4) + 0 AS dup_frac
         |FROM (SELECT g, count(*) AS occ, count(DISTINCT doc_id) AS nd
         |  FROM (SELECT doc_id, ${gramExpr(n)} AS g FROM t) GROUP BY g))""".stripMargin
    }
    s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
       |  FROM documents WHERE doc_id % 5 = 0)
       |SELECT * FROM (${branches.mkString("\nUNION ALL\n")}) ORDER BY n""".stripMargin
  }

  /** Deterministic stratified sampling — the held-out/eval-set carving
    * step of training-data assembly: exactly k docs per source, chosen
    * by CONTENT-hash order (md5, shared by both engines) rather than
    * rand(), so the sample is reproducible across runs, engines, and
    * repartitionings, and stays stable under corpus append (a doc's
    * rank moves only if new docs hash below it). Per-group window over
    * reducer-sized groups; a giant-group corpus would rank through
    * TopKAggregator on a numeric hash instead (same trade as
    * q_cosine_topk vs a window sort).
    */
  def qSamplePerGroup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"source").orderBy(md5($"text"), $"doc_id")
    Tables.documents(s, d)
      .select($"source", $"doc_id", $"text")
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 5)
      .select($"source", $"rk", $"doc_id")
      .orderBy($"source", $"rk")
  }

  val qSamplePerGroupOracle: String =
    """WITH r AS (SELECT source, doc_id,
      |  row_number() OVER (PARTITION BY source ORDER BY md5(text), doc_id) AS rk
      | FROM documents)
      |SELECT source, rk, doc_id FROM r WHERE rk <= 5
      |ORDER BY source, rk""".stripMargin

  /** Gopher document-level rule filter (Rae et al. 2021, Table A1) —
    * the published heuristic gate LLM pipelines run before training,
    * completing this repo's Gopher set (q_repetition carries the
    * repetition signals): word count in [50, 100k], mean word length
    * in [3, 10], symbol-to-word ratio ("#"/"..." per word) ≤ 0.1,
    * ≥ 80% of words alphabetic, and ≥ 2 of the 8 Gopher stop words
    * present. Per-source rollup of per-rule fail counts + overall
    * pass count — one projection + one hash agg, zero joins. The
    * synthetic corpus honestly FAILS the stop-word rule everywhere
    * (it is not English prose — only "the" of the 8-list occurs);
    * the thresholds stay as published rather than being tuned to
    * make the corpus look good.
    */
  def qGopherRules(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val gopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val docs = Tables.documents(s, d)
      .select($"source", $"text", TextFunctions.tokens($"text").as("tk"))
    val r = docs.select(
      $"source",
      size($"tk").as("wc"),
      TextFunctions.meanTokenLen($"text").as("mwl"),
      ((length($"text") - length(regexp_replace($"text", "#", ""))
        + (length($"text") - length(regexp_replace($"text", "\\.\\.\\.", ""))) / lit(3))
        * lit(1.0) / size($"tk")).as("sym"),
      (size(filter($"tk", x => x.rlike("[A-Za-z]"))) * lit(1.0) / size($"tk")).as("alpha"),
      size(filter(array(gopherStops.map(lit): _*), w => array_contains($"tk", w))).as("stop_hits"))
    val f = r.select(
      $"source",
      $"wc".between(50, 100000).as("ok_wc"),
      $"mwl".between(3.0, 10.0).as("ok_mwl"),
      ($"sym" <= 0.1).as("ok_sym"),
      ($"alpha" >= 0.8).as("ok_alpha"),
      ($"stop_hits" >= 2).as("ok_stop"))
    f.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(!$"ok_wc", 1L).otherwise(0L)).as("fail_wordcount"),
        sum(when(!$"ok_mwl", 1L).otherwise(0L)).as("fail_meanwordlen"),
        sum(when(!$"ok_sym", 1L).otherwise(0L)).as("fail_symbolratio"),
        sum(when(!$"ok_alpha", 1L).otherwise(0L)).as("fail_alphawords"),
        sum(when(!$"ok_stop", 1L).otherwise(0L)).as("fail_stopwords"),
        sum(when($"ok_wc" && $"ok_mwl" && $"ok_sym" && $"ok_alpha" && $"ok_stop", 1L)
          .otherwise(0L)).as("n_pass"))
      .orderBy($"source")
  }

  val qGopherRulesOracle: String =
    """WITH t AS (SELECT doc_id, source,
      |  string_split_regex(trim(text), '\s+') AS tk, text FROM documents),
      |r AS (SELECT doc_id, source,
      |  len(tk) AS wc,
      |  list_aggregate(list_transform(tk, x -> length(x)), 'sum') * 1.0 / len(tk) AS mwl,
      |  (length(text) - length(replace(text, '#', ''))
      |   + (length(text) - length(replace(text, '...', ''))) / 3) * 1.0 / len(tk) AS sym,
      |  len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / len(tk) AS alpha,
      |  len(list_filter(['the','be','to','of','and','that','have','with'],
      |      w -> list_contains(tk, w))) AS stop_hits
      | FROM t),
      |f AS (SELECT source,
      |  (wc BETWEEN 50 AND 100000) AS ok_wc,
      |  (mwl BETWEEN 3 AND 10) AS ok_mwl,
      |  (sym <= 0.1) AS ok_sym,
      |  (alpha >= 0.8) AS ok_alpha,
      |  (stop_hits >= 2) AS ok_stop
      | FROM r)
      |SELECT source, count(*) AS n_docs,
      | CAST(sum(CASE WHEN NOT ok_wc THEN 1 ELSE 0 END) AS BIGINT) AS fail_wordcount,
      | CAST(sum(CASE WHEN NOT ok_mwl THEN 1 ELSE 0 END) AS BIGINT) AS fail_meanwordlen,
      | CAST(sum(CASE WHEN NOT ok_sym THEN 1 ELSE 0 END) AS BIGINT) AS fail_symbolratio,
      | CAST(sum(CASE WHEN NOT ok_alpha THEN 1 ELSE 0 END) AS BIGINT) AS fail_alphawords,
      | CAST(sum(CASE WHEN NOT ok_stop THEN 1 ELSE 0 END) AS BIGINT) AS fail_stopwords,
      | CAST(sum(CASE WHEN ok_wc AND ok_mwl AND ok_sym AND ok_alpha AND ok_stop
      |   THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
      |FROM f GROUP BY source ORDER BY source""".stripMargin

  /** Scalar (int8) embedding-quantization audit — the memory-
    * compression path of similarity search at 100 TB: float32 → uint8
    * per dimension cuts vector memory 4× (the "SQ8" of IVF+SQ
    * indexes), and this query measures what that costs in fidelity.
    * Per-dimension min/max are fit corpus-wide (an O(dims) aggregate,
    * broadcast back — never a second corpus shuffle), each value is
    * quantized to the 255-step grid and reconstructed, and the
    * per-label rollup reports reconstruction MSE and the worst
    * absolute error. Constant dimensions (max == min) reconstruct
    * exactly — guarded in BOTH engines (Spark's non-ANSI divide
    * yields null where DuckDB's IEEE divide yields ±inf, the same
    * degenerate-group trap as q_outlier_mad's MAD=0).
    */
  def qEmbedQuantize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .select($"vec_id", $"label",
        posexplode($"embedding".cast("array<double>")).as(Seq("pos", "x")))
    val stats = e.groupBy($"pos").agg(min($"x").as("mn"), max($"x").as("mx"))
    val q = e.join(broadcast(stats), "pos")
      .withColumn("xr",
        when($"mx" > $"mn",
          $"mn" + round(($"x" - $"mn") / ($"mx" - $"mn") * 255) / 255 * ($"mx" - $"mn"))
          .otherwise($"mn"))
    val v = q.groupBy($"vec_id", $"label")
      .agg(avg(($"x" - $"xr") * ($"x" - $"xr")).as("mse"),
        max(abs($"x" - $"xr")).as("maxerr"))
    v.groupBy($"label")
      .agg(count(lit(1)).as("n_vecs"),
        (round(avg($"mse"), 8) + lit(0.0)).as("avg_mse"),
        (round(max($"maxerr"), 6) + lit(0.0)).as("max_abs_err"))
      .orderBy($"label")
  }

  val qEmbedQuantizeOracle: String =
    """WITH e AS (SELECT vec_id, label, unnest(CAST(embedding AS DOUBLE[])) AS x,
      |  unnest(range(0, len(embedding))) AS pos FROM embeddings),
      |s AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM e GROUP BY 1),
      |q AS (SELECT vec_id, label, x,
      |  CASE WHEN mx > mn THEN mn + round((x - mn) / (mx - mn) * 255) / 255 * (mx - mn)
      |       ELSE mn END AS xr
      | FROM e JOIN s USING (pos)),
      |v AS (SELECT vec_id, label, avg((x - xr) * (x - xr)) AS mse,
      |  max(abs(x - xr)) AS maxerr FROM q GROUP BY 1, 2)
      |SELECT label, count(*) AS n_vecs,
      | round(avg(mse), 8) + 0 AS avg_mse,
      | round(max(maxerr), 6) + 0 AS max_abs_err
      |FROM v GROUP BY 1 ORDER BY 1""".stripMargin

  /** BPE seed step, oracle-checked: the top-20 adjacent character
    * pairs by frequency-weighted count over the word vocabulary — the
    * first merge candidates of byte-pair-encoding tokenizer training
    * (the full iterative learner is [[graft.text.Bpe.learnMerges]],
    * spec-covered; its round-0 pair statistics are exactly this
    * query). Corpus is touched once (token explode → word counts);
    * the pair explode runs on the vocabulary frame, whose size is
    * corpus-independent.
    */
  def qBpePairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val words = Tables.documents(s, d)
      .select(explode(TextFunctions.tokens($"text")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("cnt"))
      .filter(length($"w") >= 2)
    words
      .select($"cnt", explode(
        transform(sequence(lit(1), length($"w") - 1),
          i => $"w".substr(i, lit(2)))).as("pair"))
      .groupBy($"pair").agg(sum($"cnt").as("n"))
      .orderBy($"n".desc, $"pair")
      .limit(20)
  }

  val qBpePairsOracle: String =
    """WITH w AS (SELECT w, count(*) AS cnt FROM (
      |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
      |  FROM documents) GROUP BY 1 HAVING length(w) >= 2),
      |p AS (SELECT cnt, unnest(list_transform(range(1, length(w)),
      |  i -> substring(w, i, 2))) AS pair FROM w)
      |SELECT pair, CAST(sum(cnt) AS BIGINT) AS n FROM p
      |GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin

  /** Coarse cluster assignment (the IVF/SemDedup partition step) made
    * oracle-checkable: centroids are the 8 smallest-vec_id embeddings
    * (deterministic "init" both engines can name), every vector is
    * assigned to its max-cosine centroid via
    * [[Similarity.assignToCentroids]] — one broadcast join + a bounded
    * top-1 aggregation, NO shuffle of the vector side. Cosines are
    * rounded to 4 dp BEFORE the argmax in both engines, ties broken by
    * smaller centroid id, so the winner is engine-independent. The
    * iterative fits (MLlib k-means in annIvf/semDedup) are spec-
    * covered; this row pins the assignment algebra they share.
    */
  def qClusterAssign(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val v = Tables.embeddings(s, d)
    val cents = v.orderBy($"vec_id").limit(8)
      .select($"vec_id".as("cid"), $"embedding".as("ce"))
    Similarity.assignToCentroids(v, "vec_id", "embedding", cents, "cid", "ce")
      .select($"id".as("vec_id"), $"cluster_id", $"cos")
      .orderBy($"vec_id")
  }

  val qClusterAssignOracle: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |c AS (SELECT vec_id AS cid, e AS ce FROM v ORDER BY vec_id LIMIT 8),
      |s AS (SELECT v.vec_id, c.cid,
      |  round(list_dot_product(v.e,c.ce)/(sqrt(list_dot_product(v.e,v.e))*sqrt(list_dot_product(c.ce,c.ce))),4) + 0 AS cos
      | FROM v CROSS JOIN c),
      |r AS (SELECT vec_id, cid, cos,
      |  row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rk FROM s)
      |SELECT vec_id, cid AS cluster_id, cos FROM r WHERE rk = 1
      |ORDER BY vec_id""".stripMargin

  /** Product-quantization codebook assignment (the PQ encode step of
    * [[Similarity.annIvfPq]]) pinned by oracle — the q_cluster_assign
    * pattern applied PER SUBVECTOR: codebooks are the 8 smallest-vec_id
    * embeddings' slices (deterministic "init" both engines can name,
    * m = 4 contiguous subvectors), every (vector, subvector) is
    * assigned to its min-squared-distance code via
    * [[Similarity.pqAssign]]. Distances expand to three sequential-fold
    * dot products and round to 4 dp BEFORE the argmin (ties → smaller
    * code), so the winner is engine-independent. The iterative
    * per-subvector k-means fits in annIvfPq are spec-covered; this row
    * pins the assignment algebra they feed.
    */
  def qPqAssign(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val v = Tables.embeddings(s, d)
    val m = 4
    val cents = v.orderBy($"vec_id").limit(8)
      .select($"embedding".cast("array<double>")).as[Seq[Double]].collect()
    val sub = cents.head.size / m
    val codebooks = (0 until m).map(j => cents.toSeq.map(c => c.slice(j * sub, (j + 1) * sub)))
    Similarity.pqAssign(v, "vec_id", "embedding", codebooks)
      .select($"id".as("vec_id"), $"sub_id", $"code", $"dist2")
      .orderBy($"vec_id", $"sub_id")
  }

  val qPqAssignOracle: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |c AS (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT 8),
      |cb AS (SELECT j.sub_id, CAST(row_number() OVER (PARTITION BY j.sub_id ORDER BY c.vec_id) - 1 AS BIGINT) AS code,
      |  list_slice(c.e, j.sub_id*(len(c.e)//4)+1, (j.sub_id+1)*(len(c.e)//4)) AS ce
      | FROM c CROSS JOIN (SELECT CAST(unnest(range(4)) AS INT) AS sub_id) j),
      |s AS (SELECT v.vec_id, j.sub_id,
      |  list_slice(v.e, j.sub_id*(len(v.e)//4)+1, (j.sub_id+1)*(len(v.e)//4)) AS sv
      | FROM v CROSS JOIN (SELECT CAST(unnest(range(4)) AS INT) AS sub_id) j),
      |d AS (SELECT s.vec_id, s.sub_id, cb.code,
      |  round(list_dot_product(s.sv,s.sv) - 2.0*list_dot_product(s.sv,cb.ce) + list_dot_product(cb.ce,cb.ce), 4) + 0 AS dist2
      | FROM s JOIN cb ON s.sub_id = cb.sub_id),
      |r AS (SELECT vec_id, sub_id, code, dist2,
      |  row_number() OVER (PARTITION BY vec_id, sub_id ORDER BY dist2, code) AS rk FROM d)
      |SELECT vec_id, sub_id, code, dist2 FROM r WHERE rk = 1
      |ORDER BY vec_id, sub_id""".stripMargin

  /** Bigram-LM quality scoring — the next LM order above
    * q_unigram_logprob's perplexity-filter analog: per-doc average
    * −ln p(w₂|w₁) under a Jelinek-Mercer–interpolated bigram model
    * (0.75·C₁₂/C₁ + 0.25·C₂/N — interpolation, not raw MLE, so unseen
    * continuations never hit ln 0), rolled up per source with a
    * flagged tail. Context-aware scoring catches shuffled-word junk
    * that unigram perplexity scores as fluent. Same scale shape as the
    * unigram query: both count frames are vocab-bounded and
    * checkpointed; vocab joins stay shuffle joins (AQE may broadcast —
    * a 100M-row vocab must never be forced); per-doc nll is rounded to
    * 6 dp BEFORE the threshold/rollup so the flag decision is
    * engine-exact. Every join key is an xxhash64 LONG (the
    * q_contamination discipline): tokens and bigrams ride 8 bytes
    * through the count shuffles and three joins instead of strings;
    * collisions merge counts at ~n²/2⁶⁵ probability, and the DuckDB
    * twin joins by STRING, so the oracle row itself is the per-run
    * proof no collision bit.
    */
  def qBigramLogprob(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docsTk = Tables.documents(s, d)
      .select($"doc_id", $"source", TextFunctions.tokens($"text").as("tk"))
    val uni = docsTk.select(explode($"tk").as("w"))
      .groupBy(xxhash64($"w").as("h")).agg(count(lit(1)).as("c1")).localCheckpoint()
    // JOIN AT THE VOCAB GRAIN, NOT THE INSTANCE GRAIN (r18): the
    // previous shape ran THREE hash joins at bigram-INSTANCE grain
    // (h12, then h1, then h2 — each shuffling every bigram occurrence
    // in the corpus) and executed the tokenize+explode pipeline twice
    // (once for the bigram-count aggregate, once for the join input) —
    // the suite's slowest sf100skew seat (324.6 s, 2.9 GB disk +
    // 15 GB memory spill). Now: ONE partial-agg shuffle collapses
    // instances to per-(doc, bigram) counts `k` (repeated bigrams in a
    // doc combine map-side), persisted because it has two consumers
    // (the vocab aggregate below and the per-doc join — exchange reuse
    // does not collapse multi-consumer plans; the r18 scd2 lesson).
    // The NLL term depends only on the bigram, so the c1/c2/c12 joins
    // ride the distinct-bigram vocab frame, and c12 itself is sum(k) —
    // the separate corpus-wide bigram-count pass is gone entirely.
    val instDoc = docsTk
      .select($"doc_id", $"source", explode(TextFunctions.wordNgramsOf($"tk", 2)).as("bg"))
      .select($"doc_id", $"source", xxhash64($"bg").as("h12"),
        xxhash64(split($"bg", " ").getItem(0)).as("h1"),
        xxhash64(split($"bg", " ").getItem(1)).as("h2"))
      .groupBy($"doc_id", $"source", $"h12", $"h1", $"h2")
      .agg(count(lit(1)).as("k"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = uni.agg(sum($"c1").cast("double").as("n"))
    val vocab = instDoc.groupBy($"h12", $"h1", $"h2").agg(sum($"k").as("c12"))
      .join(uni.select($"h".as("h1"), $"c1"), "h1")
      .join(uni.select($"h".as("h2"), $"c1".as("c2")), "h2")
      .crossJoin(broadcast(tot))
      .select($"h12", $"h1", $"h2",
        (-log(lit(0.75) * $"c12" / $"c1" + lit(0.25) * $"c2" / $"n")).as("term"))
    // instance-weighted mean == the old per-instance avg: Σk·term / Σk
    val perDoc = instDoc.join(vocab, Seq("h12", "h1", "h2"))
      .groupBy($"doc_id", $"source")
      .agg((round(sum($"k" * $"term") / sum($"k"), 6) + lit(0.0)).as("nll"))
    perDoc.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        r4(avg($"nll")).as("avg_nll"),
        sum(when($"nll" > 6.0, 1L).otherwise(0L)).as("n_flagged"))
      .orderBy($"source")
  }

  val qBigramLogprobOracle: String =
    """WITH t AS (SELECT doc_id, source,
      |  string_split_regex(trim(text), '\s+') AS tk FROM documents),
      |uni AS (SELECT unnest(tk) AS w FROM t),
      |u AS (SELECT w, count(*) AS c1 FROM uni GROUP BY 1),
      |n AS (SELECT CAST(sum(c1) AS DOUBLE) AS n FROM u),
      |bg AS (SELECT doc_id, source,
      |  unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS bg
      | FROM t),
      |b AS (SELECT bg, count(*) AS c12 FROM bg GROUP BY 1),
      |p AS (SELECT doc_id, source,
      |  round(avg(-ln(0.75 * c12 / u1.c1 + 0.25 * u2.c1 / n.n)), 6) + 0 AS nll
      | FROM bg JOIN b USING (bg)
      | JOIN u u1 ON split_part(bg.bg, ' ', 1) = u1.w
      | JOIN u u2 ON split_part(bg.bg, ' ', 2) = u2.w
      | CROSS JOIN n
      | GROUP BY 1, 2)
      |SELECT source, count(*) AS n_docs,
      | round(avg(nll), 4) + 0 AS avg_nll,
      | CAST(sum(CASE WHEN nll > 6.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
      |FROM p GROUP BY source ORDER BY source""".stripMargin

  /** The FULL SemDedup keep-rule pinned by oracle (q_cluster_assign
    * pins only the partition step): deterministic smallest-id
    * centroids → cosine-argmax assignment → within-cluster pairs with
    * rounded cos ≥ 0.35 mark the MORE-centroid-similar member removed
    * (ties: larger id) → per-cluster removal audit. Exercises
    * [[Similarity.semDedupWithCentroids]] — the same keepRule code
    * path the k-means [[Similarity.semDedup]] runs, with the fit
    * swapped for engine-reproducible centroids. The threshold sits in
    * this corpus's top ~1% of within-cluster pair similarity (max
    * ≈ 0.49), so removals are real but sparse — the regime SemDedup
    * targets.
    */
  def qSemdedupAudit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // FIXED-SIZE audit sample: with 8 fixed centroids, within-cluster
    // pair work is quadratic in corpus size (measured 102× wall-clock
    // for 10× data at the sf1 replica — the worst slope in SCALING.md).
    // The cap equals sf0.1's full corpus, so every gated result is
    // unchanged; the corpus-scale SemDedup path is Similarity.semDedup
    // with nClusters ∝ √n (spec'd), where cluster size — and so the
    // pair work per cluster — stays bounded as n grows.
    // repartition after the cap — limit() collapses to one partition,
    // which would serialize the within-cluster pair work.
    // localCheckpoint (r18, the qAnnLsh discipline): the capped frame
    // feeds THREE consumers (the centroid take, the assignment scan,
    // and semDedupWithCentroids' join-back side) — unmaterialized,
    // each re-ran the parquet scan + global sort-limit (the suite's
    // slowest seat at 4.5-5.2 s was ~0.9 s of re-executed TakeOrdered
    // chains). Bounded by the 2000-row cap.
    val v = Tables.embeddings(s, d).orderBy($"vec_id").limit(2000)
      .repartition(s.sparkContext.defaultParallelism, $"vec_id")
      .localCheckpoint()
    val cents = v.orderBy($"vec_id").limit(8)
      .select($"vec_id".as("cid"), $"embedding".as("ce"))
    Similarity.semDedupWithCentroids(v, "vec_id", "embedding", cents, "cid", "ce", 0.35)
      .groupBy($"cluster_id")
      .agg(count(lit(1)).as("n"),
        sum(when($"keep", 0L).otherwise(1L)).as("n_removed"),
        r4(avg(when($"keep", $"centroid_cos"))).as("mean_kept_ccos"))
      .orderBy($"cluster_id")
  }

  val qSemdedupAuditOracle: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      |           ORDER BY vec_id LIMIT 2000),
      |c AS (SELECT vec_id AS cid, e AS ce FROM v ORDER BY vec_id LIMIT 8),
      |s AS (SELECT v.vec_id, c.cid,
      |  round(list_dot_product(v.e,c.ce)/(sqrt(list_dot_product(v.e,v.e))*sqrt(list_dot_product(c.ce,c.ce))),4) + 0 AS cos
      | FROM v CROSS JOIN c),
      |a AS (SELECT vec_id, cid, cos FROM (
      |  SELECT vec_id, cid, cos,
      |   row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rk FROM s)
      | WHERE rk = 1),
      |p AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b, x.cos AS ca, y.cos AS cb
      | FROM a x JOIN a y ON x.cid = y.cid AND x.vec_id < y.vec_id
      | JOIN v vx ON vx.vec_id = x.vec_id JOIN v vy ON vy.vec_id = y.vec_id
      | WHERE round(list_dot_product(vx.e,vy.e)/(sqrt(list_dot_product(vx.e,vx.e))*sqrt(list_dot_product(vy.e,vy.e))),4) >= 0.35),
      |victims AS (SELECT DISTINCT CASE WHEN ca > cb OR (ca = cb AND id_a > id_b)
      |  THEN id_a ELSE id_b END AS vid FROM p)
      |SELECT a.cid AS cluster_id, count(*) AS n,
      | CAST(sum(CASE WHEN vid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      | round(avg(CASE WHEN vid IS NULL THEN cos END), 4) + 0 AS mean_kept_ccos
      |FROM a LEFT JOIN victims ON a.vec_id = victims.vid
      |GROUP BY a.cid ORDER BY a.cid""".stripMargin

  /** Zipf-law fit per language: ln(count) regressed on ln(rank) over
    * each language's top-100 tokens (rank by count desc, token asc —
    * deterministic). The fitted slope is the corpus's Zipf exponent
    * (≈ −1 for natural language) — a standard corpus-health diagnostic
    * in LLM data work (vocabulary heavy-tailedness; flat slopes flag
    * templated/synthetic text). Slope = covar_pop/var_pop, identical
    * closed form in both engines; one explode + one hash agg + a
    * top-100-per-lang window on the (lang, token) count frame (vocab-
    * bounded, NOT corpus-bounded) + a k-row final agg.
    */
  def qZipfSlope(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val counts = Tables.documents(s, d)
      .select($"lang", explode(TextFunctions.tokens($"text")).as("token"))
      .groupBy($"lang", $"token").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy($"lang").orderBy($"n".desc, $"token")
    counts.withColumn("rk", row_number().over(w))
      .filter($"rk" <= 100)
      .select($"lang", log($"rk".cast("double")).as("x"), log($"n".cast("double")).as("y"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_vocab"),
        r4(covar_pop($"y", $"x") / var_pop($"x")).as("zipf_slope"))
      .orderBy($"lang")
  }

  val qZipfSlopeOracle: String =
    """WITH c AS (SELECT lang, token, count(*) AS n FROM (
      |  SELECT lang, unnest(string_split_regex(trim(text), '\s+')) AS token
      |  FROM documents) GROUP BY lang, token),
      |r AS (SELECT lang, ln(row_number() OVER (PARTITION BY lang ORDER BY n DESC, token)) AS x,
      |  ln(n) AS y, row_number() OVER (PARTITION BY lang ORDER BY n DESC, token) AS rk
      | FROM c)
      |SELECT lang, count(*) AS n_vocab,
      | round(covar_pop(y, x) / var_pop(x), 4) + 0 AS zipf_slope
      |FROM r WHERE rk <= 100 GROUP BY lang ORDER BY lang""".stripMargin

  /** Deterministic weighted sampling without replacement (the
    * Efraimidis–Spirakis one-pass shape): each doc draws a pseudo-
    * uniform integer h from the same Knuth multiplicative hash the
    * mixture-sampler uses (mod BEFORE multiply — the sf1 ANSI-overflow
    * lesson, see qMixtureApply), and its priority key is h / weight
    * with weight = token count, so heavier docs sink toward the front
    * of the ascending order. The 10 smallest keys per language are the
    * sample. Everything is engine-exact: h is integer algebra, the
    * single IEEE division of two exact integers is correctly rounded
    * identically in both engines, and ties break on doc_id. At 100 TB
    * this is one projection + one top-k-per-group window over a
    * lang-partitioned shuffle — for the skewed-lang case the library
    * twin is TopKAggregator (no full per-partition sort); this query
    * is the oracle seat pinning the key algebra.
    */
  def qWeightedSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select($"doc_id", $"lang", TextFunctions.tokenCount($"text").as("tc"))
      .filter($"tc" > 0)
    val keyed = docs
      .withColumn("h",
        pmod(pmod($"doc_id", lit(10007L)) * lit(2654435761L), lit(10007L)) + lit(1L))
      .withColumn("k", $"h".cast("double") / $"tc".cast("double"))
    val w = Window.partitionBy($"lang").orderBy($"k", $"doc_id")
    keyed.withColumn("rk", row_number().over(w)).filter($"rk" <= 10)
      .select($"lang", $"rk", $"doc_id", $"tc", r4($"k").as("priority_key"))
      .orderBy($"lang", $"rk")
  }

  val qWeightedSampleOracle: String =
    """WITH d AS (SELECT doc_id, lang,
      |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS tc
      | FROM documents),
      |k AS (SELECT doc_id, lang, tc,
      |  ((((doc_id % 10007) * 2654435761) % 10007) + 1) / (tc * 1.0) AS k
      | FROM d WHERE tc > 0),
      |r AS (SELECT lang, doc_id, tc, k,
      |  row_number() OVER (PARTITION BY lang ORDER BY k, doc_id) AS rk FROM k)
      |SELECT lang, rk, doc_id, tc, round(k, 4) + 0 AS priority_key
      |FROM r WHERE rk <= 10 ORDER BY lang, rk""".stripMargin

  val all: Map[String, Q] = Map(
    "q_weighted_sample" -> qWeightedSample,
    "q_cluster_assign" -> qClusterAssign,
    "q_pq_assign" -> qPqAssign,
    "q_semdedup_audit" -> qSemdedupAudit,
    "q_bigram_logprob" -> qBigramLogprob,
    "q_source_overlap" -> qSourceOverlap,
    "q_simhash_neardup" -> qSimhashNearDup,
    "q_dsir_weights" -> qDsirWeights,
    "q_shuffle_shards" -> qShuffleShards,
    "q_length_buckets" -> qLengthBuckets,
    "q_zipf_slope" -> qZipfSlope,
    "q_span_dedup" -> qSpanDedup,
    "q_span_scrub" -> qSpanScrub,
    "q_bpe_pairs" -> qBpePairs,
    "q_embed_quantize" -> qEmbedQuantize,
    "q_gopher_rules" -> qGopherRules,
    "q_sample_pergroup" -> qSamplePerGroup,
    "q_dup_span_profile" -> qDupSpanProfile,
    "q_pack_sequences" -> qPackSequences,
    "q_mixture_weights" -> qMixtureWeights,
    "q_mixture_apply" -> qMixtureApply,
    "q_dedup_incremental" -> qDedupIncremental,
    "q_unigram_logprob" -> qUnigramLogprob,
    "q_chunk_docs" -> qChunkDocs,
    "q_contamination" -> qContamination,
    "q_pmi_bigrams" -> qPmiBigrams,
    "q_repetition" -> qRepetition,
    "q_doc_entropy" -> qDocEntropy,
    "q_embed_centroid" -> qEmbedCentroid,
    "q_token_hist" -> qTokenHist,
    "q_corpus_clean" -> qCorpusClean,
    "q_simhash" -> qSimhash,
    "q_ann_lsh" -> qAnnLsh,
    "q_ann_planted" -> qAnnPlanted,
    "q_token_count" -> qTokenCount,
    "q_text_quality" -> qTextQuality,
    "q_lang_id" -> qLangId,
    "q_fingerprint" -> qFingerprint,
    "q_shingles" -> qShingles,
    "q_dedup_exact" -> qDedupExact,
    "q_dedup_exact_norm" -> qDedupExactNorm,
    "q_ngram_jaccard" -> qNgramJaccard,
    "q_minhash_pairs" -> qMinhashPairs,
    "q_embed_neardup" -> qEmbedNearDup,
    "q_cosine_topk" -> qCosineTopK,
    "q_dup_clusters" -> qDupClusters,
    "q_word_ngrams" -> qWordNgrams,
    "q_vocab_topk" -> qVocabTopk,
    "q_vocab_topk_mg" -> qVocabTopkMg,
    "q_tfidf" -> qTfidf
  )

  val oracles: Map[String, String] = Map(
    "q_weighted_sample" -> qWeightedSampleOracle,
    "q_cluster_assign" -> qClusterAssignOracle,
    "q_pq_assign" -> qPqAssignOracle,
    "q_semdedup_audit" -> qSemdedupAuditOracle,
    "q_bigram_logprob" -> qBigramLogprobOracle,
    "q_source_overlap" -> qSourceOverlapOracle,
    "q_simhash_neardup" -> qSimhashNearDupOracle,
    "q_dsir_weights" -> qDsirWeightsOracle,
    "q_shuffle_shards" -> qShuffleShardsOracle,
    "q_length_buckets" -> qLengthBucketsOracle,
    "q_zipf_slope" -> qZipfSlopeOracle,
    "q_span_dedup" -> qSpanDedupOracle,
    "q_span_scrub" -> qSpanScrubOracle,
    "q_bpe_pairs" -> qBpePairsOracle,
    "q_embed_quantize" -> qEmbedQuantizeOracle,
    "q_gopher_rules" -> qGopherRulesOracle,
    "q_sample_pergroup" -> qSamplePerGroupOracle,
    "q_dup_span_profile" -> qDupSpanProfileOracle,
    "q_pack_sequences" -> qPackSequencesOracle,
    "q_mixture_weights" -> qMixtureWeightsOracle,
    "q_mixture_apply" -> qMixtureApplyOracle,
    "q_dedup_incremental" -> qDedupIncrementalOracle,
    "q_unigram_logprob" -> qUnigramLogprobOracle,
    "q_chunk_docs" -> qChunkDocsOracle,
    "q_contamination" -> qContaminationOracle,
    "q_pmi_bigrams" -> qPmiBigramsOracle,
    "q_repetition" -> qRepetitionOracle,
    "q_doc_entropy" -> qDocEntropyOracle,
    "q_simhash" -> qSimhashOracle,
    "q_embed_centroid" -> qEmbedCentroidOracle,
    "q_token_hist" -> qTokenHistOracle,
    "q_corpus_clean" -> qCorpusCleanOracle,
    "q_token_count" -> qTokenCountOracle,
    "q_text_quality" -> qTextQualityOracle,
    "q_lang_id" -> qLangIdOracle,
    "q_fingerprint" -> qFingerprintOracle,
    "q_shingles" -> qShinglesOracle,
    "q_dedup_exact" -> qDedupExactOracle,
    "q_dedup_exact_norm" -> qDedupExactNormOracle,
    "q_ngram_jaccard" -> qNgramJaccardOracle,
    "q_minhash_pairs" -> qMinhashPairsOracle,
    "q_embed_neardup" -> qEmbedNearDupOracle,
    "q_cosine_topk" -> qCosineTopKOracle,
    "q_dup_clusters" -> qDupClustersOracle,
    "q_ann_planted" -> qAnnPlantedOracle,
    "q_word_ngrams" -> qWordNgramsOracle,
    "q_vocab_topk" -> qVocabTopkOracle,
    // the sketch head EQUALS the exact head at these SFs (margin
    // pinned in qVocabTopkMg's doc), so the exact twin is the oracle
    "q_vocab_topk_mg" -> qVocabTopkOracle,
    "q_tfidf" -> qTfidfOracle
  )
}
