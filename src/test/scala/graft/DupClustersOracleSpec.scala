package graft

import org.apache.spark.sql.functions._

import graft.dedup.DupClustersSpec.minLabels
import graft.queries.DocQueries

/** q_dup_clusters, checked against an oracle that shares no code and no
  * SQL with it: the query's sample, 3-gram sets, Jaccard pairs and
  * components are all folded on the driver from the raw rows. The
  * query's DuckDB oracle was edited in the same commit as the query, so
  * parity alone cannot catch a mistake the two have in common.
  */
class DupClustersOracleSpec extends SparkSpec {

  // the test corpora sit side by side under the directory of `sf`
  private val corpora = new java.io.File(sf).getParent

  /** Distinct character 3-grams, by code point. */
  private def grams(text: String): Set[String] = {
    val cps = text.codePoints().toArray
    cps.indices.dropRight(2).map(i => new String(cps, i, 3)).toSet
  }

  for (sfName <- Seq("sf0.001", "sf0.01", "sf0.1")) {
    val sfDir = s"$corpora/$sfName"

    test(s"q_dup_clusters clusters equal a driver fold of the raw rows ($sfName)") {
      // the query's sample: doc_id % 20 = 0, ascending, first 2500
      val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text")).collect()
        .filter(r => !r.isNullAt(0) && r.getLong(0) % 20 == 0).sortBy(_.getLong(0)).take(2500)
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) Set.empty[String] else grams(r.getString(1))))
      val pairs = for {
        i <- docs.indices; j <- i + 1 until docs.length
        (a, ga) = docs(i); (b, gb) = docs(j)
        inter = (ga & gb).size
        if inter > 0 && inter.toDouble / (ga.size + gb.size - inter) >= 0.62
      } yield (a, b)
      val expected = minLabels(pairs).groupBy(_._2).map { case (c, ms) => (c, ms.size.toLong) }
        .toSeq.sorted
      val actual = DocQueries.qDupClusters(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(expected.nonEmpty)
      assert(actual == expected)
    }
  }
}
