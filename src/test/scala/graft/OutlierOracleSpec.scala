package graft

import scala.math.BigDecimal.RoundingMode

import org.apache.spark.sql.functions._

import graft.operators.GlobalRank
import graft.queries.{CoreQueries2, FeatureQueries}

/** q_outlier_iqr and q_outlier_mad, checked against an oracle that
  * shares no code and no SQL with them: an exact `BigDecimal` fold of
  * the raw rows on the driver. Both queries' DuckDB oracles were edited
  * in the same commits as the queries, so parity alone cannot catch a
  * mistake the two have in common.
  */
class OutlierOracleSpec extends SparkSpec {

  /** The linearly interpolated quantile of sorted values (DuckDB's
    * `quantile_cont`): position p·(n−1), between its two neighbours. */
  private def quantile(sorted: IndexedSeq[BigDecimal], p: Double): BigDecimal = {
    val pos = BigDecimal(p) * (sorted.length - 1)
    val lo = pos.setScale(0, RoundingMode.FLOOR).toInt
    val hi = math.min(lo + 1, sorted.length - 1)
    sorted(lo) + (pos - lo) * (sorted(hi) - sorted(lo))
  }

  private def r4(x: BigDecimal): BigDecimal = x.setScale(4, RoundingMode.HALF_UP)

  // the test corpora sit side by side under the directory of `sf`
  private val corpora = new java.io.File(sf).getParent

  for (sfName <- Seq("sf0.001", "sf0.01")) {
    val sfDir = s"$corpora/$sfName"

    test(s"q_outlier_iqr quartiles, fences and outlier counts equal a fold of the raw rows ($sfName)") {
      val li = Tables.lineitem(spark, sfDir)
      val rows = li.select(col("l_returnflag"), col("l_extendedprice")).collect()
      val price = (i: Int) => rows(i).getDouble(1)
      val prices = rows.indices.filterNot(rows(_).isNullAt(1))
        .map(i => BigDecimal.decimal(price(i))).sorted
      val (q1, q3) = (r4(quantile(prices, 0.25)), r4(quantile(prices, 0.75)))
      // the query's quartile step, on the same rows
      assert(GlobalRank.exactQuantiles(li, col("l_extendedprice"), Seq(0.25, 0.75))
        .map(q => r4(BigDecimal(q))).toSeq == Seq(q1, q3))
      val (lo, hi) = (q1 - BigDecimal("1.5") * (q3 - q1), q3 + BigDecimal("1.5") * (q3 - q1))
      val expected = rows.indices.groupBy(i => Option(rows(i).getString(0))).map { case (flag, is) =>
        val outliers = is.count { i =>
          !rows(i).isNullAt(1) && { val p = BigDecimal.decimal(price(i)); p < lo || p > hi }
        }
        flag -> ((is.length.toLong, outliers.toLong, lo.toDouble, hi.toDouble))
      }
      val actual = FeatureQueries.qOutlierIqr(spark, sfDir)
        .select("l_returnflag", "n", "n_outliers", "lo", "hi").collect()
        .map(r => Option(r.getString(0)) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
        .toMap
      assert(expected.nonEmpty)
      assert(actual == expected)
    }

    test(s"q_outlier_mad medians, MADs and outlier counts equal a fold of the raw rows ($sfName)") {
      val rows = Tables.events(spark, sfDir).select(col("event_type"), col("value")).collect()
      val expected = rows.groupBy(r => Option(r.getString(0))).map { case (kind, rs) =>
        val values = rs.filterNot(_.isNullAt(1)).map(r => BigDecimal.decimal(r.getDouble(1))).toIndexedSeq
        val med = quantile(values.sorted, 0.5)
        val mad = quantile(values.map(v => (v - med).abs).sorted, 0.5)
        // Iglewicz-Hoaglin: |0.6745·(x − med) / MAD| > 3.5; none when MAD = 0
        val outliers =
          if (mad == 0) 0
          else values.count(v => (v - med).abs * BigDecimal("0.6745") > BigDecimal("3.5") * mad)
        kind -> ((rs.length.toLong, r4(med).toDouble, r4(mad).toDouble, outliers.toLong))
      }
      val actual = CoreQueries2.qOutlierMad(spark, sfDir)
        .select("event_type", "n", "med", "mad", "n_outliers").collect()
        .map(r => Option(r.getString(0)) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))))
        .toMap
      assert(expected.nonEmpty && expected.values.map(_._4).sum > 0)
      assert(actual == expected)
    }
  }
}
