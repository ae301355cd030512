package graft

import scala.math.BigDecimal.RoundingMode

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.queries.CoreQueries

/** q1's and q2's money sums, checked against an oracle that shares no
  * code and no SQL with them: a `BigDecimal` fold of the raw rows on the
  * driver. The DuckDB oracles of both queries were edited in the same
  * commits as the queries' integer-unit arithmetic, so parity alone
  * cannot catch a mistake the two have in common.
  */
class MoneySumSpec extends SparkSpec {

  /** The exact decimal of a stored 2-dp double (its shortest repr);
    * None for NULL, which a SQL sum skips. */
  private def dec(r: Row, i: Int): Option[BigDecimal] =
    if (r.isNullAt(i)) None else Some(BigDecimal.decimal(r.getDouble(i)))

  private def money(x: BigDecimal): Double = x.setScale(2, RoundingMode.HALF_UP).toDouble

  private def sumOf(terms: Iterable[Option[BigDecimal]]): BigDecimal = terms.flatten.sum

  private val epochS = (day: String) =>
    java.time.LocalDate.parse(day).atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond

  // the test corpora sit side by side under the directory of `sf`
  private val corpora = new java.io.File(sf).getParent

  for (sfName <- Seq("sf0.001", "sf0.01")) {
    val sfDir = s"$corpora/$sfName"

    test(s"q1 money sums equal a BigDecimal fold of the raw lineitem rows ($sfName)") {
      val cutoff = epochS("1998-09-02")
      val raw = Tables.lineitem(spark, sfDir)
        .select(col("l_returnflag"), col("l_linestatus"), col("l_shipdate").cast("long"),
          col("l_extendedprice"), col("l_discount"), col("l_tax"))
        .collect().filter(r => !r.isNullAt(2) && r.getLong(2) <= cutoff)
      val expected = raw.groupBy(r => (Option(r.getString(0)), Option(r.getString(1))))
        .map { case (key, rows) =>
          val price = rows.map(dec(_, 3)); val disc = rows.map(dec(_, 4)); val tax = rows.map(dec(_, 5))
          val discPrice = price.zip(disc).map { case (p, d) => for (p <- p; d <- d) yield p * (1 - d) }
          val charge = discPrice.zip(tax).map { case (pd, t) => for (pd <- pd; t <- t) yield pd * (1 + t) }
          key -> ((money(sumOf(price)), money(sumOf(discPrice)), money(sumOf(charge)), rows.length.toLong))
        }
      val actual = CoreQueries.q1PricingSummary(spark, sfDir)
        .select("l_returnflag", "l_linestatus", "sum_base_price", "sum_disc_price", "sum_charge",
          "count_order")
        .collect().map { r =>
          (Option(r.getString(0)), Option(r.getString(1))) ->
            ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getLong(5)))
        }.toMap
      assert(expected.nonEmpty)
      assert(actual == expected)
    }

    test(s"q2 revenue equals a BigDecimal fold of the raw lineitem rows ($sfName)") {
      val (from, until) = (epochS("1996-01-01"), epochS("1998-01-01"))
      val custOf = Tables.orders(spark, sfDir)
        .select(col("o_orderkey").cast("long"), col("o_custkey").cast("long"),
          col("o_orderdate").cast("long"))
        .collect().collect { case r if !r.isNullAt(2) && r.getLong(2) >= from && r.getLong(2) < until =>
          r.getLong(0) -> r.getLong(1)
        }.toMap
      val nationOf = Tables.customer(spark, sfDir)
        .select(col("c_custkey").cast("long"), col("c_nationkey").cast("long"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val regionName = Tables.region(spark, sfDir)
        .select(col("r_regionkey").cast("long"), col("r_name"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val nationNames = Tables.nation(spark, sfDir)
        .select(col("n_nationkey").cast("long"), col("n_name"), col("n_regionkey").cast("long"))
        .collect().map(r => r.getLong(0) -> ((regionName(r.getLong(2)), r.getString(1)))).toMap
      val lines = Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey").cast("long"), col("l_extendedprice"), col("l_discount")).collect()
        .flatMap { r =>
          for (cust <- custOf.get(r.getLong(0)); nation <- nationOf.get(cust);
               names <- nationNames.get(nation))
            yield names -> (for (p <- dec(r, 1); d <- dec(r, 2)) yield p * (1 - d))
        }
      val expected = lines.groupBy(_._1).map { case (names, rows) =>
        names -> ((money(sumOf(rows.map(_._2))), rows.length.toLong))
      }
      val actual = CoreQueries.q2RevenueNation(spark, sfDir)
        .select("r_name", "n_name", "revenue", "n_items").collect()
        .map(r => (r.getString(0), r.getString(1)) -> ((r.getDouble(2), r.getLong(3)))).toMap
      assert(expected.nonEmpty)
      assert(actual == expected)
    }
  }
}
