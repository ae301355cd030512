package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate — one JVM-wide),
  * built from the same [[GraftSession.builder]] as `Bench`, `Verify`
  * and `perfbench`, so plan contracts hold under the config they run.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("graft-test", shufflePartitions = 4)
    .master("local[4]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  spark.sparkContext.setLogLevel("ERROR")

  val sf: String = "/root/testdata/sf0.001"

  /** Run `f` with SQL confs temporarily set, restoring prior values
    * (the shared session outlives each test — leaked confs would make
    * suite results order-dependent).
    */
  def withSQLConf[T](pairs: (String, String)*)(f: => T): T = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
