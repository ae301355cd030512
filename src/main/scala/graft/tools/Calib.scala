package graft.tools

import org.apache.spark.sql.SparkSession

/** Host-load stamps for every `Bench` and `perfbench` capture. Without
  * a load stamp, a reading taken on a contended host is
  * indistinguishable from a plan regression (an as-of skew reading once
  * went from 92.2 s to 16.1 s on the same binary and data half an hour
  * apart).
  *
  * CPU axis: 2e9 codegen'd xxhash64 ops over 64 tasks, no shuffle, no
  * FS (shuffle-bearing designs measured 3-39 s idle on one JVM — AQE
  * scheduling noise dominates them). IO axis: write 16M (id, xxhash64)
  * rows (~250 MB, incompressible) as parquet and read them back
  * through a sum — the write/commit/read path the CPU probe is blind
  * to (r17's skew capture read cpu≈1.0 while bit-identical doc
  * controls moved 0.5-2.3×). Each reading is a median-of-3; callers
  * should invoke an untimed warmup first (`cpuOnce` / `ioOnce`).
  */
object Calib {

  /** Committed idle references (this sandbox, measured solo).
    * IoRefSec: 0.583 idle in-probe reading 2026-08-16 (the 2.0 first
    * guess read io_load_factor 0.29 on an idle box); contended
    * sessions the same day read 3.7-10.5 s — the axis swings ~20×.
    */
  val CpuRefSec = 0.65
  val IoRefSec = 0.6

  def cpuOnce(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 2000000000L, 1L, 64)
      .selectExpr("xxhash64(id) % 1000003 AS h") // bounded: ANSI sum must not overflow
      .select(org.apache.spark.sql.functions.sum("h"))
      .write.mode("overwrite").format("noop").save()
    (System.nanoTime() - t0) / 1e9
  }

  def ioOnce(spark: SparkSession, scratch: String): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 16000000L, 1L, 32)
      .selectExpr("id", "xxhash64(id) AS h")
      .write.mode("overwrite").parquet(scratch + "/p")
    spark.read.parquet(scratch + "/p")
      .selectExpr("sum(h % 1000003)") // bounded: ANSI sum must not overflow
      .write.mode("overwrite").format("noop").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def median3(f: => Double): Double = {
    val v = Seq(f, f, f).sorted; v(1)
  }

  def cpuRead(spark: SparkSession): Double = median3(cpuOnce(spark))

  def ioRead(spark: SparkSession, scratch: String): Double =
    median3(ioOnce(spark, scratch))

  /** JSON fragment (no braces) a capture appends to its output line.
    * Carries the driver heap too (r18): a run at the 16g default
    * instead of the 32g reference seat doubled q_scd2_apply's memory
    * spill and read 2× — the heap is a measurement condition exactly
    * like host load, so every stamped line states it.
    */
  def jsonFields(cpuSec: Double, ioSec: Double): String = {
    def f3(v: Double) = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    s""""calib_cpu_sec":${f3(cpuSec)},"calib_io_sec":${f3(ioSec)},""" +
      s""""cpu_load_factor":${f3(cpuSec / CpuRefSec)},"io_load_factor":${f3(ioSec / IoRefSec)},""" +
      s""""heap_gb":${f3(Runtime.getRuntime.maxMemory / 1e9)}"""
  }
}
