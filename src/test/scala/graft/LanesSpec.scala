package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

class LanesSpec extends SparkSpec {

  test("Lanes.all returns results in input order") {
    // later lanes finish first, so completion order is the reverse
    val out = Lanes.all((0 until 6).map(i => () => { Thread.sleep((6 - i) * 20L); i * i }))
    assert(out == (0 until 6).map(i => i * i))
  }

  test("Lanes.all rethrows the first failure only after every lane has stopped") {
    val slowDone = new AtomicBoolean(false)
    val first = new IllegalStateException("first")
    val e = intercept[IllegalStateException](Lanes.all(Seq(
      () => throw first,
      () => { Thread.sleep(300); slowDone.set(true) },
      () => throw new IllegalArgumentException("second"))))
    assert(e eq first)
    assert(slowDone.get, "Lanes.all returned before a running lane stopped")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("second"))
  }

  test("a lane's jobs carry the caller's job group") {
    val groups = new ConcurrentLinkedQueue[String]()
    val since = System.currentTimeMillis()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.time >= since) groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    val group = s"lanes-${java.util.UUID.randomUUID()}"
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "lanes spec")
    try {
      val counts = Lanes.all(Seq(() => spark.range(100).count(), () => spark.range(10).count()))
      assert(counts == Seq(100L, 10L))
      // the listener bus delivers asynchronously
      val deadline = System.nanoTime() + 10e9.toLong
      while (groups.size < 2 && System.nanoTime() < deadline) Thread.sleep(20)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(groups.size >= 2)
    assert(groups.asScala.forall(_ == group), groups.asScala.toSeq)
  }

  test("named lanes describe their jobs <prefix>/<name>; the caller's description stays") {
    val descriptions = new ConcurrentLinkedQueue[String]()
    val prefix = s"lanes-${java.util.UUID.randomUUID()}"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = String.valueOf(e.properties.getProperty("spark.job.description"))
        if (d.startsWith(prefix)) descriptions.add(d)
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobDescription("caller")
    try {
      val counts = Lanes.named(spark, prefix, Seq(
        "a" -> (() => spark.range(100).count()), "b" -> (() => spark.range(10).count())))
      assert(counts == Seq(100L, 10L))
      assert(Lanes.described(spark, s"$prefix/c")(spark.range(5).count()) == 5L)
      assert(spark.sparkContext.getLocalProperty("spark.job.description") == "caller")
      val deadline = System.nanoTime() + 10e9.toLong
      while (descriptions.size < 3 && System.nanoTime() < deadline) Thread.sleep(20)
    } finally {
      spark.sparkContext.setJobDescription(null)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(descriptions.asScala.toSet == Set("a", "b", "c").map(n => s"$prefix/$n"))
  }
}
