package graft

import org.apache.spark.sql.SparkSession

/** Independent chains of Spark jobs, run side by side.
  *
  * On a small feature set a pipeline step is a long run of small jobs,
  * most with one task, and the driver walks them one after another while
  * the other cores wait. Chains that do not read each other's results can
  * overlap: each thunk passed to [[all]] is one such chain (a lane).
  *
  * Each lane runs on its own thread, created per call, so it inherits
  * the caller's Spark local properties (job group, description,
  * scheduler pool) and active session; a pool's reused threads would
  * carry whatever their first caller had set. The number of lanes is the
  * number of independent steps the caller wrote, never a setting.
  */
object Lanes {

  /** Run every thunk on its own thread and return the results in input
    * order. Waits for every lane, then rethrows the first failure in
    * input order, with the later ones attached as suppressed.
    */
  def all[T](thunks: Seq[() => T]): Seq[T] = {
    val outcomes = new Array[Either[Throwable, T]](thunks.size)
    val threads = thunks.zipWithIndex.map { case (thunk, i) =>
      val t = new Thread(() =>
        outcomes(i) = try Right(thunk()) catch { case e: Throwable => Left(e) },
        s"graft-lane-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    // join() orders each lane's write to `outcomes` before the reads below
    threads.foreach(_.join())
    val failures = outcomes.collect { case Left(e) => e }
    failures.headOption.foreach { first =>
      failures.tail.filterNot(_ eq first).foreach(first.addSuppressed)
      throw first
    }
    outcomes.toSeq.collect { case Right(v) => v }
  }

  /** [[all]] over named lanes: each lane's jobs carry the description
    * `<prefix>/<name>`, so an event log or the UI attributes every job to
    * its lane.
    */
  def named[T](spark: SparkSession, prefix: String, lanes: Seq[(String, () => T)]): Seq[T] =
    all(lanes.map { case (name, thunk) => () => described(spark, s"$prefix/$name")(thunk()) })

  /** Run `body` with its jobs described as `description` on this thread,
    * then restore the thread's previous description. */
  def described[T](spark: SparkSession, description: String)(body: => T): T = {
    val sc = spark.sparkContext
    val previous = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(description)
    try body finally sc.setJobDescription(previous)
  }
}
