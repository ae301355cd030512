package graft.dedup

import scala.collection.mutable

import graft.SparkSpec

/** [[Dedup.dupClusters]] against a driver-side union-find that shares
  * no code with it. Each graph runs at the default bound, where one
  * collect and the driver union-find do all the work, and at a bound
  * it exceeds: 0, where the star rounds run to their fixpoint, or
  * (dense random graphs) 80, where star rounds shrink the edges until
  * the driver can finish.
  */
class DupClustersSpec extends SparkSpec {
  import spark.implicits._
  import DupClustersSpec.minLabels

  /** (id, cluster) rows, sorted: a duplicated or missing id shows. */
  private def clusters(ids: Seq[Long], pairs: Seq[(Long, Long)], bound: Option[Int]): Seq[(Long, Long)] = {
    val (idf, pf) = (ids.toDF("doc_id"), pairs.toDF("id_a", "id_b"))
    bound.fold(Dedup.dupClusters(idf, "doc_id", pf))(Dedup.dupClusters(idf, "doc_id", pf, _))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted
  }

  private def check(ids: Seq[Long], pairs: Seq[(Long, Long)], bounds: Int*): Unit = {
    val labels = minLabels(pairs)
    val expected = ids.map(i => i -> labels.getOrElse(i, i)).sorted
    for (bound <- None +: bounds.map(Some(_)))
      assert(clusters(ids, pairs, bound) == expected, s"bound ${bound.getOrElse("default")}")
  }

  // sparse: many small components, star rounds to their fixpoint at
  // bound 0; dense: more edges than nodes, so star rounds cross the
  // bound of 80 before their fixpoint and the driver finishes
  for (seed <- 1 to 5) {
    test(s"dupClusters equals a union-find on random graphs (seed $seed)") {
      val rnd = new scala.util.Random(seed)
      def edges(n: Int, m: Int) = Seq.fill(m)((rnd.nextInt(n) + 1L, rnd.nextInt(n) + 1L))
      check(1L to 200L, edges(200, 150), 0)
      check(1L to 60L, edges(60, 150), 80)
    }
  }

  test("dupClusters labels the 100-node chain 1 everywhere, both finishes") {
    // diameter 99: label propagation would need 99 rounds
    val chain = (1L to 99L).map(i => (i, i + 1))
    assert(minLabels(chain).values.forall(_ == 1L))
    check(1L to 100L, chain, 0)
  }

  test("dupClusters edge cases: empty, loops, repeats, absent ids, singletons") {
    check(Seq(1L, 2L, 3L), Seq.empty, 0)
    check(Seq(1L, 2L, 3L), Seq((1L, 1L), (3L, 3L), (2L, 3L)), 0)
    check(Seq(1L, 2L, 3L, 4L), Seq((1L, 2L), (2L, 1L), (1L, 2L), (4L, 3L), (3L, 4L)), 0)
    // 1, 6, 7 and 8 are absent from ids: 1 still links 2 and 3 and
    // labels them; 5 keeps its own id; 7-8 yields no row
    check(Seq(2L, 3L, 5L), Seq((1L, 2L), (1L, 3L), (5L, 6L), (7L, 8L)), 0)
    check((1L to 5L), Seq((10L, 11L), (12L, 11L)), 0)
  }
}

object DupClustersSpec {

  /** Node → min id of its connected component, for every node of
    * `pairs`: a plain union-find whose roots are arbitrary, with the
    * min taken over each component's members afterwards.
    */
  def minLabels(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else find(p)
    }
    pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    parent.keys.toSeq.groupBy(find).values.flatMap(c => c.map(_ -> c.min)).toMap
  }
}
