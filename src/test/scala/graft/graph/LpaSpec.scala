package graft.graph

import graft.{SparkEntry, SparkFixture}
import org.scalatest.funsuite.AnyFunSuite

/** Pins `spo_lpa` (fixed-round synchronous label propagation) against
  * an independent in-process reference, the min-label tie-break, and
  * the bipartite-oscillation regime the fixed depth makes deterministic. */
class LpaSpec extends AnyFunSuite with SparkFixture {

  /** Independent reference: the same recurrence in plain Scala maps —
    * R synchronous rounds, label := most frequent neighbor label,
    * ties to the smallest. */
  private def referenceLpa(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val und = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }.distinct
    val adj = und.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var lab: Map[Long, Long] = adj.keys.map(k => k -> k).toMap
    for (_ <- 1 to rounds) {
      lab = adj.map { case (v, ns) =>
        val freq = ns.groupBy(lab).view.mapValues(_.size).toSeq
        v -> freq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    lab
  }

  private def runLpa(edges: Seq[(Long, Long)], rounds: Int,
                     driverCap: Long = 2000000L): Map[Long, Long] = {
    import spark.implicits._
    GraphQueries.lpa(edges.toDF("a", "b"), rounds, driverCap).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("spo_lpa matches the independent reference on the shipped sf0.001 graph") {
    val g = TripleStore.staged(spark, "/root/testdata/sf0.001")
    val edges = g.half.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = referenceLpa(edges, GraphQueries.LpaRounds)
    val got = SparkEntry.queries("spo_lpa")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    // communities must partition the node set: sizes sum to |V|
    val sized = SparkEntry.queries("spo_lpa")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    val bySize = sized.groupBy(_._1).map { case (c, rs) => c -> rs.length.toLong }
    sized.foreach { case (c, n) => assert(n == bySize(c), s"community $c size column $n != member count ${bySize(c)}") }
  }

  test("both tiers agree with the reference (distributed forced via driverCap = 0)") {
    val g = TripleStore.staged(spark, "/root/testdata/sf0.001")
    val edges = g.half.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = referenceLpa(edges, GraphQueries.LpaRounds)
    assert(runLpa(edges, GraphQueries.LpaRounds) == want, "driver tier")
    assert(runLpa(edges, GraphQueries.LpaRounds, driverCap = 0L) == want, "distributed tier")
  }

  test("two cliques joined by one bridge settle to two communities labeled by their minima") {
    // cliques {1,2,3,4} and {10,11,12,13}, bridge 4-10
    def clique(ids: Seq[Long]) = for (a <- ids; b <- ids if a < b) yield (a, b)
    val edges = clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(10L, 11L, 12L, 13L)) :+ (4L -> 10L)
    val got = runLpa(edges, rounds = 4)
    assert(got == referenceLpa(edges, 4))
    assert(Seq(1L, 2L, 3L).forall(got(_) == 1L), s"left clique: $got")
    assert(Seq(11L, 12L, 13L).forall(got(_) == 10L), s"right clique: $got")
  }

  test("tie-break is the smallest label, and bipartite oscillation is deterministic per round") {
    // path 5-6-7: node 6 sees labels {5, 7} (tie -> 5). A pure 2-node
    // edge 20-21 swaps labels every round; at even depth each node is
    // back to its own label — the fixed horizon pins WHICH state is
    // reported, the reference must agree exactly.
    val edges = Seq((5L, 6L), (6L, 7L), (20L, 21L))
    for (r <- 1 to 5) {
      val got = runLpa(edges, r)
      assert(got == referenceLpa(edges, r), s"round $r: $got")
    }
    // round 1 isolates the tie rule: 6 sees {5, 7} and must take 5
    assert(runLpa(edges, 1)(6L) == 5L, "tie not broken to the smallest label")
    // the 20-21 edge swaps labels every round; even depth restores them
    val even = runLpa(edges, 4)
    assert(even(20L) == 20L && even(21L) == 21L, "even-depth bipartite state wrong")
  }
}
