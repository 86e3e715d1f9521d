package graft.graph

import graft.{SparkEntry, SparkFixture}
import org.scalatest.funsuite.AnyFunSuite

/** Pins `spo_random_walks` (derandomized hash-seeded walks): tier
  * equality, trajectory validity (every move is an edge), and the
  * hash-argmin choice rule against an in-spec md5 reference. */
class WalksSpec extends AnyFunSuite with SparkFixture {

  private val dir = "/root/testdata/sf0.001"

  private def half(edges: Seq[(Long, Long)]) = {
    import spark.implicits._
    edges.toDF("a", "b")
  }

  test("both tiers trace identical trajectories on the shipped graph") {
    val g = TripleStore.staged(spark, dir)
    val edges = g.half.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val u = half(edges)
    val driver = GraphQueries.randomWalks(u, GraphQueries.WalkSteps).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val dist = GraphQueries.randomWalks(u, GraphQueries.WalkSteps, driverCap = 0L).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(driver == dist)
    // structural validity: step 0 is the start node, every consecutive
    // pair is an edge of the undirected graph
    val edgeSet = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }.toSet
    val byWalk = driver.groupBy(_._1)
    byWalk.foreach { case (w, rs) =>
      val path = rs.sortBy(_._2).map(_._3)
      assert(path.length == GraphQueries.WalkSteps + 1)
      assert(path.head == w, s"walk $w does not start at itself")
      path.sliding(2).foreach { case Seq(x, y) =>
        assert(edgeSet.contains(x -> y), s"walk $w moved $x->$y off-graph")
      }
    }
  }

  test("each step picks the md5-argmin neighbor (in-spec reference on an engineered graph)") {
    // star: 1 joined to 2,3,4,5 — from node 1 the choice at each step
    // is among four neighbors; leaves bounce back to 1
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))
    val got = GraphQueries.randomWalks(half(edges), 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val md = java.security.MessageDigest.getInstance("MD5")
    def hx(s: String) = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val adj = Map(1L -> Seq(2L, 3L, 4L, 5L), 2L -> Seq(1L), 3L -> Seq(1L), 4L -> Seq(1L), 5L -> Seq(1L))
    val expected = adj.keys.toSeq.sorted.flatMap { start =>
      var node = start
      (start, 0, node) +: (1 to 3).map { t =>
        node = adj(node).minBy(u => (hx(s"walk:$start:$t:$u"), u))
        (start, t, node)
      }
    }
    assert(got == expected)
    // the engineered star must actually exercise a 4-way choice from 1
    assert(adj(1L).size == 4)
  }
}
