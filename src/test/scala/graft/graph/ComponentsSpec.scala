package graft.graph

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

class ComponentsSpec extends AnyFunSuite with SparkFixture {

  private def mirror(edges: Seq[(Long, Long)]) =
    edges ++ edges.map { case (a, b) => (b, a) }

  private def run(edges: Seq[(Long, Long)], nodes: Seq[Long], maxRounds: Int = 50) = {
    import spark.implicits._
    Components.labelPropagation(
        spark,
        mirror(edges).toDF("src", "dst"),
        nodes.toDF("id"),
        maxRounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("two components + an isolated node get min-id labels") {
    // 1-2-3 chain, 10-11 pair, 20 isolated
    val labels = run(Seq((1L, 2L), (2L, 3L), (10L, 11L)), Seq(1L, 2L, 3L, 10L, 11L, 20L))
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("a long path converges within its diameter") {
    // path 0-1-2-...-12: min label must walk the whole chain
    val n = 13L
    val labels = run((0L until n - 1).map(i => (i, i + 1)), 0L until n)
    assert(labels == (0L until n).map(_ -> 0L).toMap)
  }

  test("diameter beyond maxRounds falls back to star contraction, labels exact") {
    // a 40-node path: diameter 39, propagation budget 3 — the old loop's
    // require() rejected this; the fallback must converge in O(log n)
    // star rounds and produce the identical min-label answer
    val n = 40L
    val labels = run((0L until n - 1).map(i => (i, i + 1)), 0L until n, maxRounds = 3)
    assert(labels == (0L until n).map(_ -> 0L).toMap)
  }

  test("star contraction alone matches propagation on a mixed graph") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (12L, 10L), (30L, 31L))
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 12L, 20L, 30L, 31L)
    val viaStars = Components.starContraction(
        spark, mirror(edges).toDF("src", "dst"), nodes.toDF("id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaStars == run(edges, nodes))
    assert(viaStars(20L) == 20L) // isolated node labels itself
  }

  test("star contraction handles an empty edge set (all isolated)") {
    import spark.implicits._
    val labels = Components.starContraction(
        spark, Seq.empty[(Long, Long)].toDF("src", "dst"), Seq(5L, 9L).toDF("id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(5L -> 5L, 9L -> 9L))
  }

  test("driver union-find tier equals distributed propagation, both cap sides") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (12L, 10L), (40L, 41L))
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 12L, 40L, 41L, 99L)
    def auto(cap: Long) = Components.autoLabel(
        spark, mirror(edges).toDF("src", "dst"), Some(nodes.toDF("id")), driverCap = cap)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      12L -> 10L, 40L -> 40L, 41L -> 40L, 99L -> 99L)
    assert(auto(1000000L) == expected, "driver tier")
    assert(auto(0L) == expected, "distributed tier")
  }

  test("driver tier rejects an edge endpoint missing from the node set") {
    import spark.implicits._
    // the propagation loop would silently half-bridge through such a
    // node (its label gain never counts as `changed`) — the driver tier
    // must fail loudly rather than pick either wrong answer
    val thrown = intercept[IllegalArgumentException] {
      Components.autoLabel(spark,
        mirror(Seq((1L, 7L))).toDF("src", "dst"), Some(Seq(1L).toDF("id")))
    }
    assert(thrown.getMessage.contains("endpoint"))
  }

  test("driver tier never collects the node dictionary (isolated-heavy graph)") {
    import spark.implicits._
    // tiny edge set, much larger node set: labels must be exact anyway
    val nodes = (0L until 500L)
    val got = Components.autoLabel(spark,
        mirror(Seq((10L, 20L))).toDF("src", "dst"), Some(nodes.toDF("id")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 500)
    assert(got(20L) == 10L && got(10L) == 10L)
    assert(nodes.filterNot(n => n == 10L || n == 20L).forall(n => got(n) == n))
  }

  test("pagerank driver tier equals the distributed power iteration") {
    val dir = "/root/testdata/sf0.001"
    def ranks(cap: Long) = GraphQueries.pagerank(TripleStore.staged(spark, dir), driverCap = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val driver = ranks(Long.MaxValue)
    val dist = ranks(0L)
    assert(driver.nonEmpty)
    assert(driver == dist)
  }

  test("ppr driver tier equals the distributed loop, and differs from global pagerank") {
    val dir = "/root/testdata/sf0.001"
    def ranks(cap: Long) = GraphQueries.ppr(TripleStore.staged(spark, dir), driverCap = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val driver = ranks(Long.MaxValue)
    val dist = ranks(0L)
    assert(driver.nonEmpty)
    assert(driver == dist)
    // personalized mass exists: the top entry is reachable from (or is)
    // a seed, so it holds strictly positive scaled rank
    assert(driver.head._2 > 0L)
    // the teleport restriction must BITE: the personalized top-20 is not
    // the global top-20 on this graph (else the query adds nothing)
    val global = GraphQueries.pagerank(TripleStore.staged(spark, dir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(driver != global)
  }

  test("bfs driver tier equals the distributed frontier loop") {
    val dir = "/root/testdata/sf0.001"
    def dists(cap: Long) = GraphQueries.bfs(TripleStore.staged(spark, dir), driverCap = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val driver = dists(Long.MaxValue)
    val dist = dists(0L)
    assert(driver.nonEmpty)
    assert(driver == dist)
    assert(driver.count(_._2 == 0L) == 1, "exactly one seed at distance 0")
  }

  test("jaccard driver bitset tier equals the distributed wedge count") {
    val dir = "/root/testdata/sf0.001"
    def pairs(cap: Long) = GraphQueries.jaccardNeighbors(TripleStore.staged(spark, dir), edgeCap = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val driver = pairs(Long.MaxValue)
    val dist = pairs(0L)
    assert(driver.nonEmpty)
    assert(driver == dist)
    assert(driver.forall(_._3 >= 0.5))
  }

  test("session config (AQE, partitions, codegen) is restored after the scoped loop") {
    val before = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.shuffle.partitions",
      "spark.sql.codegen.wholeStage",
      "spark.sql.codegen.factoryMode").map(k => k -> spark.conf.getOption(k))
    run(Seq((1L, 2L)), Seq(1L, 2L))
    val after = before.map { case (k, _) => k -> spark.conf.getOption(k) }
    assert(after == before)
  }
}
