package graft.graph

import graft.SparkFixture
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Pins `spo_closeness`: driver tier ≡ distributed tier bit-for-bit
  * (6dp-decimal 1/d contributions are order-independent), both equal to
  * an independent rational-arithmetic harmonic closeness on engineered
  * graphs (exact fractions, no floats — a different arithmetic family),
  * closed forms, and the disconnected-pair-contributes-zero property
  * the harmonic form exists for.
  */
class ClosenessSpec extends AnyFunSuite with SparkFixture {

  private def halfDf(edges: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct.toDF("a", "b")
  }

  private def viaDriver(edges: Seq[(Long, Long)], nodes: Seq[Long],
                        seeds: Seq[Long]): Map[Long, BigDecimal] = {
    Betweenness.driverCloseness(DriverGraph.build(edges.map(_._1).toArray,
      edges.map(_._2).toArray, directed = false, nodes.toArray), seeds)
  }

  private def viaDist(edges: Seq[(Long, Long)], nodes: Seq[Long],
                      seeds: Seq[Long]): Map[Long, BigDecimal] = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val half = halfDf(edges)
    val sym = half.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(half.select(col("b").as("src"), col("a").as("dst"))).localCheckpoint()
    val (levels, _, _) = Betweenness.forwardLevels(sym, seeds.toDF("seed"), recordDag = false)
    val dec = "decimal(28,6)"
    val cent =
      if (levels.size <= 1) spark.emptyDataFrame.select()
      else levels.zipWithIndex.drop(1).map { case (f, d) =>
        f.select(col("id"), round(lit(1.0) / lit(d.toDouble), 6).cast(dec).as("c"))
      }.reduce(_ unionByName _)
        .groupBy(col("id")).agg(sum(col("c")).cast("decimal(38,6)").as("closeness"))
    val got = cent.collect().map(r => r.getLong(0) -> BigDecimal(r.getDecimal(1))).toMap
    nodes.map(v => v -> got.getOrElse(v, BigDecimal(0))).toMap
  }

  /** Independent reference: exact RATIONAL harmonic closeness — BFS
    * distances via a plain queue, Σ 1/d as exact fractions
    * (numerator/denominator longs reduced by gcd), rounded to 6dp only
    * at the very end. A different arithmetic family from the engine's
    * per-term decimal rounding: agreement within one 6dp ulp per term
    * pins the recurrence. */
  private def rationalRef(edges: Seq[(Long, Long)], nodes: Seq[Long],
                          seeds: Seq[Long]): Map[Long, Double] = {
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    val acc = scala.collection.mutable.HashMap.empty[Long, (BigInt, BigInt)]
      .withDefaultValue((BigInt(0), BigInt(1)))
    for (s0 <- seeds) {
      val dist = scala.collection.mutable.HashMap(s0 -> 0L)
      val q = scala.collection.mutable.Queue(s0)
      while (q.nonEmpty) {
        val v = q.dequeue()
        adj.getOrElse(v, Nil).foreach { w =>
          if (!dist.contains(w)) { dist(w) = dist(v) + 1; q.enqueue(w) }
        }
      }
      dist.foreach { case (v, d) =>
        if (d > 0) {
          val (num, den) = acc(v)
          acc(v) = (num * d + den, den * d) // num/den + 1/d
        }
      }
    }
    nodes.map { v =>
      val (num, den) = acc(v)
      v -> (BigDecimal(num) / BigDecimal(den)).toDouble
    }.toMap
  }

  test("path graph closed form, driver == distributed") {
    // P4 from seed 0: 1/1 + 1/2 + 1/3 across nodes 1..3
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L))
    val nodes = Seq(0L, 1L, 2L, 3L)
    val seeds = Seq(0L)
    val drv = viaDriver(edges, nodes, seeds)
    assert(drv(0L) == BigDecimal(0))
    assert(drv(1L) == BigDecimal("1.0").setScale(6))
    assert(drv(2L) == BigDecimal("0.5").setScale(6))
    assert(drv(3L) == BigDecimal("0.333333"))
    assert(viaDist(edges, nodes, seeds) == drv)
  }

  test("star graph: center reaches all at 1, leaves reach each other at 2") {
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L))
    val nodes = (0L to 4L).toSeq
    val drv = viaDriver(edges, nodes, nodes) // all nodes seeded
    // center: 4 seeds at distance 1; leaf: center at 1 + 3 leaves at 2
    assert(drv(0L) == BigDecimal("4.0").setScale(6))
    (1L to 4L).foreach(v => assert(drv(v) == BigDecimal("2.5").setScale(6)))
    assert(viaDist(edges, nodes, nodes) == drv)
  }

  test("disconnected component contributes zero, not infinity") {
    // {0,1} and {2,3} disjoint: cross-pairs silently absent (the
    // harmonic form's raison d'être vs classic closeness)
    val edges = Seq((0L, 1L), (2L, 3L))
    val nodes = Seq(0L, 1L, 2L, 3L)
    val drv = viaDriver(edges, nodes, nodes)
    nodes.foreach(v => assert(drv(v) == BigDecimal("1.0").setScale(6)))
    assert(viaDist(edges, nodes, nodes) == drv)
  }

  test("engineered lollipop agrees with the exact-rational reference") {
    // K4 {0,1,2,3} + tail 3-4-5-6: distances up to 4, mixed 1/d terms
    val edges = Seq((0L,1L),(0L,2L),(0L,3L),(1L,2L),(1L,3L),(2L,3L),
      (3L,4L),(4L,5L),(5L,6L))
    val nodes = (0L to 6L).toSeq
    val drv = viaDriver(edges, nodes, nodes)
    val ref = rationalRef(edges, nodes, nodes)
    // per-term 6dp rounding vs end-rounded rational: ≤ 0.5e-6 per term,
    // ≤ |seeds| terms
    drv.foreach { case (v, d) =>
      assert(math.abs(d.toDouble - ref(v)) <= 0.5e-6 * nodes.size,
        s"node $v: $d vs ${ref(v)}")
    }
    assert(viaDist(edges, nodes, nodes) == drv)
  }

  test("a graph draining at exactly MaxRounds is a valid answer in both tiers") {
    // P51: seed 0 reaches node 50 at hop exactly 50 = MaxRounds. The
    // driver kernels and the spo_bfs oracle both accept this boundary
    // (dist <= 50 rows are returned; only a genuine hop-51 frontier
    // refuses) — a first cut of forwardLevels crashed here, diverging
    // from its own driver tier. Regression-pinned.
    val edges = (0L until 50L).map(i => (i, i + 1))
    val nodes = (0L to 50L).toSeq
    val seeds = Seq(0L)
    val drv = viaDriver(edges, nodes, seeds)
    assert(drv(50L) == BigDecimal("0.02").setScale(6)) // 1/50
    assert(viaDist(edges, nodes, seeds) == drv)
  }

  test("shipped graph: tiers agree bit-for-bit, everything non-negative") {
    val dir = "/root/testdata/sf0.001"
    val viaQuery = GraphQueries.closeness(TripleStore.staged(spark, dir)).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(viaQuery.nonEmpty)
    viaQuery.foreach { case (v, c) => assert(c >= 0.0, s"node $v negative closeness") }
    assert(viaQuery.exists(_._2 > 0.0), "no node reaches any seed — vacuous graph")
    val viaDistTier = GraphQueries.closeness(TripleStore.staged(spark, dir), driverCap = 0L).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(viaDistTier.toSeq == viaQuery.toSeq)
  }
}
