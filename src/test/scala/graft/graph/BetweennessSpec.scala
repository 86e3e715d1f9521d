package graft.graph

import graft.SparkFixture
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Pins `spo_betweenness`: driver tier ≡ distributed tier bit-for-bit
  * (the 6dp-decimal recurrence makes the float accumulation
  * order-independent), both within float tolerance of a TEXTBOOK double
  * Brandes (independent implementation, no decimal rounding), closed
  * forms on engineered graphs, and the leaf-zero gate property.
  */
class BetweennessSpec extends AnyFunSuite with SparkFixture {

  private def halfDf(edges: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct.toDF("a", "b")
  }

  private def collected(edges: Seq[(Long, Long)], nodes: Seq[Long]) =
    DriverGraph.build(edges.map(_._1).toArray, edges.map(_._2).toArray,
      directed = false, nodes.toArray)

  private def viaDriver(edges: Seq[(Long, Long)], nodes: Seq[Long],
                        seeds: Seq[Long]): Map[Long, BigDecimal] = {
    Betweenness.driverBrandes(collected(edges, nodes), seeds)
  }

  private def viaDist(edges: Seq[(Long, Long)], nodes: Seq[Long],
                      seeds: Seq[Long]): Map[Long, BigDecimal] = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val half = halfDf(edges)
    val sym = half.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(half.select(col("b").as("src"), col("a").as("dst"))).localCheckpoint()
    Betweenness.distBrandes(spark, sym, nodes.toDF("id"), seeds.toDF("seed"))
      .collect().map(r => r.getLong(0) -> BigDecimal(r.getDecimal(1))).toMap
  }

  /** Independent textbook Brandes (pure double, all-pairs over the
    * given seeds) — Ulrik Brandes 2001, no decimal discipline. */
  private def textbook(edges: Seq[(Long, Long)], nodes: Seq[Long],
                       seeds: Seq[Long]): Map[Long, Double] = {
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    val cb = scala.collection.mutable.HashMap.empty[Long, Double].withDefaultValue(0.0)
    for (s0 <- seeds) {
      val stack = scala.collection.mutable.Stack.empty[Long]
      val pred = scala.collection.mutable.HashMap.empty[Long, List[Long]].withDefaultValue(Nil)
      val sigma = scala.collection.mutable.HashMap(s0 -> 1.0).withDefaultValue(0.0)
      val dist = scala.collection.mutable.HashMap(s0 -> 0L)
      val q = scala.collection.mutable.Queue(s0)
      while (q.nonEmpty) {
        val v = q.dequeue(); stack.push(v)
        adj.getOrElse(v, Nil).foreach { w =>
          if (!dist.contains(w)) { dist(w) = dist(v) + 1; q.enqueue(w) }
          if (dist(w) == dist(v) + 1) { sigma(w) += sigma(v); pred(w) = v :: pred(w) }
        }
      }
      val delta = scala.collection.mutable.HashMap.empty[Long, Double].withDefaultValue(0.0)
      while (stack.nonEmpty) {
        val w = stack.pop()
        pred(w).foreach { v => delta(v) += sigma(v) / sigma(w) * (1.0 + delta(w)) }
        if (w != s0) cb(w) += delta(w)
      }
    }
    nodes.map(v => v -> cb(v)).toMap
  }

  test("path graph closed form, driver == distributed == textbook") {
    // P5 from seed 0: delta(1)=3, delta(2)=2, delta(3)=1, delta(4)=0
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L))
    val nodes = Seq(0L, 1L, 2L, 3L, 4L)
    val seeds = Seq(0L)
    val want = Map(0L -> 0.0, 1L -> 3.0, 2L -> 2.0, 3L -> 1.0, 4L -> 0.0)
    val drv = viaDriver(edges, nodes, seeds)
    assert(drv.map { case (k, v) => k -> v.toDouble } == want)
    assert(viaDist(edges, nodes, seeds) == drv)
    assert(textbook(edges, nodes, seeds) == want)
  }

  test("bridge between two triangles: the bridge endpoints carry the load") {
    // triangles {0,1,2} and {3,4,5} bridged by 2-3; all six nodes seeded
    val edges = Seq((0L,1L),(0L,2L),(1L,2L),(2L,3L),(3L,4L),(3L,5L),(4L,5L))
    val nodes = (0L to 5L).toSeq
    val seeds = nodes
    val drv = viaDriver(edges, nodes, seeds)
    val dst = viaDist(edges, nodes, seeds)
    assert(dst == drv, "tiers disagree")
    val tb = textbook(edges, nodes, seeds)
    drv.foreach { case (v, d) =>
      assert(math.abs(d.toDouble - tb(v)) < 1e-4, s"node $v: $d vs ${tb(v)}")
    }
    // the bridge endpoints strictly dominate everyone else
    val others = nodes.filterNot(v => v == 2L || v == 3L).map(drv(_).toDouble).max
    assert(drv(2L).toDouble > others && drv(3L).toDouble > others)
    assert(drv(2L) == drv(3L), "symmetric bridge must tie")
  }

  test("equal-weight split: sigma ratios produce fractional dependencies") {
    // diamond: 0-1, 0-2, 1-3, 2-3 — two shortest paths 0->3; from seed
    // 0, delta(1) = delta(2) = 1/2
    val drv = viaDriver(Seq((0L,1L),(0L,2L),(1L,3L),(2L,3L)), Seq(0L,1L,2L,3L), Seq(0L))
    assert(drv(1L) == BigDecimal("0.5") && drv(2L) == BigDecimal("0.5"))
    assert(viaDist(Seq((0L,1L),(0L,2L),(1L,3L),(2L,3L)), Seq(0L,1L,2L,3L), Seq(0L)) == drv)
  }

  test("sigma path-count overflow refuses loudly instead of wrapping") {
    // chain of 16 width-16 junctions: sigma multiplies by 16 every two
    // hops (32 hops total, inside the 50-round bound), so the path
    // count reaches 2^64 and the exact-long accumulation must refuse —
    // a silent wrap would have both tiers agreeing on garbage. The
    // distributed tier's ANSI long SUM throws SparkArithmeticException
    // on the same graph by construction (Spark 4 ANSI default).
    val width = 16
    val edges = (0 until 16).flatMap { i =>
      val a = i.toLong * (width + 1)
      val next = (i + 1).toLong * (width + 1)
      (1 to width).flatMap { j => Seq((a, a + j), (a + j, next)) }
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val ex = intercept[IllegalArgumentException] {
      viaDriver(edges, nodes, Seq(0L))
    }
    assert(ex.getMessage.contains("sigma path count overflowed"))
  }

  test("shipped graph: tiers agree bit-for-bit (mass gate included) and leaves score zero") {
    val dir = "/root/testdata/sf0.001"
    val viaQuery = GraphQueries.betweenness(TripleStore.staged(spark, dir)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
    assert(viaQuery.nonEmpty)
    viaQuery.foreach { case (v, deg, b, _, _) =>
      assert(b >= 0.0, s"node $v negative betweenness")
      if (deg <= 1) assert(b == 0.0, s"leaf/isolated $v scored $b")
    }
    assert(viaQuery.exists(_._3 > 0.0), "no node carries load — vacuous graph")
    // the total-mass gate (VERDICT r11 item 5): |Σδ − Σ(d(s,t)−1)| must
    // sit inside the rounded-recurrence bound, constant across rows and
    // visible from the output alone
    val errs = viaQuery.map(_._4).distinct
    val bounds = viaQuery.map(_._5).distinct
    assert(errs.length == 1 && bounds.length == 1, "gate columns not constant")
    assert(errs.head >= 0L && errs.head <= bounds.head,
      s"mass gate violated in output: err=${errs.head} bound=${bounds.head}")
    assert(bounds.head > 0L, "gate vacuous: zero bound on a non-trivial graph")
    // force the distributed tier: identical output INCLUDING the gate
    // (same DAG, same level counts, bit-identical δ totals)
    val viaDistTier = GraphQueries.betweenness(TripleStore.staged(spark, dir), driverCap = 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
    assert(viaDistTier.toSeq == viaQuery.toSeq)
  }

  test("mass reference equals the Brandes identity on engineered graphs") {
    // Σ_{v≠s} δ_s(v) = Σ_{t reached} (d(s,t) − 1): exact (err ≤ bound,
    // and for these tiny graphs the rounded drift is ~0) on shapes with
    // genuinely fractional σ-splits
    val cases = Seq(
      (Seq((0L,1L),(1L,2L),(2L,3L),(3L,4L)), Seq(0L,1L,2L,3L,4L), Seq(0L)),
      (Seq((0L,1L),(0L,2L),(1L,3L),(2L,3L)), Seq(0L,1L,2L,3L), Seq(0L)),
      (Seq((0L,1L),(0L,2L),(1L,2L),(2L,3L),(3L,4L),(3L,5L),(4L,5L)),
        (0L to 5L).toSeq, (0L to 5L).toSeq))
    for ((edges, nodes, seeds) <- cases) {
      val g = collected(edges, nodes)
      val d = Betweenness.driverBrandes(g, seeds)
      val (distSum, dagEdges, maxLev) = Betweenness.massReference(g, seeds)
      val deltaMicros = d.valuesIterator
        .map(_.underlying.movePointRight(6).longValueExact()).sum
      val err = math.abs(deltaMicros - distSum * 1000000L)
      assert(err <= dagEdges * (maxLev + 1L),
        s"mass err $err exceeds bound on $edges from $seeds")
      assert(dagEdges > 0L, "dag edge count vacuous")
    }
  }
}
