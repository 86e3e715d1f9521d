package graft.graph

import graft.SparkFixture
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Both tiers of every two-tier graph operator return bit-identical rows
  * (values, order and column types) on generated graphs, or refuse with
  * the same loud round-bound message (a random graph can need more
  * k-core peels than the bound allows). Each operator
  * runs once with the [[DriverGraph.Cap]] (driver tier on these sizes)
  * and once with a negative cap, which forces the distributed tier even
  * on the empty graph. The graph set is fixed by seeds (raw scalacheck
  * generators, like KernelPropertySpec) and covers the empty graph,
  * isolated nodes, several components, duplicate triples, self-loops,
  * seeds (id % 17 == 0) and a graph without entity 1 (the bfs/sssp
  * seed). The per-operator specs keep their closed forms and
  * references; this spec only pins the tiers to each other.
  */
class TierParitySpec extends AnyFunSuite with SparkFixture {

  private val params = Gen.Parameters.default

  /** Node ids (isolated ones included) and (subject, predicate, object)
    * id triples. */
  private case class Shape(name: String, isolated: Seq[Long], triples: Seq[(Long, String, Long)]) {
    def nodes: Seq[Long] = (isolated ++ triples.flatMap(t => Seq(t._1, t._3))).distinct
  }

  /** `n` seeded random triples over `ids`, the first three repeated. */
  private def randomShape(name: String, seed: Long, ids: Seq[Long], n: Int,
                          isolated: Seq[Long]): Shape = {
    val triple = for {
      a <- Gen.oneOf(ids); p <- Gen.oneOf("viewed", "bought"); b <- Gen.oneOf(ids)
    } yield (a, p, b)
    val ts = Gen.listOfN(n, triple).apply(params, Seed(seed)).getOrElse(Nil)
    assert(ts.length == n, s"$name: generator gave ${ts.length} triples")
    Shape(name, isolated, ts ++ ts.take(3))
  }

  private val shapes = Seq(
    Shape("empty", Nil, Nil),
    Shape("isolated only", Seq(1L, 2L, 17L, 34L, 50L), Nil),
    // path, triangle, star (its leaves are jaccard-1 pairs), a
    // duplicated triple, a self-loop, a second predicate on one pair,
    // isolated nodes
    Shape("components", Seq(40L, 51L, 68L),
      Seq((1L, "viewed", 2L), (2L, "viewed", 3L), (3L, "viewed", 4L), (3L, "viewed", 4L),
        (4L, "bought", 3L), (17L, "viewed", 18L), (18L, "viewed", 19L), (19L, "viewed", 17L),
        (5L, "viewed", 5L)) ++ (35L to 39L).map(l => (34L, "viewed", l))),
    randomShape("random, no entity 1", 7L, 2L to 60L, 90, isolated = Seq(85L)),
    randomShape("random", 11L, 1L to 60L, 130, isolated = Seq(70L, 102L)))

  /** The [[TripleStore.StagedGraph]] of a shape, built with the staging
    * functions but with the generated ids as the dictionary, so a graph
    * can lack entity 1. */
  private lazy val graphs: Seq[(String, TripleStore.StagedGraph)] = shapes.map { sh =>
    import spark.implicits._
    def name(id: Long) = f"n$id%04d"
    val triples = sh.triples.map { case (a, p, b) => (name(a), p, name(b), 0L) }
      .toDF("subject", "predicate", "object", "ts_us")
    val dict = sh.nodes.map(id => (id, name(id))).toDF("object_id", "name")
    sh.name -> TripleStore.StagedGraph(
      triples = triples,
      objects = dict.select(col("object_id"), col("name"),
        lit("entity").as("object_type"), lit(0L).as("first_seen_us")),
      dict = dict,
      relationships = TripleStore.relationships(triples, dict),
      half = TripleStore.halfEdges(triples, dict).localCheckpoint(),
      so = triples.select(col("subject"), col("object")).distinct())
  }

  private def ids(g: TripleStore.StagedGraph) = g.dict.select(col("object_id").as("id"))
  private def pairs(g: TripleStore.StagedGraph) = g.half.select(col("a").as("src"), col("b").as("dst"))

  private val operators: Seq[(String, (TripleStore.StagedGraph, Long) => DataFrame)] = Seq(
    "pagerank" -> ((g, cap) => GraphQueries.pagerank(g, cap)),
    "ppr" -> ((g, cap) => GraphQueries.ppr(g, cap)),
    "bfs" -> ((g, cap) => GraphQueries.bfs(g, cap)),
    "betweenness" -> ((g, cap) => GraphQueries.betweenness(g, cap)),
    "closeness" -> ((g, cap) => GraphQueries.closeness(g, cap)),
    "sssp" -> ((g, cap) => GraphQueries.sssp(g, cap)),
    "kcore" -> ((g, cap) => GraphQueries.kcore(g, cap)),
    "jaccardNeighbors" -> ((g, cap) => GraphQueries.jaccardNeighbors(g, cap)),
    "lpa" -> ((g, cap) => GraphQueries.lpa(g.half, GraphQueries.LpaRounds, cap)),
    "randomWalks" -> ((g, cap) => GraphQueries.randomWalks(g.half, GraphQueries.WalkSteps, cap)),
    "mst" -> ((g, cap) => GraphQueries.mst(g.half, cap)),
    "autoLabel" -> ((g, cap) =>
      Components.autoLabel(spark, pairs(g), Some(ids(g)), cap).orderBy(col("id"))),
    "autoLabel without a node frame" -> ((g, cap) =>
      Components.autoLabel(spark, pairs(g), None, cap).orderBy(col("id"))))

  test("the generated graphs cover the required shapes") {
    val byName = shapes.map(sh => sh.name -> sh).toMap
    assert(byName("empty").nodes.isEmpty)
    assert(shapes.exists(sh => sh.nodes.nonEmpty && !sh.nodes.contains(1L)), "no graph without entity 1")
    assert(shapes.exists(sh => sh.triples.distinct.length < sh.triples.length), "no duplicate triples")
    for ((name, g) <- graphs if name != "empty") {
      val endpoints = g.half.select(explode(array(col("a"), col("b")))).collect().map(_.getLong(0)).toSet
      assert(ids(g).collect().exists(r => !endpoints(r.getLong(0))), s"$name: no isolated node")
    }
    val comps = Components.autoLabel(spark, pairs(graphs(2)._2), Some(ids(graphs(2)._2)))
      .select(col("comp")).distinct().count()
    assert(comps >= 4, s"components graph has $comps components")
  }

  /** Column types and rows, or the refusal (a loud round bound). */
  private def outcome(df: => DataFrame): Either[String, (Seq[(String, String)], Seq[Row])] =
    try {
      val d = df
      Right((d.schema.map(f => f.name -> f.dataType.sql), d.collect().toSeq))
    } catch { case e: IllegalArgumentException => Left(e.getMessage) }

  for ((op, run) <- operators) {
    test(s"$op: driver and distributed tiers return identical rows") {
      val outcomes = for ((name, g) <- graphs) yield {
        val viaDriver = outcome(run(g, DriverGraph.Cap))
        assert(viaDriver == outcome(run(g, -1L)), s"$name: tiers differ")
        viaDriver
      }
      assert(outcomes.exists(_.exists(_._2.nonEmpty)), s"$op: no graph gave rows")
    }
  }
}
