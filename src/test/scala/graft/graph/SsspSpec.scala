package graft.graph

import graft.SparkFixture
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins spo_sssp's two tiers equal and its weighted distances against
  * an independent driver Dijkstra (a different algorithm family than
  * the engine's Bellman-Ford rounds — agreement pins the fixpoint, not
  * the iteration), plus the loud refusal past the round bound on an
  * engineered long-path graph. */
class SsspSpec extends AnyFunSuite with SparkFixture {

  /** Synthetic events forming a long bipartite PATH
    * u_0-k_0,k_1 / u_1-k_1,k_2 / ... — hop diameter ~2*nPath, so
    * relaxation needs ~2*nPath rounds to drain from the endpoint
    * seed. */
  private def pathDir(nPath: Int): String = {
    import spark.implicits._
    val path = (0 until nPath).flatMap { i =>
      Seq((i.toLong * 2, 1000000000L * (i + 1), i.toLong, "viewed",
          s"""{"k": $i}""", 1.0),
        (i.toLong * 2 + 1, 1000000000L * (i + 1), i.toLong, "viewed",
          s"""{"k": ${i + 1}}""", 1.0))
    }
    val dir = java.nio.file.Files.createTempDirectory(s"graft_sssp$nPath").toString
    path.toDF("event_id", "ts", "user_id", "event_type", "props", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  /** Independent reference: rebuild the dictionary rule (row_number
    * over sorted names) and run DIJKSTRA with the same
    * w = 1 + (a + b) mod 7 — fixpoint distances with no round
    * structure shared with the engine. */
  private def bruteDijkstra(dir: String): Map[Long, Long] = {
    val rows = graft.operators.Tables(spark, dir).events
      .select(concat(lit("user_"), col("user_id")).as("s"),
        concat(lit("k_"), get_json_object(col("props"), "$.k")).as("o"))
      .distinct().collect().map(r => (r.getString(0), r.getString(1)))
      .filter { case (a, b) => a != b }
    val names = rows.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted
    val id = names.zipWithIndex.map { case (n, i) => n -> (i + 1L) }.toMap
    val adj: Map[Long, Seq[(Long, Long)]] = rows.toSeq.flatMap { case (a, b) =>
      val (ia, ib) = (id(a), id(b))
      val w = 1L + (ia + ib) % 7L
      Seq(ia -> (ib, w), ib -> (ia, w))
    }.groupBy(_._1).map { case (n, es) => n -> es.map(_._2).distinct }
    if (!adj.contains(1L)) return Map.empty
    val dist = scala.collection.mutable.HashMap(1L -> 0L)
    val pq = scala.collection.mutable.PriorityQueue((0L, 1L))(
      Ordering.by[(Long, Long), (Long, Long)] { case (d, n) => (-d, -n) })
    while (pq.nonEmpty) {
      val (d, u) = pq.dequeue()
      if (dist(u) == d)
        adj.getOrElse(u, Seq.empty[(Long, Long)]).foreach { case (v, w) =>
          if (d + w < dist.getOrElse(v, Long.MaxValue)) {
            dist(v) = d + w
            pq.enqueue((d + w, v))
          }
        }
    }
    dist.toMap
  }

  private def run(dir: String, driverCap: Long = 2000000L,
                  maxRounds: Int = 30): Map[Long, Long] =
    GraphQueries.sssp(TripleStore.staged(spark, dir), driverCap, maxRounds).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("both tiers match the independent Dijkstra on the shipped graph") {
    val dir = "/root/testdata/sf0.001"
    val brute = bruteDijkstra(dir)
    assert(brute.nonEmpty)
    val driver = run(dir)
    val distributed = run(dir, driverCap = 0L)
    assert(driver == brute)
    assert(distributed == brute)
    // weights genuinely matter: at least one reachable node's weighted
    // dist exceeds its hop count (so this is not BFS in disguise)
    val hops = graft.SparkEntry.queries("spo_bfs")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(driver.exists { case (n, d) => hops.get(n).exists(_ < d) })
  }

  test("a path longer than the round bound refuses loudly on both tiers") {
    val dir = pathDir(40) // hop diameter ~80 >> 30 rounds
    try {
      for (cap <- Seq(2000000L, 0L)) {
        val ex = intercept[Exception](run(dir, driverCap = cap))
        assert(ex.getMessage.contains("did not converge"),
          s"cap=$cap: ${ex.getMessage}")
      }
      // raising the bound past the diameter converges and agrees with
      // Dijkstra on both tiers
      val brute = bruteDijkstra(dir)
      assert(run(dir, maxRounds = 200) == brute)
      assert(run(dir, driverCap = 0L, maxRounds = 200) == brute)
    } finally {
      graft.operators.SessionStaged.evictAll(spark, dir)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
