package graft.graph

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

/** Pins the BFS maxRounds boundary semantics (both tiers): a graph that
  * fully DRAINS at distance exactly 50 is a valid, complete answer —
  * the oracle's recursive CTE (dist < 50 recursion guard) returns those
  * dist-50 nodes — while a graph with a genuine hop-51 frontier fails
  * loudly, where the oracle would silently truncate. Built on synthetic
  * path graphs: user_i links k_i and k_(i+1), so the entity chain is
  * k_0 - u_0 - k_1 - u_1 - ... with dist(k_j) = 2j from the seed (k_0
  * is the lexicographically smallest name, hence object_id 1).
  */
class BfsBoundarySpec extends AnyFunSuite with SparkFixture {

  /** events parquet dir for a path with `nUsers` users (entity chain of
    * length 2*nUsers). ts written as long nanos, the shape
    * Tables.events expects. */
  private def pathDir(nUsers: Int): String = {
    import spark.implicits._
    val rows = (0 until nUsers).flatMap { i =>
      Seq((i.toLong * 2, 1000000000L * (i + 1), i.toLong, "viewed",
          s"""{"k": $i}""", 1.0),
        (i.toLong * 2 + 1, 1000000000L * (i + 1), i.toLong, "viewed",
          s"""{"k": ${i + 1}}""", 1.0))
    }
    val dir = java.nio.file.Files.createTempDirectory(s"graft_bfs$nUsers").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "props", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("a graph draining at exactly maxRounds is a complete answer in both tiers") {
    val dir = pathDir(25) // k_25 sits at dist 50 — the boundary
    try {
      for (cap <- Seq(2000000L /* driver tier */, 0L /* distributed tier */)) {
        val out = GraphQueries.bfs(TripleStore.staged(spark, dir), driverCap = cap)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        assert(out.size == 51, s"cap=$cap: expected all 51 entities")
        assert(out.values.max == 50L, s"cap=$cap: boundary node missing")
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("a genuine hop-51 frontier fails loudly in both tiers") {
    val dir = pathDir(26) // u_25 at dist 51 — beyond the cap
    try {
      for (cap <- Seq(2000000L, 0L)) {
        val e = intercept[IllegalArgumentException] {
          GraphQueries.bfs(TripleStore.staged(spark, dir), driverCap = cap).collect()
        }
        assert(e.getMessage.contains("did not drain"), s"cap=$cap: ${e.getMessage}")
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
