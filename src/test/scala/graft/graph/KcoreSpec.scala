package graft.graph

import graft.SparkFixture
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins spo_kcore's two tiers equal and its peel semantics against an
  * independent brute force, on a synthetic graph engineered to cascade
  * through multiple peel rounds (the shipped graphs converge in 1-5;
  * the cascade proves round N's removals actually feed round N+1). */
class KcoreSpec extends AnyFunSuite with SparkFixture {

  /** Synthetic events: a bipartite PATH u_0-k_0,k_1 / u_1-k_1,k_2 / ...
    * (peels end-inward, one layer per round, to nothing at k=2) PLUS a
    * dense block u_100..104 x k_100..102 (every node degree >= 3,
    * immune at k=2) — so the expected 2-core is exactly the block. */
  private def cascadeDir(nPath: Int): String = {
    import spark.implicits._
    val path = (0 until nPath).flatMap { i =>
      Seq((i.toLong * 2, 1000000000L * (i + 1), i.toLong, "viewed",
          s"""{"k": $i}""", 1.0),
        (i.toLong * 2 + 1, 1000000000L * (i + 1), i.toLong, "viewed",
          s"""{"k": ${i + 1}}""", 1.0))
    }
    val block = for {
      u <- 100 to 104; kk <- 100 to 102
    } yield ((u.toLong * 10 + kk).toLong, 2000000000L, u.toLong, "viewed",
      s"""{"k": $kk}""", 1.0)
    val dir = java.nio.file.Files.createTempDirectory(s"graft_kcore$nPath").toString
    (path ++ block).toDF("event_id", "ts", "user_id", "event_type", "props", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  /** Independent reference peel over the same undirected entity graph
    * (names, not ids — a separate path from the engine's dictionary). */
  private def brute(dir: String, k: Long): Map[String, Int] = {
    val rows = graft.operators.Tables(spark, dir).events
      .select(concat(lit("user_"), col("user_id")).as("s"),
        concat(lit("k_"), get_json_object(col("props"), "$.k")).as("o"))
      .distinct().collect().map(r => (r.getString(0), r.getString(1)))
      .filter { case (a, b) => a != b }
    var adj = rows.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    var alive = adj.keySet
    var changed = true
    while (changed) {
      val drop = alive.filter(n => adj(n).count(alive) < k)
      changed = drop.nonEmpty
      alive = alive -- drop
    }
    alive.map(n => n -> adj(n).count(alive)).toMap
  }

  test("multi-round cascade peels the path, keeps the dense block; tiers agree") {
    val dir = cascadeDir(8)
    try {
      val expected = brute(dir, 2L)
      // the path must be gone, the block intact — and non-trivially so
      assert(expected.nonEmpty && expected.size == 8, s"block: $expected")
      assert(expected.values.forall(_ >= 2))
      for (cap <- Seq(2000000L /* driver tier */, 0L /* distributed tier */)) {
        val got = GraphQueries.kcore(TripleStore.staged(spark, dir), driverCap = cap,
            kOverride = Some(2L))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        // ids -> names through the engine's own dictionary to compare
        val dict = TripleStore.staged(spark, dir).dict
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        val byName = got.map { case (id, d) => dict(id) -> d.toInt }
        assert(byName == expected, s"cap=$cap")
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("a cascade deeper than the peel bound fails loudly, not silently") {
    // path long enough that k=2 peeling needs > KcoreMaxPeels rounds
    // (ends peel inward one layer per round); the engine must refuse —
    // this is the boundary where the unrolled oracle would diverge
    // both tiers: the driver peel and the distributed loop count rounds
    // independently, so the past-bound refusal is pinned on each
    val dir = cascadeDir(40)
    try {
      for (cap <- Seq(2000000L /* driver tier */, 0L /* distributed tier */)) {
        val e = intercept[IllegalArgumentException] {
          GraphQueries.kcore(TripleStore.staged(spark, dir), driverCap = cap,
            kOverride = Some(2L)).collect()
        }
        assert(e.getMessage.contains("converge"), s"cap=$cap")
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
