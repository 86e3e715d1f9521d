package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The driver tier shared by every two-tier graph operator: one cap, one
  * tier decision and one collected graph.
  *
  * Each iterative operator in this package has a driver tier (collect
  * the edges, solve in-process) and a distributed tier (a Spark round
  * loop). On a graph whose edge list fits the driver, the loop's fixed
  * per-round job overhead dwarfs its work (pagerank's ten distributed
  * iterations measured 4.7 s at sf0.1, the in-process recurrence one
  * collect), so the operators solve there. [[tiered]] makes that choice
  * the same way for all of them: it counts the rows the driver tier
  * would collect and compares them to ONE cap, [[Cap]].
  *
  * The driver tier collects the UN-mirrored edge set (the staged `half`
  * edges, the distinct directed edges for the rank recurrence, a pair
  * list for connectivity) and mirrors it in-process: half the transfer
  * of the symmetric frame, which only the distributed branch builds
  * ([[mirrored]]). Every driver kernel reads the one [[Collected]] form:
  * sorted ids, a dense id → index map and flat `Array[Array[Int]]`
  * adjacency. Boxed `HashMap[Long, _]` lookups measured ~4.5 s of driver
  * CPU per sf0.1 Brandes run (~27M edge visits); the same recurrences on
  * flat arrays are tens of ms.
  */
private[graft] object DriverGraph {

  /** The driver tier's cap, in the one unit every operator counts: edge
    * rows the driver collects. 2M rows of two longs is 32 MB of edges on
    * the driver before the int adjacency is built; anything larger runs
    * the distributed tier. */
  val Cap: Long = 2_000_000L

  /** A collected graph: `ids` sorted ascending and distinct, `adj(i)` the
    * neighbor indexes of `ids(i)` (out-neighbors when built directed). */
  final class Collected(val ids: Array[Long], val adj: Array[Array[Int]]) {
    def size: Int = ids.length

    /** Dense index of `id`; negative when `id` was not collected. */
    def indexOf(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
  }

  /** Counts `edges` (two long id columns) and runs `driver` on their
    * collected form when the count is within `cap`, else `distributed`
    * with the count. `extraIds` (seeds) join the id set even when no
    * edge touches them; they are only evaluated on the driver branch.
    * Specs force the distributed tier with a negative cap. */
  def tiered[A](edges: DataFrame, cap: Long, directed: Boolean = false,
                extraIds: => Array[Long] = Array.emptyLongArray)(
      driver: Collected => A)(distributed: Long => A): A = {
    val rows = edges.count()
    if (rows > cap) distributed(rows)
    else {
      val rs = edges.collect()
      driver(build(rs.map(_.getLong(0)), rs.map(_.getLong(1)), directed, extraIds))
    }
  }

  /** Edge list → [[Collected]]: undirected edges land in both endpoints'
    * lists, directed ones in the source's only. Neighbor order is edge
    * order; every kernel is order-free (exact integer sums, min/argmin
    * with total tie-breaks). */
  def build(src: Array[Long], dst: Array[Long], directed: Boolean,
            extraIds: Array[Long] = Array.emptyLongArray): Collected = {
    val all = new Array[Long](src.length + dst.length + extraIds.length)
    System.arraycopy(src, 0, all, 0, src.length)
    System.arraycopy(dst, 0, all, src.length, dst.length)
    System.arraycopy(extraIds, 0, all, src.length + dst.length, extraIds.length)
    java.util.Arrays.sort(all)
    var n = 0
    for (v <- all) if (n == 0 || all(n - 1) != v) { all(n) = v; n += 1 }
    val ids = java.util.Arrays.copyOf(all, n)
    val si = src.map(java.util.Arrays.binarySearch(ids, _))
    val di = dst.map(java.util.Arrays.binarySearch(ids, _))
    val deg = new Array[Int](n)
    for (e <- si.indices) {
      deg(si(e)) += 1
      if (!directed) deg(di(e)) += 1
    }
    val adj = deg.map(new Array[Int](_))
    val fill = new Array[Int](n)
    def add(u: Int, v: Int): Unit = { adj(u)(fill(u)) = v; fill(u) += 1 }
    for (e <- si.indices) {
      add(si(e), di(e))
      if (!directed) add(di(e), si(e))
    }
    new Collected(ids, adj)
  }

  /** The symmetric (src, dst) frame of a canonical (a, b) half-edge set —
    * what the distributed tiers join against. */
  def mirrored(half: DataFrame): DataFrame =
    half.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(half.select(col("b").as("src"), col("a").as("dst")))

  /** Driver-tier results `solved` (id, value) for the collected ids,
    * completed with `fill` for every node of `nodes` (id) the driver
    * never collected — so the node dictionary, whose size the edge cap
    * does not bound, stays distributed. */
  def withUncollected(solved: DataFrame, nodes: DataFrame, fill: Column): DataFrame =
    nodes.select(col("id"))
      .join(broadcast(solved.select(col("id"))), Seq("id"), "left_anti")
      .select(col("id"), fill.as(solved.columns(1)))
      .unionByName(solved)
}
