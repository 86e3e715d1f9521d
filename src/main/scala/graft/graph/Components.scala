package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components by min-label propagation, shared by the SPO
  * graph surface (`spo_components`) and the dedup cluster surface
  * (`dedup_clusters`).
  *
  * Each node starts labeled with its own id and repeatedly takes the
  * minimum label among itself and its neighbors, converging in
  * O(diameter) rounds; each round is one join + one aggregate (both
  * shuffles on node id), and the driver only sees the changed COUNT per
  * round. A graph whose diameter exhausts the round budget falls back
  * automatically to alternating large-star/small-star contraction
  * ([[starContraction]]: O(log n) rounds, same per-round join/agg
  * shape), so pathological diameters converge instead of failing.
  *
  * Loop regime (measured, see SURVEY §6): inputs are materialized under
  * the session's normal config (AQE picks the scan/join/dedup shapes),
  * then the loop runs with
  *  - AQE off and a label-count-scaled shuffle width — each refinement
  *    round moves O(labels) tiny rows, and AQE's stage-by-stage
  *    submission + replanning costs more per round than the round's
  *    work (~1.2-1.7 s/round on ~2.7k labels);
  *  - interpreted execution below ~10M labels — every iteration is a
  *    NEW logical plan, so whole-stage codegen recompiles ~4 generated
  *    classes per round just to touch a few thousand cached rows
  *    (~1.2 s/round codegen'd vs ~0.3 s interpreted at sf0.1); at
  *    data-dominated scale codegen pays for itself and stays on;
  *  - a join-free convergence check — the old label rides through the
  *    min-aggregate as a marker column, so `changed` is a filter-count
  *    over the already-materialized round output (the convergence join
  *    it replaces was ~40% of each round);
  *  - periodic `localCheckpoint` — persist does NOT truncate the
  *    logical plan, so without it planning cost grows linearly with
  *    rounds.
  *
  * Measured dead ends (A/B on sf0.1, do not re-attempt without new
  * evidence): batching 2 hops per convergence check (+ disabling the
  * loop's broadcast joins) was ~25-30% SLOWER than one hop per check —
  * the deeper per-action plan costs more than the saved job overhead;
  * pointer jumping (comp-of-comp self-join) measured 3x slower.
  */
object Components {

  /** @param undirected symmetric (src, dst) edge list — both directions
    *                    present; will be persisted and materialized here
    *                    if the caller has not already done so
    * @param nodes       (id) node dictionary; labels start as id
    * @return            (id, comp) with comp = min node id reachable
    */
  def labelPropagation(s: SparkSession, undirected: DataFrame, nodes: DataFrame,
                       maxRounds: Int = 50): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // localCheckpoint, not persist: persist caches the DATA but every
    // round still re-analyzes a logical plan embedding the caller's full
    // upstream pipeline (for dedup_clusters that plan is the whole
    // two-tier ngram join — measured ~1-3 s/round of pure driver-side
    // analysis). Checkpointing truncates the plan to the materialized
    // blocks once, before the loop. (Executor-local, not fault-tolerant:
    // acceptable for an iterative scratch dataset — a lost executor
    // restarts the query, not silent corruption.)
    val edges = undirected.localCheckpoint()
    var labels = nodes.select(col("id"), col("id").as("comp")).localCheckpoint()
    val labelCount = labels.count()
    val edgeCount = edges.count()
    // the loop regime is sized by the LARGER side: a dense pair graph
    // (dedup_clusters: ~100x more edges than nodes) is edge-bound even
    // when the label set is tiny
    val workRows = math.max(labelCount, edgeCount)
    val loopParts = math.max(1L, math.min(
      s.sparkContext.defaultParallelism.toLong, workRows / 10000L)).toString
    val prevAqe = s.conf.get("spark.sql.adaptive.enabled", "true")
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    val prevWsc = s.conf.get("spark.sql.codegen.wholeStage", "true")
    val prevFactory = s.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    val interpretLoop = workRows < 10_000_000L
    var prev: DataFrame = null
    var changed = 1L
    var rounds = 0
    try {
      s.conf.set("spark.sql.adaptive.enabled", "false")
      s.conf.set("spark.sql.shuffle.partitions", loopParts)
      if (interpretLoop) {
        s.conf.set("spark.sql.codegen.wholeStage", "false")
        s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      }
      while (changed > 0 && rounds < maxRounds) {
        val neighborMin = edges
          .join(labels, col("src") === col("id"))
          .select(col("dst").as("id"), col("comp"))
        var merged = labels.withColumn("own", lit(true))
          .unionByName(neighborMin.withColumn("own", lit(false)))
          .groupBy(col("id"))
          .agg(min(col("comp")).as("comp"),
            max(when(col("own"), col("comp"))).as("oldc"))
        merged =
          if (rounds % 6 == 5) merged.localCheckpoint()
          else merged.persist(lvl)
        changed = merged.filter(col("comp") =!= col("oldc")).count()
        if (prev != null) prev.unpersist()
        prev = merged
        labels = merged.select(col("id"), col("comp"))
        rounds += 1
      }
      if (changed > 0) {
        // round budget exhausted: the graph's diameter exceeds what
        // O(diameter) propagation should be asked to walk (a path-shaped
        // pathology at scale). Switch to alternating large-star/
        // small-star contraction — O(log n) rounds regardless of
        // diameter, same per-round join/agg shuffle shape — rather than
        // fail or, worse, return partial labels.
        labels = starContraction(s, edges, nodes)
      }
    } finally {
      s.conf.set("spark.sql.adaptive.enabled", prevAqe)
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.conf.set("spark.sql.codegen.wholeStage", prevWsc)
      s.conf.set("spark.sql.codegen.factoryMode", prevFactory)
    }
    labels
  }

  /** Connected components with the [[DriverGraph]] tier choice: when the
    * edge list fits the driver, one collect and a local union-find
    * instead of an iterative loop of Spark jobs. The dedup_clusters
    * postmortem is the rationale: on small-to-medium summaries the
    * propagation loop's fixed per-round job overhead dominates actual
    * work by 10x. Larger graphs run [[labelPropagation]] (which itself
    * falls back to star contraction on high diameter).
    *
    * @param edges (src, dst) long-id edge list in either orientation —
    *              mirrored here for the distributed tier only
    * @param nodes (id) node dictionary; None when the node set IS the
    *              edge endpoint set (a pair graph), which skips the
    *              membership check and the isolated-node union whose
    *              anti-joins would re-run an unpersisted caller's whole
    *              edge-generation plan
    * @return      (id, comp), comp = min reachable node id
    */
  def autoLabel(s: SparkSession, edges: DataFrame, nodes: Option[DataFrame] = None,
                driverCap: Long = DriverGraph.Cap): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val pairs = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .persist(lvl)
    val out = DriverGraph.tiered(pairs, driverCap) { g =>
      val endpointLabels = driverSolve(s, g)
      nodes.fold(endpointLabels) { ns =>
        val ids = ns.select(col("id").cast("long").as("id"))
        // contract check without collecting nodes: an edge endpoint
        // absent from `nodes` is malformed input — the propagation loop
        // would half-bridge through it (it relays but its gain never
        // counts as `changed`, so closure silently stops early); fail
        // loudly instead of picking either wrong answer
        val unknown = endpointLabels.select(col("id"))
          .join(ids, Seq("id"), "left_anti").limit(1).collect()
        if (unknown.nonEmpty)
          throw new IllegalArgumentException(
            s"edge endpoint not in nodes: ${unknown.head.getLong(0)}")
        // isolated nodes (no incident edge) label themselves
        DriverGraph.withUncollected(endpointLabels, ids, col("id"))
      }
    } { _ =>
      val sym = pairs.unionByName(pairs.select(col("dst").as("src"), col("src").as("dst")))
      labelPropagation(s, sym, nodes.getOrElse(
        sym.select(col("src").as("id")).distinct()))
    }
    pairs.unpersist()
    out
  }

  /** Driver union-find over a collected edge list: labels for every
    * EDGE ENDPOINT. [[UnionFind]] roots each component at its minimum
    * index, and the ids are sorted, so the root's id is the component's
    * min node id. */
  private def driverSolve(s: SparkSession, g: DriverGraph.Collected): DataFrame = {
    val uf = new UnionFind(g.size)
    for (i <- g.adj.indices; j <- g.adj(i)) uf.union(i, j)
    import s.implicits._
    g.ids.indices.map(i => (g.ids(i), g.ids(uf.find(i)))).toDF("id", "comp")
  }

  /** Connected components by alternating large-star/small-star
    * contraction (the MapReduce-era O(log n)-round algorithm): edges are
    * kept canonical (big id -> small id, distinct);
    *
    *  - large-star: every node connects its LARGER neighbors to its
    *    minimum neighborhood member m(u) = min(N(u) + u);
    *  - small-star: every node connects itself and its smaller
    *    neighbors to their minimum.
    *
    * The fixpoint is one star per component centered at the component
    * minimum, so labels read directly off the final edge set. Each
    * round is two (groupBy + join) shuffles on node id — the same
    * shape as a propagation round — but the round COUNT is logarithmic
    * in component size instead of linear in diameter.
    *
    * Used as [[labelPropagation]]'s high-diameter fallback and directly
    * spec-testable; `maxIters` = 60 can only trip on a bug (2^60 nodes
    * would converge within it), and trips loudly.
    */
  private[graph] def starContraction(s: SparkSession, symEdges: DataFrame,
                                     nodes: DataFrame, maxIters: Int = 60): DataFrame = {
    var e = symEdges.filter(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .distinct().localCheckpoint()
    var iters = 0
    var done = e.isEmpty
    while (!done && iters < maxIters) {
      val sym = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      val lmins = sym.groupBy(col("src")).agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("mn"), col("src")).as("m"))
      val large = sym.join(lmins, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
      val smins = large.groupBy(col("src")).agg(min(col("dst")).as("m"))
      val small = large.join(smins, "src")
      val e2 = small.select(col("src"), col("m").as("dst"))
        .unionByName(small.filter(col("dst") =!= col("m"))
          .select(col("dst").as("src"), col("m").as("dst")))
        .distinct().localCheckpoint()
      // fixpoint = per-component stars; both sets are distinct, so
      // equal count + empty one-sided difference means set equality
      done = e2.count() == e.count() && e2.except(e).isEmpty
      e = e2
      iters += 1
    }
    require(done, s"star contraction did not converge in $maxIters rounds")
    nodes.select(col("id"))
      .join(e.select(col("src").as("id"), col("dst").as("comp")), Seq("id"), "left")
      // at the fixpoint every non-center node has exactly one star edge;
      // the min() is schema-level insurance, not load-bearing
      .groupBy(col("id"))
      .agg(min(col("comp")).as("mc"))
      .select(col("id"), coalesce(col("mc"), col("id")).as("comp"))
  }
}
