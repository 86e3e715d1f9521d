package graft.graph

import graft.{QueryDef, QueryModule}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SPO graph operator suite (SURVEY.md §2.2) on triples derived from the
  * events table — the Spark surface for the reference's Postgres graph
  * (`src/Database.cpp`: objects / relationships / id-lookup).
  */
object GraphQueries extends QueryModule {

  private val T = TripleStore

  /** Degree bound for the co-occurrence self-join: a subject linked to
    * more than this many distinct objects would alone emit > d^2/2 ~
    * 500k pairs, and on a power-law graph the hot tail is quadratic.
    * Test data tops out at degree 67 across all SFs, so the cap is
    * inert there; at scale it is the difference between bounded and
    * unbounded shuffle volume. */
  private[graft] val MaxCoocDegree = 1000L

  /** Shared oracle CTE prelude: triples + objects + edges. */
  private val prelude =
    s"""WITH triples AS (${T.triplesSql}),
      objs AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY name) AS BIGINT) AS object_id, name,
               'entity' AS object_type, first_seen_us
        FROM (SELECT name, MIN(ts_us) AS first_seen_us FROM (
                SELECT subject AS name, ts_us FROM triples
                UNION ALL
                SELECT object AS name, ts_us FROM triples) u
              GROUP BY name)),
      edges AS (
        SELECT s.object_id AS source_id, d.object_id AS target_id, predicate, COUNT(*) AS n
        FROM triples t
        JOIN objs s ON t.subject = s.name
        JOIN objs d ON t.object = d.name
        GROUP BY s.object_id, d.object_id, predicate)"""

  /** Initial and teleport mass of the scaled-integer rank recurrence. */
  private val RankInit = 1000000000000L
  private val RankTeleport = 150000000000L

  /** spo_pagerank / spo_ppr body — ten iterations of ONE scaled-BIGINT
    * recurrence over the distinct DIRECTED edge set, parameterised by
    * its teleport set S:
    * r₀(v) = 1e12·[v∈S];
    * r_k(v) = 1.5e11·[v∈S] + (85·Σ_{u→v} r_{k−1}(u) div od(u)) div 100.
    * Global pagerank teleports to every node ("important anywhere");
    * personalized pagerank (VERDICT r12 item 6) only to the fixed
    * centrality seed set [[seedFrameOf]] ("important NEAR these
    * entities", the entity-resolution relevance primitive). Exact
    * integer arithmetic: no float drift, oracle-unrollable, and the two
    * tiers agree bit-for-bit.
    *
    * Tiers ([[DriverGraph.tiered]]): ten distributed iterations cost ~68
    * sub-second jobs of tiny-data joins (measured 4.7 s at sf0.1), so a
    * driver-sized edge set runs the recurrence in one collect. The
    * driver tier collects only the edges and the ≤128-row seed frame,
    * never the node dictionary (r13: a first ppr draft
    * collected the full dict, whose size the edge cap does not bound —
    * an isolated-heavy graph would have OOMed the driver while the
    * distributed tier survived). Seeds ride into the collected id set
    * and hold the teleport-only fixpoint when isolated; every other
    * uncollected node holds 1.5e11·[v∈S] and joins back distributively.
    * Above the cap: ten (edge ⋈ rank) shuffles, the seed frame
    * BROADCAST into the node frame once, linear in |E| at any scale.
    * Mass never exceeds |S|·1e12, so 85·Σ overflows only past ~1e5
    * nodes ALL funneling into one target (ppr's fixed |S| = 128 is far
    * from it at any graph size).
    *
    * @param teleport (seed) frame of S; None = every node
    * @return top-20 (object_id, `outCol`) by (`outCol` DESC, object_id)
    */
  private def rank(g: TripleStore.StagedGraph, teleport: Option[DataFrame],
                   outCol: String, driverCap: Long): DataFrame = {
    val s = g.half.sparkSession
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // distinct directed edges from the staged weighted edge list — the
    // id resolution joins ran once at staging, not once per query
    val edges = g.relationships
      .select(col("source_id").as("src"), col("target_id").as("dst"))
      .distinct()
      .localCheckpoint()
    val nodes = g.dict.select(col("object_id").as("id"))
    lazy val seedIds = teleport.fold(Array.emptyLongArray)(_.collect().map(_.getLong(0)))
    val ranks = DriverGraph.tiered(edges, driverCap, directed = true, seedIds) { cg =>
      val n = cg.size
      val inS = Array.fill(n)(teleport.isEmpty)
      seedIds.foreach(v => inS(cg.indexOf(v)) = true)
      var r = Array.tabulate(n)(i => if (inS(i)) RankInit else 0L)
      for (_ <- 1 to 10) {
        val sums = new Array[Long](n)
        for (u <- 0 until n; v <- cg.adj(u)) sums(v) += r(u) / cg.adj(u).length
        r = Array.tabulate(n)(i => (if (inS(i)) RankTeleport else 0L) + (85L * sums(i)) / 100L)
      }
      import s.implicits._
      DriverGraph.withUncollected(cg.ids.indices.map(i => (cg.ids(i), r(i))).toDF("id", "r"),
        nodes, lit(if (teleport.isEmpty) RankTeleport else 0L))
    } { _ =>
      val outDeg = edges.groupBy(col("src")).agg(count(lit(1)).as("od")).persist(lvl)
      // in_s rides the node frame for the whole loop: one broadcast join
      // against the ≤128-row seed frame, reused by every iteration
      val nodesCk = teleport.fold(nodes.select(col("id"), lit(1L).as("in_s"))) { t =>
        nodes.join(broadcast(t.select(col("seed").as("id"), lit(1L).as("in_s"))),
            Seq("id"), "left")
          .select(col("id"), coalesce(col("in_s"), lit(0L)).as("in_s"))
      }.localCheckpoint()
      var rk = nodesCk.select(col("id"), (col("in_s") * lit(RankInit)).as("r"))
      for (it <- 1 to 10) {
        val contrib = edges
          .join(outDeg, "src")
          .join(rk.filter(col("r") > 0L).select(col("id").as("src"), col("r")), "src")
          .select(col("dst").as("id"), expr("r div od").as("c"))
        val sums = contrib.groupBy(col("id")).agg(sum(col("c")).as("cs"))
        rk = nodesCk
          .join(sums, Seq("id"), "left")
          .select(col("id"), (col("in_s") * lit(RankTeleport) +
            expr("(85 * coalesce(cs, 0L)) div 100")).as("r"))
        if (it % 3 == 0) rk = rk.localCheckpoint()
      }
      rk
    }
    ranks
      .select(col("id").as("object_id"), col("r").as(outCol))
      .orderBy(col(outCol).desc, col("object_id"))
      .limit(20)
  }

  private[graft] def pagerank(g: TripleStore.StagedGraph,
                              driverCap: Long = DriverGraph.Cap): DataFrame =
    rank(g, None, "rank_scaled", driverCap)

  private[graft] def ppr(g: TripleStore.StagedGraph,
                         driverCap: Long = DriverGraph.Cap): DataFrame =
    rank(g, Some(seedFrameOf(g.dict.select(col("object_id").as("id")))), "ppr_scaled",
      driverCap)

  /** spo_bfs body — single-source shortest hop distances over the
    * undirected entity graph, from the entity with object_id 1.
    * Frontier expansion: each round joins the current frontier to the
    * edge list and keeps previously-unseen nodes — O(diameter) rounds,
    * each one join + one anti-join, lineage checkpointed. The
    * [[DriverGraph]] tier runs the identical level-synchronous BFS in
    * one collect (hop counts are exact integers — no summation-order
    * sensitivity). Unreachable nodes are excluded (mirrored by the
    * oracle's recursive reach set).
    */
  private[graft] def bfs(g: TripleStore.StagedGraph,
                         driverCap: Long = DriverGraph.Cap): DataFrame = {
    val s = g.half.sparkSession
    val seed = 1L
    val maxRounds = 50
    // the seed row exists only if entity 1 exists (empty input → empty
    // output in BOTH tiers and the oracle)
    val seedRows = g.dict.filter(col("object_id") === seed)
      .select(col("object_id").as("id"), lit(0L).as("dist"))
      .localCheckpoint()
    if (seedRows.count() == 0) seedRows.select(col("id").as("object_id"), col("dist"))
    else DriverGraph.tiered(g.half, driverCap, extraIds = Array(seed)) { cg =>
      // level-synchronous BFS — same maxRounds bound as the distributed
      // tier and the oracle's dist cap
      val dist = Array.fill(cg.size)(-1L)
      val order = new Array[Int](cg.size)
      order(0) = cg.indexOf(seed); dist(order(0)) = 0L
      var lo = 0; var hi = 1; var hop = 0
      while (lo < hi && hop < maxRounds) {
        hop += 1
        val end = hi
        while (lo < end) {
          for (v <- cg.adj(order(lo)) if dist(v) < 0L) { dist(v) = hop; order(hi) = v; hi += 1 }
          lo += 1
        }
      }
      // cap boundary aligned with the oracle's dist cap: a graph that
      // fully drains AT maxRounds is a valid answer (the oracle returns
      // those dist-50 nodes); crash only if an unexplored hop-51
      // frontier exists — where the oracle would silently truncate
      require((lo until hi).forall(k => cg.adj(order(k)).forall(dist(_) >= 0L)),
        s"BFS did not drain in $maxRounds rounds")
      import s.implicits._
      (0 until hi).map(k => (cg.ids(order(k)), dist(order(k))))
        .toDF("object_id", "dist").orderBy(col("object_id"))
    } { _ =>
      val edges = DriverGraph.mirrored(g.half).localCheckpoint()
      var dist = seedRows
      var frontier = dist
      var hop = 0L
      while (frontier.limit(1).count() > 0 && hop < maxRounds) {
        hop += 1
        val next = frontier.select(col("id").as("src"))
          .join(edges, "src")
          .select(col("dst").as("id")).distinct()
          .join(dist, Seq("id"), "left_anti")
          .select(col("id"), lit(hop).as("dist"))
          .localCheckpoint()
        dist = dist.unionByName(next).localCheckpoint()
        frontier = next
      }
      // the same loud bound as the driver tier
      if (frontier.limit(1).count() > 0) {
        val beyond = frontier.select(col("id").as("src"))
          .join(edges, "src")
          .select(col("dst").as("id")).distinct()
          .join(dist, Seq("id"), "left_anti")
        require(beyond.limit(1).count() == 0,
          s"BFS did not drain in $maxRounds rounds")
      }
      dist.select(col("id").as("object_id"), col("dist"))
        .orderBy(col("object_id"))
    }
  }

  /** The ONE centrality seed rule, both formulations (VERDICT r11
    * item 2): the [[Betweenness.SeedCount]] SMALLEST ids with
    * id % [[Betweenness.SeedMod]] == 0 — a FIXED-size deterministic
    * set. A fraction-of-nodes rule made the joint BFS frame
    * |S|·|V| ≈ 0.06·|V|² rows on connected graphs (quadratic — at 10⁹
    * nodes unstorable at any level); the fixed count bounds it at
    * SeedCount·|V|, linear in the graph, while estimator quality needs
    * O(10²) sources independent of |V| (rationale at
    * [[Betweenness.SeedCount]]). SQL mirror: `WHERE object_id % 17 = 0
    * ORDER BY object_id LIMIT 128` in the closeness oracle;
    * CentralitySeedSpec pins both formulations equal. */
  private[graft] def seedIdsOf(nodeIds: Seq[Long]): Seq[Long] =
    nodeIds.filter(v => ((v % Betweenness.SeedMod) +
      Betweenness.SeedMod) % Betweenness.SeedMod == 0)
      .sorted.take(Betweenness.SeedCount)

  /** Frame formulation of [[seedIdsOf]] — TakeOrdered ships K rows
    * through the driver and back, never a fraction of |V|. */
  private[graft] def seedFrameOf(ids: DataFrame): DataFrame =
    ids.filter(pmod(col("id"), lit(Betweenness.SeedMod)) === 0L)
      .orderBy(col("id")).limit(Betweenness.SeedCount)
      .select(col("id").as("seed"))

  /** Shared tier dispatch for the sampled-seed centrality queries
    * (betweenness / closeness — one scaffold, two kernels, the
    * Funnel.step discipline): the [[DriverGraph]] tier runs
    * `driverKernel` on the collected half-edge set plus the ≤128 seeds
    * (the node dictionary stays distributed; uncollected nodes score 0);
    * above the cap, the symmetric edge + seed frames feed `distBuilder`.
    * Returns (id, `outCol`) for every node. */
  private def sampledSeedCentrality(
      g: TripleStore.StagedGraph, driverCap: Long, outCol: String)(
      driverKernel: (DriverGraph.Collected, Seq[Long]) => Map[Long, BigDecimal])(
      distBuilder: (DataFrame, DataFrame, DataFrame, Long, Long) => DataFrame): DataFrame = {
    val s = g.half.sparkSession
    val ids = g.dict.select(col("object_id").as("id"))
    val zero = lit(0).cast("decimal(38,6)")
    lazy val seedIds = seedFrameOf(ids).collect().map(_.getLong(0))
    DriverGraph.tiered(g.half, driverCap, extraIds = seedIds) { cg =>
      import s.implicits._
      val d = driverKernel(cg, seedIds.toSeq).toSeq.toDF("id", outCol)
        .select(col("id"), col(outCol).cast("decimal(38,6)"))
      DriverGraph.withUncollected(d, ids, zero)
    } { halfRows =>
      val edges = DriverGraph.mirrored(g.half).localCheckpoint()
      val seeds = seedFrameOf(ids).localCheckpoint()
      val seedRows = seeds.count()
      if (seedRows == 0) ids.select(col("id"), zero.as(outCol))
      else distBuilder(edges, ids, seeds, seedRows, 2 * halfRows)
    }
  }

  /** spo_betweenness body — sampled-source Brandes over the undirected
    * entity graph (see [[Betweenness]] for the algorithm and the
    * cross-tier 6dp-decimal exactness contract). Two tiers via
    * [[sampledSeedCentrality]]: the [[DriverGraph]] tier runs the
    * identical decimal recurrence in one collect; above the cap, the
    * joint-seed frame loops. Output carries the distinct-neighbor
    * `degree` as the driver-visible gate column: degree ≤ 1 nodes must
    * score exactly 0 (a leaf is never interior to a shortest path) —
    * checkable from the output alone. */
  private[graft] def betweenness(g: TripleStore.StagedGraph,
                                 driverCap: Long = DriverGraph.Cap): DataFrame = {
    val s = g.half.sparkSession
    val half = g.half
    val deg = half.select(col("a").as("id"))
      .unionByName(half.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
    // total-mass gate (VERDICT r11 item 5, contract at
    // [[Betweenness.MassGate]]): both tiers fill it during execution;
    // the driver tier checks against an INDEPENDENT forward-only BFS
    // ([[Betweenness.massReference]]), the distributed tier against its
    // own forward-pass level counts
    val gate = new Betweenness.MassGate
    val cent = sampledSeedCentrality(g, driverCap, "betweenness")(
      (cg, seeds) => {
        val d = Betweenness.driverBrandes(cg, seeds)
        val (distSum, dagEdges, maxLev) = Betweenness.massReference(cg, seeds)
        val deltaMicros = d.valuesIterator.foldLeft(0L)((acc, v) =>
          Math.addExact(acc, v.underlying.movePointRight(6).longValueExact()))
        gate.errMicros = Math.abs(
          Math.subtractExact(deltaMicros, Math.multiplyExact(distSum, 1000000L)))
        gate.boundMicros = Math.multiplyExact(dagEdges, maxLev + 1L)
        d
      })(Betweenness.distBrandes(s, _, _, _, _, _, gate))
    // zero-seed graphs skip both tiers: Σδ = 0 = Σ(d−1) vacuously
    val (errMicros, boundMicros) =
      if (gate.errMicros < 0L) (0L, 0L) else (gate.errMicros, gate.boundMicros)
    require(errMicros <= boundMicros,
      s"betweenness mass invariant violated: |Σδ − Σ(d(s,t)−1)| = $errMicros micros " +
        s"exceeds the rounded-recurrence bound $boundMicros — backward pass lost/created mass")
    cent.join(deg, Seq("id"), "left")
      .select(col("id").as("object_id"),
        coalesce(col("degree"), lit(0L)).as("degree"),
        col("betweenness").cast("double").as("betweenness"),
        lit(errMicros).as("mass_err_micros"),
        lit(boundMicros).as("mass_bound_micros"))
      .orderBy(col("object_id"))
  }

  /** spo_closeness body — sampled-seed HARMONIC closeness over the
    * undirected entity graph: closeness(v) = Σ over seeds s ≠ v of
    * round6(1 / d(s, v)) for reached pairs (harmonic form so
    * disconnected pairs contribute 0 instead of poisoning the sum —
    * Boldi & Vigna's axiom-surviving variant). Same seed set, tier
    * dispatch and decimal discipline as [[betweenness]]; the
    * distributed tier is the SAME [[Betweenness.forwardLevels]] BFS
    * frames (level index = distance) with the per-level constant
    * round6(1/d) — only MaxRounds distinct contributions exist, so the
    * engine adds a constant-folded decimal per frame, no per-row
    * division. Oracle-EXACT (unlike betweenness there is no per-edge
    * recurrence — distances unroll in one recursive CTE and every
    * 1/d rounds identically in both engines: a double's decimal
    * expansion can never sit exactly on a 6dp tie). */
  private[graft] def closeness(g: TripleStore.StagedGraph,
                               driverCap: Long = DriverGraph.Cap): DataFrame = {
    val ids = g.dict.select(col("object_id").as("id"))
    val dec = "decimal(28,6)"
    val cent = sampledSeedCentrality(g, driverCap, "closeness")(
      Betweenness.driverCloseness) { (edges, distIds, seeds, seedRows, edgeRows) =>
      val (levels, _, _) = Betweenness.forwardLevels(edges, seeds,
        recordDag = false, seedRows, edgeRows)
      val contribs = levels.zipWithIndex.drop(1).map { case (f, d) =>
        f.select(col("id"), round(lit(1.0) / lit(d.toDouble), 6).cast(dec).as("c"))
      }
      if (contribs.isEmpty)
        distIds.select(col("id"), lit(0).cast("decimal(38,6)").as("closeness"))
      else contribs.reduce(_ unionByName _)
        .groupBy(col("id"))
        .agg(sum(col("c")).cast("decimal(38,6)").as("closeness"))
    }
    ids.join(cent, Seq("id"), "left")
      .select(col("id").as("object_id"),
        coalesce(col("closeness"), lit(0).cast("decimal(38,6)"))
          .cast("double").as("closeness"))
      .orderBy(col("object_id"))
  }

  /** Relaxation-round bound shared by both sssp tiers AND the unrolled
    * oracle (the KcoreMaxPeels discipline): the engine fails LOUDLY if
    * the Bellman-Ford fixpoint is not reached within this many rounds —
    * exactly where the fixed-depth oracle would silently truncate.
    * Rounds needed = the max hop count over weighted-shortest paths
    * (a cheap long route can take MORE hops than the hop-minimal one),
    * measured 4-7 on the shipped graphs. */
  private[graft] val SsspMaxRounds = 30

  /** spo_sssp body — single-source WEIGHTED shortest paths from entity
    * 1 over the undirected entity graph. Edge weight
    * w = 1 + (a + b) mod 7: the shipped triples carry no cost column,
    * so weights derive deterministically from the endpoint ids —
    * INTEGER weights, so both engines' relaxation arithmetic is exact
    * (no float adds to drift). Two tiers ([[DriverGraph]]): the driver
    * tier runs the SAME bounded Jacobi relaxation in-process (identical
    * integer comparisons, so the tiers agree bit-for-bit); the
    * distributed tier makes each round one relax-join + one
    * min-aggregate, lineage-checkpointed. Both tiers require the
    * (round <= bound)-th round to confirm the fixpoint, mirroring the
    * oracle's [[SsspMaxRounds]] unrolled MATERIALIZED rounds. */
  private[graft] def sssp(g: TripleStore.StagedGraph,
                          driverCap: Long = DriverGraph.Cap,
                          maxRounds: Int = SsspMaxRounds): DataFrame = {
    val s = g.half.sparkSession
    import s.implicits._
    val seed = 1L
    val seedRows = g.dict.filter(col("object_id") === seed)
      .select(col("object_id").as("id"), lit(0L).as("dist"))
      .localCheckpoint()
    if (seedRows.count() == 0) seedRows.select(col("id").as("object_id"), col("dist"))
    else DriverGraph.tiered(g.half, driverCap, extraIds = Array(seed)) { cg =>
      val unreached = Long.MaxValue
      var dist = Array.fill(cg.size)(unreached)
      dist(cg.indexOf(seed)) = 0L
      var converged = false
      var rounds = 0
      while (!converged && rounds <= maxRounds) {
        // Jacobi round: every relax reads the PREVIOUS round's dists,
        // exactly like the oracle's d_k built from d_{k-1}
        val next = dist.clone()
        for (u <- 0 until cg.size if dist(u) != unreached; v <- cg.adj(u)) {
          val nd = dist(u) + 1L + Math.floorMod(cg.ids(u) + cg.ids(v), 7L)
          if (nd < next(v)) next(v) = nd
        }
        converged = java.util.Arrays.equals(next, dist)
        if (!converged) { dist = next; rounds += 1 }
      }
      require(converged, s"sssp did not converge in $maxRounds rounds")
      cg.ids.indices.filter(dist(_) != unreached).map(i => (cg.ids(i), dist(i)))
        .toDF("object_id", "dist").orderBy(col("object_id"))
    } { _ =>
      val half = g.half
      val wCol = lit(1L) + pmod(col("a") + col("b"), lit(7L))
      val edges = half.select(col("a").as("src"), col("b").as("dst"), wCol.as("w"))
        .unionByName(half.select(col("b").as("src"), col("a").as("dst"), wCol.as("w")))
        .localCheckpoint()
      var dist = seedRows
      var converged = false
      var rounds = 0
      while (!converged && rounds <= maxRounds) {
        val next = dist.join(edges, col("id") === col("src"))
          .select(col("dst").as("id"), (col("dist") + col("w")).as("dist"))
          .unionByName(dist)
          .groupBy(col("id")).agg(min(col("dist")).as("dist"))
          .localCheckpoint()
        // converged iff the round added no node and improved no dist
        converged = next.join(dist, Seq("id", "dist"), "left_anti")
          .limit(1).count() == 0
        if (!converged) { dist = next; rounds += 1 }
      }
      require(converged, s"sssp did not converge in $maxRounds rounds")
      dist.select(col("id").as("object_id"), col("dist"))
        .orderBy(col("object_id"))
    }
  }

  /** [[SsspMaxRounds]]-round unrolled Jacobi relaxation oracle — exact
    * because the engine asserts fixpoint within the bound (the
    * kcore-oracle discipline). */
  private val SsspOracleSql: Option[String] = Some {
    val rounds = (1 to SsspMaxRounds).map { i =>
      s"""d$i AS MATERIALIZED (
        SELECT id, MIN(dist) AS dist FROM (
          SELECT id, dist FROM d${i - 1}
          UNION ALL
          SELECT u.dst AS id, d.dist + u.w AS dist
          FROM d${i - 1} d JOIN undir u ON d.id = u.src) x
        GROUP BY id)"""
    }.mkString(",\n")
    s"""$prelude,
      undir AS (
        SELECT src, dst, 1 + (src + dst) % 7 AS w FROM (
          SELECT source_id AS src, target_id AS dst FROM edges
          WHERE source_id <> target_id
          UNION
          SELECT target_id, source_id FROM edges
          WHERE source_id <> target_id) p),
      d0 AS (SELECT CAST(object_id AS BIGINT) AS id, CAST(0 AS BIGINT) AS dist
        FROM objs WHERE object_id = 1),
      $rounds
      SELECT id AS object_id, CAST(dist AS BIGINT) AS dist
      FROM d$SsspMaxRounds ORDER BY object_id"""
  }

  /** Peel-round bound shared by both kcore tiers AND the unrolled
    * oracle: the engine fails LOUDLY if the peel has not reached its
    * fixpoint within this many rounds — exactly where the fixed-depth
    * oracle would silently diverge. Measured on the shipped graphs:
    * 1-5 rounds at every SF. */
  private[graft] val KcoreMaxPeels = 12

  /** spo_kcore body — iterative k-core peel of the undirected entity
    * graph. K is DATA-ADAPTIVE and exactly mirrored in the oracle:
    * K = max(1, (3 * ceil(2E/V)) / 4) in pure integer arithmetic, so
    * both engines derive the identical threshold from the identical
    * graph (a fixed K is degenerate across scale factors: the shipped
    * graphs' min degree ranges 3..38, so any constant either peels
    * nothing or empties the graph at some SF). Two tiers
    * ([[DriverGraph]]): the driver tier peels in-process (the per-round
    * work is a degree count over a driver-sized adjacency); the
    * distributed tier is a checkpointed loop of degree-filter ->
    * both-endpoint edge restriction, each round one shuffle on the node
    * key. Output: (object_id, core_deg) for core survivors, core_deg =
    * within-core degree >= K.
    */
  private[graft] def kcore(g: TripleStore.StagedGraph,
                           driverCap: Long = DriverGraph.Cap,
                           kOverride: Option[Long] = None): DataFrame = {
    val s = g.half.sparkSession
    import s.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("object_id", "core_deg")
    // e2 = 2E directed rows, v = non-isolated nodes
    def kOf(e2: Long, v: Long) = kOverride.getOrElse(math.max(1L, (((e2 + v - 1) / v) * 3) / 4))
    // g.half: distinct undirected (a < b), no self-loops
    DriverGraph.tiered(g.half, driverCap) { cg =>
      val v = cg.size
      if (v == 0) empty
      else {
        // the same integer comparisons as the distributed loop, so the
        // tiers agree bit-for-bit
        val k = kOf(cg.adj.map(_.length.toLong).sum, v)
        val alive = Array.fill(v)(true)
        def coreDeg(n: Int) = cg.adj(n).count(alive(_))
        var rounds = 0
        var changed = true
        while (changed && rounds <= KcoreMaxPeels) {
          val drop = (0 until v).filter(n => alive(n) && coreDeg(n) < k)
          changed = drop.nonEmpty
          if (changed) { drop.foreach(alive(_) = false); rounds += 1 }
        }
        require(!changed, s"kcore did not converge in $KcoreMaxPeels peels")
        (0 until v).filter(alive(_)).map(n => (cg.ids(n), coreDeg(n).toLong))
          .toDF("object_id", "core_deg")
          .orderBy(col("object_id"))
      }
    } { halfRows =>
      val und = DriverGraph.mirrored(g.half).localCheckpoint()
      val e2 = 2 * halfRows
      val v = und.select(col("src")).distinct().count()
      if (v == 0) empty
      else {
        // each round is one degree aggregate + one both-endpoints
        // restriction; lineage truncated per round
        val k = kOf(e2, v)
        var e = und
        var prevCount = e2
        var rounds = 0
        var converged = false
        while (!converged && rounds <= KcoreMaxPeels) {
          val alive = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
            .filter(col("d") >= k).select(col("src").as("id"))
            .localCheckpoint()
          val kept = e
            .join(alive.select(col("id").as("src")), "src")
            .join(alive.select(col("id").as("dst")), "dst")
            .select(col("src"), col("dst"))
            .localCheckpoint()
          val n = kept.count()
          converged = n == prevCount
          if (!converged) { e = kept; prevCount = n; rounds += 1 }
        }
        require(converged, s"kcore did not converge in $KcoreMaxPeels peels")
        e.groupBy(col("src")).agg(count(lit(1)).cast("long").as("core_deg"))
          .select(col("src").as("object_id"), col("core_deg"))
          .orderBy(col("object_id"))
      }
    }
  }

  /** 12-round unrolled peel oracle — exact because the engine asserts
    * fixpoint within [[KcoreMaxPeels]] rounds (the BFS maxRounds
    * discipline: bounded unrolling + a loud engine-side bound). */
  private val KcoreOracleSql: Option[String] = Some {
    // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and each
    // round references its predecessor three times — 12 inlined rounds
    // explode to 3^12 scans of the base relation ("too many open files")
    val rounds = (1 to KcoreMaxPeels).map { i =>
      s"""a$i AS MATERIALIZED (SELECT src AS id FROM e${i - 1}
           GROUP BY src HAVING COUNT(*) >= (SELECT k FROM kk)),
         e$i AS MATERIALIZED (SELECT e.src, e.dst FROM e${i - 1} e
           JOIN a$i x ON e.src = x.id JOIN a$i y ON e.dst = y.id)"""
    }.mkString(",\n")
    s"""$prelude,
      ue AS (SELECT LEAST(source_id, target_id) AS a,
                    GREATEST(source_id, target_id) AS b
             FROM edges WHERE source_id <> target_id GROUP BY 1, 2),
      e0 AS MATERIALIZED (SELECT a AS src, b AS dst FROM ue UNION ALL SELECT b, a FROM ue),
      vc AS (SELECT COUNT(DISTINCT src) AS v, COUNT(*) AS e2 FROM e0),
      kk AS (SELECT GREATEST(1, (((e2 + v - 1) // GREATEST(v, 1)) * 3) // 4) AS k FROM vc),
      $rounds
    SELECT src AS object_id, CAST(COUNT(*) AS BIGINT) AS core_deg
    FROM e$KcoreMaxPeels GROUP BY src ORDER BY object_id"""
  }

  /** Node-count cap for the jaccard driver tier: pair work is
    * m²/2 · m/64 word-AND+popcounts (~34e9 at the cap — a couple of
    * seconds across a parallel stream) and bitset memory is m²/8 bytes
    * (32 MB at the cap). Measured at 16k nodes / 1.46M directed edges
    * (avg degree ~91): driver bitsets ~3 s end-to-end where the
    * distributed wedge tier pays 42 s shuffling its (inherent)
    * Σ d² ≈ 280M wedge rows — the wedge tier is the right shape ABOVE
    * driver scale, but a dense graph under it is pure in-process win. */
  private[graft] val JaccardNodeDriverCap = 16384

  /** spo_jaccard_neighbors body. Two tiers, chosen by capped-graph
    * size, same answer (spec-pinned):
    *
    *  - DRIVER tier (kept edges within the [[DriverGraph]] cap, and at
    *    most [[JaccardNodeDriverCap]] nodes among them): neighbor sets
    *    as packed bitsets, all-pairs AND+popcount in one parallel
    *    in-process loop. A DENSE graph makes any candidate-generation
    *    scheme output-bound — measured at sf0.1 (1600 nodes, avg degree
    *    91): hub-wedge counting shuffles 28M wedge rows (6.4 s), PPJoin
    *    prefix filtering degenerates exactly like tiny-vocab set dedup
    *    (7-17 s) — while the bitset loop is 32M word-ops (<0.1 s). Same
    *    discipline as the dedup mask tier / autoLabel: the per-NODE
    *    summary is dictionary-sized, so solve it in-process instead of
    *    through dozens of tiny-data jobs. The node count is read off the
    *    collected graph, so a collected graph with too many nodes still
    *    runs the distributed tier.
    *  - DISTRIBUTED tier (above the caps): hub-wedge enumeration —
    *    candidates only from wedges (output-shaped, never all-pairs),
    *    per-pair intersection counts via one (na, nb) aggregate,
    *    degrees joined broadcast. Hot-hub cap as in spo_cooccurrence:
    *    nodes above [[MaxCoocDegree]] leave the graph up front (both
    *    as hub and endpoint, so degrees and intersections describe the
    *    same capped graph); a node linked to everything makes every
    *    pair "similar" — noise, and unbounded d² at scale.
    *
    * Jaccard = |∩| / (|A|+|B|-|∩|), exact ints divided ONCE as doubles
    * — bit-identical in the kernel, the distributed plan, and DuckDB.
    */
  private[graft] def jaccardNeighbors(g: TripleStore.StagedGraph,
                                      edgeCap: Long = DriverGraph.Cap): DataFrame = {
    val s = g.half.sparkSession
    val tau = 0.5
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // staged canonical half-edge set — already persisted; the degree
    // aggregate and the capped halfKept below both scan it
    val half = g.half
    val hot = DriverGraph.mirrored(half).groupBy(col("src")).agg(count(lit(1)).as("d"))
      .filter(col("d") > MaxCoocDegree)
      .select(col("src"))
    val halfKept = half
      .join(broadcast(hot.select(col("src").as("a"))), Seq("a"), "left_anti")
      .join(broadcast(hot.select(col("src").as("b"))), Seq("b"), "left_anti")
      .select(col("a"), col("b"))
      .persist(lvl)
    def distributed: DataFrame = {
      val kept = halfKept.select(col("a").as("x"), col("b").as("y"))
        .unionByName(halfKept.select(col("b").as("x"), col("a").as("y")))
        .persist(lvl)
      val kdeg = kept.groupBy(col("x")).agg(count(lit(1)).as("d"))
      val wedges = kept.select(col("x"), col("y").as("na"))
        .join(kept.select(col("x"), col("y").as("nb")), "x")
        .filter(col("na") < col("nb"))
      val inter = wedges.groupBy(col("na"), col("nb")).agg(count(lit(1)).as("i"))
      inter
        .join(broadcast(kdeg.select(col("x").as("na"), col("d").as("da"))), "na")
        .join(broadcast(kdeg.select(col("x").as("nb"), col("d").as("db"))), "nb")
        .select(col("na").as("node_a"), col("nb").as("node_b"),
          (col("i").cast("double") /
            (col("da") + col("db") - col("i")).cast("double")).as("jaccard"))
        .filter(col("jaccard") >= tau)
        .orderBy(col("node_a"), col("node_b"))
    }
    DriverGraph.tiered(halfKept, edgeCap) { cg =>
      if (cg.size > JaccardNodeDriverCap) distributed
      else {
        val m = cg.size
        val w = (m + 63) / 64
        val bits = Array.fill(m)(new Array[Long](w))
        for (ia <- 0 until m; ib <- cg.adj(ia)) bits(ia)(ib >> 6) |= (1L << (ib & 63))
        val deg = bits.map(_.map(java.lang.Long.bitCount(_).toLong).sum)
        val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Double)]
        java.util.stream.IntStream.range(0, m).parallel().forEach { ia =>
          val ba = bits(ia)
          var ib = ia + 1
          while (ib < m) {
            val bb = bits(ib)
            var inter = 0L
            var k = 0
            while (k < w) { inter += java.lang.Long.bitCount(ba(k) & bb(k)); k += 1 }
            if (inter > 0L) {
              val j = inter.toDouble / (deg(ia) + deg(ib) - inter).toDouble
              if (j >= tau) out.add((cg.ids(ia), cg.ids(ib), j))
            }
            ib += 1
          }
        }
        import s.implicits._
        import scala.jdk.CollectionConverters._
        out.asScala.toSeq.toDF("node_a", "node_b", "jaccard")
          .orderBy(col("node_a"), col("node_b"))
      }
    } { _ => distributed }
  }

  /** The ten fixed-point iterations of [[rank]], unrolled in SQL, with
    * the teleport set S given as the SQL of its (id) rows. */
  private def rankOracleSql(teleport: String, outCol: String): Option[String] = Some {
    val iters = (1 to 10).map { k =>
      s"""r$k AS (
        SELECT o.object_id AS id,
          (CASE WHEN s.id IS NOT NULL THEN $RankTeleport ELSE 0 END)
            + (85 * COALESCE(SUM(p.r // d.od), 0)) // 100 AS r
        FROM objs o
        LEFT JOIN seeds s ON s.id = o.object_id
        LEFT JOIN uedges e ON e.dst = o.object_id
        LEFT JOIN odeg d ON d.src = e.src
        LEFT JOIN r${k - 1} p ON p.id = e.src
        GROUP BY o.object_id, s.id)"""
    }.mkString(",\n")
    s"""$prelude,
      uedges AS (SELECT DISTINCT source_id AS src, target_id AS dst FROM edges),
      odeg AS (SELECT src, COUNT(*) AS od FROM uedges GROUP BY src),
      seeds AS ($teleport),
      r0 AS (SELECT o.object_id AS id,
               CAST(CASE WHEN s.id IS NOT NULL THEN $RankInit ELSE 0 END AS BIGINT) AS r
             FROM objs o LEFT JOIN seeds s ON s.id = o.object_id),
      $iters
    SELECT id AS object_id, CAST(r AS BIGINT) AS $outCol FROM r10
    ORDER BY $outCol DESC, object_id LIMIT 20"""
  }

  /** Synchronous label-propagation rounds for `spo_lpa`. FIXED-depth by
    * design, not a convergence loop: classic LPA's stopping rule is
    * nondeterministic (async update order / oscillation on bipartite
    * structure), so the deterministic, oracle-mirrorable form is "R
    * synchronous rounds, ties to the smallest label" — both engines
    * run the identical recurrence to the identical bits, converged or
    * not. 4 rounds is the community-detection literature's observed
    * knee (most membership stabilizes by round 5); labels still moving
    * at the horizon are the same labels in both engines. */
  private[graft] val LpaRounds = 4

  private val LpaOracleSql: Option[String] = Some {
    // MATERIALIZED per round — each l$i is referenced by the count of
    // round i+1 and (for the last) the size join; inlining would
    // re-derive every earlier round per reference (the kcore lesson)
    val rounds = (1 to LpaRounds).map { i =>
      s"""c$i AS MATERIALIZED (
           SELECT u.src AS id, l.lab, COUNT(*) AS c
           FROM e0 u JOIN l${i - 1} l ON u.dst = l.id
           GROUP BY u.src, l.lab),
         l$i AS MATERIALIZED (
           SELECT id, lab FROM (
             SELECT id, lab,
               ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, lab) AS rn
             FROM c$i) t
           WHERE rn = 1)"""
    }.mkString(",\n")
    s"""$prelude,
      ue AS (SELECT LEAST(source_id, target_id) AS a,
                    GREATEST(source_id, target_id) AS b
             FROM edges WHERE source_id <> target_id GROUP BY 1, 2),
      e0 AS MATERIALIZED (SELECT a AS src, b AS dst FROM ue UNION ALL SELECT b, a FROM ue),
      l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS lab FROM e0),
      $rounds,
      sizes AS (SELECT lab, COUNT(*) AS n FROM l$LpaRounds GROUP BY lab)
    SELECT l.id AS object_id, l.lab AS community_id,
      CAST(sizes.n AS BIGINT) AS community_size
    FROM l$LpaRounds l JOIN sizes ON l.lab = sizes.lab
    ORDER BY object_id"""
  }

  /** spo_lpa bodies — [[LpaRounds]] synchronous label-propagation
    * rounds over the distinct undirected entity graph (labels init to
    * node id; each round every node adopts its neighborhood's most
    * frequent label, ties to the smallest). Two tiers ([[DriverGraph]]),
    * spec-pinned equal:
    *
    *  - DRIVER tier: the same recurrence over the collected graph
    *    in-process — pure integer argmax,
    *    so the tiers agree bit-for-bit. Rationale as everywhere in
    *    §2.2: 4 rounds × 3 shuffle stages of a tiny graph is ~12 jobs
    *    of fixed overhead (measured 2.7 s at sf0.1) for work a single
    *    in-memory pass finishes in milliseconds.
    *  - DISTRIBUTED tier: per round, one shuffled equi-join of the edge
    *    set against the current labels plus two map-side-combined
    *    aggregations — the (node, label) frequency count and the
    *    per-node argmax. The argmax is `max(struct(c, -lab))` rather
    *    than a row_number window: a window would sort every
    *    (node, label) group on one partition axis anyway, while the
    *    struct-max folds into the same partial-aggregation pass.
    *    Nothing is all-pairs and no driver state exists — O(E) shuffle
    *    per round at any scale.
    */
  private[graft] def lpaDistributed(und: org.apache.spark.sql.DataFrame, rounds: Int): org.apache.spark.sql.DataFrame = {
    var labels = und.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lab"))
    for (_ <- 1 to rounds) {
      val counted = und.join(labels, und("dst") === labels("id"))
        .groupBy(und("src").as("nid"), col("lab"))
        .agg(count(lit(1)).as("c"))
      labels = counted
        .groupBy(col("nid"))
        .agg(max(struct(col("c"), (-col("lab")).as("nl"))).as("m"))
        .select(col("nid").as("id"), (-col("m.nl")).as("lab"))
    }
    attachCommunitySizes(labels)
  }

  /** Driver tier: identical recurrence over the collected graph — per
    * round, one pass of neighbor-label counting with (count DESC,
    * label ASC) argmax. */
  private def lpaDriver(s: org.apache.spark.sql.SparkSession,
                        g: DriverGraph.Collected, rounds: Int): DataFrame = {
    import s.implicits._
    var lab: Array[Long] = g.ids.clone()
    for (_ <- 1 to rounds) {
      lab = g.adj.map { ns =>
        // most frequent neighbor label, ties to the smallest label
        val freq = new java.util.HashMap[Long, Int]()
        ns.foreach { u => freq.merge(lab(u), 1, (x, y) => x + y) }
        var bestLab = Long.MaxValue; var bestC = -1
        freq.forEach { (l, c) =>
          if (c > bestC || (c == bestC && l < bestLab)) { bestLab = l; bestC = c }
        }
        bestLab
      }
    }
    attachCommunitySizes(
      g.ids.indices.map(i => (g.ids(i), lab(i))).toDF("id", "lab"))
  }

  /** Shared tail of both LPA tiers: attach community sizes and project
    * the output schema. */
  private def attachCommunitySizes(labels: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val sizes = labels.groupBy(col("lab")).agg(count(lit(1)).as("community_size"))
    labels.join(sizes, "lab")
      .select(col("id").as("object_id"), col("lab").as("community_id"),
        col("community_size"))
      .orderBy(col("object_id"))
  }

  /** Tier dispatch for spo_lpa over a canonical (a, b) half-edge set. */
  private[graft] def lpa(half: DataFrame, rounds: Int,
                         driverCap: Long = DriverGraph.Cap): DataFrame =
    DriverGraph.tiered(half, driverCap)(lpaDriver(half.sparkSession, _, rounds))(
      _ => lpaDistributed(DriverGraph.mirrored(half), rounds))

  /** Steps per walk for `spo_random_walks`. Fixed-depth like LPA: the
    * walk RECURRENCE is deterministic (hash-seeded choices), so a fixed
    * horizon is exactly oracle-mirrorable; 4 steps is the skip-gram
    * window regime of DeepWalk/node2vec-style corpus generation. */
  private[graft] val WalkSteps = 4

  /** The shared walk-unroll CTE chain, ending at a
    * `walks(walk_id, step, node)` relation — one source of truth for
    * BOTH the spo_random_walks oracle and the skip-gram pair oracle
    * built on top of the identical trajectories. */
  private def walksCteSql: String = {
    val steps = (1 to WalkSteps).map { i =>
      s"""c$i AS (SELECT w.walk_id, u.dst AS node,
           md5('walk:' || CAST(w.walk_id AS VARCHAR) || ':' || $i || ':'
               || CAST(u.dst AS VARCHAR)) AS hk
         FROM w${i - 1} w JOIN e0 u ON w.node = u.src),
         w$i AS MATERIALIZED (SELECT walk_id, node FROM (
             SELECT walk_id, node,
               ROW_NUMBER() OVER (PARTITION BY walk_id ORDER BY hk, node) AS rn
             FROM c$i) t
           WHERE rn = 1)"""
    }.mkString(",\n")
    val unioned = (0 to WalkSteps)
      .map(i => s"SELECT walk_id, $i AS step, node FROM w$i")
      .mkString("\nUNION ALL\n")
    s"""$prelude,
      ue AS (SELECT LEAST(source_id, target_id) AS a,
                    GREATEST(source_id, target_id) AS b
             FROM edges WHERE source_id <> target_id GROUP BY 1, 2),
      e0 AS MATERIALIZED (SELECT a AS src, b AS dst FROM ue UNION ALL SELECT b, a FROM ue),
      w0 AS MATERIALIZED (SELECT DISTINCT src AS walk_id, src AS node FROM e0),
      $steps,
      walks AS (
    $unioned
      )"""
  }

  private val WalksOracleSql: Option[String] = Some(
    s"""$walksCteSql
    SELECT walk_id, step, node FROM walks
    ORDER BY walk_id, step""")

  /** spo_walk_skipgrams window: ±2 positions, the classic DeepWalk
    * context radius at these walk lengths. */
  private[graft] val SkipgramWindow = 2

  private val SkipgramOracleSql: Option[String] = Some(
    s"""$walksCteSql,
      pairs AS (
        SELECT a.node AS center, b.node AS context
        FROM walks a JOIN walks b ON a.walk_id = b.walk_id
        WHERE a.step <> b.step AND abs(a.step - b.step) <= $SkipgramWindow
          AND a.node <> b.node)
    SELECT center, context, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pairs GROUP BY center, context
    ORDER BY center, context""")

  val WalksCacheTier = "spo_walks"

  /** Session-staged walk trajectories (r18, guide §1.2): the
    * derandomized walks are a SHARED artifact — `spo_random_walks`
    * serves them and `spo_walk_skipgrams` generates training pairs
    * over the identical trajectories, and each query previously
    * re-ran the whole walk build (at bench scale the driver tier: an
    * und.count + collect + |V|·steps·degree md5 recurrence,
    * single-threaded). Same discipline as the TripleStore frames and
    * the dedup cluster frame: a 100 TB DeepWalk pipeline materializes
    * the walk corpus once beside the graph and every consumer
    * (trajectory store, skip-gram trainer) reads it. Rides the
    * cross-invocation StageCache; consumers re-apply their own
    * ordering (parquet read-back order is not the build order). */
  private val stagedWalksCache =
    new graft.operators.SessionStaged[org.apache.spark.sql.DataFrame]((s, dir) =>
      graft.operators.StageCache.frame(s, dir, WalksCacheTier, 1,
        persist = Some(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)) {
        randomWalks(T.staged(s, dir).half, WalkSteps)
      },
      df => { df.unpersist(); () })

  private[graft] def stagedWalks(s: org.apache.spark.sql.SparkSession,
                                 dir: String): org.apache.spark.sql.DataFrame =
    stagedWalksCache.get(s, dir)

  /** spo_random_walks bodies — one DERANDOMIZED walk per node over the
    * distinct undirected entity graph: at step t a walk at node v moves
    * to the neighbor u minimizing md5("walk:" ‖ walk_id ‖ ":" ‖ t ‖ ":"
    * ‖ u) (ties to the smaller u, unreachable in practice). Hash-seeded
    * choices instead of RNG state make the walk a pure function of the
    * graph — reruns, retries, and the SQL oracle all trace the identical
    * trajectories, which no seeded-RNG formulation survives across
    * engines. This is the DeepWalk/node2vec corpus-generation shape
    * (walks feed skip-gram training); uniformity comes from md5's
    * avalanche across the step index. Two tiers ([[DriverGraph]]):
    *
    *  - DRIVER tier: the same recurrence over the collected graph
    *    in-process — JVM MessageDigest md5 over the identical strings,
    *    hex-compared, so the tiers agree bit-for-bit (spec-pinned).
    *  - DISTRIBUTED tier: per step, one frontier⋈edges equi-join fans
    *    each walk to its neighbors (O(E) rows), then one map-side
    *    combined min(struct(hk, nbr)) argmin per walk — no window, no
    *    driver state, per-step cost O(E) shuffle at any scale.
    *
    * Output: (walk_id, step, node) trajectories, step 0 = the start
    * node itself, one walk per node of the canonical (a, b) half-edge
    * set `half`. */
  private[graft] def randomWalks(half: DataFrame, steps: Int,
                                 driverCap: Long = DriverGraph.Cap): DataFrame =
    DriverGraph.tiered(half, driverCap)(walksDriver(half.sparkSession, _, steps))(
      _ => walksDistributed(DriverGraph.mirrored(half), steps))

  private[graft] def walksDistributed(und: org.apache.spark.sql.DataFrame, steps: Int): org.apache.spark.sql.DataFrame = {
    var cur = und.select(col("src").as("walk_id")).distinct()
      .select(col("walk_id"), col("walk_id").as("node"))
    val traj = scala.collection.mutable.ArrayBuffer(cur.withColumn("step", lit(0)))
    for (t <- 1 to steps) {
      // fresh per-step attribute ids: after step 1 the frontier's
      // lineage contains the edge frame, and reusing its attributes
      // verbatim trips the ambiguous-self-join check
      val e = und.select(col("src").as(s"src_$t"), col("dst").as(s"dst_$t"))
      val cand = cur.join(e, col("node") === col(s"src_$t"))
        .select(col("walk_id"), col(s"dst_$t").as("nbr"))
        .withColumn("hk", md5(concat(lit("walk:"), col("walk_id").cast("string"),
          lit(s":$t:"), col("nbr").cast("string")).cast("binary")))
      cur = cand.groupBy(col("walk_id"))
        .agg(min(struct(col("hk"), col("nbr"))).as("m"))
        .select(col("walk_id"), col("m.nbr").as("node"))
      traj += cur.withColumn("step", lit(t))
    }
    traj.reduce(_ unionByName _)
      .select(col("walk_id"), col("step"), col("node"))
      .orderBy(col("walk_id"), col("step"))
  }

  /** Driver tier: identical recurrence in-process over the collected
    * graph — MessageDigest md5 over the same strings, lowercase-hex
    * compared. */
  private def walksDriver(s: org.apache.spark.sql.SparkSession,
                          g: DriverGraph.Collected, steps: Int): DataFrame = {
    import s.implicits._
    val md = java.security.MessageDigest.getInstance("MD5")
    // table-driven hex: String.format here runs |V| x steps x degree x 16
    // times (~10M at sf0.1) and costs ~20 s of pure formatting
    val hexChars = "0123456789abcdef".toCharArray
    def hex(sIn: String): String = {
      val d = md.digest(sIn.getBytes("UTF-8"))
      val out = new Array[Char](d.length * 2)
      var i = 0
      while (i < d.length) {
        out(2 * i) = hexChars((d(i) >> 4) & 0xf)
        out(2 * i + 1) = hexChars(d(i) & 0xf)
        i += 1
      }
      new String(out)
    }
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long)]
    // every collected node is an edge endpoint, so every walk can move
    for (start <- g.ids.indices) {
      var node = start
      rows += ((g.ids(start), 0, g.ids(node)))
      for (t <- 1 to steps) {
        var best = -1
        var bestH: String = null
        for (u <- g.adj(node)) {
          val h = hex(s"walk:${g.ids(start)}:$t:${g.ids(u)}")
          if (bestH == null || h < bestH || (h == bestH && g.ids(u) < g.ids(best))) {
            bestH = h; best = u
          }
        }
        node = best
        rows += ((g.ids(start), t, g.ids(node)))
      }
    }
    rows.toSeq.toDF("walk_id", "step", "node")
      .orderBy(col("walk_id"), col("step"))
  }

  /** Round bound for the distributed Borůvka loop: the component count
    * at least halves per round, so 20 rounds cover forests past 10^6
    * components; the engine refuses LOUDLY past the bound (the
    * kcore/sssp discipline) rather than returning a partial forest. */
  private[graft] val MstMaxRounds = 20

  /** spo_mst bodies — MINIMUM SPANNING FOREST of the undirected entity
    * graph under the sssp weights w = 1 + (a+b) mod 7, with the TOTAL
    * edge order (w, a, b) breaking weight ties: a total order makes the
    * MSF UNIQUE (it acts as an infinitesimal weight perturbation), so
    * Kruskal and Borůvka provably return the identical edge set — which
    * is exactly what lets the two tiers be spec-pinned equal and an
    * independent Prim reference agree edge-for-edge. No SQL mirror
    * exists (iterative contraction, the BPE class) → rows-only, with a
    * STRUCTURAL driver-visible gate: the output empties unless
    * |forest| = |V| − |components| (components read off Borůvka's own
    * fixpoint labels / Kruskal's union-find — no second connectivity
    * solve), so a broken contraction flips the driver's rows check
    * instead of hiding.
    *
    *  - DRIVER tier ([[DriverGraph]]): Kruskal over the collected
    *    graph — one sort by (w, a, b) + union-find.
    *  - DISTRIBUTED tier (Borůvka): per round, attach component labels
    *    (two broadcast-or-shuffled equi-joins), keep cross-component
    *    edges, per-component min(struct(w, a, b, other)) — map-side
    *    combined, no window — then contract the selected component
    *    graph with the SHARED [[Components.autoLabel]] solver and
    *    relabel. Forest and labels localCheckpoint per round (bounded
    *    lineage); every round is O(E) shuffle, rounds ≤ log₂ V.
    *
    * @param half0 canonical (a < b) undirected edge set
    */
  private[graft] def mst(half0: DataFrame,
                         driverCap: Long = DriverGraph.Cap,
                         roundCap: Int = MstMaxRounds): DataFrame =
    DriverGraph.tiered(half0, driverCap)(mstDriver(half0.sparkSession, _)) { _ =>
      val edges = half0.select(col("a"), col("b"),
        (lit(1L) + (col("a") + col("b")) % 7L).as("w"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val out = mstDistributed(edges, roundCap)
      edges.unpersist()
      out
    }

  /** Kruskal over the collected graph: the unique forest under the
    * (w, a, b) total order. The structural gate is implicit —
    * union-find accepts exactly |V| − |components| edges. */
  private def mstDriver(s: org.apache.spark.sql.SparkSession,
                        g: DriverGraph.Collected): DataFrame = {
    import s.implicits._
    val edges = for (i <- g.adj.indices; j <- g.adj(i) if i < j)
      yield (1L + (g.ids(i) + g.ids(j)) % 7L, i, j)
    val uf = new UnionFind(g.size)
    edges.sortBy { case (w, i, j) => (w, g.ids(i), g.ids(j)) }
      .filter { case (_, i, j) => uf.union(i, j) }
      .map { case (w, i, j) => (g.ids(i), g.ids(j), w) }
      .toDF("a", "b", "w").orderBy(col("a"), col("b"))
  }

  private def mstDistributed(edges: org.apache.spark.sql.DataFrame,
                             roundCap: Int): org.apache.spark.sql.DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    var comp = edges.select(col("a").as("id"))
      .unionByName(edges.select(col("b").as("id"))).distinct()
      .select(col("id"), col("id").as("comp")).localCheckpoint()
    var forest = Seq.empty[(Long, Long, Long)].toDF("a", "b", "w")
    var rounds = 0
    var done = false
    while (!done) {
      val e = edges
        .join(comp.select(col("id").as("a"), col("comp").as("ca")), "a")
        .join(comp.select(col("id").as("b"), col("comp").as("cb")), "b")
        .filter(col("ca") =!= col("cb"))
        .persist(lvl)
      if (e.count() == 0) {
        e.unpersist()
        done = true
      } else {
        // bound MERGING rounds only — fixpoint detection must not
        // consume a slot, or a forest needing exactly roundCap merges
        // would be refused after having been fully computed
        rounds += 1
        require(rounds <= roundCap,
          s"spo_mst: Borůvka did not reach its fixpoint within $roundCap rounds — " +
            "refusing a partial forest; raise the bound deliberately if the " +
            "component structure genuinely needs more rounds")
        // per-component lightest incident edge under the (w, a, b)
        // total order; `other` rides along for contraction and can
        // never tie-break (the edge key is already unique)
        val cand = e.select(col("ca").as("c"),
            struct(col("w"), col("a"), col("b"), col("cb").as("other")).as("m"))
          .unionByName(e.select(col("cb").as("c"),
            struct(col("w"), col("a"), col("b"), col("ca").as("other")).as("m")))
        val sel = cand.groupBy(col("c")).agg(min(col("m")).as("m"))
          .select(col("c"), col("m.w").as("w"), col("m.a").as("a"),
            col("m.b").as("b"), col("m.other").as("other"))
          .persist(lvl)
        forest = forest
          .unionByName(sel.select(col("a"), col("b"), col("w")).distinct())
          .localCheckpoint()
        val labels = Components.autoLabel(s,
          sel.select(col("c").as("src"), col("other").as("dst")),
          Some(comp.select(col("comp").as("id")).distinct()))
        comp = comp.select(col("id"), col("comp").as("oldc"))
          .join(labels.select(col("id").as("oldc"), col("comp").as("newc")), "oldc")
          .select(col("id"), col("newc").as("comp")).localCheckpoint()
        sel.unpersist(); e.unpersist()
      }
    }
    // structural driver-visible gate: a spanning forest has EXACTLY
    // |V| - |components| edges (components from Borůvka's own fixpoint
    // labels). A contraction bug empties the output -> rows-only check
    // flips at the driver instead of shipping a wrong forest.
    val nV = comp.count()
    val nC = comp.select(col("comp")).distinct().count()
    val nF = forest.count()
    forest.filter(lit(nF == nV - nC)).orderBy(col("a"), col("b"))
  }

  def defs: Seq[QueryDef] = Seq(
    QueryDef(
      "spo_objects",
      (s, dir) => T.staged(s, dir).objects.orderBy(col("object_id")),
      Some(s"$prelude SELECT object_id, name, object_type, first_seen_us FROM objs ORDER BY object_id")
    ),

    QueryDef(
      "spo_relationships",
      (s, dir) => T.staged(s, dir).relationships
        .orderBy(col("source_id"), col("target_id"), col("predicate")),
      Some(s"$prelude SELECT source_id, target_id, predicate, n FROM edges ORDER BY source_id, target_id, predicate")
    ),

    QueryDef(
      "spo_degree",
      (s, dir) => {
        val g = T.staged(s, dir)
        val objs = g.objects
        // staged+persisted edge list feeds both the out- and in-degree aggs
        val edges = g.relationships
        val out = edges.groupBy(col("source_id").as("object_id"))
          .agg(sum(col("n")).as("out_edges"), countDistinct(col("target_id")).as("out_neighbors"))
        val in = edges.groupBy(col("target_id").as("object_id"))
          .agg(sum(col("n")).as("in_edges"), countDistinct(col("source_id")).as("in_neighbors"))
        objs.select(col("object_id"), col("name"))
          .join(out, Seq("object_id"), "left")
          .join(in, Seq("object_id"), "left")
          .select(col("object_id"), col("name"),
            coalesce(col("out_edges"), lit(0L)).as("out_edges"),
            coalesce(col("out_neighbors"), lit(0L)).as("out_neighbors"),
            coalesce(col("in_edges"), lit(0L)).as("in_edges"),
            coalesce(col("in_neighbors"), lit(0L)).as("in_neighbors"))
          .orderBy(col("object_id"))
      },
      Some(s"""$prelude,
        outd AS (SELECT source_id AS object_id, CAST(SUM(n) AS BIGINT) AS out_edges,
                   COUNT(DISTINCT target_id) AS out_neighbors FROM edges GROUP BY source_id),
        ind AS (SELECT target_id AS object_id, CAST(SUM(n) AS BIGINT) AS in_edges,
                   COUNT(DISTINCT source_id) AS in_neighbors FROM edges GROUP BY target_id)
      SELECT o.object_id, o.name,
        COALESCE(out_edges, 0) AS out_edges, COALESCE(out_neighbors, 0) AS out_neighbors,
        COALESCE(in_edges, 0) AS in_edges, COALESCE(in_neighbors, 0) AS in_neighbors
      FROM objs o LEFT JOIN outd ON o.object_id = outd.object_id
      LEFT JOIN ind ON o.object_id = ind.object_id
      ORDER BY o.object_id""")
    ),

    QueryDef(
      "spo_predicate_stats",
      (s, dir) => {
        val t = T.staged(s, dir).triples
        t.groupBy(col("predicate"))
          .agg(count(lit(1)).as("n_triples"),
            countDistinct(col("subject")).as("n_subjects"),
            countDistinct(col("object")).as("n_objects"))
          .orderBy(col("predicate"))
      },
      Some(s"""WITH triples AS (${T.triplesSql})
      SELECT predicate, COUNT(*) AS n_triples,
        COUNT(DISTINCT subject) AS n_subjects, COUNT(DISTINCT object) AS n_objects
      FROM triples GROUP BY predicate ORDER BY predicate""")
    ),

    QueryDef(
      "spo_two_hop",
      (s, dir) => {
        // staged+persisted distinct (subject, object) set — both sides
        // of the self-join scan it
        val hop = T.staged(s, dir).so
        val back = hop.select(col("object"), col("subject").as("peer"))
        hop.join(back, "object")
          .filter(col("subject") =!= col("peer"))
          .groupBy(col("subject"))
          .agg(countDistinct(col("peer")).as("n_two_hop_peers"))
          .orderBy(col("subject"))
      },
      Some(s"""WITH triples AS (${T.triplesSql}),
        hop AS (SELECT DISTINCT subject, object FROM triples)
      SELECT a.subject, COUNT(DISTINCT b.subject) AS n_two_hop_peers
      FROM hop a JOIN hop b ON a.object = b.object AND a.subject <> b.subject
      GROUP BY a.subject ORDER BY a.subject""")
    ),

    QueryDef(
      // connected components over the undirected entity graph — the
      // entity-resolution primitive the reference's people/company/email
      // graph exists for. Pregel-style min-label propagation: each round
      // every entity adopts the smallest component id among itself and
      // its neighbors, converging in O(diameter) rounds; each round is
      // one join + one aggregate (both shuffles on entity id), and the
      // driver only sees the converged/changed COUNT per round. Output:
      // per-entity component id (= min object_id in the component) +
      // component sizes, oracle-checked against a DuckDB recursive CTE.
      // Scale note: O(diameter) rounds is the simple, exact form; a
      // graph with pathological diameter at 100 TB would swap the body
      // for alternating large-star/small-star contraction (O(log n)
      // rounds, same per-round join/agg shape).
      "spo_components",
      (s, dir) => {
        // the component loop needs only the staged (id, id) half-edge
        // set and the staged dictionary. autoLabel: the (entity, entity)
        // edge summary is dictionary-sized — far below the corpus — so
        // connectivity solves on the driver in one collect when it fits,
        // and falls through to the distributed propagation loop (regime
        // notes on graft.graph.Components) above the cap
        val g = T.staged(s, dir)
        val labels = Components.autoLabel(s,
          g.half.select(col("a").as("src"), col("b").as("dst")),
          Some(g.dict.select(col("object_id").as("id"))))
        val sizes = labels.groupBy(col("comp")).agg(count(lit(1)).as("component_size"))
        labels.join(sizes, "comp")
          .select(col("id").as("object_id"), col("comp").as("component_id"), col("component_size"))
          .orderBy(col("object_id"))
      },
      Some(s"""$prelude,
        undir AS (
          SELECT source_id AS src, target_id AS dst FROM edges
          UNION
          SELECT target_id, source_id FROM edges),
        cc AS (
          WITH RECURSIVE reach(id, comp) AS (
            SELECT object_id, object_id FROM objs
            UNION
            SELECT u.dst, r.comp FROM reach r JOIN undir u ON r.id = u.src)
          SELECT id, MIN(comp) AS component_id FROM reach GROUP BY id),
        sizes AS (SELECT component_id, COUNT(*) AS component_size FROM cc GROUP BY component_id)
      SELECT cc.id AS object_id, cc.component_id, sizes.component_size
      FROM cc JOIN sizes ON cc.component_id = sizes.component_id
      ORDER BY object_id""")
    ),

    QueryDef(
      // FIXED-POINT PageRank (10 iterations, damping 0.85) over the
      // distinct directed edge set. Every quantity is a scaled BIGINT
      // (initial mass 1e12 per node; per-edge contribution = r div
      // out_degree; new rank = 0.15*1e12 + (85 * Σcontrib) div 100), so
      // the computation is EXACT integer arithmetic — no float
      // summation-order drift — and the oracle unrolls the same ten
      // iterations in SQL to the same bits. Each iteration is one
      // (edge ⋈ rank) shuffle + one per-target sum: the standard
      // power-iteration shape, rank lineage truncated periodically.
      // Fixed-point bound: Σ ranks ≈ n*1e12, so 85*contrib overflows
      // only past ~1e5 nodes ALL funneling into one target; at larger
      // n, scale the per-node init mass down accordingly. Body in
      // [[pagerank]] so the spec can force both tiers.
      "spo_pagerank",
      (s, dir) => pagerank(T.staged(s, dir)),
      rankOracleSql("SELECT object_id AS id FROM objs", "rank_scaled")
    ),

    QueryDef(
      // PERSONALIZED PageRank from the fixed 128-seed centrality set —
      // "important NEAR these entities" where spo_pagerank's global
      // teleport says "important anywhere" (the entity-resolution
      // relevance primitive). Same exact scaled-BIGINT fixed-point
      // arithmetic, teleport mass gated on seed membership; oracle
      // unrolls the identical ten iterations. Body in [[ppr]] so the
      // spec can force both tiers.
      "spo_ppr",
      (s, dir) => ppr(T.staged(s, dir)),
      rankOracleSql(s"""SELECT object_id AS id FROM objs
        WHERE object_id % ${Betweenness.SeedMod} = 0
        ORDER BY object_id LIMIT ${Betweenness.SeedCount}""", "ppr_scaled")
    ),

    QueryDef(
      // Object co-occurrence via subject self-join. The self-join emits
      // d^2/2 pairs per subject, so a power-law "celebrity" subject is
      // quadratic at scale — subjects above [[MaxCoocDegree]] distinct
      // objects are excluded up front (their co-occurrence signal is
      // noise: a subject touching everything co-occurs everything).
      // The hot list is tiny by construction (<= |so|/threshold
      // subjects), so the exclusion is a broadcast anti-join and the
      // degree aggregate shuffles on the same key as the self-join.
      "spo_cooccurrence",
      (s, dir) => {
        // staged+persisted: degree agg + both sides of the self-join scan it
        val so = T.staged(s, dir).so
        val hot = so.groupBy(col("subject")).agg(count(lit(1)).as("deg"))
          .filter(col("deg") > MaxCoocDegree)
          .select(col("subject"))
        val kept = so.join(broadcast(hot), Seq("subject"), "left_anti")
        val b = kept.select(col("subject"), col("object").as("object_b"))
        kept.join(b, "subject")
          .filter(col("object") < col("object_b"))
          .groupBy(col("object"), col("object_b"))
          .agg(count(lit(1)).as("n_shared_subjects"))
          .filter(col("n_shared_subjects") >= 10)
          .orderBy(col("object"), col("object_b"))
      },
      Some(s"""WITH triples AS (${T.triplesSql}),
        so AS (SELECT DISTINCT subject, object FROM triples),
        keep AS (SELECT subject FROM so GROUP BY subject HAVING COUNT(*) <= $MaxCoocDegree),
        k AS (SELECT so.subject, so.object FROM so JOIN keep ON so.subject = keep.subject)
      SELECT a.object AS object, b.object AS object_b, COUNT(*) AS n_shared_subjects
      FROM k a JOIN k b ON a.subject = b.subject AND a.object < b.object
      GROUP BY a.object, b.object HAVING COUNT(*) >= 10
      ORDER BY object, object_b""")
    ),

    QueryDef(
      // Per-node triangle counts over the undirected entity graph — the
      // clustering/community primitive. The naive three-way edge
      // self-join is Θ(Σ d²) on the HOT nodes; the standard bound is
      // degree ordering: orient every edge from its lower-(degree, id)
      // endpoint to its higher one, enumerate wedges only at each
      // triangle's minimum-key corner, and close them with one equi-join
      // on the (v, w) edge key. Out-degrees under this orientation are
      // O(√m), so wedge volume is O(m^1.5) worst-case (vs unbounded d²)
      // and every join is a shuffled equi-join — no cartesian anywhere.
      // Each triangle is found exactly ONCE, so the count matches the
      // oracle's id-ordered (a < b < c) enumeration: any consistent
      // total order over nodes yields the same per-corner counts.
      "spo_triangles",
      (s, dir) => {
        // the staged canonical half-edge set — the kernel
        // ([[Triangles.countPerNode]]) persists its own degree-oriented
        // derivation of it
        val g = T.staged(s, dir)
        Triangles.countPerNode(g.half,
            g.dict.select(col("object_id").as("id")))
          .select(col("id").as("object_id"), col("n_triangles"))
          .orderBy(col("object_id"))
      },
      TrianglesOracle
    ),

    QueryDef(
      // LOCAL CLUSTERING COEFFICIENT — the community-density signal on
      // top of the triangle census: C(v) = 2·T(v) / (d·(d−1)) over the
      // undirected distinct-neighbor degree (how close v's
      // neighborhood is to a clique — the small-world / spam-farm
      // discriminator). Reuses the staged half-edge set and THE shared
      // degree-oriented triangle kernel (one more tiny aggregate + one
      // exact-integer division per node — bit-identical cross-engine;
      // d < 2 nodes define C = 0). No new shuffle shape: the triangle
      // kernel's O(m^1.5) wedge bound is the cost, already probed.
      "spo_cluster_coeff",
      (s, dir) => {
        val g = T.staged(s, dir)
        clusterCoeffFrom(g.half, g.dict.select(col("object_id").as("id")))
      },
      ClusterCoeffOracle
    ),

    QueryDef(
      // Sampled-source BETWEENNESS centrality — the broker/bottleneck
      // signal (see [[Betweenness]]): Brandes dependency sums from the
      // deterministic fixed-count seed set (the SeedCount smallest
      // ids with id % 17 == 0), cross-tier-exact via the
      // 6dp-decimal recurrence. Rows-only BY DESIGN (a per-seed BFS DAG
      // recurrence has no SQL mirror — the MST/BPE class) with THREE
      // gate columns checkable from the output alone: degree ≤ 1 rows
      // must carry betweenness 0 (a leaf is never interior to a
      // shortest path), and mass_err_micros ≤ mass_bound_micros pins
      // the Brandes total-mass identity Σδ = Σ(d(s,t)−1) — the
      // backward pass checked against forward distances, the same
      // quantity spo_closeness's oracle-green recursive CTE computes
      // (VERDICT r11 item 5). BetweennessSpec pins both tiers equal
      // (gate included), a textbook double Brandes within float
      // tolerance, and closed forms on path/star/bridge graphs.
      "spo_betweenness",
      (s, dir) => betweenness(T.staged(s, dir)),
      None
    ),

    QueryDef(
      // Sampled-seed HARMONIC closeness — "how near is v to everything"
      // (reach efficiency), the dual of betweenness's "how much passes
      // THROUGH v". Same fixed-count seed set; 1/d contributions as 6dp
      // decimals (order-free exact sums). ORACLE-EXACT: the joint-seed
      // BFS unrolls in one recursive CTE with the same 50-hop cap the
      // engine enforces loudly, and ROUND(1.0/d, 6) cannot diverge
      // cross-engine (no double lands on a 6dp tie). DOUBLE at the
      // output boundary per the §5 no-bare-DECIMAL rule.
      "spo_closeness",
      (s, dir) => closeness(T.staged(s, dir)),
      Some(s"""$prelude,
        undir AS (
          SELECT source_id AS src, target_id AS dst FROM edges
          WHERE source_id <> target_id
          UNION
          SELECT target_id, source_id FROM edges WHERE source_id <> target_id),
        seeds AS (
          SELECT object_id FROM objs WHERE object_id % 17 = 0
          ORDER BY object_id LIMIT 128),
        reach AS (
          WITH RECURSIVE r(seed, id, dist) AS (
            SELECT object_id, object_id, CAST(0 AS BIGINT) FROM seeds
            UNION
            SELECT r.seed, u.dst, r.dist + 1
            FROM r JOIN undir u ON r.id = u.src
            WHERE r.dist < 50)
          SELECT seed, id, MIN(dist) AS dist FROM r GROUP BY seed, id),
        cent AS (
          SELECT id, SUM(CAST(ROUND(1.0 / dist, 6) AS DECIMAL(28,6))) AS c
          FROM reach WHERE dist > 0 GROUP BY id)
      SELECT o.object_id,
             CAST(COALESCE(c.c, 0) AS DOUBLE) AS closeness
      FROM objs o LEFT JOIN cent c ON o.object_id = c.id
      ORDER BY o.object_id""")
    ),

    QueryDef(
      // Single-source shortest hop distances (BFS) from entity 1 —
      // the reachability/radius primitive. Body in [[bfs]] so the spec
      // can pin the driver tier against the distributed frontier loop.
      "spo_bfs",
      (s, dir) => bfs(T.staged(s, dir)),
      Some(s"""$prelude,
        undir AS (
          SELECT source_id AS src, target_id AS dst FROM edges
          WHERE source_id <> target_id
          UNION
          SELECT target_id, source_id FROM edges WHERE source_id <> target_id),
        reach AS (
          WITH RECURSIVE r(id, dist) AS (
            SELECT object_id, CAST(0 AS BIGINT) FROM objs WHERE object_id = 1
            UNION
            SELECT u.dst, r.dist + 1
            FROM r JOIN undir u ON r.id = u.src
            WHERE r.dist < 50)
          SELECT id, MIN(dist) AS dist FROM r GROUP BY id)
      SELECT id AS object_id, dist FROM reach ORDER BY object_id""")
    ),

    QueryDef(
      // K-CORE decomposition — the graph-mining density primitive
      // (community seeds, influence pruning): iteratively peel nodes
      // below the adaptive threshold until fixpoint. Body in [[kcore]]
      // (two tiers, adaptive K, loud 12-round bound); the oracle
      // unrolls the same 12 peels, exact because the engine refuses to
      // answer past the bound.
      "spo_kcore",
      (s, dir) => kcore(T.staged(s, dir)),
      KcoreOracleSql
    ),

    QueryDef(
      // Single-source WEIGHTED shortest paths (Bellman-Ford rounds) —
      // the cost-aware sibling of spo_bfs: hop-minimal and cost-minimal
      // routes genuinely differ here (integer weights 1..7 from the
      // endpoint ids). Body in [[sssp]] (two tiers, loud round bound);
      // the oracle unrolls the same Jacobi rounds.
      "spo_sssp",
      (s, dir) => sssp(T.staged(s, dir)),
      SsspOracleSql
    ),

    QueryDef(
      // COMMUNITY DETECTION via synchronous label propagation — the
      // modularity-free community primitive (entity grouping, topic
      // neighborhoods) between connected components (too coarse: one
      // giant component) and k-core (a density filter, not a
      // partition). Body in [[lpa]]; fixed [[LpaRounds]] synchronous
      // rounds with min-label tie-break make the recurrence
      // deterministic and exactly SQL-mirrorable — the oracle unrolls
      // the same rounds (rationale at [[LpaRounds]]).
      "spo_lpa",
      (s, dir) => lpa(T.staged(s, dir).half, LpaRounds),
      LpaOracleSql
    ),

    QueryDef(
      // DERANDOMIZED random walks — the DeepWalk/node2vec corpus
      // generator (walk trajectories feed skip-gram embedding
      // training). One walk per node, [[WalkSteps]] hash-seeded steps;
      // bodies and determinism rationale in [[randomWalks]]; the oracle
      // unrolls the same steps with the identical md5 choice rule.
      "spo_random_walks",
      // staged trajectories (r18) + the oracle's explicit ordering —
      // the staged frame's storage order is not the build order
      (s, dir) => stagedWalks(s, dir)
        .orderBy(col("walk_id"), col("step")),
      WalksOracleSql
    ),

    QueryDef(
      // SKIP-GRAM PAIR GENERATION from the derandomized walks — the
      // step DeepWalk/node2vec actually trains on: (center, context)
      // co-occurrence counts within a ±SkipgramWindow position window
      // over each trajectory. spo_random_walks makes the corpus; this
      // makes the training TABLE (the counts are the positive-sample
      // weights a skip-gram/negative-sampling trainer consumes).
      // Self-pairs from walk revisits (center = context — an
      // undirected walk can backtrack) carry no training signal and
      // are excluded. Plan: the walks frame is |V|·(steps+1) rows; the
      // positional self-join fans out ≤ 2·window rows per row (join
      // key walk_id, ≤ steps+1 rows per key — never skew) and the
      // count is one map-side-combinable aggregate — linear in |V| at
      // any scale, no new graph pass (the trajectories are the same
      // two-tier body the walks query runs). Oracle: the SHARED walk
      // CTE chain plus the identical positional self-join, so the
      // trajectories can't drift apart between the two queries.
      "spo_walk_skipgrams",
      (s, dir) => {
        // the SAME staged trajectories spo_random_walks serves (r18) —
        // previously re-ran the whole walk build; pair generation is
        // order-insensitive (one aggregate over the positional join)
        val walks = stagedWalks(s, dir)
        val a = walks.select(col("walk_id"), col("step").as("i"), col("node").as("center"))
        val b = walks.select(col("walk_id"), col("step").as("j"), col("node").as("context"))
        a.join(b, "walk_id")
          .filter(col("i") =!= col("j") &&
            abs(col("i") - col("j")) <= SkipgramWindow &&
            col("center") =!= col("context"))
          .groupBy(col("center"), col("context"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy(col("center"), col("context"))
      },
      SkipgramOracleSql
    ),

    QueryDef(
      // MINIMUM SPANNING FOREST (Borůvka / Kruskal two tiers) — the
      // cheapest-backbone primitive (network design, single-linkage
      // clustering's skeleton). Bodies, the unique-forest argument, and
      // the structural gate in [[mst]]; rows-only (iterative
      // contraction has no SQL mirror — the BPE class), with MstSpec
      // pinning tier equality, an independent Prim reference, and the
      // loud round-bound refusal.
      "spo_mst",
      (s, dir) => mst(T.staged(s, dir).half),
      None
    ),

    QueryDef(
      // ADAMIC–ADAR link prediction — jaccard_neighbors' rarity-aware
      // sibling and the OTHER canonical common-neighbor score: a
      // shared RARE neighbor is strong evidence two entities relate, a
      // shared hub says nothing, so each common neighbor z contributes
      // 1/ln(deg z) instead of 1. Wedge plan as the cooccurrence/
      // jaccard tier: true degrees from one aggregate, hub CENTERS
      // (deg > MaxCoocDegree) excluded up front — the d² wedge
      // explosion removed at its source, and score-neutral to first
      // order since a hub's weight is already ~1/ln(huge); deg-1
      // centers dropped too (they seed no wedge, and their 1/ln(1)
      // term would be ±∞ under ANSI before the join could discard it).
      // Exactness: each 1/ln(d) term is 6dp-rounded to DECIMAL before
      // the order-independent exact sum (the drift/perplexity
      // discipline); output pairs need ≥ 2 common neighbors (a
      // single-wedge pair is noise and the cut keeps output
      // two-hop-bounded). The ln is the bm25 libm-identical class.
      "spo_adamic_adar",
      (s, dir) => {
        // r18 kept this EXACTLY the r17 shape after measuring both of
        // the proposed optimizations backwards (§7 item 33): the
        // wedge-center chain stays INLINE from the persisted half
        // frame (every cached/staged-center variant was 1.7-6×
        // slower — per-run adjacency broadcast rebuilds, or AQE's
        // input-size-blind coalescing running the d² expansion
        // single-threaded off a one-split parquet read-back), and the
        // output stays the FULL pair-ordered result (top-K variants —
        // TakeOrdered and two-phase window-rank alike — measured
        // 33-50 s against 3.3 s here; the full global sort was never
        // the ceiling in the first place, since an aggregate above it
        // lets Catalyst eliminate the sort entirely, and the pair
        // output is already hub-cap + n_common >= 2 bounded).
        val half = T.staged(s, dir).half
        val und = half.select(col("a").as("x"), col("b").as("y"))
          .unionByName(half.select(col("b").as("x"), col("a").as("y")))
        val deg = und.groupBy(col("x")).agg(count(lit(1)).as("d"))
        // same-key join right after the aggregate — co-partitioned on x
        val cd = und.join(deg, "x")
          .filter(col("d") >= 2L && col("d") <= lit(MaxCoocDegree))
        // r18 opt: decimal(8,6), not (18,6) — the term is ≤ 1/ln 2 ≈
        // 1.442695, so precision 8 holds it and sum(decimal(8,6))
        // widens to decimal(18,6), which stays in Spark's COMPACT long
        // representation. At (18,6) the sum buffer was decimal(28,6) —
        // a heap BigDecimal per (na,nb) group in the suite's largest
        // hash aggregate (1.13 M pairs at sf0.1): 4.3 s of task GC and
        // 16-byte shuffle values, both halved by the narrower type
        // (guide §2.3 "narrower types"). Values are bit-identical:
        // same 6dp quantum, no overflow (≤ MaxCoocDegree terms of
        // ≤ 1.45 each sums < 1.5e3, far inside decimal(18,6)).
        val a = cd.select(col("x"), col("y").as("na"),
          round(lit(1.0) / log(col("d").cast("double")), 6)
            .cast("decimal(8,6)").as("term"))
        val b = cd.select(col("x"), col("y").as("nb"))
        val wedges = a.join(b, "x").filter(col("na") < col("nb"))
        // r19 (guide §2.3 "narrower types"): the wedge aggregate is the
        // suite's largest shuffle (156 MB, 1.13 M groups at sf0.1) and
        // its key was TWO long columns. Dense ids start at 1, so when
        // the max id provably fits 31 bits the pair packs injectively
        // into ONE non-negative long (na<<32 | nb) — one hash column
        // instead of two and 8 fewer bytes per partial-agg row across
        // the exchange. Runtime-guarded off the persisted half frame
        // (one ~ms job on a cached ≤|E|-row frame), so an id space past
        // 2^31 at 100 TB keeps the exact two-column plan. Grouping by
        // the packed key is grouping by the pair (injective), and the
        // unpack below restores the identical output columns.
        val maxIdRow = half.agg(max(col("b"))).head()
        val packable = !maxIdRow.isNullAt(0) && maxIdRow.getLong(0) < (1L << 31)
        val pairs =
          if (packable)
            wedges
              .groupBy((shiftleft(col("na"), 32).bitwiseOR(col("nb"))).as("pk"))
              .agg(count(lit(1)).as("n_common"), sum(col("term")).as("aa_dec"))
              .select(shiftright(col("pk"), 32).as("na"),
                col("pk").bitwiseAND(lit(0xFFFFFFFFL)).as("nb"),
                col("n_common"), col("aa_dec"))
          else
            wedges
              .groupBy(col("na"), col("nb"))
              .agg(count(lit(1)).as("n_common"), sum(col("term")).as("aa_dec"))
        pairs
          .filter(col("n_common") >= 2L)
          .select(col("na").as("node_a"), col("nb").as("node_b"),
            col("n_common"), col("aa_dec").cast("double").as("aa_score"))
          .orderBy(col("node_a"), col("node_b"))
      },
      Some(s"""$prelude,
        half AS (SELECT DISTINCT LEAST(source_id, target_id) AS a,
            GREATEST(source_id, target_id) AS b
          FROM edges WHERE source_id <> target_id),
        und AS (SELECT a AS x, b AS y FROM half UNION ALL SELECT b, a FROM half),
        deg AS (SELECT x, COUNT(*) AS d FROM und GROUP BY x),
        cd AS (SELECT u.x, u.y, g.d FROM und u JOIN deg g USING (x)
          WHERE g.d >= 2 AND g.d <= $MaxCoocDegree),
        w AS (SELECT a.y AS na, b.y AS nb,
            CAST(ROUND(1.0 / ln(CAST(a.d AS DOUBLE)), 6) AS DECIMAL(18,6)) AS term
          FROM cd a JOIN cd b ON a.x = b.x AND a.y < b.y)
      SELECT na AS node_a, nb AS node_b, CAST(COUNT(*) AS BIGINT) AS n_common,
        CAST(SUM(term) AS DOUBLE) AS aa_score
      FROM w GROUP BY na, nb HAVING COUNT(*) >= 2
      ORDER BY node_a, node_b""")
    ),

    QueryDef(
      // Neighbor-set Jaccard similarity — the link-prediction /
      // entity-resolution primitive ("how alike are two nodes'
      // neighborhoods"). Body in [[jaccardNeighbors]] so the spec can
      // pin both tiers equal; plan rationale there.
      "spo_jaccard_neighbors",
      (s, dir) => jaccardNeighbors(T.staged(s, dir)),
      Some(s"""$prelude,
        half AS (
          SELECT DISTINCT LEAST(source_id, target_id) AS a,
            GREATEST(source_id, target_id) AS b
          FROM edges WHERE source_id <> target_id),
        und AS (SELECT a AS x, b AS y FROM half UNION ALL SELECT b, a FROM half),
        deg AS (SELECT x, COUNT(*) AS d FROM und GROUP BY x),
        hot AS (SELECT x FROM deg WHERE d > $MaxCoocDegree),
        kept AS (SELECT x, y FROM und
          WHERE x NOT IN (SELECT x FROM hot) AND y NOT IN (SELECT x FROM hot)),
        kdeg AS (SELECT x, COUNT(*) AS d FROM kept GROUP BY x),
        inter AS (
          SELECT a.y AS na, b.y AS nb, COUNT(*) AS i
          FROM kept a JOIN kept b ON a.x = b.x AND a.y < b.y
          GROUP BY a.y, b.y)
      SELECT na AS node_a, nb AS node_b,
        CAST(i AS DOUBLE) / CAST(da.d + db.d - i AS DOUBLE) AS jaccard
      FROM inter
      JOIN kdeg da ON da.x = na
      JOIN kdeg db ON db.x = nb
      WHERE CAST(i AS DOUBLE) / CAST(da.d + db.d - i AS DOUBLE) >= 0.5
      ORDER BY node_a, node_b""")
    )
  )

  /** spo_triangles oracle: plain id-ordered three-way join enumeration. */
  private val TrianglesOracle: Option[String] = Some(
    s"""$prelude,
        half AS (
          SELECT DISTINCT LEAST(source_id, target_id) AS a,
            GREATEST(source_id, target_id) AS b
          FROM edges WHERE source_id <> target_id),
        tri AS (
          SELECT e1.a AS x, e1.b AS y, e2.b AS z
          FROM half e1
          JOIN half e2 ON e2.a = e1.b
          JOIN half e3 ON e3.a = e1.a AND e3.b = e2.b),
        corners AS (
          SELECT x AS id FROM tri
          UNION ALL SELECT y FROM tri
          UNION ALL SELECT z FROM tri),
        cnt AS (SELECT id, COUNT(*) AS n_triangles FROM corners GROUP BY id)
      SELECT o.object_id, COALESCE(cnt.n_triangles, 0) AS n_triangles
      FROM objs o LEFT JOIN cnt ON cnt.id = o.object_id
      ORDER BY o.object_id""")

  /** `spo_cluster_coeff` body over a canonical (a < b) half-edge set
    * and a node id frame — shared by the QueryDef and the spec's
    * engineered graphs. */
  private[graft] def clusterCoeffFrom(half: DataFrame, ids: DataFrame): DataFrame = {
    val tri = Triangles.countPerNode(half, ids)
    val deg = half.select(col("a").as("id"))
      .unionByName(half.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
    tri.join(deg, Seq("id"), "left")
      .select(col("id").as("object_id"),
        coalesce(col("degree"), lit(0L)).as("degree"),
        col("n_triangles"),
        when(coalesce(col("degree"), lit(0L)) < 2L, lit(0.0))
          .otherwise(col("n_triangles").cast("double") * lit(2.0) /
            (col("degree") * (col("degree") - lit(1L))).cast("double"))
          .as("clustering"))
      .orderBy(col("object_id"))
  }

  /** `spo_cluster_coeff` oracle: the triangle census CTEs + the
    * undirected distinct-neighbor degree + one exact-int division. */
  private val ClusterCoeffOracle: Option[String] = Some(
    s"""$prelude,
        half AS (
          SELECT DISTINCT LEAST(source_id, target_id) AS a,
            GREATEST(source_id, target_id) AS b
          FROM edges WHERE source_id <> target_id),
        tri AS (
          SELECT e1.a AS x, e1.b AS y, e2.b AS z
          FROM half e1
          JOIN half e2 ON e2.a = e1.b
          JOIN half e3 ON e3.a = e1.a AND e3.b = e2.b),
        corners AS (
          SELECT x AS id FROM tri
          UNION ALL SELECT y FROM tri
          UNION ALL SELECT z FROM tri),
        cnt AS (SELECT id, COUNT(*) AS n_triangles FROM corners GROUP BY id),
        deg AS (
          SELECT id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
            SELECT a AS id FROM half UNION ALL SELECT b FROM half) u
          GROUP BY id)
      SELECT o.object_id,
        COALESCE(deg.degree, 0) AS degree,
        COALESCE(cnt.n_triangles, 0) AS n_triangles,
        CASE WHEN COALESCE(deg.degree, 0) < 2 THEN 0.0
          ELSE CAST(COALESCE(cnt.n_triangles, 0) AS DOUBLE) * 2.0 /
            CAST(deg.degree * (deg.degree - 1) AS DOUBLE) END AS clustering
      FROM objs o
      LEFT JOIN cnt ON cnt.id = o.object_id
      LEFT JOIN deg ON deg.id = o.object_id
      ORDER BY o.object_id""")
}
