package graft.dedup

import graft.similarity.VectorOps
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Exact angular blocking for all-pairs cosine similarity.
  *
  * The problem with every *probabilistic* bucketing at a low threshold
  * (tau = 0.3 ~ 72.5 degrees) is that hyperplane LSH barely separates:
  * a pair at the threshold collides per plane with p ~ 0.60 while an
  * orthogonal pair collides with p = 0.50, so any banding with recall
  * ~1 admits ~all pairs. Instead of gambling recall, block EXACTLY:
  *
  *  1. partition vectors into cells by hyperplane sign bucket
  *     (deterministic, data-independent, one kernel pass);
  *  2. compute each cell's empirical mean direction c and angular
  *     radius r = max angle(v, c) over its members — ANY reference
  *     direction yields a valid radius, so clustering quality affects
  *     pruning power only, never correctness;
  *  3. prune with the spherical triangle inequality: for u and any
  *     v in cell C,  angle(u, v) >= angle(u, c_C) - r_C.  If
  *     angle(u, c_C) - r_C > theta_tau, NO pair (u, v in C) can reach
  *     cosine >= tau, and u x C is skipped wholesale. Conversely every
  *     qualifying pair survives: angle(u, c_C) <= angle(u, v) + r_C
  *     <= theta_tau + r_C. Recall is 1 by construction.
  *
  * Candidate generation is then an equi-join on cell ids — never a
  * cartesian / nested-loop product — and the final filter re-checks
  * cosine exactly (codegen'd), so the result is bit-identical to brute
  * force on every input. On clustered real-world corpora radii tighten
  * and whole cells prune; on an adversarial isotropic corpus (like the
  * synthetic test embeddings, where *every* sub-quadratic method with
  * recall 1 provably degenerates — the qualifying output itself is
  * Theta(n^2 * tail-mass)) it degrades gracefully to dense cell pairs
  * while keeping the scale-safe shuffle shape.
  */
object AngularBlocking {

  private val BoundSlack = 1e-6 // absorbs double rounding in acos chains

  /** (vec_id, embedding, cell) with cell = hyperplane sign bucket.
    * Explicit repartition first: the corpus often arrives in one input
    * split locally, and a bare repartition(col) is an AQE coalesce
    * target (see shingleFeatures).
    */
  def assign(vecs: DataFrame, nPlanes: Int, dims: Int, seed: Long): DataFrame = {
    val planes = VectorOps.hyperplanes(nPlanes, dims, seed)
    val spark = vecs.sparkSession
    val pb = spark.sparkContext.broadcast(planes)
    val outSchema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType), nullable = false),
      StructField("cell", IntegerType, nullable = false)))
    val numParts = spark.sparkContext.defaultParallelism
    vecs.select(col("vec_id"), col("embedding"))
      .repartition(numParts, col("vec_id"))
      .mapPartitions { rows =>
        val ps = pb.value
        rows.map { row =>
          val emb = row.getSeq[Float](1)
          // a vector longer than the plane dimensionality would be
          // bucketed (and centroid-bounded) in a truncated subspace
          // where the triangle-inequality proof does not hold — that is
          // silent recall loss, so it must fail loudly instead
          require(emb.length <= dims,
            s"embedding has ${emb.length} dims but blocking was built for $dims")
          var cell = 0
          var p = 0
          while (p < ps.length) {
            var dot = 0.0
            var i = 0
            val n = math.min(emb.length, ps(p).length)
            while (i < n) { dot += emb(i).toDouble * ps(p)(i); i += 1 }
            if (dot > 0) cell |= (1 << p)
            p += 1
          }
          Row(row.getLong(0), emb, cell)
        }
      }(Encoders.row(outSchema))
  }

  /** Per-cell unit mean direction and angular radius, via two scans of
    * `assigned` that each reduce to one tiny row per (partition, cell)
    * before the driver combines them — the collects ship O(cells * dims)
    * doubles, never vector rows (same justified-small-side pattern as
    * the broadcast query sets in graft.similarity).
    */
  def cellStats(assigned: DataFrame, dims: Int): Map[Int, (Array[Double], Double)] = {
    val partialSchema = StructType(Seq(
      StructField("cell", IntegerType, nullable = false),
      StructField("vsum", ArrayType(DoubleType, containsNull = false), nullable = false),
      StructField("cnt", LongType, nullable = false)))
    val partials = assigned.mapPartitions { rows =>
      val sums = scala.collection.mutable.Map.empty[Int, (Array[Double], Long)]
      rows.foreach { row =>
        val emb = row.getSeq[Float](1)
        val cell = row.getInt(2)
        // accumulate unit directions so a long vector can't drag the mean
        var nrm = 0.0
        var i = 0
        while (i < emb.length) { val x = emb(i).toDouble; nrm += x * x; i += 1 }
        nrm = math.sqrt(nrm)
        if (nrm > 0) {
          val (s, c) = sums.getOrElseUpdate(cell, (new Array[Double](dims), 0L))
          i = 0
          val n = math.min(dims, emb.length)
          while (i < n) { s(i) += emb(i).toDouble / nrm; i += 1 }
          sums(cell) = (s, c + 1)
        }
      }
      sums.iterator.map { case (cell, (s, c)) => Row(cell, s.toSeq, c) }
    }(Encoders.row(partialSchema)).collect()

    val centroids: Map[Int, Array[Double]] = partials
      .groupBy(_.getInt(0))
      .map { case (cell, rows) =>
        val total = new Array[Double](dims)
        rows.foreach { r =>
          val s = r.getSeq[Double](1)
          var i = 0
          while (i < dims) { total(i) += s(i); i += 1 }
        }
        var nrm = 0.0
        var i = 0
        while (i < dims) { nrm += total(i) * total(i); i += 1 }
        nrm = math.sqrt(nrm)
        // a ~zero mean (perfectly spread cell) falls back to a fixed
        // axis: the radius below is measured against whatever direction
        // we pick, so the bound stays valid — it just won't prune
        if (nrm > 1e-12) { i = 0; while (i < dims) { total(i) /= nrm; i += 1 } }
        else total(0) = 1.0
        cell -> total
      }

    val spark = assigned.sparkSession
    val cb = spark.sparkContext.broadcast(centroids)
    val radiusSchema = StructType(Seq(
      StructField("cell", IntegerType, nullable = false),
      StructField("r", DoubleType, nullable = false)))
    // a cell whose members are ALL zero-norm never got a centroid (the
    // nrm > 0 guard above) — measure it against a fixed axis, the same
    // fallback the ~zero-mean case uses: the radius is valid against
    // ANY reference direction, it just won't prune
    val fallbackAxis = { val a = new Array[Double](dims); a(0) = 1.0; a }
    val radiusPartials = assigned.mapPartitions { rows =>
      val cents = cb.value
      val maxes = scala.collection.mutable.Map.empty[Int, Double]
      rows.foreach { row =>
        val emb = row.getSeq[Float](1)
        val cell = row.getInt(2)
        val theta = angleTo(emb, cents.getOrElse(cell, fallbackAxis))
        // ALWAYS record the cell, even at theta == 0: a strictly-greater
        // guard here dropped any cell whose members all sit exactly on
        // the centroid direction (identical vectors, or a single-member
        // cell) from the stats map entirely — and a cell absent from
        // stats emits NO candidates, silently losing every pair that
        // touches it (found by DedupChunkEmbeddingSpec's planted
        // identical-chunk corpus; latent for the float-noise embeddings
        // tiers, where an exact zero angle never materialized)
        maxes(cell) = math.max(maxes.getOrElse(cell, 0.0), theta)
      }
      maxes.iterator.map { case (cell, r) => Row(cell, r) }
    }(Encoders.row(radiusSchema)).collect()
    val radii = radiusPartials.groupBy(_.getInt(0))
      .map { case (cell, rows) => cell -> rows.map(_.getDouble(1)).max }

    // total over every OBSERVED cell (radii covers all rows), so the
    // candidate stage always finds a vector's own cell — a
    // zero-norm-only cell carries the fallback axis and prunes nothing
    radii.map { case (cell, r) =>
      cell -> (centroids.getOrElse(cell, fallbackAxis), r)
    }
  }

  /** angle(v, unit c) in radians; 0-norm v maps to pi/2 (prunes nothing
    * it shouldn't — a 0 vector has undefined cosine and never verifies). */
  private def angleTo(emb: Seq[Float], c: Array[Double]): Double = {
    var dot = 0.0; var nv = 0.0
    var i = 0
    val n = math.min(emb.length, c.length)
    while (i < n) { val x = emb(i).toDouble; dot += x * c(i); nv += x * x; i += 1 }
    if (nv == 0) math.Pi / 2
    else math.acos(math.max(-1.0, math.min(1.0, dot / math.sqrt(nv))))
  }

  /** Candidate (vector, partner-cell) rows. Each vector u in cell X
    * emits its own cell (always) plus every cell P > X whose bound
    * angle(u, c_P) - r_P <= theta_tau passes. The `P >= X` direction
    * convention generates each cross-cell pair exactly once (from its
    * lower-cell side — the bound proof in the class doc guarantees the
    * lower side's emission), and intra-cell pairs are halved later by
    * `vec_id` order.
    */
  def candidates(assigned: DataFrame, stats: Map[Int, (Array[Double], Double)],
                 thetaTau: Double): DataFrame = {
    val spark = assigned.sparkSession
    val sb = spark.sparkContext.broadcast(stats.toArray.sortBy(_._1))
    val outSchema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType), nullable = false),
      StructField("cell", IntegerType, nullable = false),
      StructField("partner", IntegerType, nullable = false)))
    assigned.mapPartitions { rows =>
      val cellArr = sb.value
      rows.flatMap { row =>
        val id = row.getLong(0)
        val emb = row.getSeq[Float](1)
        val cellX = row.getInt(2)
        cellArr.iterator.collect {
          case (p, (cent, r)) if p == cellX ||
              (p > cellX && angleTo(emb, cent) - r <= thetaTau + BoundSlack) =>
            Row(id, emb, cellX, p)
        }
      }
    }(Encoders.row(outSchema))
  }

  /** The full exact near-dup pair pipeline: assign -> stats -> bounded
    * candidates -> cell equi-join -> codegen cosine verify. Output is
    * bit-identical to the brute-force `a.vec_id < b.vec_id` join at any
    * tau on any input.
    */
  /** Session-staged blocking structure for `dir`'s embeddings table:
    * the cell assignment (persisted) and per-cell (centroid, radius)
    * stats are TAU-INDEPENDENT, so dedup_embedding / dedup_semantic /
    * knn_join — which differ only in threshold — share one build
    * instead of each re-assigning and re-aggregating the corpus. The
    * production shape at scale: the assignment is a materialized
    * column on the vector table; thresholds are query-time.
    */
  /** Null-embedding rows carry no similarity signal and are dropped up
    * front — exactly what the brute-force oracle does (NULL cosine
    * fails every >= tau predicate) — so the dims sample can never land
    * on a null row and silently empty the result while real vectors
    * sit behind it. One definition shared by the staged and unstaged
    * paths so their behavior cannot drift. */
  private def nonNullVecs(vecs: DataFrame): DataFrame =
    vecs.filter(col("embedding").isNotNull)

  /** Sampled embedding width over the non-null rows; None iff none
    * exist (both paths then produce empty pairs). */
  private def deriveDims(vecs: DataFrame): Option[Int] =
    vecs.select(size(col("embedding")).as("d")).limit(1)
      .agg(max(col("d"))).head().get(0) match {
        case null => None
        case n: Integer => Some(n.intValue())
      }

  /** Reusable tau-independent blocking structure over an arbitrary
    * (vec_id, embedding) frame: the persisted cell assignment plus the
    * per-cell (centroid, radius) bound table. Building it is the
    * expensive part; [[pairsFrom]] serves any threshold off one build —
    * the same materialized-artifact discipline as the dedup feature
    * staging. */
  final case class Blocking(assigned: DataFrame,
                            stats: Map[Int, (Array[Double], Double)])

  /** Build a [[Blocking]] over `vecs`. Null-embedding rows are dropped
    * ([[nonNullVecs]]); an empty frame yields an empty assignment (dims
    * fall back to 1 — assign never evaluates a row, stats are empty,
    * pairs are empty). The assignment is persisted — release with
    * [[releaseBlocking]]. */
  def buildBlocking(vecs: DataFrame, nPlanes: Int = 4, seed: Long = 7L): Blocking = {
    val nn = nonNullVecs(vecs)
    val d = deriveDims(nn).getOrElse(1)
    val assigned = assign(nn, nPlanes, d, seed)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Blocking(assigned, cellStats(assigned, d))
  }

  def releaseBlocking(b: Blocking): Unit = { b.assigned.unpersist(); () }

  /** Tau-dependent pair generation over a pre-built [[Blocking]]:
    * bounded candidates → cell equi-join → codegen cosine verify.
    * Bit-identical to brute force (recall 1 by the triangle-inequality
    * bound — see the class doc). */
  def pairsFrom(b: Blocking, tau: Double): DataFrame =
    pairsFromAssignment(b.assigned, b.stats, tau)

  /** [[buildBlocking]] with the ASSIGNMENT riding the cross-invocation
    * [[graft.operators.StageCache]] (r17): the cell assignment is the
    * expensive corpus pass and a pure function of (vecs, planes) — a
    * cache hit is one parquet read. The per-cell (centroid, radius)
    * stats are recomputed from the assigned frame either way (driver-
    * sized aggregate; positional row access means the cached frame
    * must and does preserve column order). `vecs` is by-name: on a hit
    * the source frame — possibly itself an expensive staged build, the
    * whitened case — is never constructed. */
  private[graft] def buildBlockingCached(s: SparkSession, dataDir: String,
                                         tier: String, version: Int,
                                         nPlanes: Int = 4, seed: Long = 7L)
                                        (vecs: => DataFrame): Blocking = {
    val assigned = graft.operators.StageCache.frame(s, dataDir, tier, version,
      persist = Some(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)) {
      val nn = nonNullVecs(vecs)
      assign(nn, nPlanes, deriveDims(nn).getOrElse(1), seed)
    }
    Blocking(assigned, cellStats(assigned, deriveDims(assigned).getOrElse(1)))
  }

  val CacheTier = "angular"
  val WhitenedCacheTier = "angular_whitened"

  private val stagedCache = new graft.operators.SessionStaged[Blocking](
    (s, dir) => buildBlockingCached(s, dir, CacheTier, 1)(
      graft.operators.Tables(s, dir).embeddings),
    releaseBlocking)

  /** Materialize the staged assignment for `dir` (the builder's
    * cellStats pass is an action, so getting the entry builds it) —
    * lets a host time staging separately from the queries that probe
    * it. */
  private[graft] def warmStaged(s: SparkSession, dir: String): Unit = {
    stagedCache.get(s, dir); ()
  }

  def cosinePairsStaged(s: SparkSession, dir: String, tau: Double): DataFrame =
    pairsFrom(stagedCache.get(s, dir), tau)

  /** The WHITENED-space sibling of [[stagedCache]] (r15): the blocking
    * over the session-staged whitened frame is tau-independent and
    * dataset-keyed exactly like the raw one, and building it inside
    * `dedup_semantic_whitened` charged that query ~1.2 s/run of
    * assignment + cell-stats work the raw query never pays. The
    * float-cast is deterministic; the whitened frame itself is built
    * (one eigensolve) by the Similarity staging it keys off. */
  private val stagedWhitenedCache = new graft.operators.SessionStaged[Blocking](
    (s, dir) => buildBlockingCached(s, dir, WhitenedCacheTier, 1)(
      graft.similarity.Similarity.stagedWhitenFrame(s, dir)
        .select(col("vec_id"),
          transform(col("whitened"), x => x.cast("float")).as("embedding"))),
    releaseBlocking)

  private[graft] def warmWhitenedStaged(s: SparkSession, dir: String): Unit = {
    stagedWhitenedCache.get(s, dir); ()
  }

  def cosinePairsWhitenedStaged(s: SparkSession, dir: String, tau: Double): DataFrame =
    pairsFrom(stagedWhitenedCache.get(s, dir), tau)

  def cosinePairs(spark: SparkSession, vecs: DataFrame, tau: Double,
                  nPlanes: Int = 4, dims: Int = -1, seed: Long = 7L): DataFrame = {
    // dims < 0: derive from the first row (one single-row job,
    // [[deriveDims]] — shared with the staged path) rather than trust a
    // caller-side constant — planes/centroids built for fewer dims than
    // the vectors carry would bound in a truncated subspace. A longer
    // vector later in the data trips assign()'s per-row assert loudly
    // instead of losing recall silently. An EMPTY frame yields empty
    // pairs instead of head() throwing.
    val vecsNN = nonNullVecs(vecs)
    val d =
      if (dims > 0) dims
      else deriveDims(vecsNN) match {
        case None => return vecs.sparkSession.emptyDataFrame
          .select(lit(0L).as("vec_a"), lit(0L).as("vec_b"), lit(0.0).as("cosine"))
          .limit(0)
        case Some(n) => n
      }
    val assigned = assign(vecsNN, nPlanes, d, seed)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = cellStats(assigned, d)
    pairsFromAssignment(assigned, stats, tau)
  }

  /** Tau-dependent tail of [[cosinePairs]]: bounded candidates → cell
    * equi-join → codegen cosine verify, over a pre-built persisted
    * assignment. */
  private def pairsFromAssignment(assigned: DataFrame,
                                  stats: Map[Int, (Array[Double], Double)],
                                  tau: Double): DataFrame = {
    val thetaTau = math.acos(math.max(-1.0, math.min(1.0, tau)))
    // r18 (guide §1.2): each vector participates in many candidate
    // pairs (on the adversarial isotropic corpus the bound admits most
    // partner cells, so candidates approach n²/2), but there are only
    // n distinct vectors — precompute each side's squared norm ONCE
    // per row and verify with the prenorm cosine, whose pair loop is
    // one multiply-add per element instead of three. Bit-identical to
    // cosineNative (CosineWithNorms' contract).
    val cands = candidates(assigned, stats, thetaTau)
      .select(col("vec_id").as("vec_x"), col("embedding").as("ex"),
        col("cell").as("cell_x"), col("partner"))
      .withColumn("nx2", VectorOps.dotNative(col("ex"), col("ex")))
    val other = assigned
      .select(col("cell").as("partner_cell"), col("vec_id").as("vec_y"), col("embedding").as("ey"))
      .withColumn("ny2", VectorOps.dotNative(col("ey"), col("ey")))
    cands
      .join(other, cands("partner") === other("partner_cell"))
      // cross-cell pairs appear once (partner > cell_x); intra-cell pairs
      // are ordered by id — together every unordered pair exactly once
      .filter(col("partner") =!= col("cell_x") || col("vec_x") < col("vec_y"))
      .withColumn("cosine", VectorOps.cosineWithNormsNative(
        col("ex"), col("ey"), col("nx2"), col("ny2")))
      .filter(col("cosine") >= tau)
      .select(least(col("vec_x"), col("vec_y")).as("vec_a"),
        greatest(col("vec_x"), col("vec_y")).as("vec_b"), col("cosine"))
  }
}
