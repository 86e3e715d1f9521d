package graft.similarity

import graft.{QueryDef, QueryModule}
import graft.operators.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import VectorOps._

/** Similarity-search suite (SURVEY.md §2.5) over `embeddings`.
  *
  * Scale design: the query side is always the small side and is
  * broadcast; the 100 TB data side is scanned once, never shuffled.
  * Brute-force top-k is the exactness baseline (oracle-checked); the
  * LSH-bucketed variant is the sub-linear scale path (bucket join
  * instead of cross product) and is recall-checked in the test suite.
  */
object Similarity extends QueryModule {

  private val K = 5
  private val NQueries = 10

  /** The q_hybrid_rrf frame, factored so `q_rag_assemble` composes the
    * SAME fused retrieval (both legs off their staged artifacts) as a
    * stage — one definition, two consumers, zero drift. `nprobe`
    * parameterizes ONLY the dense leg's probe width (r18):
    * `q_hybrid_recall` runs this same assembly at the deployment
    * setting and at the exhaustive default, so the two rankings it
    * compares cannot drift from each other or from q_hybrid_rrf's. */
  private def hybridRrf(s: org.apache.spark.sql.SparkSession,
                        dir: String,
                        nprobe: Int = SnapCells)
      : org.apache.spark.sql.DataFrame =
    fuseRrf(sparseRankFrame(s, dir), denseRankFrame(s, dir, nprobe))

  /** The sparse leg of the hybrid assembly — nprobe-INDEPENDENT, so
    * `hybridRecallGated` (which fuses the same sparse ranking against
    * two dense probe widths) can compute it once instead of running
    * the staged impact probe twice per execution (r18 optimization;
    * guide §1.2 "don't compute things you throw away"). */
  private[graft] def sparseRankFrame(s: org.apache.spark.sql.SparkSession,
                                     dir: String)
      : org.apache.spark.sql.DataFrame = {
    // the sparse leg reuses text_bm25's oracle through the index —
    // same >= k rounded-positive-matches precondition, asserted
    // loudly once per (session, dataset) (ADVICE r15)
    graft.textfn.TextQueries.assertBm25IndexedPrecondition(s, dir)
    val sparse = graft.textfn.TermIndex.probeStaged(s,
      graft.textfn.TermIndex.stagedIndex(s, dir),
      graft.textfn.TextQueries.Bm25Terms, 20)
    val ws = Window.orderBy(col("score").desc, col("doc_id"))
    sparse.select(col("doc_id"),
      row_number().over(ws).cast("long").as("sparse_rank"))
  }

  /** The dense leg at probe width `nprobe`, off the staged IVF index.
    * The dense leg serves off the STAGED IVF index (VERDICT r16 item
    * 5) — the same maintained artifact the snapshot variant pins,
    * probed live. Exhaustive probing (nprobe = nCells) makes the
    * ranking bit-identical to the brute-force cosine top-20
    * (VectorIndexSpec's pin), so the DuckDB oracle is unchanged while
    * the per-query scan is the index's co-located cell files instead
    * of a fresh corpus crossJoin — BOTH hybrid variants now read
    * maintained artifacts, and at deployment scale this leg drops
    * nprobe below nCells and trades the oracle for the measured-recall
    * gate (the knn_ivf story). The query vector (vec_id 0) is in the
    * index; probeIvf's vec_id == query_id self-exclusion keeps it out
    * of its own neighbor list, exactly as the old `=!= 0` filter did. */
  private[graft] def denseRankFrame(s: org.apache.spark.sql.SparkSession,
                                    dir: String,
                                    nprobe: Int)
      : org.apache.spark.sql.DataFrame = {
    val qdf = Tables(s, dir).embeddings
      .filter(col("vec_id") === 0L)
      .select(col("vec_id").as("query_id"), col("embedding"))
    graft.similarity.VectorIndex.probeIvf(
        s, stagedSnapshot.get(s, dir).vecDir, qdf, 20, nprobe = nprobe)
      .select(col("vec_id").as("doc_id"), col("rk").as("dense_rank"))
  }

  /** `q_hybrid_recall`'s gated assembly, floor-parameterized so
    * HybridRecallSpec can drive the query's OWN collapse gate (an
    * unreachable floor must empty the result through this filter, not
    * an externally applied one). Each fused ranking is collected ONCE
    * (two 20-row driver cuts — the text_bm25_indexed discipline): the
    * index scans and window sorts behind them run exactly once, where
    * reusing the lazy frames in both the overlap computation and the
    * output would re-execute the probe subtrees, doubling the
    * exhaustive instrumentation leg. Recall is then one division of
    * two small exact ints, computed driver-side and stamped on every
    * surviving row. */
  private[graft] def hybridRecallGated(s: org.apache.spark.sql.SparkSession,
                                       dir: String,
                                       floor: Double)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    // the sparse ranking is nprobe-independent: run the staged impact
    // probe ONCE and feed the same ≤20-row cut into both fusions (r18;
    // guide §1.2 — the pre-r18 shape ran the whole sparse probe chain
    // twice per execution for bit-identical rows). r19: the three
    // probe chains (sparse, dense@deploy, dense@exhaustive) are
    // mutually independent — collect them CONCURRENTLY (guide §2.6)
    // and fuse driver-side via the shared fuseLocal, so the query's
    // wall is max(chain) instead of their sum and the fusions cost
    // zero jobs. Row-for-row the same fuseRrf inputs as before, so
    // both rankings (and the recall gate) are unchanged.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val fSr = Future(rankMap(sparseRankFrame(s, dir), "sparse_rank"))
    val fDeploy = Future(rankMap(
      denseRankFrame(s, dir, DeployNProbe), "dense_rank"))
    val fExact = Future(rankMap(
      denseRankFrame(s, dir, SnapCells), "dense_rank"))
    val sr = Await.result(fSr, Duration.Inf)
    val deploy = fuseLocal(sr, Await.result(fDeploy, Duration.Inf)).take(20)
    val exactIds = fuseLocal(sr, Await.result(fExact, Duration.Inf))
      .take(20).map(_._1).toSet
    val nHit = deploy.map(_._1).count(exactIds.contains)
    // the pre-factor plan rounded via Spark's round() — BigDecimal
    // HALF_UP at 6dp, mirrored here bit-for-bit
    val recall = BigDecimal(nHit.toDouble / exactIds.size)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    deploy
      .toDF("doc_id", "sparse_rank", "dense_rank", "rrf")
      .withColumn("recall", lit(recall))
      .filter(col("recall") >= lit(floor))
      .orderBy(col("rrf").desc, col("doc_id"))
  }

  /** RRF fusion of two ranked 20-row frames (doc_id, sparse_rank) ×
    * (doc_id, dense_rank) — one definition for `q_hybrid_rrf` and
    * `q_hybrid_snapshot`, so the fusion arithmetic cannot drift between
    * the session-staged and snapshot-served paths.
    *
    * r19: fused DRIVER-SIDE over the two collected k-row cuts. The old
    * shape was a `full_outer` join of two ≤20-row frames — full outer
    * cannot broadcast either side, so every execution paid two
    * exchanges, a sort-merge join, and ~6 AQE stage jobs to merge ≤40
    * result-sized rows (measured: the fusion tail was 6 jobs × 41-43
    * tasks per run across all four hybrid consumers — guide §1.2: the
    * probes are the computation, the fusion is result assembly). Each
    * leg is collected ONCE (executing its probe chain exactly as the
    * join did) and the fused rows return as a local relation. The
    * arithmetic is the verbatim mirror of the old column expressions:
    * absent-from-list contributes 0.0 (the rank column was NULL under
    * the join, so `coalesce(1.0/(60+rank), 0.0)` yielded 0.0), present
    * contributes 1.0/(60L+rank) in double, sparse term + dense term in
    * that order, rounded via BigDecimal HALF_UP at 6dp — the same
    * mirror [[hybridRecallGated]] already pins ("Spark's round()
    * bit-for-bit"). Output rows ordered by (rrf DESC, doc_id), the old
    * orderBy. */
  private def fuseRrf(srk: org.apache.spark.sql.DataFrame,
                      drk: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val s = srk.sparkSession
    // the two probe chains are independent — collect them CONCURRENTLY
    // (guide §2.6), as the old joined DAG did via AQE's parallel stage
    // submission; serial collects would put the legs back-to-back
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val fSr = Future(rankMap(srk, "sparse_rank"))
    val dr = rankMap(drk, "dense_rank")
    val sr = Await.result(fSr, scala.concurrent.duration.Duration.Inf)
    import s.implicits._
    fuseLocal(sr, dr).toDF("doc_id", "sparse_rank", "dense_rank", "rrf")
      .orderBy(col("rrf").desc, col("doc_id"))
  }

  /** Collect a (doc_id, rank) cut — executes the leg's probe chain. */
  private def rankMap(df: org.apache.spark.sql.DataFrame,
                      rankCol: String): Map[Long, Long] = {
    val di = df.schema.fieldIndex("doc_id")
    val ri = df.schema.fieldIndex(rankCol)
    df.collect().map(r => r.getLong(di) -> r.getLong(ri)).toMap
  }

  /** The RRF arithmetic over two collected rank cuts, ordered by
    * (rrf DESC, doc_id) — see [[fuseRrf]] for the bit-identity
    * argument. */
  private def fuseLocal(sr: Map[Long, Long],
                        dr: Map[Long, Long]): Seq[(Long, Long, Long, Double)] =
    (sr.keySet ++ dr.keySet).toSeq.map { id =>
      val st = sr.get(id).map(r => 1.0 / (60L + r)).getOrElse(0.0)
      val dt = dr.get(id).map(r => 1.0 / (60L + r)).getOrElse(0.0)
      val rrf = BigDecimal(st + dt)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (id, sr.getOrElse(id, 0L), dr.getOrElse(id, 0L), rrf)
    }.sortBy { case (id, _, _, rrf) => (-rrf, id) }

  /** Session-staged PUBLISHED snapshot over `dir`'s full corpus — both
    * retrieval legs built as persisted indexes in a temp root, then one
    * [[graft.operators.ServingSnapshot]] version published pinning
    * their file sets; `q_hybrid_snapshot` serves off the RESOLVED
    * manifest, the deployment read path end-to-end. The dense index
    * includes vector 0 (the standing query) — the probe's
    * vec_id == query_id self-exclusion keeps it out of its own
    * neighbor list, the knn convention; pinning is a storage concern,
    * exclusion a query concern. */
  /** `root` holds only the per-session snapshot manifest; `vecDir` is
    * the dense index's LIVE root (possibly a StageCache entry) —
    * [[hybridRrf]] probes it directly (head state), while
    * `q_hybrid_snapshot` reads the pinned leg. */
  private final case class StagedSnapshot(
      root: String, vecDir: String,
      snapshot: graft.operators.ServingSnapshot.Snapshot)

  private[graft] val SnapCells = 16

  /** `q_hybrid_recall`'s deployment dense-leg probe width — the
    * knn_ivf setting (4 of 16 cells: ~25% of the corpus scored per
    * query). */
  private[graft] val DeployNProbe = 4

  /** Spec + gate recall floor for the deployment-settings fused
    * top-20 vs the exhaustive fused top-20 (one definition — the
    * [[RecallFloor]] discipline): the sparse leg is proof-gated exact,
    * so fused recall sits well above the dense-only knn_ivf floor;
    * measured 0.95 / 0.95 / 1.00 at sf0.001 / 0.01 / 0.1 (§6),
    * pinned at roughly half the measured band. */
  private[graft] val HybridRecallFloor = 0.45

  /** Session memo of the DETERMINISTIC quantizer trainings the ANN
    * QueryDefs run over the corpus tables (r19, guide §1.2): coarse
    * centroids, PQ codebooks, the norm-augmented corpus + M², and the
    * materialized vector frames they train on. Every training here is
    * bit-deterministic in its input (fixed-order float merges,
    * lowest-id init — the lloydStats contract), so memoizing is
    * observationally a no-op per query; what it removes is 8–12 tiny
    * driver-collect jobs per knn_* run (each a full corpus pass at
    * scale — in production these artifacts are the persisted index's
    * frozen quantizer, trained once, exactly like VectorIndex's
    * centroids). Spec entry points pass no memo dir and keep training
    * inline on their engineered frames. Values are either driver
    * arrays or localCheckpoint'd frames (cleaner-managed); teardown
    * unpersists any frames so clear() releases the blocks. */
  private val trainMemo =
    new graft.operators.SessionStaged[
      java.util.concurrent.ConcurrentHashMap[String, AnyRef]](
      (_, _) => new java.util.concurrent.ConcurrentHashMap[String, AnyRef],
      m => m.values.forEach {
        case df: org.apache.spark.sql.DataFrame => df.unpersist(); ()
        case (df: org.apache.spark.sql.DataFrame, _) => df.unpersist(); ()
        case _ => ()
      })

  private def trained[A <: AnyRef](s: org.apache.spark.sql.SparkSession,
                                   memoDir: Option[String], key: String)(
      build: => A): A =
    memoDir.fold(build)(dir =>
      trainMemo.get(s, dir).computeIfAbsent(key, _ => build).asInstanceOf[A])

  /** The corpus vector frame, materialized once per (session, dataset)
    * for the training/scan passes (localCheckpoint — the review-r13
    * discipline: cleaner-managed, no unreleasable persist). */
  private def stagedPlainVecs(s: org.apache.spark.sql.SparkSession,
                              dir: String): org.apache.spark.sql.DataFrame =
    trained(s, Some(dir), "ckpt:plain") {
      Tables(s, dir).embeddings
        .select(col("vec_id"), col("embedding")).localCheckpoint()
    }

  /** The norm-augmented corpus + frozen M², staged per (session,
    * dataset) — shared by the MIPS serving tier. */
  private def stagedAug(s: org.apache.spark.sql.SparkSession,
                        dir: String): (org.apache.spark.sql.DataFrame, Double) =
    trained(s, Some(dir), "ckpt:aug") {
      normAugmentedWithM2(Tables(s, dir).embeddings)
    }

  /** Bench staging hook: train the ANN tier's quantizers (and
    * materialize the frames they train on) so each knn_* run measures
    * the SERVING probe, not the one-time training — the
    * stagedDocFeatures discipline. */
  private[graft] def warmAnnTrainings(s: org.apache.spark.sql.SparkSession,
                                      dir: String): Unit = {
    val vecs = stagedPlainVecs(s, dir)
    val (aug, _) = stagedAug(s, dir)
    trained(s, Some(dir), "coarse:plain:16:2")(
      coarseCentroids(s, vecs, 16, iters = 2))
    trained(s, Some(dir), "coarse:aug:16:2")(
      coarseCentroids(s, aug, 16, iters = 2))
    trained(s, Some(dir), "books:plain:8:16:2")(
      pqCodebooks(s, vecs, 8, 16, iters = 2))
    trained(s, Some(dir), "books:aug:8:16:2")(
      pqCodebooks(s, aug, 8, 16, iters = 2))
    ()
  }

  val RagVecCacheTier = "rag_vec"
  private val stagedSnapshot =
    new graft.operators.SessionStaged[StagedSnapshot]((s, dir) => {
      // the sparse leg REUSES the session-staged TermIndex (the same
      // immutable full-corpus artifact text_bm25_indexed and
      // q_hybrid_rrf serve from) — the snapshot pins its files, it
      // does not need a private copy
      val term = graft.textfn.TermIndex.stagedIndex(s, dir).dir
      // the dense index rides the cross-invocation StageCache (r17):
      // build-once per (dataset, code) on the machine, one k-means +
      // one partitioned write saved per later JVM
      val (vec, _) = graft.operators.StageCache.dir(
          s, dir, RagVecCacheTier, 1, "graft_ragvec") { into =>
        graft.similarity.VectorIndex.buildIvf(s,
          Tables(s, dir).embeddings.select(col("vec_id"), col("embedding")),
          into, nCells = SnapCells)
      }
      // the MANIFEST is always published fresh per session (a census
      // listing + one small file — ~0.03 s, §6 ragsnap record): it pins
      // ABSOLUTE index paths, so caching it would couple this entry's
      // lifetime to the exact on-disk location and census of the other
      // two cache entries; publishing against whatever term/vec dirs
      // THIS session resolved is both cheap and unconditionally correct
      val tmp = java.nio.file.Files.createTempDirectory("graft_ragsnap").toString
      try {
        val snap = s"$tmp/snap"
        graft.operators.ServingSnapshot.publish(snap,
          Map("sparse" -> term, "dense" -> vec))
        StagedSnapshot(tmp, vec,
          graft.operators.ServingSnapshot.resolve(snap))
      } catch {
        case t: Throwable =>
          graft.operators.IndexFs.deleteQuietly(tmp); throw t
      }
    }, st => {
      graft.operators.IndexFs.deleteQuietly(st.root)
      // the vec dir is scratch ONLY when the cache was off; a cache
      // entry outlives the session by design
      if (!graft.operators.StageCache.isCachePath(st.vecDir))
        graft.operators.IndexFs.deleteQuietly(st.vecDir)
    })

  // staged snapshot roots must not outlive the JVM (the TermIndex rule)
  Runtime.getRuntime.addShutdownHook(new Thread(() => stagedSnapshot.clear()))

  /** Bench staging hook: build + publish the session snapshot so
    * `q_hybrid_snapshot` measures the SERVING read path, not the
    * one-time index builds. */
  private[graft] def warmStagedSnapshot(s: org.apache.spark.sql.SparkSession,
                                        dir: String): Unit = {
    stagedSnapshot.get(s, dir); ()
  }

  /** q_hybrid_rrf's oracle, shared verbatim with q_rag_assemble's
    * `fused` CTE. */
  private def hybridRrfSql: String = s"""WITH srk AS (
        SELECT doc_id,
          CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS sparse_rank
        FROM (${graft.textfn.TextQueries.Bm25Sql}) b),
      dense AS (
        SELECT e.vec_id AS doc_id, ${cosineSql("qe", "embedding")} AS cos
        FROM (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q, embeddings e
        WHERE e.vec_id <> 0
        ORDER BY cos DESC, doc_id LIMIT 20),
      drk AS (
        SELECT doc_id,
          CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS BIGINT) AS dense_rank
        FROM dense)
      SELECT COALESCE(s.doc_id, d.doc_id) AS doc_id,
        COALESCE(s.sparse_rank, 0) AS sparse_rank,
        COALESCE(d.dense_rank, 0) AS dense_rank,
        ROUND(COALESCE(1.0 / (60 + s.sparse_rank), 0) + COALESCE(1.0 / (60 + d.dense_rank), 0), 6) AS rrf
      FROM srk s FULL OUTER JOIN drk d ON s.doc_id = d.doc_id
      ORDER BY rrf DESC, doc_id"""
  /** q_rag_assemble's suppress-then-pack stage over a candidate frame
    * of (doc_id, rrf, toks, n_tokens), factored out of the QueryDef so
    * RagAssembleSpec can pin the RULE on engineered candidate sets
    * independent of the shipped corpus. Suppression is the ONE-PASS
    * candidate rule — drop a doc whose distinct-token jaccard with ANY
    * higher-fused-rank CANDIDATE (kept or not; higher = larger rrf, tie
    * smaller doc_id) reaches `jaccardTau`; packing is the running-sum
    * prefix cut at `budget` in fusion-rank order. Candidate frames are
    * retrieval-sized (≤ tens of rows — broadcast self-join, global
    * window), never corpus-sized. */
  private[similarity] def assembleContext(
      cands: org.apache.spark.sql.DataFrame,
      jaccardTau: Double = 0.9,
      budget: Long = 600L): org.apache.spark.sql.DataFrame = {
    val hi = cands.select(col("doc_id").as("hi_id"),
      col("rrf").as("hi_rrf"), col("toks").as("hi_toks"))
    val suppressed = cands.join(broadcast(hi),
        (col("hi_rrf") > col("rrf")) ||
          (col("hi_rrf") === col("rrf") && col("hi_id") < col("doc_id")))
      .filter(size(array_intersect(col("toks"), col("hi_toks"))).cast("double") /
        size(array_union(col("toks"), col("hi_toks"))).cast("double") >= jaccardTau)
      .select(col("doc_id")).distinct()
    val w = Window.orderBy(col("rrf").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cands.join(suppressed, Seq("doc_id"), "left_anti")
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= lit(budget))
      .select(col("doc_id"), col("rrf"), col("n_tokens"), col("cum_tokens"))
      .orderBy(col("rrf").desc, col("doc_id"))
  }

  // knn_join neighborhood floor — matches dedup_embedding's CosineTau so
  // the same angular-blocked candidate plan serves both
  private val KnnJoinTau = 0.3
  // knn_radius ball: 0.25 sits ~2 sigma into the isotropic cosine tail,
  // so every query's ball is populated but far from the whole corpus
  private val RadiusTau = 0.25

  /** All hyperplane sign-buckets for every row in one kernel pass:
    * emits (vec_id, embedding, band, bucket) rows. Planes are built once
    * on the driver (deterministic seed) and broadcast.
    */
  private def bucketize(s: org.apache.spark.sql.SparkSession,
                        data: org.apache.spark.sql.DataFrame,
                        nBands: Int, planesPerBand: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val planes: Array[Array[Array[Double]]] =
      (0 until nBands).map(b => hyperplanes(planesPerBand, 64, seed = 42L + b)).toArray
    val pb = s.sparkContext.broadcast(planes)
    val idIdx = data.schema.fieldIndex("vec_id")
    val embIdx = data.schema.fieldIndex("embedding")
    val outSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("band", IntegerType),
      StructField("bucket", IntegerType)))
    data.mapPartitions { rows =>
      val ps = pb.value
      rows.flatMap { row =>
        val id = row.getLong(idIdx)
        val emb = row.getSeq[Float](embIdx)
        val dims = emb.length
        (0 until ps.length).iterator.map { b =>
          var bucket = 0
          var p = 0
          while (p < ps(b).length) {
            val plane = ps(b)(p)
            var dot = 0.0
            var i = 0
            val n = math.min(dims, plane.length)
            while (i < n) { dot += emb(i).toDouble * plane(i); i += 1 }
            if (dot > 0) bucket |= (1 << p)
            p += 1
          }
          Row(id, emb, b, bucket)
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Per-partition exact top-k by cosine for each broadcast query
    * vector. Emits at most `queries * k` rows per partition, each a
    * candidate for the global merge. Total order (cosine desc, vec_id
    * asc) makes the selection deterministic under ties.
    */
  private def partitionTopK(s: org.apache.spark.sql.SparkSession,
                            data: org.apache.spark.sql.DataFrame,
                            queries: org.apache.spark.sql.DataFrame,
                            k: Int,
                            labelFiltered: Boolean = false,
                            scoreDot: Boolean = false): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    // with labelFiltered, queries carry a third `label` column and a
    // corpus row is scored for a query only on label match — the
    // filtered-ANN shape: the predicate runs INSIDE the scorer, so one
    // corpus pass still serves every query (vs one filtered scan each).
    // Label accessors are resolved from the SCHEMA up front (loud
    // IllegalArgumentException on a non-integral label column) instead
    // of a positional getInt that would throw an opaque
    // ClassCastException at runtime on a LongType/StringType label.
    def labelReader(schema: StructType, what: String): Row => Int = {
      val i = schema.fieldIndex("label")
      schema.fields(i).dataType match {
        case IntegerType => r => r.getInt(i)
        case ShortType   => r => r.getShort(i).toInt
        case ByteType    => r => r.getByte(i).toInt
        case LongType    => r => Math.toIntExact(r.getLong(i))
        case dt => throw new IllegalArgumentException(
          s"$what label column must be integral for filtered kNN, got $dt")
      }
    }
    val qLabelRead: Row => Int =
      if (labelFiltered) labelReader(queries.schema, "query") else _ => 0
    val q = queries.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).toArray,
        if (labelFiltered) qLabelRead(r) else 0)).sortBy(_._1)
    val qb = s.sparkContext.broadcast(q)
    val outSchema = StructType(Seq(
      StructField("qid", LongType), StructField("vec_id", LongType),
      StructField("cosine", DoubleType)))
    val idIdx = data.schema.fieldIndex("vec_id")
    val embIdx = data.schema.fieldIndex("embedding")
    val labIdx = if (labelFiltered) data.schema.fieldIndex("label") else -1
    val dataLabelRead: Row => Int =
      if (labelFiltered) labelReader(data.schema, "corpus") else _ => 0
    data.mapPartitions { rows =>
      val qs = qb.value
      // (cosine asc, vec_id desc) ordering so the heap root is the entry
      // to evict when something better (higher cosine / lower id) shows up
      val ord = Ordering.by[(Long, Double), (Double, Long)] { case (id, c) => (-c, id) }
      val heaps = Array.fill(qs.length)(scala.collection.mutable.PriorityQueue.empty[(Long, Double)](ord))
      rows.foreach { row =>
        val id = row.getLong(idIdx)
        val emb = row.getSeq[Float](embIdx)
        val rowLabel = if (labIdx >= 0) dataLabelRead(row) else 0
        var qi = 0
        while (qi < qs.length) {
          val (qid, qe, qLabel) = qs(qi)
          if (id != qid && (labIdx < 0 || rowLabel == qLabel)) {
            var dot = 0.0; var na = 0.0; var nb = 0.0
            var i = 0
            val n = math.min(qe.length, emb.length)
            // scoreDot: raw inner product (the MIPS objective) — same
            // index-order accumulation, no normalization. The branch is
            // hoisted OUT of the inner loop: the norm accumulators are
            // discarded in MIPS mode and keeping them roughly doubles
            // the kernel's FLOPs (review finding r13)
            if (scoreDot) {
              while (i < n) { dot += qe(i).toDouble * emb(i).toDouble; i += 1 }
            } else {
              while (i < n) {
                val x = qe(i).toDouble; val y = emb(i).toDouble
                dot += x * y; na += x * x; nb += y * y
                i += 1
              }
            }
            val c = if (scoreDot) dot else dot / (math.sqrt(na) * math.sqrt(nb))
            val h = heaps(qi)
            if (h.size < k) h.enqueue((id, c))
            else {
              val (wid, wc) = h.head
              if (c > wc || (c == wc && id < wid)) { h.dequeue(); h.enqueue((id, c)) }
            }
          }
          qi += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
        val qid = qs(qi)._1
        h.iterator.map { case (id, c) => Row(qid, id, c) }
      }
    }(Encoders.row(outSchema))
  }

  /** Distributed Lloyd's for the IVF coarse quantizer, shaped for the
    * fixed tiny-k regime (nCells centroids, corpus of any size): each
    * iteration is ONE job emitting nCells partial (sum, count) rows per
    * partition — map-side combine in a kernel, merged on the driver in a
    * fixed (cell, partition) order so float summation is deterministic.
    * MLlib's KMeans fits the general case but pays per-iteration job
    * fan-out + ML-vector UDF conversion; for a coarse quantizer two
    * passes over the data already carve the space (FAISS trains IVF on
    * a sample for the same reason). Empty cells keep their previous
    * centroid. Init is the nCells lowest-vec_id vectors (deterministic,
    * one top-k job).
    */
  private[similarity] def coarseCentroids(s: org.apache.spark.sql.SparkSession,
                              data: org.apache.spark.sql.DataFrame,
                              nCells: Int, iters: Int): Array[Array[Double]] =
    lloydStats(s, data, nCells, iters)._1

  /** [[coarseCentroids]] plus the per-iteration INERTIA trajectory —
    * inertia(t) = Σ ||v − nearest(cents_t)||² measured under the SAME
    * assignment that iteration's update derives from, so the array is
    * the classic Lloyd's monotone objective (non-increasing up to
    * float-rounding wobble at convergence — the merge sums partials in
    * fixed (cell, partition) order, so the trajectory itself is
    * deterministic). The extra double per partial row costs nothing;
    * `cluster_kmeans` surfaces the monotonicity as a driver-visible
    * gate. */
  private[similarity] def lloydStats(s: org.apache.spark.sql.SparkSession,
                              data: org.apache.spark.sql.DataFrame,
                              nCells: Int, iters: Int): (Array[Array[Double]], Array[Double]) = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val embIdx = data.schema.fieldIndex("embedding")
    var cents: Array[Array[Double]] = data
      .orderBy(col("vec_id")).limit(nCells).collect()
      .map(_.getSeq[Float](embIdx).map(_.toDouble).toArray)
    val inertias = new Array[Double](iters)
    val partialSchema = StructType(Seq(
      StructField("part", IntegerType), StructField("cell", IntegerType),
      StructField("cnt", LongType),
      StructField("vsum", ArrayType(DoubleType, containsNull = false)),
      StructField("sqd", DoubleType)))
    for (t <- 0 until iters) {
      val bc = s.sparkContext.broadcast(cents)
      val partials = data.mapPartitions { rows =>
        val cs = bc.value
        val k = cs.length
        val sums = new Array[Array[Double]](k)
        val counts = new Array[Long](k)
        val sqds = new Array[Double](k)
        rows.foreach { row =>
          val emb = row.getSeq[Float](embIdx)
          val cell = nearestCell(cs, emb)
          if (sums(cell) == null) sums(cell) = new Array[Double](emb.length)
          val acc = sums(cell)
          val cent = cs(cell)
          var i = 0
          val n = math.min(acc.length, emb.length)
          var d = 0.0
          while (i < n) {
            acc(i) += emb(i)
            val dt = emb(i) - cent(i)
            d += dt * dt
            i += 1
          }
          sqds(cell) += d
          counts(cell) += 1L
        }
        val pid = org.apache.spark.TaskContext.getPartitionId()
        (0 until k).iterator.filter(counts(_) > 0).map(c =>
          Row(pid, c, counts(c), (sums(c).toSeq: Seq[Double]), sqds(c)))
      }(Encoders.row(partialSchema)).collect() // nCells x P tiny rows
      val next = cents.map(_.clone())
      val totals = new Array[Long](cents.length)
      val accs = new Array[Array[Double]](cents.length)
      partials.sortBy(r => (r.getInt(1), r.getInt(0))).foreach { r =>
        val c = r.getInt(1)
        val vs = r.getSeq[Double](3)
        if (accs(c) == null) accs(c) = new Array[Double](vs.length)
        var i = 0
        while (i < vs.length) { accs(c)(i) += vs(i); i += 1 }
        totals(c) += r.getLong(2)
        inertias(t) += r.getDouble(4)
      }
      var c = 0
      while (c < cents.length) {
        if (totals(c) > 0) {
          var i = 0
          while (i < accs(c).length) { next(c)(i) = accs(c)(i) / totals(c); i += 1 }
        }
        c += 1
      }
      cents = next
    }
    (cents, inertias)
  }

  /** Components surfaced by `embed_pca` (the full d-dim basis still
    * backs the gates — only the OUTPUT is truncated). */
  private[similarity] val PcaComponents = 16

  /** One-pass covariance partials over the `array<float>` embedding
    * column. See [[covarianceKernel]]. */
  private[similarity] def covarianceStats(s: org.apache.spark.sql.SparkSession,
                              data: org.apache.spark.sql.DataFrame):
      (Long, Array[Double], Array[Array[Double]]) =
    covarianceKernel(s, data, "embedding", floatInput = true)

  /** THE one-pass covariance kernel (float and double array columns —
    * one body, review finding r13: the double variant shipped as a
    * near-verbatim copy that also dropped the cross-partition dim
    * check) — the lloydStats discipline: each partition emits (pid,
    * count, Σv, packed upper-triangular Σvvᵀ), merged on the driver in
    * fixed partition order so float summation is deterministic.
    * Returns (n, mean, population covariance C = Σvvᵀ/n − mean·meanᵀ). */
  private def covarianceKernel(s: org.apache.spark.sql.SparkSession,
                              data: org.apache.spark.sql.DataFrame,
                              colName: String, floatInput: Boolean):
      (Long, Array[Double], Array[Array[Double]]) = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val embIdx = data.schema.fieldIndex(colName)
    val partialSchema = StructType(Seq(
      StructField("part", IntegerType), StructField("cnt", LongType),
      StructField("vsum", ArrayType(DoubleType, containsNull = false)),
      StructField("outer", ArrayType(DoubleType, containsNull = false))))
    val partials = data.mapPartitions { rows =>
      var cnt = 0L
      var vsum: Array[Double] = null
      var outer: Array[Double] = null
      rows.foreach { row =>
        // one O(d) copy per row into a PRIMITIVE array, so the O(d²)
        // inner loop below indexes unboxed doubles — the boxed-Seq
        // `.map(_.toDouble)` intermediate it replaces paid a box per
        // element and then boxed apply() d²/2 more times (ADVICE r13)
        val emb: Array[Double] =
          if (floatInput) {
            val f = row.getSeq[Float](embIdx)
            val a = new Array[Double](f.length)
            var i = 0
            while (i < a.length) { a(i) = f(i).toDouble; i += 1 }
            a
          } else {
            val g = row.getSeq[Double](embIdx)
            val a = new Array[Double](g.length)
            var i = 0
            while (i < a.length) { a(i) = g(i); i += 1 }
            a
          }
        val d = emb.length
        if (vsum == null) { vsum = new Array[Double](d); outer = new Array[Double](d * (d + 1) / 2) }
        require(emb.length == vsum.length,
          s"covarianceKernel requires a fixed dim: saw ${emb.length} and ${vsum.length}")
        var i = 0
        var p = 0
        while (i < d) {
          val xi = emb(i)
          vsum(i) += xi
          var j = i
          while (j < d) { outer(p) += xi * emb(j); j += 1; p += 1 }
          i += 1
        }
        cnt += 1L
      }
      if (cnt == 0) Iterator.empty
      else Iterator.single(Row(org.apache.spark.TaskContext.getPartitionId(), cnt,
        (vsum.toSeq: Seq[Double]), (outer.toSeq: Seq[Double])))
    }(Encoders.row(partialSchema)).collect()
    require(partials.nonEmpty, "covarianceKernel on an empty corpus")
    val d = partials.head.getSeq[Double](2).length
    var n = 0L
    val vsum = new Array[Double](d)
    val outer = new Array[Double](d * (d + 1) / 2)
    partials.sortBy(_.getInt(0)).foreach { r =>
      n += r.getLong(1)
      val vs = r.getSeq[Double](2); val os = r.getSeq[Double](3)
      require(vs.length == d && os.length == outer.length,
        "embed_pca: partitions disagree on embedding dim")
      var i = 0
      while (i < d) { vsum(i) += vs(i); i += 1 }
      i = 0
      while (i < outer.length) { outer(i) += os(i); i += 1 }
    }
    val mean = vsum.map(_ / n)
    val cov = Array.ofDim[Double](d, d)
    var i = 0
    var p = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val c = outer(p) / n - mean(i) * mean(j)
        cov(i)(j) = c; cov(j)(i) = c
        j += 1; p += 1
      }
      i += 1
    }
    (n, mean, cov)
  }

  /** [[covarianceKernel]] over an `array<double>` column — the gate
    * pass of `embed_whiten` (the whitened output is double-precision;
    * re-reading it as floats would fold storage rounding into the very
    * residual the gate measures). */
  private[similarity] def covarianceStatsDouble(s: org.apache.spark.sql.SparkSession,
                              data: org.apache.spark.sql.DataFrame,
                              colName: String):
      (Long, Array[Double], Array[Array[Double]]) =
    covarianceKernel(s, data, colName, floatInput = false)

  /** embed_whiten body — PCA WHITENING applied to the corpus:
    * w = Λ^(−1/2) · Vᵀ · (v − mean) over the eigenbasis of the
    * population covariance, so the OUTPUT's covariance is the identity
    * (unit variance every direction, zero cross-correlation — the
    * SemDeDup preprocessing that stops one dominant direction from
    * swamping cosine). Near-null directions (λ ≤ 1e-12 · trace) are
    * DROPPED, not divided by: whitening a rank-deficient direction
    * divides noise by ~0 (n_components reports the kept count).
    *
    * Two corpus passes, no shuffle: the covariance pass (shared
    * [[covarianceStats]] kernel), then one map pass applying the
    * broadcast d×W transform. The GATE pass re-derives the covariance
    * OF THE OUTPUT ([[covarianceStatsDouble]]) — an output-side check
    * of the applied transform, not a restatement of the eigensolve —
    * and every row carries max |C_w(i,j)| (i≠j), max |C_w(i,i) − 1|,
    * and max |mean_w|: a mis-applied basis cannot keep all three near
    * zero. Rows-only BY DESIGN (eigensolve inside — the embed_pca
    * class); WhitenSpec pins identity-covariance on an engineered
    * anisotropic+correlated corpus, planted-correlation removal, and
    * rerun byte-identity. Row order is NOT part of the contract — the
    * former trailing .orderBy(vec_id) was a corpus-wide global sort for
    * presentation only and was dropped in r15 (consumers that need an
    * order sort their own driver-sized outputs). */
  private[graft] def whiten(s: org.apache.spark.sql.SparkSession,
                            vecs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val (_, mean, cov) = covarianceStats(s, vecs)
    val (evals, vectors) = jacobiEigen(cov)
    val trace = cov.indices.map(i => cov(i)(i)).sum
    val floor = 1e-12 * math.max(trace, java.lang.Double.MIN_NORMAL)
    val kept = evals.indices.sortBy(i => (-evals(i), i)).filter(evals(_) > floor)
    require(kept.nonEmpty, "embed_whiten: covariance has no positive direction")
    // d×W transform column c = V[:, kept(c)] / sqrt(λ_kept(c))
    val d = mean.length
    val tf = Array.tabulate(d, kept.length)((r, c) =>
      vectors(r)(kept(c)) / math.sqrt(evals(kept(c))))
    val bc = s.sparkContext.broadcast((mean, tf))
    val idIdx = vecs.schema.fieldIndex("vec_id")
    val embIdx = vecs.schema.fieldIndex("embedding")
    val outSchema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("whitened", ArrayType(DoubleType, containsNull = false), nullable = false)))
    val whitened = vecs.mapPartitions { rows =>
      val (m, t) = bc.value
      val w = t(0).length
      rows.map { row =>
        val emb = row.getSeq[Float](embIdx)
        val out = new Array[Double](w)
        var i = 0
        while (i < m.length) {
          val x = emb(i).toDouble - m(i)
          var c = 0
          while (c < w) { out(c) += x * t(i)(c); c += 1 }
          i += 1
        }
        Row(row.getLong(idIdx), (out.toSeq: Seq[Double]))
      }
    }(Encoders.row(outSchema))
      // localCheckpoint (cleaner-managed), not persist: the gate pass
      // and the returned frame both read this, but a persist entry
      // would pin a corpus-sized double frame for the whole session
      // with no release handle (review finding r13)
      .localCheckpoint()
    val (_, wMean, wCov) = covarianceStatsDouble(s, whitened, "whitened")
    var offdiag = 0.0
    var diagErr = 0.0
    var meanResid = 0.0
    for (i <- wCov.indices) {
      meanResid = math.max(meanResid, math.abs(wMean(i)))
      diagErr = math.max(diagErr, math.abs(wCov(i)(i) - 1.0))
      for (j <- i + 1 until wCov.length)
        offdiag = math.max(offdiag, math.abs(wCov(i)(j)))
    }
    whitened
      .withColumn("n_components", lit(kept.length.toLong))
      .withColumn("whiten_offdiag", lit(math.rint(offdiag * 1e9) / 1e9))
      .withColumn("whiten_diag_err", lit(math.rint(diagErr * 1e9) / 1e9))
      .withColumn("whiten_mean_resid", lit(math.rint(meanResid * 1e9) / 1e9))
  }

  val WhitenCacheTier = "whiten"

  /** Session-staged [[whiten]] frame per (session, dataset) — ONE
    * eigensolve serving both consumers: `embed_whiten` (the scalar
    * boundary projection) and `dedup_semantic_whitened` (SemDeDup-style
    * clustering over the whitened space — VERDICT r14 item 3: the
    * full-vector frame was explicitly kept as the API for this). The
    * frame is localCheckpoint'd inside [[whiten]], so reuse scans the
    * materialized blocks — WhitenedDedupSpec pins the reference
    * identity and the checkpoint-scan plan (no second covariance
    * pass). No teardown: checkpoint blocks are cleaner-managed. */
  private val stagedWhiten = new graft.operators.SessionStaged[org.apache.spark.sql.DataFrame](
    (s, dir) => graft.operators.StageCache.frame(s, dir, WhitenCacheTier, 1) {
      // cache MISS/off: the one-per-session eigensolve + checkpoint;
      // HIT: one parquet read, no covariance pass at all
      whiten(s, graft.operators.Tables(s, dir).embeddings
        .select(col("vec_id"), col("embedding")))
    })

  private[graft] def stagedWhitenFrame(s: org.apache.spark.sql.SparkSession,
                                       dir: String): org.apache.spark.sql.DataFrame =
    stagedWhiten.get(s, dir)

  /** embed_whiten's OUTPUT-BOUNDARY projection of the full-width
    * [[whiten]] frame: the vector crosses the driver gate as SCALARS —
    * 6dp L2 norm (left-fold, the house float chain) + the first four
    * components — never a raw array<double> (the r13 FAIL class,
    * machine-banned by OutputBoundarySpec). Factored out so the spec
    * can pin the rank-deficient path directly: component reads are
    * `try_element_at`, NOT `element_at`, because this repo runs ANSI-on
    * (Spark 4 default, never disabled) and a plain element_at past the
    * array end THROWS INVALID_ARRAY_INDEX_IN_ELEMENT_AT instead of
    * returning NULL — a corpus keeping < 4 components would crash the
    * driver gate, the exact class the r14 rewrite was meant to fix
    * (ADVICE r14). try_element_at NULLs out-of-bounds, which the
    * harness sorts fine. No output .orderBy: a corpus-wide global sort
    * for presentation only (the driver sorts during canonicalization) —
    * dropped in r15 along with whiten()'s internal sort. */
  private[graft] def whitenScalars(w: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    w.select(
      col("vec_id"),
      round(sqrt(aggregate(col("whitened"), lit(0.0),
        (acc, x) => acc + x * x)), 6).as("w_norm"),
      round(try_element_at(col("whitened"), lit(1)), 6).as("w0"),
      round(try_element_at(col("whitened"), lit(2)), 6).as("w1"),
      round(try_element_at(col("whitened"), lit(3)), 6).as("w2"),
      round(try_element_at(col("whitened"), lit(4)), 6).as("w3"),
      col("n_components"), col("whiten_offdiag"),
      col("whiten_diag_err"), col("whiten_mean_resid"))

  /** Deterministic cyclic Jacobi eigensolve for the tiny symmetric
    * covariance (d ≤ a few hundred): row-major (p, q) sweeps, fixed
    * 30-sweep bound with a deterministic small-off-diagonal early
    * exit — same input, same rotations, same bits. Returns
    * (eigenvalues, eigenvector matrix with vectors as COLUMNS), each
    * vector's sign fixed so its largest-|entry| (first on tie) is
    * positive — reruns are byte-identical. */
  private[similarity] def jacobiEigen(aIn: Array[Array[Double]]):
      (Array[Double], Array[Array[Double]]) = {
    val d = aIn.length
    val a = aIn.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    val scale = math.max(a.indices.map(i => math.abs(a(i)(i))).max, 1e-300)
    var sweep = 0
    var converged = false
    while (sweep < 30 && !converged) {
      var off = 0.0
      for (p <- 0 until d; q <- p + 1 until d) off = math.max(off, math.abs(a(p)(q)))
      if (off <= 1e-14 * scale) converged = true
      else {
        for (p <- 0 until d; q <- p + 1 until d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = math.signum(theta) match {
              case 0.0 => 1.0
              case sgn => sgn / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val sn = t * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - sn * akq
              a(k)(q) = sn * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - sn * aqk
              a(q)(k) = sn * apk + c * aqk
              k += 1
            }
            k = 0
            while (k < d) {
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - sn * vkq
              v(k)(q) = sn * vkp + c * vkq
              k += 1
            }
          }
        }
      }
      sweep += 1
    }
    val evals = Array.tabulate(d)(i => a(i)(i))
    // sign convention: largest-|entry| (first on tie) positive
    for (j <- 0 until d) {
      var best = 0
      for (i <- 1 until d) if (math.abs(v(i)(j)) > math.abs(v(best)(j))) best = i
      if (v(best)(j) < 0.0) {
        var i = 0
        while (i < d) { v(i)(j) = -v(i)(j); i += 1 }
      }
    }
    (evals, v)
  }

  /** L2-normalized copy of an embedding (zero vector stays zero).
    * PQ trains and scans on normalized vectors so ADC's L2 ranking is
    * the suite's cosine ranking: for unit vectors,
    * ||q - x||² = 2 - 2·cos(q, x). */
  private[similarity] def normalized(emb: Seq[Float]): Array[Double] = {
    val a = new Array[Double](emb.length)
    var n = 0.0
    var i = 0
    while (i < a.length) { val x = emb(i).toDouble; a(i) = x; n += x * x; i += 1 }
    val inv = if (n > 0.0) 1.0 / math.sqrt(n) else 0.0
    i = 0
    while (i < a.length) { a(i) *= inv; i += 1 }
    a
  }

  /** Subspace start offsets for an M-way product split of `dims`
    * dimensions (the last subspace absorbs any remainder). */
  private[similarity] def pqOffsets(dims: Int, m: Int): Array[Int] = {
    val sub = dims / m
    Array.tabulate(m + 1)(i => if (i == m) dims else i * sub)
  }

  /** Nearest-centroid code per subspace (squared L2 over the slice,
    * first-minimum tiebreak — the same rule everywhere, so encode,
    * training assignment, and the spec's reconstruction agree). */
  private[similarity] def pqEncode(books: Array[Array[Array[Double]]],
                                   offs: Array[Int], v: Array[Double]): Array[Int] = {
    val code = new Array[Int](books.length)
    var m = 0
    while (m < books.length) {
      val cents = books(m)
      val lo = offs(m); val hi = offs(m + 1)
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cents.length) {
        var d = 0.0
        var i = lo
        while (i < hi) { val t = v(i) - cents(c)(i - lo); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      code(m) = best
      m += 1
    }
    code
  }

  /** ADC lookup table for one query: lut(m)(c) = ||q_m - centroid||²,
    * so an encoded vector's approximate distance is Σ_m lut(m)(code(m))
    * — M table lookups instead of a dims-wide dot product. */
  private[similarity] def adcLut(books: Array[Array[Array[Double]]],
                                 offs: Array[Int], q: Array[Double]): Array[Array[Double]] =
    Array.tabulate(books.length) { m =>
      val lo = offs(m); val hi = offs(m + 1)
      books(m).map { cent =>
        var d = 0.0
        var i = lo
        while (i < hi) { val t = q(i) - cent(i - lo); d += t * t; i += 1 }
        d
      }
    }

  /** Product-quantization codebooks: M subspaces × kSub centroids over
    * L2-NORMALIZED vectors, trained with the coarseCentroids discipline
    * (one job per Lloyd iteration, map-side partial sums, fixed-order
    * driver merge for deterministic float summation) — but across ALL
    * subspaces in that single pass, so M-way PQ training costs the same
    * job count as one coarse quantizer. Init: the kSub lowest-vec_id
    * vectors, sliced. */
  private[similarity] def pqCodebooks(s: org.apache.spark.sql.SparkSession,
                                      data: org.apache.spark.sql.DataFrame,
                                      m: Int, kSub: Int, iters: Int): Array[Array[Array[Double]]] = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val embIdx = data.schema.fieldIndex("embedding")
    val init = data.orderBy(col("vec_id")).limit(kSub).collect()
      .map(r => normalized(r.getSeq[Float](embIdx)))
    require(init.nonEmpty, "pqCodebooks: empty corpus")
    val dims = init.head.length
    val offs = pqOffsets(dims, m)
    var books: Array[Array[Array[Double]]] =
      Array.tabulate(m)(mi => init.map(v => v.slice(offs(mi), offs(mi + 1))))
    val partialSchema = StructType(Seq(
      StructField("part", IntegerType), StructField("m", IntegerType),
      StructField("cell", IntegerType), StructField("cnt", LongType),
      StructField("vsum", ArrayType(DoubleType, containsNull = false))))
    for (_ <- 0 until iters) {
      val bb = s.sparkContext.broadcast(books)
      val partials = data.mapPartitions { rows =>
        val bs = bb.value
        val sums = Array.tabulate(m)(mi => new Array[Array[Double]](bs(mi).length))
        val counts = Array.tabulate(m)(mi => new Array[Long](bs(mi).length))
        rows.foreach { row =>
          val v = normalized(row.getSeq[Float](embIdx))
          val code = pqEncode(bs, offs, v)
          var mi = 0
          while (mi < m) {
            val c = code(mi)
            if (sums(mi)(c) == null) sums(mi)(c) = new Array[Double](offs(mi + 1) - offs(mi))
            val acc = sums(mi)(c)
            var i = 0
            while (i < acc.length) { acc(i) += v(offs(mi) + i); i += 1 }
            counts(mi)(c) += 1L
            mi += 1
          }
        }
        val pid = org.apache.spark.TaskContext.getPartitionId()
        (0 until m).iterator.flatMap { mi =>
          (0 until counts(mi).length).iterator.filter(counts(mi)(_) > 0).map(c =>
            Row(pid, mi, c, counts(mi)(c), (sums(mi)(c).toSeq: Seq[Double])))
        }
      }(Encoders.row(partialSchema)).collect() // m x kSub x P tiny rows
      val next = books.map(_.map(_.clone()))
      val totals = Array.tabulate(m)(mi => new Array[Long](books(mi).length))
      val accs = Array.tabulate(m)(mi => new Array[Array[Double]](books(mi).length))
      partials.sortBy(r => (r.getInt(1), r.getInt(2), r.getInt(0))).foreach { r =>
        val mi = r.getInt(1); val c = r.getInt(2)
        val vs = r.getSeq[Double](4)
        if (accs(mi)(c) == null) accs(mi)(c) = new Array[Double](vs.length)
        var i = 0
        while (i < vs.length) { accs(mi)(c)(i) += vs(i); i += 1 }
        totals(mi)(c) += r.getLong(3)
      }
      for (mi <- 0 until m; c <- books(mi).indices if totals(mi)(c) > 0) {
        var i = 0
        while (i < accs(mi)(c).length) { next(mi)(c)(i) = accs(mi)(c)(i) / totals(mi)(c); i += 1 }
      }
      books = next
    }
    books
  }

  private[similarity] def nearestCell(cs: Array[Array[Double]], emb: Seq[Float]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      var d = 0.0
      var i = 0
      val n = math.min(cs(c).length, emb.length)
      while (i < n) { val t = emb(i) - cs(c)(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Broadcast-centroid cell assignment: one narrow kernel pass. */
  /** Per-cluster summary under the FINAL centroids: size, recomputed
    * inertia, and a nearest-assignment violation count (an INDEPENDENT
    * re-derivation in a separate pass — it would catch a stale- or
    * mis-broadcast-centroid bug, it is not true by definition of this
    * pass alone). Deterministic: partials merge in (cell, partition)
    * order like the trainer. */
  private def kmeansClusterStats(s: org.apache.spark.sql.SparkSession,
                                 data: org.apache.spark.sql.DataFrame,
                                 cents: Array[Array[Double]]): Array[(Int, Long, Double, Long)] = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val embIdx = data.schema.fieldIndex("embedding")
    val bc = s.sparkContext.broadcast(cents)
    val schema = StructType(Seq(
      StructField("part", IntegerType), StructField("cell", IntegerType),
      StructField("cnt", LongType), StructField("sqd", DoubleType),
      StructField("viol", LongType)))
    val partials = data.mapPartitions { rows =>
      val cs = bc.value
      val k = cs.length
      val counts = new Array[Long](k)
      val sqds = new Array[Double](k)
      val viols = new Array[Long](k)
      rows.foreach { row =>
        val emb = row.getSeq[Float](embIdx)
        val cell = nearestCell(cs, emb)
        // exhaustive re-check: no other centroid strictly closer
        val cent = cs(cell)
        var d = 0.0
        var i = 0
        val n = math.min(cent.length, emb.length)
        while (i < n) { val t = emb(i) - cent(i); d += t * t; i += 1 }
        var c = 0
        var anyCloser = false
        while (c < k) {
          if (c != cell) {
            var dc = 0.0
            var j = 0
            while (j < n) { val t = emb(j) - cs(c)(j); dc += t * t; j += 1 }
            if (dc < d) anyCloser = true
          }
          c += 1
        }
        counts(cell) += 1L
        sqds(cell) += d
        if (anyCloser) viols(cell) += 1L
      }
      val pid = org.apache.spark.TaskContext.getPartitionId()
      (0 until k).iterator.filter(counts(_) > 0).map(c =>
        Row(pid, c, counts(c), sqds(c), viols(c)))
    }(Encoders.row(schema)).collect()
    val k = cents.length
    val cnt = new Array[Long](k)
    val sqd = new Array[Double](k)
    val vio = new Array[Long](k)
    partials.sortBy(r => (r.getInt(1), r.getInt(0))).foreach { r =>
      val c = r.getInt(1)
      cnt(c) += r.getLong(2); sqd(c) += r.getDouble(3); vio(c) += r.getLong(4)
    }
    (0 until k).map(c => (c, cnt(c), sqd(c), vio(c))).toArray
  }

  private[similarity] def assignCells(s: org.apache.spark.sql.SparkSession,
                          data: org.apache.spark.sql.DataFrame,
                          cents: Array[Array[Double]]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val idIdx = data.schema.fieldIndex("vec_id")
    val embIdx = data.schema.fieldIndex("embedding")
    val bc = s.sparkContext.broadcast(cents)
    val outSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("cell", IntegerType)))
    data.mapPartitions { rows =>
      val cs = bc.value
      rows.map { row =>
        val emb = row.getSeq[Float](embIdx)
        Row(row.getLong(idIdx), emb, nearestCell(cs, emb))
      }
    }(Encoders.row(outSchema))
  }

  /** Exact top-k (the knn_bruteforce body, unordered): map-side bounded
    * per-query heaps over one corpus pass + a rank cut. Shared by the
    * brute-force QueryDef and the ANN queries' recall gates. */
  private def bruteForceTopK(s: org.apache.spark.sql.SparkSession,
                             dir: String): org.apache.spark.sql.DataFrame = {
    val e = Tables(s, dir).embeddings
    val queries = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val partials = partitionTopK(s, e, queries, K)
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))
    partials
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= K)
      .select(col("qid"), col("vec_id"), col("cosine"), col("rk"))
  }

  /** knn_mips body over any (vec_id, embedding) corpus (queries =
    * vec_id < NQueries, the house convention) — exposed so the spec
    * can drive it with engineered VARIED-NORM vectors: the shipped
    * embeddings are unit-norm, where MIPS and cosine coincide by
    * construction and the objectives can't be told apart. */
  private[graft] def mipsTopK(s: org.apache.spark.sql.SparkSession,
                              e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val queries = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val partials = partitionTopK(s, e, queries, K, scoreDot = true)
      .withColumnRenamed("cosine", "dot")
    val w = Window.partitionBy(col("qid")).orderBy(col("dot").desc, col("vec_id"))
    partials
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= K)
      .select(col("qid"), col("vec_id"), col("dot"), col("rk"))
  }

  /** knn_mips_ann body — MIPS served through the UNCHANGED IVF tier
    * via the Neyshabur–Srebro (2015) norm-augmentation (the reduction
    * knn_mips's scaladoc documents and SimilaritySpec proves):
    *
    *  1. Index build: ONE corpus aggregate finds M² = max |x|²; each
    *     vector is stored augmented, x' = [x, √(M²−|x|²)], so all x'
    *     share norm M and cosine order against q' = [q, 0] IS dot
    *     order. One extra float per vector, exactly like a production
    *     MIPS index (FAISS does the same transform).
    *  2. The existing coarse quantizer trains on the AUGMENTED column
    *     unchanged — cells now carve the (direction, magnitude) space
    *     jointly, which is what makes IVF probing sound for MIPS: a
    *     high-norm vector lands in a cell whose centroid carries its
    *     magnitude, so probe selection (L2 of [q, 0] to centroids, on
    *     the driver, k×(d+1) doubles) finds magnitude-dominant cells a
    *     direction-only quantizer would miss.
    *  3. Scoring inside probed cells is the EXACT MIPS objective,
    *     directly: dot_product(q, x') left-folds min(|q|, |x'|) = d
    *     terms — the augment coordinate never enters — so candidate
    *     scores are bit-identical to knn_mips's kernel and no
    *     original-vector re-attach join is needed.
    *
    * Probe cost is nProbe/nCells of the corpus, the knn_ivf scale
    * story; at 100 TB the cell is a partition key (VectorIndex) and
    * unprobed cells are never read. With nProbe = nCells every row is
    * scored and the result equals exact MIPS bit-for-bit
    * (spec-pinned, shipped AND varied-norm corpora). */
  /** The Neyshabur–Srebro norm-augmented corpus: ONE aggregate finds
    * M² = max |x|², then every vector is stored as x' = [x, √(M²−|x|²)]
    * so all x' share norm M. Shared by knn_mips_ann (IVF) and
    * knn_mips_ivfpq (IVF+PQ). greatest(0, ·) guards the max row itself,
    * where M² − |x|² is an exact 0 by construction but float augment
    * storage must not NaN. */
  private[similarity] def normAugmented(e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    normAugmentedWithM2(e)._1

  /** [[normAugmented]] plus the trained M² — the quantizer constant a
    * persisted MIPS index must carry so a frozen-quantizer append can
    * re-augment NEW vectors in the same space (ADVICE r13: without it
    * a correct MIPS append is not even possible). */
  private[graft] def normAugmentedWithM2(e: org.apache.spark.sql.DataFrame):
      (org.apache.spark.sql.DataFrame, Double) = {
    val withN = e.select(col("vec_id"), col("embedding"))
      .withColumn("norm2", VectorOps.dot("embedding", "embedding"))
    // one scalar to the driver at index-build time: the corpus max norm
    val maxRow = withN.agg(max(col("norm2"))).collect()(0)
    // an empty corpus leaves max() NULL — fail with the contract named,
    // not an opaque NPE out of getDouble (ADVICE r13, the
    // covarianceKernel discipline)
    require(!maxRow.isNullAt(0), "normAugmented on an empty corpus")
    val m2 = maxRow.getDouble(0)
    // localCheckpoint, NOT persist: the quantizer training + cell
    // assignment make several passes, but a .persist() entry outlives
    // the call with no handle to release it — every index build would
    // pin a corpus-sized cache for the session (review finding r13).
    // A localCheckpoint materializes once and is reclaimed by the
    // ContextCleaner when the last reference drops.
    (augmentWithM2(withN, m2).localCheckpoint(), m2)
  }

  /** Store-side augment under a FIXED M²: x' = [x, √(M²−|x|²)].
    * greatest(0, ·) absorbs float wobble AT the max row (an exact 0 by
    * construction must not NaN), but a genuinely out-of-range vector —
    * |x|² beyond M² by more than wobble — is REFUSED loudly
    * (raise_error, codegen'd): silently storing a 0 augment would break
    * the equal-norm invariant the MIPS quantizer was trained on, and
    * the min-length scoring fold would never surface it (ADVICE r13).
    * Expects a `norm2` column; drops it. */
  private[graft] def augmentWithM2(withN: org.apache.spark.sql.DataFrame,
                                   m2: Double): org.apache.spark.sql.DataFrame =
    withN.select(col("vec_id"),
        concat(col("embedding"),
          array(when(col("norm2") > lit(m2) * lit(1.0 + 1e-9),
              raise_error(concat(lit("MIPS append: vector norm² "),
                col("norm2").cast("string"),
                lit(s" exceeds the frozen quantizer's M²=$m2 — rebuild the index"))))
            .otherwise(sqrt(greatest(lit(0.0), lit(m2) - col("norm2"))))
            .cast("float")))
          .as("embedding"))

  /** [q, 0]-augmented probe/query rows for the MIPS serving paths —
    * the query side of the reduction (its augment coordinate is 0, so
    * augmented-space geometry ranks by dot). */
  private def mipsQueryRows(e: org.apache.spark.sql.DataFrame): Array[(Long, Array[Float])] =
    e.filter(col("vec_id") < NQueries)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray :+ 0.0f))
      .sortBy(_._1)

  /** `memoDir`: set ONLY by the QueryDefs (where `e` IS the corpus
    * table of that dataset dir) — routes the deterministic trainings
    * through [[trained]]; spec callers with engineered frames leave it
    * None and train inline. */
  private[graft] def mipsAnn(s: org.apache.spark.sql.SparkSession,
                             e: org.apache.spark.sql.DataFrame,
                             nCells: Int, nProbe: Int,
                             memoDir: Option[String] = None): org.apache.spark.sql.DataFrame = {
    val aug = memoDir.fold(normAugmented(e))(d => stagedAug(s, d)._1)
    val centroids = trained(s, memoDir, s"coarse:aug:$nCells:2")(
      coarseCentroids(s, aug, nCells, iters = 2))
    val assigned = assignCells(s, aug, centroids)
    // probe selection in the augmented space (q' = [q, 0]); scoring
    // queries stay in the original space — the fold never reaches the
    // augment coordinate anyway
    val probeQ = mipsQueryRows(e)
    val queries = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    ivfScanTopK(s, assigned, centroids, probeQ, queries, nProbe,
      "dot", VectorOps.dotNative)
  }

  /** knn_mips_ivfpq body — MIPS through the FULL compression stack
    * (coarse-quantizer pruning + 8-byte PQ codes + exact-dot re-rank),
    * parameterized like [[ivfpq]] so the spec can dial both
    * approximations to exhaustive and assert bit-exact equality with
    * [[mipsTopK]]. The entire [[pqAdcScan]] engine runs UNCHANGED on
    * the norm-augmented corpus: all x' share norm M, so the ADC's
    * normalized-L2 order against q' = [q, 0] IS dot order (the same
    * reduction knn_mips_ann serves without codes); the re-rank tail
    * scores the exact dot via the min-length fold, so the compression
    * only ever affects WHICH candidates reach the re-rank, never their
    * scores. */
  private[graft] def mipsIvfPq(s: org.apache.spark.sql.SparkSession,
                               e: org.apache.spark.sql.DataFrame,
                               nCells: Int, nProbe: Int,
                               m: Int, kSub: Int, rerank: Int,
                               memoDir: Option[String] = None): org.apache.spark.sql.DataFrame = {
    val aug = memoDir.fold(normAugmented(e))(d => stagedAug(s, d)._1)
    val qRaw: Array[(Long, Seq[Float])] =
      mipsQueryRows(e).map { case (qid, qe) => (qid, qe.toSeq) }
    val rerankQueries = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    pqAdcScan(s, aug, qRaw, rerankQueries, m, kSub, rerank,
      Some((nCells, nProbe)), "dot", VectorOps.dotNative,
      memoDir = memoDir, space = "aug")
  }

  /** nProbe nearest cells for one query, in the quantizer's own space —
    * a driver-side loop over nCells×dims doubles with a deterministic
    * (distance, cell-id) tie-break. The ONE probe-selection rule behind
    * knn_ivf, knn_ivfpq's pqAdcTopK, and knn_mips_ann (review finding
    * r13: it existed as three verbatim copies; the explicit tie-break is
    * behavior-identical to the copies' stable sort by distance). */
  private[similarity] def probeCells(centroids: Array[Array[Double]],
                                     qe: Array[Float], nProbe: Int): Seq[Int] =
    centroids.zipWithIndex.map { case (c, ci) =>
      var d = 0.0
      var i = 0
      val n = math.min(c.length, qe.length)
      while (i < n) { val t = qe(i) - c(i); d += t * t; i += 1 }
      (ci, d)
    }.sortBy { case (ci, d) => (d, ci) }.take(nProbe).map(_._1).toSeq

  /** The probed-cells scan + per-query rank cut shared by knn_ivf and
    * knn_mips_ann — one scaffold, two scores (review finding r13). Probe
    * selection runs over `probeQ` (which may live in a DIFFERENT space
    * than the scoring queries: mipsAnn probes with the augmented [q, 0]
    * while scoring the original q); rows in unprobed cells are never
    * scored, and at persisted-index scale the cell is a partition key
    * (VectorIndex) so they are never read. */
  private def ivfScanTopK(s: org.apache.spark.sql.SparkSession,
                          assigned: org.apache.spark.sql.DataFrame,
                          centroids: Array[Array[Double]],
                          probeQ: Array[(Long, Array[Float])],
                          queries: org.apache.spark.sql.DataFrame,
                          nProbe: Int, scoreName: String,
                          score: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val probes = probeQ.toSeq.flatMap { case (qid, qe) =>
      probeCells(centroids, qe, nProbe).map(ci => (qid, ci))
    }.toDF("qid", "cell")
    val w = Window.partitionBy(col("qid")).orderBy(col(scoreName).desc, col("vec_id"))
    assigned.join(broadcast(probes), "cell")
      .filter(col("vec_id") =!= col("qid"))
      .join(broadcast(queries), "qid")
      .withColumn(scoreName, score(col("qe"), col("embedding")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= K)
      .select(col("qid"), col("vec_id"), col(scoreName), col("rk"))
  }

  /** knn_lsh body, parameterized on the banding so the recall/scan
    * curve is measurable (`PROBE=lsh_curve`, §6 grid): one kernel pass
    * computes every band's sign-bucket ((vec_id, band, bucket) — the
    * per-plane HOF fold version interprets nBands·planes lambdas per
    * row); the query side (NQueries rows) bucketizes directly rather
    * than filtering the corpus kernel a second time; candidate IDS
    * first (narrow distinct — a distinct over float-array columns
    * hashes megabytes per row), vectors joined back after; exact
    * cosine verify + per-query top-K. */
  /** The banding's distinct (qid, candidate) pairs — THE candidate set
    * [[lshTopK]] verifies, exposed separately because its VOLUME is the
    * scan-fraction side of the §6 recall grid. */
  private[graft] def lshCandidates(s: org.apache.spark.sql.SparkSession, dir: String,
                                   nBands: Int, planesPerBand: Int): org.apache.spark.sql.DataFrame = {
    val e = Tables(s, dir).embeddings
    val bucketed = bucketize(s, e, nBands, planesPerBand)
    val qb = bucketize(s, e.filter(col("vec_id") < NQueries), nBands, planesPerBand)
      .select(col("vec_id").as("qid"), col("band"), col("bucket"))
    bucketed.join(broadcast(qb), Seq("band", "bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"))
      .distinct()
  }

  private[graft] def lshTopK(s: org.apache.spark.sql.SparkSession, dir: String,
                             nBands: Int, planesPerBand: Int): org.apache.spark.sql.DataFrame = {
    val e = Tables(s, dir).embeddings
    val queries = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val cands = lshCandidates(s, dir, nBands, planesPerBand)
      .join(e.select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(queries), "qid")
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))
    cands
      .withColumn("cosine", cosineNative(col("qe"), col("embedding")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= K)
      .select(col("qid"), col("vec_id"), col("cosine"), col("rk"))
  }

  /** SimilaritySpec's recall floor, shared with the driver-visible
    * recall gate below so spec and gate cannot drift. */
  private[graft] val RecallFloor = 0.3

  /** Attach the MEASURED recall vs exact top-k as an output column and
    * gate every row on the spec floor: a recall collapse empties the
    * result, flipping the driver's rows-only check instead of hiding
    * in specs. The exact side is gate-scale instrumentation (it runs
    * the brute-force scorer over the same corpus); a production
    * deployment serves the ANN plan alone and measures recall offline
    * on a sampled query set — which is exactly what this is, at gate
    * scale.
    *
    * r19: the gate runs DRIVER-SIDE over the two collected k×|queries|
    * cuts. The old column shape referenced `ann` twice (the semi-join
    * AND the final crossJoin) and `bf` twice (hit AND tot) — Catalyst
    * does not CSE across consumers, so every execution ran the whole
    * ANN scan and the whole brute-force reference TWICE (guide §1.2,
    * the UDF-duplication class). Both frames are result-sized (≤ k per
    * query) at any corpus size, collected CONCURRENTLY (guide §2.6);
    * the arithmetic is the verbatim mirror: n_hit (ann rows whose
    * (qid, vec_id) appears in bf) over n_bf, one double division, rows
    * kept only when recall ≥ [[RecallFloor]] — all-or-nothing, exactly
    * as the broadcast-crossJoin filter behaved. */
  private def withRecallGate(ann: org.apache.spark.sql.DataFrame,
                             bf: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val s = ann.sparkSession
    val fBf = Future(bf.select(col("qid"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet)
    val annRows = ann.collect()
    val bfSet = Await.result(fBf, scala.concurrent.duration.Duration.Inf)
    val qi = ann.schema.fieldIndex("qid")
    val vi = ann.schema.fieldIndex("vec_id")
    val nHit = annRows.count(r => bfSet.contains((r.getLong(qi), r.getLong(vi))))
    val recall = nHit.toDouble / bfSet.size.toDouble
    val outSchema = ann.schema.add("recall", org.apache.spark.sql.types.DoubleType)
    val out: Seq[org.apache.spark.sql.Row] =
      if (recall >= RecallFloor)
        annRows.toSeq.map(r =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ recall))
      else Seq.empty
    s.createDataFrame(
      java.util.Arrays.asList(out: _*), outSchema)
  }

  /** The ONE ADC scan + exact re-rank behind knn_pq AND knn_ivfpq:
    * train PQ codebooks, scan with per-query ADC tables and bounded
    * per-query heaps, exact-cosine re-rank of the `rerank` best. With
    * `ivf = Some((nCells, nProbe))` a coarse quantizer assigns cells
    * first and a row is scored for a query ONLY when the row's cell is
    * in that query's probe set; rows in cells NO query probes skip
    * even the normalize/encode (at scale the cell is a partition key
    * and unprobed cells are never read at all). knn_pq is the
    * `ivf = None` degenerate (every row in one always-probed cell), so
    * the heap tie-break, candidate window, and re-rank tail exist
    * exactly once. */
  private[graft] def pqAdcTopK(s: org.apache.spark.sql.SparkSession, dir: String,
                                    m: Int, kSub: Int, rerank: Int,
                                    ivf: Option[(Int, Int)]): org.apache.spark.sql.DataFrame = {
    val e = Tables(s, dir).embeddings
    val qRaw = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    val rerankQueries = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val ann = pqAdcScan(s, e.select(col("vec_id"), col("embedding")), qRaw, rerankQueries,
      m, kSub, rerank, ivf, "cosine", cosineNative,
      memoDir = Some(dir), space = "plain")
    withRecallGate(ann, bruteForceTopK(s, dir))
      .orderBy(col("qid"), col("rk"))
  }

  /** [[pqAdcTopK]]'s engine, parameterized on the corpus frame, the
    * probe/ADC query rows, and the re-rank score — so the MIPS serving
    * path ([[mipsIvfPq]]) reuses the codebook training, probe pruning,
    * ADC kernel, heaps, and candidate window UNCHANGED on the
    * norm-augmented corpus while re-ranking by exact dot. `qRaw` may
    * live in a different space than `rerankQueries` (MIPS probes and
    * ADC-scans with [q, 0]; re-ranks with the original q — the
    * min-length dot fold never reaches the corpus augment coordinate,
    * the knn_mips_ann identity). */
  private def pqAdcScan(s: org.apache.spark.sql.SparkSession,
                        data0: org.apache.spark.sql.DataFrame,
                        qRaw: Array[(Long, Seq[Float])],
                        rerankQueries: org.apache.spark.sql.DataFrame,
                        m: Int, kSub: Int, rerank: Int,
                        ivf: Option[(Int, Int)],
                        scoreName: String,
                        score: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column,
                        memoDir: Option[String] = None,
                        space: String = "plain")
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    // localCheckpoint (cleaner-managed) — codebook training, cell
    // assignment, the ADC scan, and the re-rank join all read this;
    // a persist would pin it past the call (review finding r13).
    // Under memoDir the materialization and trainings ride [[trained]]
    // (r19): the "aug" space arrives pre-checkpointed from stagedAug
    val vecs = memoDir match {
      case Some(_) if space == "aug" => data0
      case Some(d) => trained(s, Some(d), "ckpt:plain")(data0.localCheckpoint())
      case None => data0.localCheckpoint()
    }
    val books = trained(s, memoDir, s"books:$space:$m:$kSub:2")(
      pqCodebooks(s, vecs, m, kSub, iters = 2))
    // probe list: nProbe nearest cells per query in the RAW space the
    // coarse quantizer was trained in (the knn_ivf rule verbatim)
    val (data, probeSets) = ivf match {
      case Some((nCells, nProbe)) =>
        val centroids = trained(s, memoDir, s"coarse:$space:$nCells:2")(
          coarseCentroids(s, vecs, nCells, iters = 2))
        val ps: Map[Long, Set[Int]] = qRaw.map { case (qid, qe) =>
          qid -> probeCells(centroids, qe.toArray, nProbe).toSet
        }.toMap
        (assignCells(s, vecs, centroids), ps)
      case None =>
        (vecs.withColumn("cell", lit(0)),
          qRaw.map { case (qid, _) => qid -> Set(0) }.toMap)
    }
    val qNorm = qRaw.map { case (qid, qe) => (qid, normalized(qe)) }
    val bb = s.sparkContext.broadcast(books)
    val qb = s.sparkContext.broadcast(qNorm)
    val pb = s.sparkContext.broadcast(probeSets)
    val candSchema = StructType(Seq(
      StructField("qid", LongType), StructField("vec_id", LongType),
      StructField("approx", DoubleType)))
    val idIdx = data.schema.fieldIndex("vec_id")
    val embIdx = data.schema.fieldIndex("embedding")
    val cellIdx = data.schema.fieldIndex("cell")
    val cands = data.mapPartitions { rows =>
      val bs = bb.value
      val qs = qb.value
      val probes = pb.value
      val dims = if (qs.nonEmpty) qs(0)._2.length else 0
      val offs = pqOffsets(dims, m)
      val luts = qs.map(q => adcLut(bs, offs, q._2))
      val qCells = qs.map(q => probes(q._1))
      // a row in a cell NO query probes must not pay the encode
      val probedAll = qCells.foldLeft(Set.empty[Int])(_ ++ _)
      val ord = Ordering.by[(Long, Double), (Double, Long)] { case (id, d) => (d, id) }
      val heaps = Array.fill(qs.length)(
        scala.collection.mutable.PriorityQueue.empty[(Long, Double)](ord))
      rows.foreach { row =>
        val cell = row.getInt(cellIdx)
        if (probedAll.contains(cell)) {
          val id = row.getLong(idIdx)
          val v = normalized(row.getSeq[Float](embIdx))
          val code = pqEncode(bs, offs, v)
          var qi = 0
          while (qi < qs.length) {
            if (id != qs(qi)._1 && qCells(qi).contains(cell)) {
              var d = 0.0
              var mi = 0
              while (mi < m) { d += luts(qi)(mi)(code(mi)); mi += 1 }
              val h = heaps(qi)
              if (h.size < rerank) h.enqueue((id, d))
              else {
                val (wid, wd) = h.head
                if (d < wd || (d == wd && id < wid)) { h.dequeue(); h.enqueue((id, d)) }
              }
            }
            qi += 1
          }
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
        h.iterator.map { case (id, d) => Row(qs(qi)._1, id, d) }
      }
    }(Encoders.row(candSchema))
    val wA = Window.partitionBy(col("qid")).orderBy(col("approx"), col("vec_id"))
    val candIds = cands
      .withColumn("rka", row_number().over(wA))
      .filter(col("rka") <= rerank)
      .select(col("qid"), col("vec_id"))
    val w = Window.partitionBy(col("qid")).orderBy(col(scoreName).desc, col("vec_id"))
    candIds
      .join(vecs, "vec_id")
      .join(broadcast(rerankQueries), "qid")
      .withColumn(scoreName, score(col("qe"), col("embedding")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= K)
      .select(col("qid"), col("vec_id"), col(scoreName), col("rk"))
  }

  /** knn_ivfpq body, parameterized so the spec can dial both
    * approximations to exhaustive (nProbe = nCells, rerank >= corpus)
    * and assert exact equality with brute force. */
  private[similarity] def ivfpq(s: org.apache.spark.sql.SparkSession, dir: String,
                                nCells: Int, nProbe: Int,
                                m: Int, kSub: Int, rerank: Int): org.apache.spark.sql.DataFrame =
    pqAdcTopK(s, dir, m, kSub, rerank, Some((nCells, nProbe)))

  def defs: Seq[QueryDef] = Seq(
    QueryDef(
      // Map-side top-k: the query vectors (an explicitly small side) are
      // broadcast; each partition of the big side keeps a bounded
      // per-query heap, so only numPartitions * queries * k rows are
      // shuffled for the final merge — the 100 TB side streams through
      // exactly once. Exact (not approximate): verified against the
      // DuckDB cross-join oracle.
      "knn_bruteforce",
      (s, dir) => bruteForceTopK(s, dir).orderBy(col("qid"), col("rk")),
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < $NQueries)
      SELECT qid, vec_id, cosine, rk FROM (
        SELECT qid, vec_id, cosine,
          CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS BIGINT) AS rk
        FROM (SELECT qid, e.vec_id, ${cosineSql("qe", "embedding")} AS cosine
              FROM q, embeddings e WHERE e.vec_id <> qid) c) r
      WHERE rk <= $K ORDER BY qid, rk""")
    ),

    QueryDef(
      // MAXIMUM INNER-PRODUCT SEARCH (MIPS) — the retrieval objective
      // most two-tower/recommendation scorers actually optimize: raw
      // dot(q, x), NOT cosine (a long document's un-normalized
      // embedding can dominate by magnitude — the popularity/length
      // prior cosine deliberately removes; MIPS keeps it. The shipped
      // embeddings happen to be unit-norm, where the two objectives
      // coincide — the spec separates them on engineered varied-norm
      // vectors through this same body). Exact
      // top-K by (dot DESC, vec_id): the SAME bounded per-query-heap
      // one-pass kernel as knn_bruteforce with the normalization
      // dropped — index-order double accumulation, bit-identical to
      // the oracle's left fold.
      //
      // 100 TB path: MIPS reduces to cosine ANN by the standard
      // norm-augmentation (Neyshabur & Srebro 2015): x' = [x,
      // √(M²−|x|²)] with M = max corpus norm, q' = [q, 0] — then
      // cos(q', x') = dot(q, x)/(|q|·M), a MONOTONE transform, so the
      // existing IVF/PQ/LSH cosine infrastructure serves MIPS
      // unchanged on the augmented column (one extra float per
      // vector, plus a one-row max-norm aggregate at index-build
      // time). SimilaritySpec proves the reduction end to end on the
      // shipped embeddings: augmented cosine order ≡ dot order.
      "knn_mips",
      (s, dir) => mipsTopK(s, Tables(s, dir).embeddings)
        .orderBy(col("qid"), col("rk")),
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < $NQueries)
      SELECT qid, vec_id, dot, rk FROM (
        SELECT qid, vec_id, dot,
          CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id) AS BIGINT) AS rk
        FROM (SELECT qid, e.vec_id, ${VectorOps.dotSql("qe", "embedding")} AS dot
              FROM q, embeddings e WHERE e.vec_id <> qid) c) r
      WHERE rk <= $K ORDER BY qid, rk""")
    ),

    QueryDef(
      // MIPS THROUGH THE ANN SERVING TIER (VERDICT r12 item 1) — the
      // shape every two-tower recommender actually deploys: knn_mips
      // is the exact one-pass objective; this serves the SAME
      // objective at nProbe/nCells of the corpus via the
      // Neyshabur–Srebro norm-augmentation (x' = [x, √(M²−|x|²)],
      // trained + probed by the UNCHANGED IVF machinery — body and
      // reduction rationale in [[mipsAnn]]). Candidate scores are the
      // exact dot (the augment coordinate never enters the fold), so
      // with exhaustive probing the result IS knn_mips bit-for-bit
      // (spec-pinned). Trained quantizer → not SQL-mirrorable →
      // rows-only BY DESIGN with the same driver-visible
      // measured-recall gate as knn_lsh/knn_ivf, here against the
      // exact MIPS top-k: a recall collapse empties the result and
      // flips the driver's rows-only check.
      "knn_mips_ann",
      (s, dir) => {
        val e = Tables(s, dir).embeddings
        val ann = mipsAnn(s, e, nCells = 16, nProbe = 4, memoDir = Some(dir))
        withRecallGate(ann, mipsTopK(s, e))
          .orderBy(col("qid"), col("rk"))
      },
      None
    ),

    QueryDef(
      // MIPS THROUGH IVF + PQ — the codes-in-RAM MIPS deployment (what
      // a two-tower recommender serving 100 TB of item embeddings
      // actually runs: FAISS IndexIVFPQ over norm-augmented vectors).
      // knn_mips_ann prunes but still reads float vectors in probed
      // cells; this adds the 8-byte-code compression so probed cells
      // scan codes, not floats, and only the rerank-sized tail touches
      // a real vector. The ENTIRE pqAdcScan engine (codebooks, probe
      // pruning, ADC kernel, heaps, candidate window) runs unchanged
      // on the augmented corpus — all x' share norm M, so ADC's
      // normalized-L2 order against [q, 0] IS dot order — and the
      // re-rank scores the exact dot (min-length fold). Rows-only BY
      // DESIGN (trained quantizer + codebooks) with the measured-recall
      // gate against exact MIPS; spec dials both approximations to
      // exhaustive and pins bit-exact equality with knn_mips.
      "knn_mips_ivfpq",
      (s, dir) => {
        val e = Tables(s, dir).embeddings
        // rerank = 256 is the MEASURED knee of the recall/rerank curve
        // at sf0.1 (VERDICT r14 item 4; full grid in SURVEY §6):
        // 32→0.62, 64→0.80, 128→0.86, 256→0.98, 512→1.00 at nProbe=4,
        // and doubling nProbe to 8 LOWERS recall at every fixed window
        // (more PQ-distorted candidates compete for the same rerank
        // slots). The rerank window is the cheap lever — a per-query
        // constant number of exact dots — so the default sits at the
        // knee rather than the r13 guess of 32.
        val ann = mipsIvfPq(s, e, nCells = 16, nProbe = 4, m = 8,
          kSub = 16, rerank = 256, memoDir = Some(dir))
        withRecallGate(ann, mipsTopK(s, e))
          .orderBy(col("qid"), col("rk"))
      },
      None
    ),

    QueryDef(
      // HYBRID RETRIEVAL FUSION (VERDICT r12 item 7) — the standard RAG
      // retrieval shape: reciprocal-rank fusion (Cormack et al. 2009,
      // rrf(d) = Σ_lists 1/(60 + rank_d)) of the SPARSE lexical ranking
      // and a DENSE ranking. The sparse leg is SERVED OFF THE PERSISTED
      // POSTINGS INDEX (r15: TermIndex.probeStaged — the partition-
      // pruned probe, not a corpus census; its scores are bit-identical
      // to text_bm25's inline chain, TermIndexSpec's doubleToLongBits
      // pin, so the oracle below still embeds the text_bm25 SQL
      // VERBATIM and the fusion's ranks cannot drift). This is the RAG
      // deployment shape end-to-end: both retrieval legs now run
      // against maintained indexes rather than per-query corpus
      // passes — r17 (VERDICT r16 item 5) moved the DENSE leg onto the
      // staged IVF index too (probeIvf at nprobe = nCells: exhaustive
      // probing is bit-identical to the brute-force cosine top-20, so
      // the oracle is untouched while the scan reads co-located cell
      // files; sub-exhaustive nprobe is the at-scale setting, gated by
      // measured recall like knn_ivf). RRF is rank arithmetic: each
      // fused score is ONE
      // addition of two exact-integer-derived reciprocals, so there is
      // zero float-order risk and the oracle reproduces it bit-for-bit
      // (the 6dp round is the §5 boundary discipline). Ranks are dense
      // row_numbers over each 20-row list — the windows are single-
      // partition BY CONSTRUCTION (k is a constant, not data-sized).
      // Absent-from-list contributes 0 (the standard RRF convention);
      // the output carries both ranks (0 = not retrieved by that side)
      // so a reader can see WHY a doc fused high. At 100 TB both sides
      // already scale (BM25: partition-pruned postings probe; dense:
      // cell-pruned index probe + per-partition heaps); the fusion
      // itself joins two 20-row frames — free at any corpus size.
      "q_hybrid_rrf",
      (s, dir) => hybridRrf(s, dir),
      Some(hybridRrfSql)
    ),

    QueryDef(
      // HYBRID RETRIEVAL OFF A PUBLISHED SNAPSHOT (NEW r16) — the same
      // fused ranking as q_hybrid_rrf, but BOTH legs resolved through
      // ONE ServingSnapshot manifest and served off its pinned file
      // sets: the deployment read path (resolve → probePinned /
      // probeIvfPinned → fuse) gated against the same DuckDB oracle as
      // the inline computation. Exactness: the pinned sparse probe is
      // the text_bm25 chain verbatim over the pinned postings
      // (TermIndexSpec's bit-identity pin); the dense leg probes ALL
      // nCells cells — exhaustive probing reproduces brute-force
      // cosine top-k bit-for-bit (VectorIndexSpec's pin), while still
      // exercising the pinned-file read path; fusion is shared code
      // (fuseRrf). At deployment scale the dense leg drops nprobe
      // below nCells and trades the oracle for the measured-recall
      // gate — the knn_ivf story; the ORACLE-gated form is the
      // exhaustive setting, which proves the serving plumbing changes
      // NOTHING about the ranking.
      "q_hybrid_snapshot",
      (s, dir) => {
        graft.textfn.TextQueries.assertBm25IndexedPrecondition(s, dir)
        val snap = stagedSnapshot.get(s, dir).snapshot
        val sparse = graft.textfn.TermIndex.probePinned(
          s, snap.legs("sparse"), graft.textfn.TextQueries.Bm25Terms, 20)
        val ws = Window.orderBy(col("score").desc, col("doc_id"))
        val srk = sparse.select(col("doc_id"),
          row_number().over(ws).cast("long").as("sparse_rank"))
        val qdf = Tables(s, dir).embeddings
          .filter(col("vec_id") === 0L)
          .select(col("vec_id").as("query_id"), col("embedding"))
        val drk = graft.similarity.VectorIndex.probeIvfPinned(
            s, snap.legs("dense"), qdf, 20, nprobe = SnapCells)
          .select(col("vec_id").as("doc_id"), col("rk").as("dense_rank"))
        fuseRrf(srk, drk)
      },
      Some(hybridRrfSql)
    ),

    QueryDef(
      // HYBRID RETRIEVAL AT DEPLOYMENT SETTINGS (NEW r18, VERDICT r17
      // item 3) — the standing gated row for the configuration a
      // 100 TB deployment actually runs, which until r18 lived only in
      // specs and §6 probes: the dense leg probes the staged IVF index
      // SUB-EXHAUSTIVELY (nprobe = 4 of 16 cells — the knn_ivf
      // setting, ~nprobe/nCells of the corpus scored per query); the
      // sparse leg is the impact-pruned staged probe (the deployment
      // branch — proof-gated EXACT, so only the dense leg trades
      // exactness for read volume); fusion is the shared fuseRrf.
      // Rows-only BY DESIGN (the trained coarse quantizer makes the
      // sub-exhaustive ranking SQL-inexpressible — the knn_ivf class),
      // with the knn_lsh/knn_ivf discipline made driver-visible: the
      // MEASURED recall of the deployment fusion's top-20 against the
      // exhaustive fusion's top-20 rides every row as a gate column
      // and rows are FILTERED at the spec floor — a recall collapse
      // empties the result and flips the driver's rows-only check
      // instead of hiding in specs. Cost shape: both rankings are
      // 20-row driver cuts off staged indexes, each probe chain
      // executed exactly once; the exhaustive side is gate-scale
      // instrumentation (production measures recall offline on a
      // sampled query set — which is exactly what this is).
      "q_hybrid_recall",
      (s, dir) => hybridRecallGated(s, dir, HybridRecallFloor),
      None
    ),

    QueryDef(
      // RAG CONTEXT ASSEMBLY (NEW r16) — the end-to-end serving
      // composition downstream of retrieval: fuse both retrieval legs
      // (the q_hybrid_rrf frame, served off the SAME staged artifacts),
      // SUPPRESS near-duplicate candidates (a RAG context stuffed with
      // near-identical passages wastes its token budget — the dedup
      // tier's jaccard, applied to the ≤ 40-row candidate list), then
      // PACK the survivors into a fixed token budget in fusion-rank
      // order (the token_budget discipline over text_tokens' estimate).
      // Four tiers composing in one query is the point: retrieval,
      // dedup, text, and corpus-prep machinery all feeding one serving
      // answer. Exactness: suppression is the ONE-PASS candidate rule —
      // drop a doc whose distinct-token jaccard with ANY higher-ranked
      // CANDIDATE (kept or not; higher = larger rrf, tie smaller
      // doc_id) reaches 0.9 — deliberately defined join-shaped (a
      // greedy kept-only chain is an iterative fold with no SQL
      // mirror); jaccard is one division of two small exact ints,
      // identical bits both engines. Packing is an exact running sum
      // of ceil(len/4) token estimates, cut at 600. All candidate-side
      // work is ≤ 40 rows — free at any corpus size; the heavy lifting
      // stays inside the index-served legs.
      "q_rag_assemble",
      (s, dir) => {
        val docs = Tables(s, dir).documents
          .select(col("doc_id"),
            array_distinct(split(lower(col("text")), " ")).as("toks"),
            ceil(length(col("text")) / lit(4.0)).cast("long").as("n_tokens"))
        val cands = hybridRrf(s, dir)
          .join(docs, "doc_id")
          .select(col("doc_id"), col("rrf"), col("toks"), col("n_tokens"))
        assembleContext(cands)
      },
      Some(s"""WITH fused AS ($hybridRrfSql),
      docs AS (
        SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS toks,
          CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_tokens
        FROM documents),
      cands AS (
        SELECT f.doc_id, f.rrf, d.toks, d.n_tokens
        FROM fused f JOIN docs d USING (doc_id)),
      suppressed AS (
        SELECT DISTINCT c.doc_id FROM cands c JOIN cands h
          ON (h.rrf > c.rrf OR (h.rrf = c.rrf AND h.doc_id < c.doc_id))
          AND CAST(len(list_intersect(c.toks, h.toks)) AS DOUBLE) /
              CAST(len(list_distinct(list_concat(c.toks, h.toks))) AS DOUBLE) >= 0.9),
      kept AS (
        SELECT * FROM cands WHERE doc_id NOT IN (SELECT doc_id FROM suppressed)),
      packed AS (
        SELECT doc_id, rrf, n_tokens,
          CAST(SUM(n_tokens) OVER (ORDER BY rrf DESC, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        FROM kept)
      SELECT doc_id, rrf, n_tokens, cum_tokens FROM packed
      WHERE cum_tokens <= 600 ORDER BY rrf DESC, doc_id""")
    ),

    QueryDef(
      // RANGE (radius) search — the other half of the vector-serving
      // API: not "the k nearest" but "EVERYTHING within a similarity
      // ball" (candidate recall for re-rankers, near-dup audits around
      // a probe document, abuse-cluster expansion). Queries broadcast;
      // the corpus streams through ONE codegen'd cosine pass with the
      // radius predicate fused into the scan filter — no heap, no
      // window, output bounded by the ball's true population. The
      // oracle is the same cross join in SQL; cosine is the shared
      // left-fold discipline, bit-identical.
      "knn_radius",
      (s, dir) => {
        val e = Tables(s, dir).embeddings
        val q = e.filter(col("vec_id") < NQueries)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        e.select(col("vec_id"), col("embedding"))
          .crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("qid"))
          .withColumn("cosine", VectorOps.cosineNative(col("qe"), col("embedding")))
          .filter(col("cosine") >= RadiusTau)
          .select(col("qid"), col("vec_id"), col("cosine"))
          .orderBy(col("qid"), col("vec_id"))
      },
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe
          FROM embeddings WHERE vec_id < $NQueries)
      SELECT qid, e.vec_id, ${cosineSql("qe", "embedding")} AS cosine
      FROM q, embeddings e
      WHERE e.vec_id <> qid AND ${cosineSql("qe", "embedding")} >= $RadiusTau
      ORDER BY qid, e.vec_id""")
    ),

    QueryDef(
      // FILTERED vector search — "top-k neighbors with the query's own
      // label" (the tenant/language/domain-restricted ANN every vector
      // store is asked for). The predicate evaluates INSIDE the scorer
      // kernel, so one corpus pass serves all queries regardless of
      // their filters (the naive form is one filtered scan per query);
      // the big side still never shuffles, exactly as knn_bruteforce.
      "knn_filtered",
      (s, dir) => {
        val e = Tables(s, dir).embeddings
        val queries = e.filter(col("vec_id") < NQueries)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("label"))
        val partials = partitionTopK(s, e, queries, K, labelFiltered = true)
        val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))
        partials
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= K)
          .select(col("qid"), col("vec_id"), col("cosine"), col("rk"))
          .orderBy(col("qid"), col("rk"))
      },
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe, label
          FROM embeddings WHERE vec_id < $NQueries)
      SELECT qid, vec_id, cosine, rk FROM (
        SELECT qid, vec_id, cosine,
          CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS BIGINT) AS rk
        FROM (SELECT qid, e.vec_id, ${cosineSql("qe", "embedding")} AS cosine
              FROM q, embeddings e WHERE e.vec_id <> qid AND e.label = q.label) c) r
      WHERE rk <= $K ORDER BY qid, rk""")
    ),

    QueryDef(
      // LSH-bucketed ANN: 16 bands x 6 hyperplanes; candidates share a
      // sign-bucket with the query in >=1 band, i.e. ~16/64 = 25% of the
      // corpus is scored per query instead of 100%. Sub-linear scale
      // path — not SQL-mirrorable (hyperplanes), so rows-only checked;
      // recall vs knn_bruteforce is asserted in SimilaritySpec. (On this
      // synthetic near-random corpus neighbors sit at ~70 degrees, the
      // regime where cosine LSH is weakest — real embedding corpora
      // cluster much tighter and recall rises accordingly.)
      "knn_lsh",
      // nBands = 16, planesPerBand = 6: see [[lshTopK]] — the r15
      // measured (bands × planes) grid kept this point (§6)
      (s, dir) => withRecallGate(
          lshTopK(s, dir, nBands = 16, planesPerBand = 6),
          bruteForceTopK(s, dir))
        .orderBy(col("qid"), col("rk")),
      None
    ),

    QueryDef(
      // IVF (inverted-file) ANN: k-means coarse quantizer partitions the
      // corpus into cells; each query probes only its nprobe nearest
      // cells, so ~nprobe/k of the corpus is scored. The complementary
      // scale path to knn_lsh: LSH is data-independent (no training, no
      // skew from clustered data), IVF adapts to the data's geometry and
      // probes less at equal recall on clustered corpora. The cell
      // assignment is a one-off (in production: persisted next to the
      // vectors, like a FAISS IVF index); probe selection is a tiny
      // driver-side computation over k centroids per query. Deterministic
      // seed -> rows-only gate is stable; recall vs brute force asserted
      // in SimilaritySpec.
      "knn_ivf",
      (s, dir) => {
        val nCells = 16
        val nProbe = 4
        val e = Tables(s, dir).embeddings
        // staged materialized frame + memoized training (r19): the
        // quantizer is the persisted index's frozen artifact in
        // production — train once per (session, dataset), serve many
        val vecs = stagedPlainVecs(s, dir)
        // a coarse quantizer doesn't need tight convergence — cells just
        // need to carve the space; two Lloyd passes over the data is
        // plenty (see coarseCentroids), and each pass is one job
        val centroids = trained(s, Some(dir), s"coarse:plain:$nCells:2")(
          coarseCentroids(s, vecs, nCells, iters = 2))
        val assigned = assignCells(s, vecs, centroids)
        // nprobe nearest cells per query (k centroids x 10 queries on the
        // driver — negligible; ships as a broadcast probe list)
        val qRows = e.filter(col("vec_id") < NQueries)
          .select(col("vec_id"), col("embedding")).collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        val queries = e.filter(col("vec_id") < NQueries)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val ann = ivfScanTopK(s, assigned, centroids, qRows, queries, nProbe,
          "cosine", cosineNative)
        // driver-visible quality gate, as in knn_lsh
        withRecallGate(ann, bruteForceTopK(s, dir))
          .orderBy(col("qid"), col("rk"))
      },
      None
    ),

    QueryDef(
      // Product-quantization ANN (PQ + ADC + exact re-rank): the
      // memory-compression scale path the other two ANN variants lack —
      // 8 subspaces x 16 centroids encode each 64-dim float vector in
      // 8 BYTES (32x), which at 100 TB of embeddings is the difference
      // between codes-in-RAM and vectors-on-disk. One kernel pass scans
      // the corpus with per-query ADC lookup tables (M table adds per
      // candidate instead of a 64-wide dot product) keeping bounded
      // per-query heaps of the 32 best approximate candidates; only
      // those are re-ranked with exact cosine. Vectors are normalized
      // so ADC's L2 order IS cosine order (||q-x||² = 2-2cos). Training
      // is deterministic (fixed init, fixed-order float merges) -> the
      // rows-only gate is stable; recall is both spec-asserted and
      // driver-visible via the same measured-recall gate as knn_lsh.
      "knn_pq",
      // the ivf = None degenerate of the shared [[pqAdcTopK]] kernel:
      // one always-probed cell, so every row is ADC-scored for every
      // query — the whole-corpus compression regime, heap tie-break
      // and re-rank tail shared with knn_ivfpq by construction.
      // rerank = 256 per the r15 measured curve (§6): the flat scan
      // ADC-scores the WHOLE corpus, so its window needs the most
      // headroom of the three PQ variants — 0.54 recall at the old 32,
      // 0.86 at 256 (0.94 at 512; the window is per-query constant
      // cost, the knee balances it against the +0.08 tail)
      (s, dir) => pqAdcTopK(s, dir, m = 8, kSub = 16, rerank = 256, ivf = None),
      None
    ),

    QueryDef(
      // IVF + PQ composed — the production serving shape (FAISS
      // IndexIVFPQ): the coarse quantizer PRUNES (only nProbe/nCells of
      // the corpus is touched per query) and the product quantizer
      // COMPRESSES (8-byte codes, ADC table adds instead of 64-wide
      // dots), so at 100 TB a query reads a quarter of the cells and
      // never the float vectors until the final Rerank-sized exact
      // re-rank. Codes encode the full normalized vector, not the
      // cell residual (FAISS's by_residual=false switch): one ADC
      // table per query instead of one per (query, probed cell), and
      // full reuse of the trained knn_pq codebooks' discipline —
      // deterministic training, so the rows-only gate is stable.
      // Recall compounds (cell pruning x code quantization); the spec
      // pins EXACT equality with brute force at nProbe = nCells and
      // Rerank >= corpus, so both approximations demonstrably vanish
      // when dialed to exhaustive.
      "knn_ivfpq",
      (s, dir) => {
        // Rerank = 256: the cosine stack's measured curve (§6) matches
        // the MIPS stack's exactly — 0.62 at the old 32, 0.98 at the
        // 256 knee, 1.00 at 512 — so both IVFPQ deployments ship the
        // same measured default rather than the r13 guess
        val nCells = 16; val nProbe = 4
        val M = 8; val Ksub = 16; val Rerank = 256
        ivfpq(s, dir, nCells, nProbe, M, Ksub, Rerank)
      },
      None
    ),

    QueryDef(
      // k-NN JOIN: top-k neighbors for EVERY vector, not just a probe
      // set — the all-corpus shape behind embedding-based retrieval and
      // semantic dedup. A cosine floor bounds the neighborhood so the
      // exact angular-blocked candidate generation (recall 1,
      // sub-quadratic — graft.dedup.AngularBlocking, never an all-pairs
      // product) applies; the per-vector top-k is a rank filter that
      // Spark executes as WindowGroupLimit (partial top-k before the
      // shuffle). Ties break on neighbor_id, so the cut is deterministic
      // and oracle-exact.
      "knn_join",
      (s, dir) => {
        // session-staged blocking assignment, shared with dedup_embedding
        val pairs = graft.dedup.AngularBlocking.cosinePairsStaged(s, dir, KnnJoinTau)
        val sym = pairs
          .select(col("vec_a").as("vec_id"), col("vec_b").as("neighbor_id"), col("cosine"))
          .unionByName(pairs
            .select(col("vec_b").as("vec_id"), col("vec_a").as("neighbor_id"), col("cosine")))
        val w = Window.partitionBy(col("vec_id")).orderBy(col("cosine").desc, col("neighbor_id"))
        sym.withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= K)
          .select(col("vec_id"), col("neighbor_id"), col("cosine"), col("rk"))
          .orderBy(col("vec_id"), col("rk"))
      },
      Some(s"""SELECT vec_id, neighbor_id, cosine, rk FROM (
        SELECT a.vec_id, b.vec_id AS neighbor_id,
          ${VectorOps.cosineSql("a.embedding", "b.embedding")} AS cosine,
          CAST(ROW_NUMBER() OVER (PARTITION BY a.vec_id
            ORDER BY ${VectorOps.cosineSql("a.embedding", "b.embedding")} DESC, b.vec_id) AS BIGINT) AS rk
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        WHERE ${VectorOps.cosineSql("a.embedding", "b.embedding")} >= $KnnJoinTau) t
      WHERE rk <= $K ORDER BY vec_id, rk""")
    ),

    QueryDef(
      // Int8 scalar quantization accounting — the embedding-STORAGE
      // operator (4x smaller vectors is the difference between RAM and
      // disk at 100 TB): per vector, symmetric scale = 127/max|x|,
      // q_i = round(x_i·scale) ∈ [-127,127], reconstruction error
      // Σ(x_i - q_i/scale)². Stateless per-row expressions — trivially
      // linear, no shuffle before the final order. Cross-engine
      // exactness: every fold (max|x|, Σerr²) is LEFT-TO-RIGHT in array
      // index order on BOTH sides (Spark `aggregate` HOF ≡ DuckDB
      // `list_reduce` — an unordered SUM over unnest would drift in the
      // low bits), and round() is half-away-from-zero in both engines.
      "embed_quantize",
      (s, dir) => {
        val e = Tables(s, dir).embeddings
        e.select(col("vec_id"), col("label"),
            expr("""aggregate(embedding, CAST(0.0 AS DOUBLE),
              (a, x) -> greatest(a, abs(CAST(x AS DOUBLE))))""").as("max_abs"),
            col("embedding"))
          .select(col("vec_id"), col("label"), col("max_abs"),
            // squared via self-multiplication, NOT pow(_, 2): libm pow
            // may differ from the exact product by an ulp across engines
            when(col("max_abs") === 0.0, lit(0.0)).otherwise(
              expr("""aggregate(embedding, CAST(0.0 AS DOUBLE),
                (a, x) -> a + (CAST(x AS DOUBLE)
                  - round(CAST(x AS DOUBLE) * 127.0 / max_abs) * max_abs / 127.0)
                  * (CAST(x AS DOUBLE)
                  - round(CAST(x AS DOUBLE) * 127.0 / max_abs) * max_abs / 127.0))"""))
              .as("sum_sq_err"),
            expr("""aggregate(embedding, 0L,
              (a, x) -> a + CASE WHEN max_abs > 0.0 AND
                abs(round(CAST(x AS DOUBLE) * 127.0 / max_abs)) = 127.0
                THEN 1 ELSE 0 END)""").as("n_saturated"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH m AS (
        SELECT vec_id, label, embedding,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
            (a, x) -> greatest(a, x)) AS max_abs
        FROM embeddings)
      SELECT vec_id, label, max_abs,
        CASE WHEN max_abs = 0.0 THEN 0.0 ELSE
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(embedding, x -> CAST(x AS DOUBLE))),
            (a, x) -> a + (x - round(x * 127.0 / max_abs) * max_abs / 127.0)
                        * (x - round(x * 127.0 / max_abs) * max_abs / 127.0))
        END AS sum_sq_err,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(embedding, x ->
            CASE WHEN max_abs > 0.0 AND
              abs(round(CAST(x AS DOUBLE) * 127.0 / max_abs)) = 127.0
            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
          (a, x) -> a + x) AS n_saturated
      FROM m ORDER BY vec_id"""
      )
    ),

    QueryDef(
      "embed_norm_stats",
      (s, dir) => {
        Tables(s, dir).embeddings
          .withColumn("nrm", norm("embedding"))
          .groupBy(col("label"))
          .agg(
            count(lit(1)).as("n_vecs"),
            sum(col("nrm").cast(org.apache.spark.sql.types.DecimalType(18, 6))).cast("double").as("total_norm"),
            min(col("nrm")).as("min_norm"),
            max(col("nrm")).as("max_norm"))
          .orderBy(col("label"))
      },
      Some(s"""SELECT label, COUNT(*) AS n_vecs,
        CAST(SUM(CAST(nrm AS DECIMAL(18,6))) AS DOUBLE) AS total_norm,
        MIN(nrm) AS min_norm, MAX(nrm) AS max_norm
      FROM (SELECT label, ${normSql("embedding")} AS nrm FROM embeddings) t
      GROUP BY label ORDER BY label""")
    ),

    QueryDef(
      // PCA over the embedding corpus — the whitening/dim-reduction
      // step a SemDeDup-style pipeline runs before clustering (and the
      // variance audit that says how many dims the embeddings really
      // use). ONE corpus pass: a mapPartitions kernel emits per
      // partition (count, Σv, packed upper-triangular Σvvᵀ) — d(d+1)/2
      // doubles, ~2k per partition at d=64 — merged on the driver in
      // fixed partition order (the lloydStats determinism discipline),
      // then a deterministic cyclic Jacobi eigensolve on the tiny d×d
      // covariance. NO shuffle of the corpus, no per-row driver work —
      // the 100 TB cost is exactly one scan. Rows-only BY DESIGN (an
      // iterative eigensolve has no SQL mirror — the Kmeans/BPE class)
      // with TWO driver-visible gates: `trace_gap` (|Σλ − tr(C)|,
      // invariance of the trace under rotation — a wrong eigensolve
      // cannot keep it) and `ortho_resid` (max |VᵀV − I| entry over the
      // FULL basis). Eigenvector sign fixed by largest-|component|-
      // positive so reruns are byte-identical; PcaSpec pins recovery of
      // planted axes, the gates, agreement with an independent
      // power-iteration reference, and rerun determinism.
      "embed_pca",
      (s, dir) => {
        import s.implicits._
        val vecs = Tables(s, dir).embeddings.select(col("vec_id"), col("embedding"))
        val (n, mean, cov) = covarianceStats(s, vecs)
        val (evals, vectors) = jacobiEigen(cov)
        // descending eigenvalue order, ties (and the zero tail) by
        // original index — a total order, so output is deterministic
        val order = evals.indices.sortBy(i => (-evals(i), i))
        val trace = cov.indices.map(i => cov(i)(i)).sum
        val traceGap = math.abs(evals.sum - trace)
        // orthonormality residual max |VᵀV − I| over the FULL basis
        var ortho = 0.0
        for (i <- vectors.indices; j <- i until vectors.length) {
          var dp = 0.0
          var k = 0
          while (k < vectors.length) { dp += vectors(k)(i) * vectors(k)(j); k += 1 }
          ortho = math.max(ortho, math.abs(dp - (if (i == j) 1.0 else 0.0)))
        }
        val totalVar = math.max(trace, java.lang.Double.MIN_NORMAL)
        var cum = 0.0
        order.take(PcaComponents).zipWithIndex.map { case (src, rank) =>
          val ev = math.max(evals(src), 0.0) // clip −1e-17-class Jacobi dust
          cum += ev / totalVar
          (rank + 1L, math.rint(ev * 1e6) / 1e6,
            math.rint(ev / totalVar * 1e9) / 1e9, math.rint(cum * 1e9) / 1e9,
            traceGap, ortho, n)
        }.toSeq.toDF("component", "eigenvalue", "explained_share", "cum_share",
            "trace_gap", "ortho_resid", "n_vecs")
          .orderBy(col("component"))
      },
      None
    ),

    QueryDef(
      // PCA WHITENING as a corpus transform (embed_pca reports the
      // basis; this APPLIES it): w = Λ^(−1/2)·Vᵀ·(v − mean), so the
      // output embedding space has identity covariance — the SemDeDup
      // preprocessing that stops one dominant direction from swamping
      // cosine similarity. Design, gates, and the near-null-direction
      // drop rule in [[whiten]]. Rows-only BY DESIGN (eigensolve
      // inside — the embed_pca class) with three OUTPUT-SIDE gate
      // columns re-derived from the whitened corpus itself (max
      // off-diagonal covariance, max diagonal error vs 1, max mean
      // residual — a mis-applied basis cannot keep all three near 0).
      //
      // OUTPUT BOUNDARY (r13's only FAIL, VERDICT item 1): the raw
      // `array<double>` whitened column crashed the driver's pandas
      // canonicalizer (ndarray is unhashable in sort_values) — the
      // third boundary class after DECIMAL and sub-second TIMESTAMP,
      // now machine-banned by OutputBoundarySpec. The query surfaces
      // the vector as SCALARS: its 6dp-rounded L2 norm (a left-fold —
      // the house float chain) and the first four components. The
      // component reads are try_element_at, NOT element_at: this repo
      // runs ANSI-on (Spark 4 default, never disabled), where a plain
      // element_at past the array end THROWS
      // INVALID_ARRAY_INDEX_IN_ELEMENT_AT instead of returning NULL —
      // a rank-deficient corpus keeping < 4 components would crash the
      // gate, the exact class this query was rewritten to fix (ADVICE
      // r14). try_element_at NULLs out-of-bounds, which the harness
      // sorts fine. No output .orderBy: a corpus-wide global sort for
      // presentation only (the driver sorts during canonicalization) —
      // dropped, with whiten()'s internal sort, in r15. The full-vector
      // frame stays the internal API ([[whiten]]) for the whitened
      // dedup consumer; determinism of the component values is
      // WhitenSpec's rerun-byte-identity pin (order-insensitive).
      "embed_whiten",
      // session-staged (r15): the whitened frame now has a second
      // consumer (dedup_semantic_whitened), so the eigensolve runs
      // once per (session, dataset) instead of once per consumer
      (s, dir) => whitenScalars(stagedWhitenFrame(s, dir)),
      None
    ),

    QueryDef(
      // K-MEANS semantic clustering as a first-class query (VERDICT r10
      // item 6 — the SemDeDup/DataComp shape: cluster ON the data, where
      // sample_semantic_balanced's orthants are data-independent).
      // Reuses the deterministic two-pass Lloyd's trainer (one job per
      // iteration, map-side partial sums, fixed-order driver merge)
      // that already serves knn_ivf/knn_ivfpq/VectorIndex, extended
      // with the inertia trajectory. Rows-only BY DESIGN (an iterative
      // data-dependent fixpoint has no SQL mirror — the BpeSpec/MstSpec
      // precedent; KmeansSpec pins centroids, assignments, sizes, and
      // inertia against an independent in-process reference), with the
      // §2 driver-visible gate discipline: `nearest_violations` is an
      // exhaustive second-pass re-check that every member's centroid is
      // its nearest (0 = assignment optimal for the final centroids),
      // `inertia_monotone` reports whether the training objective was
      // non-increasing across all iterations (Lloyd's invariant, 1e-9
      // relative slack for float wobble at convergence). At 100 TB:
      // iters+1 corpus passes, each one job of k×dims partial sums —
      // no shuffle of the corpus, the knn_ivf scale story verbatim.
      "cluster_kmeans",
      (s, dir) => {
        import s.implicits._
        val vecs = Tables(s, dir).embeddings.select(col("vec_id"), col("embedding"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val k = 8
        val iters = 4
        val (cents, inertias) = lloydStats(s, vecs, k, iters)
        val monotone = inertias.toSeq.sliding(2).forall {
          case Seq(a, b) => b <= a * (1 + 1e-9)
          case _ => true
        }
        val total = math.max(1L, vecs.count())
        kmeansClusterStats(s, vecs, cents).toSeq.map { case (c, n, sqd, viol) =>
          (c, n, n.toDouble / total,
            math.rint(sqd * 1e6) / 1e6, viol,
            if (monotone) 1L else 0L, iters.toLong)
        }.toDF("cluster", "n_vecs", "share", "inertia",
            "nearest_violations", "inertia_monotone", "n_iters")
          .orderBy(col("cluster"))
      },
      None
    )
  )
}
