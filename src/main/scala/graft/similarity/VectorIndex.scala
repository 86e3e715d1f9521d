package graft.similarity

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF vector index: build once, probe many.
  *
  * The inline `knn_ivf` query rebuilds its quantizer per run — right for
  * a one-shot query, wrong for the serving pattern where one 100 TB
  * corpus answers many probe batches. This index persists both halves to
  * parquet under one directory:
  *
  *  - `centroids/` — the coarse quantizer (nCells × dims doubles, a
  *    driver-sized table trained by the same deterministic two-pass
  *    Lloyd's as `knn_ivf`);
  *  - `gen=N/vectors/` — every vector tagged with its cell, written
  *    `partitionBy("cell")`, so each IVF inverted list IS a parquet
  *    partition directory; N is the committed compaction generation
  *    (see the generational-layout note below).
  *
  * The at-scale payoff is that probing nprobe of nCells lists is
  * PARTITION PRUNING, not a filter: the probe plan's scan touches only
  * the selected cell directories (plan-shape-asserted in the spec), so
  * disk read scales with nprobe/nCells of the corpus, exactly like a
  * FAISS IVF probe touches only selected lists. Cell selection runs on
  * the driver against the driver-sized centroid table; candidate
  * scoring is one broadcast-queries pass over the pruned scan with
  * per-partition bounded heaps — the corpus side is never shuffled.
  *
  * FILESYSTEM (r16, VERDICT r15 item 1 — shared with
  * [[graft.dedup.BandIndex]] and [[graft.operators.Generations]]):
  * generation listing, the commit markers, the compact no-op check,
  * and the stale-marker sweep all resolve through the Hadoop
  * `FileSystem` API ([[graft.operators.IndexFs]]) — local paths serve
  * through `file://` unchanged, HDFS/S3 through their registered
  * schemes, and the commit needs no rename at all (marker-file names
  * carry the generation — see Generations). HadoopFsIndexSpec drives
  * the full build/append/compact/probe lifecycle over a non-`file:`
  * scheme. The DATA reads/writes were always store-agnostic
  * (`spark.read.parquet`); [[loadMipsM2]] probes by reading, not by
  * existence-checking, so the IVF/MIPS dispatch bit is too.
  */
object VectorIndex {

  // ---- generational layout (the BandIndex discipline, applied to
  // inverted lists; mechanism shared via graft.operators.Generations):
  // vectors live under gen=N/vectors; [[append]] accumulates one file
  // set per batch inside the current generation (the streaming ingest
  // loop's small-files problem), [[compact]] folds into gen=N+1 with
  // replayed duplicates dropped and flips the commit via temp-file +
  // ATOMIC_MOVE. Stale generations are reaped at the START of the next
  // compact, not after the flip (reader grace + crash-leak bound — see
  // [[compact]]). A crash before the flip leaves readers on the intact
  // old generation (a re-run overwrites the same next generation).
  // Centroids are OUTSIDE the generations — the quantizer is frozen,
  // cell ids never change, so compaction is a pure file rewrite.
  // Single-writer, like the sink. ----

  /** Committed generation; 0 before any compaction. */
  private[graft] def currentGen(indexDir: String): Long =
    graft.operators.Generations.currentGen(indexDir)

  private[graft] def vectorsPath(indexDir: String): String =
    vectorsPathAt(indexDir, currentGen(indexDir))

  private[graft] def vectorsPathAt(indexDir: String, gen: Long): String =
    s"$indexDir/gen=$gen/vectors"

  /** Fold the current generation into the next: duplicate vector rows
    * (at-least-once replayed appends — bit-identical by the append
    * contract, so dropping on vec_id is deterministic) removed, each
    * cell's list rewritten as one co-located file set instead of one
    * per append.
    *
    * Reaping is DEFERRED (review finding r13): stale generations are
    * swept at the START of the next compact, never right after the
    * flip — an in-flight probe that resolved its file listing against
    * the old generation keeps a full compaction interval of grace
    * (deleting immediately failed it mid-scan), and a crash between
    * flip and reap strands the old generation only until the next
    * sweep instead of forever. A reader older than one whole
    * compaction cycle can still race — the snapshot-reclaim contract
    * every MVCC store carries; production adds a TTL to the sweep.
    *
    * No-op when every cell holds at most one file: a single-writer
    * append emits one file set per batch, so ≤ 1 file per cell means
    * no appends (and no replayed duplicates) since the last fold —
    * the fold would be a pure O(corpus) rewrite for nothing. When it
    * does fold, the rewrite IS full-index (the simplest crash-safe
    * form; the nightly-job shape) — size `compactEvery` accordingly,
    * leveled per-cell compaction is the production refinement. */
  def compact(s: SparkSession, indexDir: String,
              protect: Set[Long] = Set.empty): Unit = {
    val gen = currentGen(indexDir)
    graft.operators.Generations.reapOthers(indexDir, gen, protect)
    val multiFile = graft.operators.IndexFs
      .list(s"$indexDir/gen=$gen/vectors")
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      .exists(c => graft.operators.IndexFs.list(c.getPath.toString)
        .count(_.getPath.getName.endsWith(".parquet")) > 1)
    if (!multiFile) return
    val next = gen + 1
    // Overwrite: a crashed earlier attempt at this generation is
    // replaced wholesale before any reader can see it
    s.read.parquet(s"$indexDir/gen=$gen/vectors")
      .dropDuplicates("vec_id")
      .repartition(col("cell"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).partitionBy("cell")
      .parquet(s"$indexDir/gen=$next/vectors")
    graft.operators.Generations.flip(indexDir, next)
  }

  /** Train the quantizer, tag vectors, and persist both halves.
    * Deterministic: same data + params → byte-identical centroids and
    * assignments (fixed-order float merges, lowest-id init). */
  def buildIvf(s: SparkSession, data: DataFrame, indexDir: String,
               nCells: Int, iters: Int = 2): Unit = {
    // A (re)build is a PLAIN-IVF build unless buildMips says otherwise
    // AFTER this completes: a stale mips_m2 from a former MIPS index in
    // the same directory would make append() mis-dispatch every future
    // batch to MIPS augmentation (ADVICE r14) — sweep it first.
    // A rebuild also rotates the frozen-artifact memos for this dir.
    invalidateMemos(indexDir)
    graft.operators.IndexFs.delete(s"$indexDir/mips_m2")
    val cents = Similarity.coarseCentroids(s, data, nCells, iters)
    import scala.jdk.CollectionConverters._
    val centRows: java.util.List[Row] =
      cents.zipWithIndex.map { case (v, i) => Row(i, v.toSeq) }.toList.asJava
    val centSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cell",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("centroid",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = false), nullable = false)))
    s.createDataFrame(centRows, centSchema)
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/centroids")
    Similarity.assignCells(s, data, cents)
      // one file set per cell FROM BUILD TIME: compact()'s no-op check
      // reads ">1 file in a cell" as "appends happened since the last
      // fold" — an un-repartitioned multi-partition build would leave
      // several files per cell and make the first scheduled compact a
      // full-corpus rewrite with nothing to fold (ADVICE r13)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(vectorsPath(indexDir))
    // invalidate AGAIN after the writes land (ADVICE r18): a probe
    // racing the rebuild window can re-memoize the OLD centroids /
    // vectors between the leading invalidate and the overwrite —
    // buildMips already closes this with a trailing invalidate
    invalidateMemos(indexDir)
  }

  /** Session-scoped memo of the two FROZEN build artifacts every probe
    * re-read per call (r18, guide §1.2): the quantizer and the MIPS M²
    * marker never change after [[buildIvf]]/[[buildMips]] — appends
    * fold vectors under the frozen quantizer by contract — so reading
    * them once per (session, index dir) turns two driver jobs per
    * probe into map lookups. The ONLY writers ([[buildIvf]],
    * [[buildMips]]) invalidate the dir's entries, so a rebuild in the
    * same directory (the spec lifecycle shape) can never serve a stale
    * quantizer. Keyed on the session REFERENCE like [[
    * graft.operators.SessionStaged]]: a restarted session re-reads. */
  private val centroidMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Array[Array[Double]]]
  private val mipsM2Memo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Option[Double]]

  private def invalidateMemos(indexDir: String): Unit = {
    val q = graft.operators.ServingSnapshot.qualified(indexDir)
    centroidMemo.keySet.removeIf(_._2 == q)
    mipsM2Memo.keySet.removeIf(_._2 == q)
    // the relation memo covers the vectors/ dir (r19) — same writers
    graft.operators.FrozenFrames.invalidate(indexDir)
    ()
  }

  /** The persisted quantizer, driver-sized by construction. */
  def loadCentroids(s: SparkSession, indexDir: String): Array[Array[Double]] =
    centroidMemo.computeIfAbsent(
      (s, graft.operators.ServingSnapshot.qualified(indexDir)),
      _ => s.read.parquet(s"$indexDir/centroids").orderBy(col("cell")).collect()
        .map(_.getSeq[Double](1).toArray))

  /** The frozen MIPS augmentation constant, present iff the index was
    * built by [[buildMips]]. One row; its absence IS the IVF/MIPS
    * dispatch bit [[append]] keys on. Presence is probed through the
    * Hadoop FileSystem API ([[graft.operators.IndexFs.exists]]), not
    * `java.io.File` (ADVICE r14): a local-FS-only check would make a
    * MIPS index on HDFS/S3 silently dispatch as plain IVF — the exact
    * silent-mix bug the marker exists to prevent. An absent marker is
    * None without an exception; a present but corrupt or unreadable
    * marker still throws. */
  private[graft] def loadMipsM2(s: SparkSession, indexDir: String): Option[Double] =
    mipsM2Memo.computeIfAbsent(
      (s, graft.operators.ServingSnapshot.qualified(indexDir)),
      _ => {
        val marker = s"$indexDir/mips_m2"
        if (!graft.operators.IndexFs.exists(marker)) None
        else Some(s.read.parquet(marker).collect()(0).getDouble(0))
      })

  /** Fold new vectors INTO an existing index under its FROZEN
    * quantizer — the ingest loop's growth step (see
    * [[graft.streaming.StreamVectorDedup]]). Freezing is the serving
    * practice (FAISS trains once, adds forever; retraining is an
    * offline rebuild): cell boundaries stay put, so appended lists
    * stay probe-consistent with the persisted centroids. An
    * at-least-once replay may append a vector twice; [[probeIvf]]
    * drops bit-identical duplicate candidates before ranking and the
    * streaming sink anti-joins the probing batch's own ids, so
    * duplicates cost bytes, not correctness (the BandIndex.append
    * contract). The repartition on the partition column keeps each
    * touched cell one file per append, not one per upstream task.
    *
    * MIPS indexes (ADVICE r13): a [[buildMips]] index lives in the
    * (d+1)-dim norm-augmented space, and an unaugmented append would
    * silently mix d-dim vectors into it — nearestCell's min-length fold
    * hides the mismatch and the equal-norm invariant the quantizer was
    * trained on breaks with no error. `append` now dispatches on the
    * persisted M²: MIPS indexes re-augment incoming d-dim vectors under
    * the FROZEN M² (a new vector with |x|² > M² is refused loudly —
    * [[Similarity.augmentWithM2]]; the Neyshabur–Srebro reduction is
    * only valid under the trained bound, so outgrowing it is an offline
    * rebuild, the same contract as retraining the centroids). Both
    * paths then REQUIRE the stored dim to match the centroid dim —
    * the mismatch the min-length folds would otherwise eat. */
  def append(s: SparkSession, data: DataFrame, indexDir: String): Unit = {
    val cents = loadCentroids(s, indexDir)
    val prepared = loadMipsM2(s, indexDir) match {
      case Some(m2) =>
        Similarity.augmentWithM2(
          data.select(col("vec_id"), col("embedding"))
            .withColumn("norm2", VectorOps.dot("embedding", "embedding")), m2)
      case None => data
    }
    val d = cents.headOption.map(_.length)
      .getOrElse(sys.error(s"append: no centroids under $indexDir"))
    Similarity.assignCells(s, prepared, cents)
      .withColumn("embedding",
        when(size(col("embedding")) =!= lit(d),
          raise_error(concat(lit("append: vector dim "),
            size(col("embedding")).cast("string"),
            lit(s" != index dim $d"))))
          .otherwise(col("embedding")))
      .repartition(col("cell"))
      .write.mode("append").partitionBy("cell").parquet(vectorsPath(indexDir))
    // new files joined the generation dir: drop the memoized relation
    // so the next probe re-lists (r19 — FrozenFrames coherence contract)
    graft.operators.FrozenFrames.invalidate(indexDir)
  }

  /** Build the persisted MIPS index: the SAME [[buildIvf]] layout over
    * the norm-augmented corpus ([[Similarity.normAugmented]] — one
    * extra float per stored vector, all augmented vectors sharing the
    * corpus max norm M), so the quantizer carves (direction, magnitude)
    * jointly and [[probeMips]]'s pruned scan ranks by the exact dot.
    * The knn_mips_ann reduction as a build-once/probe-many artifact.
    * M² is PERSISTED beside the centroids — it is part of the frozen
    * quantizer: [[append]] needs it to re-augment new vectors in the
    * trained space, and without it a correct MIPS append is not even
    * possible (ADVICE r13). The marker is written LAST (ADVICE r14):
    * persisting the new M² before [[buildIvf]] trains would pair a
    * fresh M² with the PREVIOUS build's centroids after a mid-build
    * crash — if the old index was MIPS of the same dim, later appends
    * would silently augment under the wrong bound (dims match, so the
    * loud dim check never fires). Writing it after the build means a
    * crash leaves at worst a marker-less IVF index over augmented
    * vectors, where the next d-dim append trips the dim check loudly
    * (and buildIvf itself sweeps any stale marker first). */
  def buildMips(s: SparkSession, data: DataFrame, indexDir: String,
                nCells: Int, iters: Int = 2): Unit = {
    val (aug, m2) = Similarity.normAugmentedWithM2(data)
    buildIvf(s, aug, indexDir, nCells, iters)
    import scala.jdk.CollectionConverters._
    s.createDataFrame(
        List(Row(m2): Row).asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("m2",
            org.apache.spark.sql.types.DoubleType, nullable = false))))
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/mips_m2")
    // the m2 marker lands AFTER buildIvf swept the dir's memos; rotate
    // again so a lookup that raced the build tail can't pin None
    invalidateMemos(indexDir)
  }

  /** Top-k cosine neighbors for each probe vector, scanning only the
    * nprobe nearest cells per query. Output: (query_id, vec_id, cosine,
    * rk), rk 1..k, ties broken on vec_id — deterministic.
    *
    * @param queries (query_id LONG, embedding ARRAY<FLOAT>) — the small
    *                side; collected and broadcast (the same contract as
    *                the knn query surface)
    */
  /** `exclude`: candidate ids never admitted to the heaps — the
    * streaming sink passes its own batch's ids so a crash-past-append
    * REPLAY returns the identical top-k (excluding after the rank cut
    * would instead let an already-appended batchmate crowd a genuine
    * base neighbor out of the k, losing it from the replayed output —
    * review finding r13). Batch-sized by contract. */
  def probeIvf(s: SparkSession, indexDir: String, queries: DataFrame,
               k: Int, nprobe: Int, exclude: Set[Long] = Set.empty): DataFrame =
    probeCore(s, indexDir, queries, k, nprobe,
      scoreDot = false, scoreName = "cosine", exclude = exclude)

  /** [[probeIvf]] pinned to a [[graft.operators.ServingSnapshot]] leg —
    * the snapshot reader path: the resolved manifest names the exact
    * vector FILES to serve, so the probe is immutable under later
    * appends (which only ADD files to the generation directory) as well
    * as compactions (which write a NEW generation directory). The
    * centroids live OUTSIDE the generations and are frozen by contract,
    * so cell selection is identical at every generation. Loud when the
    * pinned generation is gone — retired-then-reaped, the snapshot
    * lifecycle's named failure. */
  def probeIvfPinned(s: SparkSession, leg: graft.operators.ServingSnapshot.Leg,
                     queries: DataFrame, k: Int, nprobe: Int,
                     exclude: Set[Long] = Set.empty): DataFrame = {
    graft.operators.ServingSnapshot.requireLeg(leg, Seq("vectors/"),
      "VectorIndex.probeIvfPinned")
    // both IVF and MIPS legs pin vectors/ — the file prefix cannot tell
    // them apart, but the persisted mips_m2 marker can: probing a MIPS
    // index as plain IVF selects cells against (d+1)-dim centroids with
    // a d-dim query and silently degrades recall, the exact wrong-leg
    // mistake the loud refusal exists for
    require(loadMipsM2(s, leg.dir).isEmpty,
      s"VectorIndex.probeIvfPinned: ${leg.dir} is a MIPS index " +
        "(mips_m2 present) — use probeMipsPinned, or re-resolve the " +
        "intended IVF leg")
    probeCore(s, leg.dir, queries, k, nprobe,
      scoreDot = false, scoreName = "cosine", exclude = exclude,
      pinned = Some(leg))
  }

  /** [[probeMips]] pinned to a snapshot leg — same contract as
    * [[probeIvfPinned]] (M² and centroids are frozen build artifacts
    * outside the generations, so the pinned probe augments and ranks
    * exactly as the publish-time probe did). */
  def probeMipsPinned(s: SparkSession, leg: graft.operators.ServingSnapshot.Leg,
                      queries: DataFrame, k: Int, nprobe: Int,
                      exclude: Set[Long] = Set.empty): DataFrame = {
    graft.operators.ServingSnapshot.requireLeg(leg, Seq("vectors/"),
      "VectorIndex.probeMipsPinned")
    // the mirror of probeIvfPinned's dispatch: a plain-IVF leg has no
    // frozen M², so a correct MIPS probe over it is not even possible
    require(loadMipsM2(s, leg.dir).isDefined,
      s"VectorIndex.probeMipsPinned: ${leg.dir} is a plain IVF index " +
        "(no mips_m2) — use probeIvfPinned, or re-resolve the intended " +
        "MIPS leg")
    probeCore(s, leg.dir, queries, k, nprobe,
      scoreDot = true, scoreName = "dot", exclude = exclude,
      pinned = Some(leg))
  }

  /** Top-k MAXIMUM-INNER-PRODUCT neighbors off a [[buildMips]] index:
    * cell selection uses the zero-augmented query [q, 0] (the space the
    * index's quantizer was trained in); scoring is the exact dot — the
    * stored augment coordinate contributes 0·aug = ±0.0 to the fold, so
    * the scores are bit-identical to the unaugmented dot (the
    * knn_mips_ann identity). Output: (query_id, vec_id, dot, rk). */
  def probeMips(s: SparkSession, indexDir: String, queries: DataFrame,
                k: Int, nprobe: Int, exclude: Set[Long] = Set.empty): DataFrame =
    probeCore(s, indexDir, queries, k, nprobe,
      scoreDot = true, scoreName = "dot", exclude = exclude)

  private def probeCore(s: SparkSession, indexDir: String, queries: DataFrame,
                        k: Int, nprobe: Int,
                        scoreDot: Boolean, scoreName: String,
                        exclude: Set[Long],
                        pinned: Option[graft.operators.ServingSnapshot.Leg] =
                          None): DataFrame = {
    val cents = loadCentroids(s, indexDir)
    val qIdIdx = queries.schema.fieldIndex("query_id")
    val qEmbIdx = queries.schema.fieldIndex("embedding")
    val qs: Array[(Long, Array[Float])] = queries.collect()
      .map(r => (r.getLong(qIdIdx),
        // MIPS probes live in the index's AUGMENTED space as [q, 0];
        // the zero coordinate also keeps the scoring fold exact
        if (scoreDot) r.getSeq[Float](qEmbIdx).toArray :+ 0.0f
        else r.getSeq[Float](qEmbIdx).toArray))
    // driver-side cell selection against the driver-sized quantizer:
    // nprobe nearest centroids per query by L2 (the training metric)
    def nearestCells(emb: Array[Float]): Array[Int] =
      cents.indices.map { c =>
        var d = 0.0
        var i = 0
        val n = math.min(cents(c).length, emb.length)
        while (i < n) { val t = emb(i) - cents(c)(i); d += t * t; i += 1 }
        (d, c)
      }.sorted.take(nprobe).map(_._2).toArray
    val qCells: Array[(Long, Array[Float], Array[Int])] =
      qs.map { case (id, emb) => (id, emb, nearestCells(emb)) }
    val needed: Array[Int] = qCells.flatMap(_._3).distinct.sorted
    // cell is a PARTITION column of vectors/ — isin() prunes at planning
    // (pinned reads keep the inference via basePath over the file list).
    // Relations ride the FrozenFrames memo (r19): schema inference +
    // listing once per (session, artifact), writers invalidate
    val pruned = pinned.fold(
      graft.operators.FrozenFrames.read(s, vectorsPath(indexDir))) { leg =>
      graft.operators.FrozenFrames.readPinned(s,
        vectorsPathAt(leg.dir, leg.gen),
        leg.files.map(f => s"${leg.dir}/gen=${leg.gen}/$f"))
    }
      .filter(col("cell").isin(scala.collection.immutable.ArraySeq.unsafeWrapArray(needed.map(Int.box)): _*))
    val bq = s.sparkContext.broadcast(qCells)
    val bx = s.sparkContext.broadcast(exclude)
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.types._
    val outSchema = StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("vec_id", LongType, nullable = false),
      StructField(scoreName, DoubleType, nullable = false)))
    val idIdx = pruned.schema.fieldIndex("vec_id")
    val embIdx = pruned.schema.fieldIndex("embedding")
    val cellIdx = pruned.schema.fieldIndex("cell")
    // per-partition bounded heaps: only numPartitions * |queries| * k
    // candidate rows ever leave a partition
    val partials = pruned.mapPartitions { rows =>
      val queries = bq.value
      val excl = bx.value
      // heap root = the entry to evict (lowest cosine, then highest id)
      // — the same bounded-heap discipline as the brute-force kernel
      val ord = Ordering.by[(Long, Double), (Double, Long)] { case (id, c) => (-c, id) }
      val heaps = Array.fill(queries.length)(
        scala.collection.mutable.PriorityQueue.empty[(Long, Double)](ord))
      // heap MEMBERSHIP per query: a replayed append can deliver a
      // bit-identical duplicate of a CURRENT member, which would pass
      // the better-than-root test and occupy a second slot, evicting
      // the true k-th distinct candidate before any downstream
      // distinct could help (review finding r13 — the post-hoc
      // dropDuplicates shrank the result instead of protecting it).
      // A duplicate of an already-EVICTED id can never re-enter: the
      // root it would have to beat is, by the eviction order, at
      // least as good as the evicted entry.
      val members = Array.fill(queries.length)(
        scala.collection.mutable.HashSet.empty[Long])
      rows.foreach { row =>
        val emb = row.getSeq[Float](embIdx)
        val id = row.getLong(idIdx)
        val cell = row.getInt(cellIdx)
        var qi = 0
        while (qi < queries.length) {
          val (qid, qemb, cells) = queries(qi)
          if (id != qid && !excl.contains(id) && !members(qi).contains(id) &&
              cells.contains(cell)) {
            var dot = 0.0; var na = 0.0; var nb = 0.0
            var i = 0
            val n = math.min(qemb.length, emb.length)
            // dot-only loop hoisted like the Similarity kernel: MIPS
            // discards the norms and must not pay for them
            if (scoreDot) {
              while (i < n) { dot += qemb(i).toDouble * emb(i).toDouble; i += 1 }
            } else {
              while (i < n) {
                val x = qemb(i).toDouble; val y = emb(i).toDouble
                dot += x * y; na += x * x; nb += y * y
                i += 1
              }
            }
            val c = if (scoreDot) dot else dot / (math.sqrt(na) * math.sqrt(nb))
            val h = heaps(qi)
            if (h.size < k) { h.enqueue((id, c)); members(qi).add(id); () }
            else {
              val (wid, wc) = h.head
              if (c > wc || (c == wc && id < wid)) {
                h.dequeue(); members(qi).remove(wid)
                h.enqueue((id, c)); members(qi).add(id)
                ()
              }
            }
          }
          qi += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
        val qid = queries(qi)._1
        h.iterator.map { case (id, c) => Row(qid, id, c) }
      }
    }(Encoders.row(outSchema))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col(scoreName).desc, col("vec_id"))
    // cross-PARTITION duplicates (a replayed append whose copies land
    // in different files) are bit-identical rows; the distinct merges
    // them before ranking — within a partition the heap membership set
    // above already kept them out
    partials.dropDuplicates("query_id", "vec_id")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .orderBy(col("query_id"), col("rk"))
  }
}
