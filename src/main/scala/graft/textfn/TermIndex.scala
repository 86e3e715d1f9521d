package graft.textfn

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted sparse (BM25) retrieval index: build over the corpus once,
  * serve top-k term queries many times — the SPARSE mirror of
  * [[graft.similarity.VectorIndex]] (VERDICT r14 item 1: the dense side
  * had a partition-pruned persisted index with frozen constants, append
  * and generational compaction, while `text_bm25` recomputed the full
  * DF/TF census per run).
  *
  * Layout under one directory:
  *
  *  - `stats/` — ONE frozen row (n_docs, sum_dl): the corpus-level BM25
  *    constants, persisted at build time exactly like `mips_m2` — they
  *    are part of the frozen scorer, not of the postings;
  *  - `terms/` — frozen per-term document frequencies AND impact
  *    ceilings (term, df, max_impact — the max over the build corpus
  *    of the frozen-stats BM25 contribution, r17), written
  *    `partitionBy("shard")` with shard = pmod(hash(term), nShards),
  *    so a probe's term lookup reads only the queried terms' shards;
  *  - `gen=N/postings/` — the inverted lists (term, doc_id, tf, dl),
  *    partitioned by the SAME shard function AND by `ib`, the impact
  *    bucket (r17): ib = floor(B·(1 − c/max_impact)) clamped to
  *    [0, B−1] with B = [[ImpactBuckets]], where c is the posting's
  *    frozen-stats contribution — bucket 0 holds each term's
  *    highest-impact postings, and a posting in bucket ≥ j provably
  *    contributes ≤ max_impact·(1 − j/B). The all-dense probe reads
  *    the top bucket(s) first (partition pruning on ib) and stops when
  *    the k-th candidate clears the remaining buckets' bound sum —
  *    the WAND/impact-ordering discipline re-expressed as partition
  *    layout.
  *
  * The at-scale payoff mirrors the IVF probe: a query's terms cover a
  * bounded shard set derived driver-side (≤ |terms| ints), and the
  * posting scan is PARTITION PRUNING, not a filter — disk read scales
  * with |terms|/nShards of the postings, never the corpus
  * (plan-asserted in TermIndexSpec; probe-cost metric vector in SURVEY
  * §6). Scoring is the exact `text_bm25` expression chain over the
  * pruned rows: per-term contributions pivoted into FIXED query order
  * and left-folded, so the double arithmetic is bit-identical to the
  * inline query's — TermIndexSpec pins probe ≡ [[TextQueries.bm25Top20]]
  * bit-for-bit, and the `text_bm25_indexed` QueryDef carries the same
  * DuckDB oracle as `text_bm25` through the driver gate.
  *
  * FROZEN-STATS CONTRACT (the frozen-quantizer discipline): [[append]]
  * adds postings for NEW docs under the build-time (n_docs, sum_dl, df)
  * — IDF and avgdl do not drift between rebuilds, exactly as FAISS adds
  * vectors under frozen centroids. Consequences, both deterministic and
  * spec-pinned: already-indexed docs' scores NEVER change when the
  * corpus grows (no reranking storms between rebuilds), and appended
  * docs score under the frozen stats (a term unseen at build time keeps
  * df = 0 — its idf is the max the frozen scorer can assign). Refreshing
  * the stats is an offline [[build]], the same contract as retraining
  * the quantizer.
  *
  * Candidate semantics: the probe ranks docs containing ≥ 1 query term
  * (standard sparse retrieval — a doc with no query term has BM25 score
  * exactly 0 and no posting to find it by). Equality with the inline
  * top-k therefore requires ≥ k matching docs, which the spec asserts
  * before pinning (the shipped corpus matches on ~96% of docs). Strict
  * edge of that contract: a matching doc whose contribution 6dp-rounds
  * to 0.000000 (an extreme dl against a tiny idf) ties with the
  * non-candidates the inline query CAN rank by doc_id and the probe
  * cannot see — so the bit-for-bit claim is "≥ k docs with
  * rounded-positive scores", a strictly weaker precondition than the
  * one the spec asserts holds here (min top-20 score ≈ 1).
  *
  * GROWTH LIFECYCLE: generations, the commit markers, compact's no-op
  * heuristic, and replay tolerance are the shared
  * [[graft.operators.Generations]] mechanism — see the BandIndex /
  * VectorIndex headers. All index metadata resolves through the Hadoop
  * `FileSystem` API ([[graft.operators.IndexFs]], r16 — VERDICT r15
  * item 1), so the index serves off local FS, HDFS, or object stores
  * alike; HadoopFsIndexSpec drives the lifecycle over a non-`file:`
  * scheme.
  */
object TermIndex {

  /** Shard count — build and probe must agree (a pure function of the
    * term, so a term's full posting list lives in exactly one shard).
    * 64 is the gate-scale default (the BandIndex sizing: at 256 the
    * build paid ~3× in small-file fan — 14.7 s vs 5.5 s staging at
    * sf0.1 — for pruning ratio the 3-term probe can't use); a 100 TB
    * deployment raises nShards with the corpus so each shard directory
    * stays in the few-hundred-MB band, exactly like BandIndex's XL
    * probe runs 1024. */
  val DefaultShards = 64

  /** Impact buckets per term (B). Bucket boundaries are FRACTIONS of
    * the term's stored max_impact, so assignment needs no quantiles and
    * appended postings bucket deterministically under the frozen stats;
    * a posting whose contribution exceeds the build-time max (possible
    * after append: shorter doc, higher tf) clamps into bucket 0 — read
    * first, so the bound for buckets ≥ 1 stays valid unconditionally.
    * 8 gives j = 1 a 0.875·Σmax residual bound (tight enough for real
    * stopword distributions) at a ≤ 8× file-count fan per shard that
    * only build/compact pay. */
  val ImpactBuckets = 8

  private[graft] def currentGen(indexDir: String): Long =
    graft.operators.Generations.currentGen(indexDir)

  private[graft] def postingsPath(indexDir: String): String =
    postingsPathAt(indexDir, currentGen(indexDir))

  private[graft] def postingsPathAt(indexDir: String, gen: Long): String =
    s"$indexDir/gen=$gen/postings"

  /** The frozen scorer constants (n_docs, sum_dl) — exact integers
    * surfaced as doubles, the same representation `text_bm25`'s stats
    * aggregate produces. */
  private[graft] def loadStats(s: SparkSession, indexDir: String): (Double, Double) =
    statsMemo.computeIfAbsent(
      (s, graft.operators.ServingSnapshot.qualified(indexDir)), _ => {
        val r = s.read.parquet(s"$indexDir/stats").collect()(0)
        (r.getDouble(r.fieldIndex("n_docs")), r.getDouble(r.fieldIndex("sum_dl")))
      })

  /** Session-scoped memo of the frozen scorer constants (r19 — the
    * VectorIndex centroid-memo discipline): one driver collect per
    * (session, index dir) instead of one per probe. [[build]] — the
    * only writer of stats/ — invalidates. */
  private val statsMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (Double, Double)]

  private def invalidateMemos(indexDir: String): Unit = {
    val q = graft.operators.ServingSnapshot.qualified(indexDir)
    statsMemo.keySet.removeIf(_._2 == q)
    graft.operators.FrozenFrames.invalidate(indexDir)
    ()
  }

  /** `shard = pmod(hash(term), nShards)` as a Column — THE one shard
    * function, used by build, append, and the probe's driver-side term
    * lookup (same expression tree, so assignment can never drift). */
  private def shardCol(nShards: Int) =
    pmod(hash(col("term")), lit(nShards)).cast("int")

  /** The per-posting BM25 contribution as a Column — THE one expression
    * shape (identical literals and association as [[rankTopK]]'s fold
    * and the batch chain), so a bucketing decision and the probe's
    * scored contribution see the same double bits for the same posting.
    * k1 = 1.2, b = 0.75 inlined as the house constants. */
  private def contribCol(tf: org.apache.spark.sql.Column,
                         dl: org.apache.spark.sql.Column,
                         df: org.apache.spark.sql.Column,
                         nDocs: Double, sumDl: Double) = {
    val idf = log(lit(1.0) + (lit(nDocs) - df + lit(0.5)) / (df + lit(0.5)))
    idf * (tf * lit(2.2)) /
      (tf + lit(1.2) * (lit(0.25) + lit(0.75) * dl / (lit(sumDl) / lit(nDocs))))
  }

  /** Impact-bucket assignment from a posting's contribution and its
    * term's ceiling: floor(B·(1 − c/m)) clamped to [0, B−1]. */
  private def bucketCol(c: org.apache.spark.sql.Column,
                        m: org.apache.spark.sql.Column) =
    least(lit(ImpactBuckets - 1), greatest(lit(0),
      floor(lit(ImpactBuckets.toDouble) * (lit(1.0) - c / m)))).cast("int")

  /** The analytic contribution ceiling for a term UNSEEN at build time
    * (frozen df = 0): idf(0)·2.2 — the tf→∞, any-dl supremum. Appends
    * bucket such terms against this ceiling and the probe bounds them
    * with the same value, so the pair can never disagree. */
  private def unseenCeiling(nDocs: Double): Double =
    2.2 * math.log(1.0 + (nDocs + 0.5) / 0.5)

  /** (doc_id, dl, term) token rows with the `text_bm25` tokenization
    * verbatim: split on single space, lowercase, empties kept — dl
    * counts them and the scorer's tf/df arithmetic must see the same
    * integers the inline query computes. */
  private def tokenRows(docs: DataFrame) =
    docs.select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))

  /** The (term, doc_id, tf, dl, shard) posting rows for `docs`. */
  private def postingRows(docs: DataFrame, nShards: Int) =
    tokenRows(docs)
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).cast("double").as("tf"))
      .withColumn("shard", shardCol(nShards))

  /** Tokenize, aggregate, and persist all three halves. Deterministic:
    * same docs + nShards → identical postings, term table, and stats. */
  def build(s: SparkSession, docs: DataFrame, indexDir: String,
            nShards: Int = DefaultShards): Unit = {
    // frozen corpus constants FIRST (the impact layer buckets against
    // avgdl) — computed from `docs` with the inline census's own
    // aggregate shape, NOT from the postings: a NULL text produces no
    // posting rows (explode drops the doc) but the inline stats still
    // COUNT the doc in n_docs (and skip its null dl in the sum), and
    // the frozen constants must match the census bit-for-bit on every
    // input, not just null-free ones
    val statsRow = docs
      .select(size(split(lower(col("text")), " ")).cast("double").as("dl"))
      .agg(count(lit(1)).cast("double").as("n_docs"),
        sum(col("dl").cast("long")).cast("double").as("sum_dl"))
      .collect()(0)
    val (nDocs, sumDl) = (statsRow.getDouble(0),
      if (statsRow.isNullAt(1)) 0.0 else statsRow.getDouble(1))
    import org.apache.spark.sql.expressions.Window
    // df + per-posting contribution + per-term impact ceiling in TWO
    // window passes over ONE term-partitioned exchange (df is count
    // over the term partition — one posting row per (term, doc), the
    // same integer text_bm25's array_contains sum produces; max_impact
    // is the max contribution under the frozen stats, r17)
    val wTerm = Window.partitionBy(col("term"))
    val withM = postingRows(docs, nShards)
      .withColumn("df", count(lit(1)).over(wTerm).cast("double"))
      .withColumn("c", contribCol(col("tf"), col("dl"), col("df"), nDocs, sumDl))
      .withColumn("max_impact", max(col("c")).over(wTerm))
      .withColumn("ib", bucketCol(col("c"), col("max_impact")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one file set per (shard, ib) leaf FROM BUILD TIME (the
      // VectorIndex build discipline); the leaf census marker below is
      // what compact()'s appends-happened check compares against
      withM
        .select(col("term"), col("doc_id"), col("tf"), col("dl"),
          col("shard"), col("ib"))
        .repartition(col("shard"))
        .write.mode("overwrite").partitionBy("shard", "ib")
        .parquet(postingsPath(indexDir))
      writeLeafCensus(postingsPath(indexDir))
      // frozen (df, max_impact, per-bucket posting histogram) per term
      // — OUTSIDE the generations, like the centroids. The histogram
      // (r18, VERDICT r17 item 5) is the probe's driver-side
      // k-th-candidate bound estimator: ib_counts[i] = build-time
      // postings of the term in bucket i. Appends do NOT update it —
      // true counts only grow, so every estimate derived from it is
      // conservative (see impactProbe) and the frozen-terms contract
      // stays intact.
      val ibCountCols = (0 until ImpactBuckets).map(i =>
        sum(when(col("ib") === i, 1L).otherwise(0L)).as(s"ibc_$i"))
      withM.groupBy(col("term"), col("shard"), col("df"), col("max_impact"))
        .agg(ibCountCols.head, ibCountCols.tail: _*)
        .withColumn("ib_counts",
          array((0 until ImpactBuckets).map(i => col(s"ibc_$i")): _*))
        .select(col("term"), col("shard"), col("df"), col("max_impact"),
          col("ib_counts"))
        .repartition(col("shard"))
        .write.mode("overwrite").partitionBy("shard")
        .parquet(s"$indexDir/terms")
      s.createDataFrame(
          java.util.Arrays.asList(org.apache.spark.sql.Row(nDocs, sumDl)),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("n_docs",
              org.apache.spark.sql.types.DoubleType, nullable = false),
            org.apache.spark.sql.types.StructField("sum_dl",
              org.apache.spark.sql.types.DoubleType, nullable = false))))
        .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/stats")
      // a rebuild into the same dir must rotate the frozen-artifact
      // memos (stats value + relation handles) — the buildIvf contract
      invalidateMemos(indexDir)
    } finally { withM.unpersist(); () }
  }

  /** Fold NEW docs' postings into the current generation under the
    * FROZEN stats — the ingest loop's growth step. Doc ids must be new
    * arrivals (disjoint from the index); an at-least-once replay may
    * append a doc's rows twice — the rows are bit-identical by
    * determinism of the tokenize/aggregate, [[probe]]'s per-term `max`
    * pivot absorbs them, and [[compact]] folds them away.
    *
    * LAYOUT TOLERANCE (ADVICE r17): against an index built by
    * pre-impact (pre-r17) code — terms table without `max_impact`,
    * postings without `ib=` partitions — append writes the LEGACY
    * layout (shard-partitioned, no bucket column) so the generation
    * stays structurally homogeneous and readable; the probe's
    * `hasImpacts`/`ib` gates already route such an index exhaustive.
    * Mixing bucketed files into an unbucketed directory would instead
    * fail every later read with conflicting partition schemas. */
  def append(s: SparkSession, docs: DataFrame, indexDir: String,
             nShards: Int = DefaultShards): Unit = {
    val (nDocs, sumDl) = loadStats(s, indexDir)
    val termsRaw = s.read.parquet(s"$indexDir/terms")
    if (!termsRaw.schema.fieldNames.contains("max_impact")) {
      postingRows(docs, nShards)
        .select(col("term"), col("doc_id"), col("tf"), col("dl"), col("shard"))
        .repartition(col("shard"))
        .write.mode("append").partitionBy("shard")
        .parquet(postingsPath(indexDir))
      graft.operators.FrozenFrames.invalidate(indexDir)
      return
    }
    // bucket the new postings under the FROZEN (df, max_impact): a term
    // unseen at build keeps df = 0 and buckets against the analytic
    // ceiling; a seen term whose new posting beats the build-time max
    // clamps into bucket 0 (read first — bound stays valid)
    val termsRel = termsRaw.select(col("term"), col("df"), col("max_impact"))
    postingRows(docs, nShards)
      .join(termsRel, Seq("term"), "left")
      .withColumn("dfv", coalesce(col("df"), lit(0.0)))
      .withColumn("c", contribCol(col("tf"), col("dl"), col("dfv"), nDocs, sumDl))
      .withColumn("ib", bucketCol(col("c"),
        coalesce(col("max_impact"), lit(unseenCeiling(nDocs)))))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"),
        col("shard"), col("ib"))
      .repartition(col("shard"))
      .write.mode("append").partitionBy("shard", "ib")
      .parquet(postingsPath(indexDir))
    // new posting files joined the generation: drop memoized relations
    graft.operators.FrozenFrames.invalidate(indexDir)
  }

  /** Per-generation leaf-census marker, written beside the postings by
    * [[build]] and [[compact]] (underscore prefix — invisible to
    * Spark's file index, like `_SUCCESS`): the sorted list of
    * `shard=X/ib=Y` leaf directories the last FOLD produced, under the
    * manifest completeness-footer discipline. [[compact]]'s
    * appends-happened check compares the census against the current
    * leaf set — the pre-r18 ">1 file per leaf" heuristic alone missed
    * appends whose postings land only in leaves EMPTY at build time (a
    * lower-impact bucket the build never populated is a fresh
    * single-file leaf), which were then never folded (ADVICE r17). */
  private val LeafCensusFile = "_graft_leaves"

  /** Current `(relative leaf dir, parquet file count)` pairs, sorted —
    * LOUD on the pre-impact layout (postings files directly under
    * `shard=`, no `ib=` level): compact cannot fold what it cannot
    * read the `ib` column from, and silently no-opping forever was the
    * failure mode (ADVICE r17). */
  private def leafCensusOf(postingsDir: String): Seq[(String, Int)] = {
    val shardDirs = graft.operators.IndexFs.list(postingsDir)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("shard="))
    shardDirs.flatMap { sh =>
      val entries = graft.operators.IndexFs.list(sh.getPath.toString)
      if (entries.exists(st => !st.isDirectory &&
          st.getPath.getName.endsWith(".parquet")))
        throw new IllegalStateException(
          s"TermIndex.compact: ${sh.getPath} holds postings files outside " +
            "an ib= impact bucket — a pre-impact (pre-r17) index layout. " +
            "Rebuild the index (TermIndex.build) to fold it; compacting " +
            "the legacy layout in place would silently no-op forever")
      entries
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("ib="))
        .map(ibd => (s"${sh.getPath.getName}/${ibd.getPath.getName}",
          graft.operators.IndexFs.list(ibd.getPath.toString)
            .count(_.getPath.getName.endsWith(".parquet"))))
    }.toSeq.sortBy(_._1)
  }

  private def writeLeafCensus(postingsDir: String): Unit = {
    val names = leafCensusOf(postingsDir).map(_._1)
    graft.operators.IndexFs.createMarker(s"$postingsDir/$LeafCensusFile",
      (names :+ s"#complete n=${names.size}").mkString("\n"),
      overwrite = true)
  }

  /** The census the last fold recorded; None when absent or torn
    * (pre-r18 generation, crashed writer) — the caller then treats the
    * generation as appended-to and folds once, which self-heals the
    * marker. */
  private def readLeafCensus(postingsDir: String): Option[Seq[String]] = {
    val f = s"$postingsDir/$LeafCensusFile"
    if (!graft.operators.IndexFs.exists(f)) return None
    val lines =
      try graft.operators.IndexFs.readSmall(f)
        .split("\n").iterator.filter(_.nonEmpty).toSeq
      catch { case _: java.io.IOException => return None }
    val body = lines.filterNot(_.startsWith("#"))
    if (lines.lastOption.contains(s"#complete n=${body.size}")) Some(body)
    else None
  }

  /** Fold the current generation into the next: replayed-duplicate
    * postings dropped (exact-duplicate rows — deterministic), each
    * shard's postings rewritten as one co-located file set. No-op only
    * when NO appends happened since the last fold, decided against the
    * persisted leaf census (r18, ADVICE r17): appends show as a leaf
    * holding > 1 file OR as a leaf the last fold didn't write (a
    * bucket empty at build time) — the bare >1-file heuristic missed
    * the second shape. A generation without a census (pre-r18) folds
    * once and gains one; the pre-impact layout (no ib= level) is
    * refused loudly with a rebuild instruction. Reaping deferred to
    * the START of the next compact (reader grace — the shared
    * discipline). */
  def compact(s: SparkSession, indexDir: String,
              protect: Set[Long] = Set.empty): Unit = {
    val gen = currentGen(indexDir)
    graft.operators.Generations.reapOthers(indexDir, gen, protect)
    val pdir = s"$indexDir/gen=$gen/postings"
    val leaves = leafCensusOf(pdir)
    val appendsHappened = readLeafCensus(pdir) match {
      case Some(census) =>
        leaves.exists(_._2 > 1) || leaves.map(_._1) != census
      case None => true
    }
    if (!appendsHappened) return
    val next = gen + 1
    s.read.parquet(pdir)
      .select(col("term"), col("doc_id"), col("tf"), col("dl"),
        col("shard"), col("ib"))
      .distinct()
      .repartition(col("shard"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("shard", "ib")
      .parquet(s"$indexDir/gen=$next/postings")
    writeLeafCensus(s"$indexDir/gen=$next/postings")
    graft.operators.Generations.flip(indexDir, next)
    invalidateMemos(indexDir)
  }

  /** Top-k BM25 (k1 = 1.2, b = 0.75) docs for `terms`, reading only the
    * queried terms' posting shards. Output (doc_id, score) — the
    * `text_bm25` shape, scores bit-identical to the inline query's for
    * every returned doc. `nShards` must match the build. */
  def probe(s: SparkSession, indexDir: String, terms: Seq[String], k: Int,
            nShards: Int = DefaultShards): DataFrame =
    probeRel(s, graft.operators.FrozenFrames.read(s, postingsPath(indexDir)),
      graft.operators.FrozenFrames.read(s, s"$indexDir/terms"),
      loadStats(s, indexDir), terms, k, nShards)

  /** [[probe]] pinned to a [[graft.operators.ServingSnapshot]] leg —
    * the snapshot reader path: the resolved manifest names the exact
    * posting FILES to serve, so the probe is immutable under later
    * appends (which only ADD files to the generation directory) as well
    * as compactions (which write a NEW generation directory). The df
    * table and scorer stats live OUTSIDE the generations and are frozen
    * by contract, so the pinned probe scores bit-identically to the
    * probe that ran when the snapshot was published. Loud when the
    * pinned generation is gone — retired-then-reaped, the snapshot
    * lifecycle's named failure. */
  def probePinned(s: SparkSession, leg: graft.operators.ServingSnapshot.Leg,
                  terms: Seq[String], k: Int,
                  nShards: Int = DefaultShards): DataFrame = {
    graft.operators.ServingSnapshot.requireLeg(leg, Seq("postings/"),
      "TermIndex.probePinned")
    val base = postingsPathAt(leg.dir, leg.gen)
    val files = leg.files.map(f => s"${leg.dir}/gen=${leg.gen}/$f")
    // basePath keeps shard= partition-directory inference (and with it
    // the probe's partition pruning) over an explicit file list
    probeRel(s, graft.operators.FrozenFrames.readPinned(s, base, files),
      graft.operators.FrozenFrames.read(s, s"${leg.dir}/terms"),
      loadStats(s, leg.dir), terms, k, nShards)
  }

  /** df/n_docs above which a query term is DENSE for [[probeRel]]'s
    * max-score candidate pruning: its posting list covers the majority
    * of the corpus, so "docs containing it" is not a candidate set —
    * it is the corpus. Its analytic impact ceiling is correspondingly
    * small (idf ≤ ln 2 at 0.5, → 0 as df → n), which is what makes the
    * bound check below pass for real stopword-class terms. */
  val MaxScoreDenseDfFrac = 0.5

  /** Rounding margin for the max-score bound check: output scores are
    * 6dp-rounded, so a non-candidate's ROUNDED score can sit half a
    * quantum above its true score — the k-th candidate must clear the
    * dense ceiling by a full quantum before pruning is provably safe. */
  private val MaxScoreQuantum = 1e-6

  /** Probe-count telemetry for the max-score branch (spec visibility —
    * the branch decision is otherwise invisible from the returned
    * frame). */
  private[graft] val maxScorePruned = new java.util.concurrent.atomic.AtomicLong
  private[graft] val maxScoreFellBack = new java.util.concurrent.atomic.AtomicLong

  /** Telemetry for the ALL-DENSE impact-bucket branch (r17). */
  private[graft] val impactPruned = new java.util.concurrent.atomic.AtomicLong
  private[graft] val impactEscalated = new java.util.concurrent.atomic.AtomicLong
  private[graft] val impactFellBack = new java.util.concurrent.atomic.AtomicLong

  /** [[probe]] over pre-read relations + stats — the staged QueryDef
    * path (file listing and footers read once per session, the
    * BandIndex.probeRel rationale).
    *
    * MAX-SCORE CANDIDATE PRUNING (VERDICT r15 item 4): a stopword-class
    * query term defeats shard pruning from inside — its posting list IS
    * the corpus, so the per-doc pivot aggregate holds corpus-scale
    * state and the top-k heaps rank every document. The fix is the
    * classic max-score split under the frozen scorer: per-term BM25
    * contribution is strictly below `2.2·idf(df)` for every possible tf
    * and dl (the tf→∞ limit; dl ≥ 1 — and idf uses FROZEN df, so the
    * ceiling holds for appended postings too). Terms with
    * df > [[MaxScoreDenseDfFrac]]·n_docs are DENSE; the rest are
    * SPARSE. When both classes are present, candidates are the docs
    * holding ≥ 1 sparse posting; they are scored EXACTLY (all terms,
    * the verbatim chain — semi-join restricts rows, never arithmetic),
    * and the k-th candidate's rounded score θ is checked driver-side
    * against the dense ceiling Σ_dense 2.2·idf: a dense-only doc scores
    * strictly below that sum, so θ − Σ > quantum proves no pruned doc
    * could enter the top-k even through a rounded tie (ties break on
    * doc_id; the margin makes the exclusion strict). If the proof fails
    * (dense terms genuinely decide the ranking, or < k candidates), the
    * probe FALLS BACK to the exhaustive path — pruning is an
    * optimization with a proof obligation, never a semantics change.
    * Cost shape at 100 TB: the dense posting scan still streams (exact
    * tf for candidates lives only there — the floor for exact BM25
    * without a forward index), but aggregate state and the rank cut
    * drop from corpus-scale to candidate-scale. The pruned branch
    * materializes its k rows driver-side to run the proof (the probe
    * already collects shard/df lookups driver-side; k is
    * result-sized). All-sparse queries — the standing QueryDefs — take
    * the untouched single-pass path, bit-identical plan and all. */
  private[graft] def probeRel(s: SparkSession, postings: DataFrame,
                              termsRel: DataFrame, stats: (Double, Double),
                              terms: Seq[String], k: Int,
                              nShards: Int): DataFrame = {
    require(terms.nonEmpty, "TermIndex.probe: empty term list")
    val (nDocs, sumDl) = stats
    // driver-side shard selection through the SAME expression tree the
    // writers used — a LocalTableScan job over |terms| rows, never the
    // corpus
    import org.apache.spark.sql.Encoders
    val needed: Array[Int] = s.createDataset(terms)(Encoders.STRING)
      .toDF("term").select(shardCol(nShards).as("shard"))
      .distinct().collect().map(_.getInt(0)).sorted
    val shardFilter = col("shard")
      .isin(needed.toIndexedSeq.map(Int.box): _*)
    // frozen (df, max_impact) per queried term: ≤ |terms| rows off the
    // pruned terms shards; a term absent at build time keeps df = 0
    // (the frozen-scorer contract — max idf, deterministic) and bounds
    // at the analytic unseen ceiling
    val termRows = termsRel
      .filter(shardFilter && col("term").isin(terms: _*))
      .collect()
    val dfByTerm: Map[String, Double] = termRows
      .map(r => r.getString(r.fieldIndex("term")) ->
        r.getDouble(r.fieldIndex("df"))).toMap
    val hasImpacts = termsRel.schema.fieldNames.contains("max_impact")
    val impactByTerm: Map[String, Double] =
      if (!hasImpacts) Map.empty
      else termRows.map(r => r.getString(r.fieldIndex("term")) ->
        r.getDouble(r.fieldIndex("max_impact"))).toMap
    // per-term build-time bucket histograms (r18) — absent on pre-r18
    // indexes, in which case the probe keeps the full escalation
    // schedule
    val histByTerm: Map[String, Seq[Long]] =
      if (!termsRel.schema.fieldNames.contains("ib_counts")) Map.empty
      else termRows.map(r => r.getString(r.fieldIndex("term")) ->
        r.getSeq[Long](r.fieldIndex("ib_counts"))).toMap
    // shard is a PARTITION column of postings/ — isin() prunes at
    // planning; the term filter rides into the row groups
    val pruned = postings.filter(shardFilter && col("term").isin(terms: _*))
    val sparseTerms = terms.filter(t =>
      dfByTerm.getOrElse(t, 0.0) <= MaxScoreDenseDfFrac * nDocs)
    val denseTerms = terms.filterNot(sparseTerms.contains)
    if (denseTerms.isEmpty)
      // all-sparse (the standing queries): one pass, lazy, unchanged
      rankTopK(s, pruned, stats, dfByTerm, terms, k)
    else if (sparseTerms.isEmpty)
      // ALL-DENSE (stopword-only — VERDICT r16 item 1): no sparse
      // anchor exists, so max-score can never engage; the impact
      // buckets are the candidate generator instead
      impactProbe(s, pruned, stats, dfByTerm, impactByTerm, histByTerm,
          terms, k,
          hasImpacts && postings.schema.fieldNames.contains("ib"))
        .getOrElse {
          impactFellBack.incrementAndGet()
          rankTopK(s, pruned, stats, dfByTerm, terms, k)
        }
    else {
      // candidate docs: ≥ 1 sparse posting. distinct BEFORE the semi
      // join (a doc with several sparse terms must not fan the join)
      val candDocs = pruned.filter(col("term").isin(sparseTerms: _*))
        .select(col("doc_id")).distinct()
      val top = rankTopK(s, pruned.join(candDocs, Seq("doc_id"), "left_semi"),
        stats, dfByTerm, terms, k).collect()
      // dense ceiling: Σ over dense terms of the analytic per-term max
      val denseCeiling = denseTerms.map { t =>
        val df = dfByTerm.getOrElse(t, 0.0)
        2.2 * math.log(1.0 + (nDocs - df + 0.5) / (df + 0.5))
      }.sum
      val proofHolds = top.nonEmpty && top.length == k &&
        top.last.getDouble(top.last.fieldIndex("score")) - denseCeiling >
          MaxScoreQuantum
      if (proofHolds) {
        maxScorePruned.incrementAndGet()
        topFrame(s, top)
      } else {
        maxScoreFellBack.incrementAndGet()
        rankTopK(s, pruned, stats, dfByTerm, terms, k)
      }
    }
  }

  /** Driver-materialized (doc_id, score) top rows back as a frame —
    * shared by the max-score and impact-bucket pruned branches. */
  private def topFrame(s: SparkSession,
                       top: Array[org.apache.spark.sql.Row]): DataFrame = {
    import scala.jdk.CollectionConverters._
    s.createDataFrame(top.toList.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("score",
          org.apache.spark.sql.types.DoubleType, nullable = false))))
      .orderBy(col("score").desc, col("doc_id"))
  }

  /** The ALL-DENSE probe over the impact-bucket layout (r17, VERDICT
    * r16 item 1 — the last corpus-scale cliff in sparse serving): a
    * stopword-only query has no sparse anchor, so [[probeRel]]'s
    * max-score split routes it exhaustive by construction and the
    * per-doc pivot holds corpus-scale aggregate state. Impact ordering
    * is the standard fix (WAND/BMW re-expressed as PARTITION layout):
    * candidates are the docs holding ≥ 1 posting in the top `j` impact
    * buckets of ANY query term — a partition-pruned read of `ib < j`,
    * a sliver of the postings — scored EXACTLY over all their postings
    * (the semi-join restricts rows, never arithmetic, the max-score
    * contract verbatim). PROOF OBLIGATION, checked driver-side: a
    * non-candidate doc's every posting sits in buckets ≥ j, so its
    * score is < Σ_t max_impact_t·(1 − j/B); if the k-th candidate's
    * rounded score clears that bound by more than the rounding
    * quantum, no pruned doc can enter the top-k even through a rounded
    * tie. Fails → escalate j (read more buckets; each step is a
    * geometric widening, counted in [[impactEscalated]]); exhausted →
    * None and the caller runs the exhaustive plan ([[impactFellBack]])
    * — an optimization with a proof obligation, never a semantics
    * change. Terms unseen at build (frozen df = 0) bound at
    * [[unseenCeiling]], exactly the ceiling their appends bucketed
    * against. Cost shape at 100 TB: candidate generation reads
    * |top buckets|/B of the queried shards; aggregate state and the
    * rank cut drop from corpus-scale to candidate-scale; the exact
    * scoring pass still streams the queried terms' postings (the
    * max-score floor for exact BM25 without a forward index).
    * `layoutOk` gates on a pre-r17 index layout (no ib partition / no
    * max_impact column) — such an index probes exhaustively.
    *
    * STARTING-WIDTH SELECTION (r18, VERDICT r17 item 5): always
    * starting at j = 1 paid a full wasted candidate round whenever the
    * top bucket could not carry the proof (measured at the 30× probe:
    * one thrown-away scan+aggregate+collect). Two mechanisms fix the
    * schedule, one provable and one empirical:
    *
    *  - HISTOGRAM VIABILITY (the k-th-candidate existence bound): the
    *    candidate docs at width j number at most Σ_t hist_t[0..j)
    *    (per-term build counts are distinct docs; the sum over terms
    *    over-counts shared ones). Below k, the proof's `length == k`
    *    precondition provably fails — the width is skipped without a
    *    round, and when NO scheduled width is viable the probe goes
    *    STRAIGHT to the exhaustive fallback with zero wasted rounds.
    *    Appends only grow true counts, so a stale histogram can only
    *    under-estimate viability — a wrong skip costs wall on the
    *    exhaustive path, never exactness (the proof gates every cut).
    *    A SCORE-side closed-form estimate deliberately does NOT pick
    *    the start: the only driver-derivable k-th-candidate score
    *    bound is the best single-term guarantee max_t m_t·(1 − j′/B),
    *    while the pruning bound SUMS every term's ceiling — for the
    *    standing multi-term stopword queries the max-vs-sum gap makes
    *    that estimate permanently silent, and for single-term queries
    *    it systematically over-widens the read (it can never endorse
    *    the width that holds the k-th posting, only the next one).
    *  - PROVEN-WIDTH MEMO (the hot-query plan cache): standing
    *    queries re-probe the same frozen index many times per
    *    session; the first execution's escalation DISCOVERS the width
    *    the proof needs, the memo starts later executions there — one
    *    candidate round steady-state. Keyed on the frozen identity
    *    (terms, k, stats, df, histogram) so distinct indexes with
    *    coincident stats cannot collide; bounded, swept wholesale at
    *    the cap. Exactness untouched: the memo changes which width is
    *    TRIED first, the proof still gates the cut, and a stale width
    *    (post-append drift) simply escalates or falls back as ever. */
  private[graft] val provenWidth =
    new java.util.concurrent.ConcurrentHashMap[
      (Seq[String], Int, (Double, Double), Map[String, Double],
        Map[String, Seq[Long]]), Int]()

  private def impactProbe(s: SparkSession, pruned: DataFrame,
                          stats: (Double, Double),
                          dfByTerm: Map[String, Double],
                          impactByTerm: Map[String, Double],
                          histByTerm: Map[String, Seq[Long]],
                          terms: Seq[String], k: Int,
                          layoutOk: Boolean): Option[DataFrame] = {
    if (!layoutOk) return None
    val (nDocs, _) = stats
    def ceilingOf(t: String): Double =
      if (dfByTerm.getOrElse(t, 0.0) == 0.0) unseenCeiling(nDocs)
      else impactByTerm.getOrElse(t, unseenCeiling(nDocs))
    val b = ImpactBuckets
    // a term without a histogram row (appended-only, or a pre-r18 terms
    // table with no ib_counts at all) has an UNKNOWN candidate count at
    // every width, so no width containing such a term can ever be ruled
    // out — the check short-circuits to viable rather than summing a
    // large sentinel, which would overflow Long past 16 unknown terms
    // and silently rule out EVERY width (forcing the exhaustive path on
    // exactly the indexes the impact branch was built for)
    val allKnown = terms.forall(histByTerm.contains)
    def candUpper(j: Int): Long =
      terms.flatMap(histByTerm.get).map(_.take(j).sum).sum
    def boundAt(j: Int): Double =
      terms.map(t => ceilingOf(t) * (1.0 - j.toDouble / b)).sum
    val viable = Seq(1, 2, 4).filter(j => !allKnown || candUpper(j) >= k)
    if (viable.isEmpty) return None // provably < k candidates at every width
    val memoKey = (terms, k, stats, dfByTerm, histByTerm)
    val start = provenWidth.getOrDefault(memoKey, viable.head)
    var attempts = 0
    for (j <- viable.dropWhile(_ < start)) {
      attempts += 1
      // ib is a PARTITION column — `< j` prunes at planning, so the
      // candidate read touches only the top buckets' files
      val cands = pruned.filter(col("ib") < j)
        .select(col("doc_id")).distinct()
      val top = rankTopK(s, pruned.join(cands, Seq("doc_id"), "left_semi"),
        stats, dfByTerm, terms, k).collect()
      val proofHolds = top.nonEmpty && top.length == k &&
        top.last.getDouble(top.last.fieldIndex("score")) - boundAt(j) >
          MaxScoreQuantum
      if (proofHolds) {
        impactPruned.incrementAndGet()
        impactEscalated.addAndGet(attempts - 1L)
        if (provenWidth.size > 1024) provenWidth.clear()
        provenWidth.put(memoKey, j)
        return Some(topFrame(s, top))
      }
    }
    impactEscalated.addAndGet(attempts - 1L)
    None
  }

  /** The exhaustive scoring chain over a posting source: pivot, the
    * verbatim `text_bm25` contribution fold, top-k. Exposed
    * `private[graft]` pieces-together so the spec can pin the max-score
    * branch against the unpruned path on the same relations. */
  private def rankTopK(s: SparkSession, src: DataFrame,
                       stats: (Double, Double), dfByTerm: Map[String, Double],
                       terms: Seq[String], k: Int): DataFrame = {
    val (nDocs, sumDl) = stats
    // pivot the ≤ |terms| posting rows per doc into FIXED query order;
    // max() over bit-identical replay duplicates is that value, and dl
    // is functionally dependent on doc_id
    val aggs = max(col("dl")).as("dl") +: terms.zipWithIndex.map {
      case (t, i) => max(when(col("term") === lit(t), col("tf"))).as(s"tf_$i")
    }
    val perDoc = src.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    // the text_bm25 expression chain VERBATIM (same literals, same
    // shapes, same left fold) over the frozen constants — Catalyst
    // folds the constant subterms with the same double arithmetic the
    // inline query's codegen runs, so per-doc scores are bit-identical.
    // A missing term's tf coalesces to 0.0: its contribution is
    // idf·0/positive = +0.0, the additive identity — the fold's bits
    // match the inline sum over all |terms| positions.
    val avgdl = lit(sumDl) / lit(nDocs)
    val contrib = terms.zipWithIndex.map { case (t, i) =>
      val tf = coalesce(col(s"tf_$i"), lit(0.0))
      val dfT = lit(dfByTerm.getOrElse(t, 0.0))
      val idf = log(lit(1.0) +
        (lit(nDocs) - dfT + lit(0.5)) / (dfT + lit(0.5)))
      idf * (tf * lit(2.2)) /
        (tf + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl))
    }.reduce(_ + _)
    // TakeOrderedAndProject (per-partition heaps), never a global sort
    perDoc
      .select(col("doc_id"), round(contrib, 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** The exhaustive probe with max-score pruning DISABLED — the spec's
    * reference side for pinning the pruned branch's equality. */
  private[graft] def probeRelExhaustive(s: SparkSession, postings: DataFrame,
                                        termsRel: DataFrame,
                                        stats: (Double, Double),
                                        terms: Seq[String], k: Int,
                                        nShards: Int): DataFrame = {
    import org.apache.spark.sql.Encoders
    val needed: Array[Int] = s.createDataset(terms)(Encoders.STRING)
      .toDF("term").select(shardCol(nShards).as("shard"))
      .distinct().collect().map(_.getInt(0)).sorted
    val shardFilter = col("shard")
      .isin(needed.toIndexedSeq.map(Int.box): _*)
    val dfByTerm: Map[String, Double] = termsRel
      .filter(shardFilter && col("term").isin(terms: _*))
      .collect().map(r => r.getString(r.fieldIndex("term")) ->
        r.getDouble(r.fieldIndex("df"))).toMap
    rankTopK(s, postings.filter(shardFilter && col("term").isin(terms: _*)),
      stats, dfByTerm, terms, k)
  }

  /** BATCH retrieval: top-k BM25 per query over a query batch — the
    * document-at-a-time scoring JOIN, where [[probe]] is the
    * single-standing-query pivot. The shapes differ because the costs
    * do: a fixed query pivots its ≤ m terms into columns and left-folds
    * raw doubles (bit-identical to the inline census); a BATCH of
    * queries joins (qid, term) rows against the pruned postings, so
    * per-(query, doc) contributions arrive in shuffle order and the sum
    * must not depend on it — each per-term contribution is 6dp-rounded
    * to DECIMAL(18,6) and summed EXACTLY (the text_perplexity
    * discipline: order-independent, engine-independent), surfacing as
    * DOUBLE. Scores therefore differ from [[probe]]'s raw-double fold
    * only inside the 1e-6 rounding quantum; ranking is over the exact
    * decimal, fully deterministic, and the `text_bm25_batch` QueryDef
    * carries a DuckDB oracle that reproduces it bit-for-bit.
    *
    * Scan cost: ONE pruned pass over the union of all queries' term
    * shards — queries ride as a broadcast, the postings side never
    * shuffles before the per-(qid, doc) aggregate. Terms unseen at
    * build time keep frozen df = 0 (the [[probe]] contract — appended
    * postings for such terms still score). Duplicate terms within a
    * query are deduped (a repeated term is one term, not double tf).
    *
    * Top-k cost (VERDICT r15): the rank is declared as a row_number
    * window + filter and Catalyst's InferWindowGroupLimit plans it
    * two-phase — a PARTIAL WindowGroupLimit below the qid exchange cuts
    * each map task's output to ≤ k rows per query off its local sort,
    * so the per-query reducer ranks ≤ partitions×k survivors, never the
    * full candidate aggregate (a common-term query's corpus-scale
    * candidate set is sorted in parallel map-side, exactly the
    * partitionTopK discipline the dense batch paths hand-roll —
    * PlanShapeSpec pins the Partial node so the shape is load-bearing). */
  def probeBatch(s: SparkSession, indexDir: String,
                 queries: Seq[(Long, Seq[String])], k: Int,
                 nShards: Int = DefaultShards): DataFrame =
    probeBatchRel(s, graft.operators.FrozenFrames.read(s, postingsPath(indexDir)),
      graft.operators.FrozenFrames.read(s, s"$indexDir/terms"),
      loadStats(s, indexDir), queries, k, nShards)

  /** [[probeBatch]] pinned to a [[graft.operators.ServingSnapshot]]
    * leg — the batch face of [[probePinned]], same immutability and
    * loud-failure contract, scoring the verbatim batch chain over the
    * pinned posting files. */
  def probeBatchPinned(s: SparkSession,
                       leg: graft.operators.ServingSnapshot.Leg,
                       queries: Seq[(Long, Seq[String])], k: Int,
                       nShards: Int = DefaultShards): DataFrame = {
    graft.operators.ServingSnapshot.requireLeg(leg, Seq("postings/"),
      "TermIndex.probeBatchPinned")
    val base = postingsPathAt(leg.dir, leg.gen)
    val files = leg.files.map(f => s"${leg.dir}/gen=${leg.gen}/$f")
    probeBatchRel(s, graft.operators.FrozenFrames.readPinned(s, base, files),
      graft.operators.FrozenFrames.read(s, s"${leg.dir}/terms"),
      loadStats(s, leg.dir), queries, k, nShards)
  }

  /** Batch-probe telemetry, the [[maxScorePruned]] siblings. */
  private[graft] val maxScoreBatchPruned = new java.util.concurrent.atomic.AtomicLong
  private[graft] val maxScoreBatchFellBack = new java.util.concurrent.atomic.AtomicLong

  /** BATCH MAX-SCORE (r16, the single-probe discipline per query): a
    * stopword inside ANY batch query makes the per-(qid, doc) aggregate
    * corpus-scale — the partial rank cut bounds the SORT, not the
    * aggregate state. Queries mixing sparse (df ≤ 0.5·n) and dense
    * terms restrict their contribution rows to candidate (qid, doc)
    * pairs holding ≥ 1 sparse posting BEFORE the aggregate; all-sparse
    * and all-dense queries stay unrestricted. The proof is per mixed
    * query over the DECIMAL boundary: an excluded dense-only doc's
    * score is Σ_dense round(c_t, 6) ≤ Σ_dense(2.2·idf_t + 5e-7), so the
    * k-th candidate must clear Σ_dense 2.2·idf by (|dense|+1) rounding
    * quanta. Any mixed query failing its proof (or returning < k rows)
    * falls the WHOLE batch back to the exhaustive plan — same
    * optimization-with-a-proof-obligation contract as [[probeRel]],
    * never a semantics change (the oracle-gated batch rides whichever
    * branch and hashes identically). The pruned branch materializes
    * its ≤ |queries|·k rows driver-side to run the proof. */
  private[graft] def probeBatchRel(s: SparkSession, postings: DataFrame,
                                   termsRel: DataFrame, stats: (Double, Double),
                                   queries: Seq[(Long, Seq[String])], k: Int,
                                   nShards: Int,
                                   pruneMaxScore: Boolean = true): DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty),
      "TermIndex.probeBatch: empty query batch or empty term list")
    val (nDocs, sumDl) = stats
    val allTerms = queries.flatMap(_._2).distinct
    import org.apache.spark.sql.Encoders
    val needed: Array[Int] = s.createDataset(allTerms)(Encoders.STRING)
      .toDF("term").select(shardCol(nShards).as("shard"))
      .distinct().collect().map(_.getInt(0)).sorted
    val shardFilter = col("shard")
      .isin(needed.toIndexedSeq.map(Int.box): _*)
    val dfByTerm: Map[String, Double] = termsRel
      .filter(shardFilter && col("term").isin(allTerms: _*))
      .collect().map(r => r.getString(r.fieldIndex("term")) ->
        r.getDouble(r.fieldIndex("df"))).toMap
    // (term, df) for EVERY queried term — frozen df = 0 for terms
    // unseen at build, so post-append postings still score (the same
    // contract as the single-query probe; an inner join against only
    // the found terms would silently drop them)
    val termStats = s.createDataFrame(
      allTerms.map(t => (t, dfByTerm.getOrElse(t, 0.0)))).toDF("term", "df")
    val qRows = s.createDataFrame(
      queries.flatMap { case (qid, ts) => ts.distinct.map(t => (qid, t)) })
      .toDF("qid", "term")
    val pruned = postings.filter(shardFilter && col("term").isin(allTerms: _*))
    val avgdl = lit(sumDl) / lit(nDocs)
    val idf = log(lit(1.0) +
      (lit(nDocs) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val contrib = idf * (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl))

    /** The full ranked plan, optionally restricting the given qids'
      * contribution rows to candidate (qid, doc_id) pairs — rows of
      * every OTHER qid pass through untouched (an all-dense query's
      * full surface riding a corpus-scale no-op semi-join would double
      * its cost for nothing — review r16). The no-restriction call is
      * the exhaustive batch. */
    def ranked(restrictTo: Option[(Set[Long], DataFrame)]): DataFrame = {
      // replay duplicates (bit-identical posting rows) must not
      // double-count: dedup the pruned rows on their key first
      val contribRows = pruned
        .dropDuplicates("term", "doc_id")
        .join(broadcast(qRows), "term")
      val restricted = restrictTo match {
        case Some((qids, cands)) =>
          val qidList = qids.toSeq.map(Long.box)
          contribRows.filter(!col("qid").isin(qidList: _*))
            .unionByName(contribRows.filter(col("qid").isin(qidList: _*))
              .join(cands, Seq("qid", "doc_id"), "left_semi"))
        case None => contribRows
      }
      val scored = restricted
        .join(broadcast(termStats), "term")
        .withColumn("c", round(contrib, 6)
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
        .groupBy(col("qid"), col("doc_id"))
        .agg(sum(col("c")).as("score_dec"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("score_dec").desc, col("doc_id"))
      scored
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= k)
        .select(col("qid"), col("doc_id"),
          col("score_dec").cast("double").as("score"), col("rk"))
        .orderBy(col("qid"), col("rk"))
    }

    // per-query sparse/dense split under the frozen df
    val split: Map[Long, (Seq[String], Seq[String])] = queries.map {
      case (qid, ts) =>
        val d = ts.distinct
        val sparse = d.filter(t =>
          dfByTerm.getOrElse(t, 0.0) <= MaxScoreDenseDfFrac * nDocs)
        qid -> ((sparse, d.filterNot(sparse.contains)))
    }.toMap
    val mixedQids = queries.map(_._1)
      .filter(q => split(q)._1.nonEmpty && split(q)._2.nonEmpty)
    if (!pruneMaxScore || mixedQids.isEmpty) ranked(None)
    else {
      // candidate (qid, doc) pairs for the MIXED queries only: docs
      // holding >= 1 of that query's sparse terms (bounded by the
      // sparse terms' posting volume); all-sparse and all-dense
      // queries bypass the restriction entirely
      val sparseQRows = s.createDataFrame(
        queries.flatMap { case (qid, ts) =>
          if (mixedQids.contains(qid)) split(qid)._1.map(t => (qid, t))
          else Nil
        }).toDF("qid", "term")
      val cands = pruned
        .join(broadcast(sparseQRows), "term")
        .select(col("qid"), col("doc_id")).distinct()
      val top = ranked(Some((mixedQids.toSet, cands))).collect()
      val kthByQid: Map[Long, (Double, Int)] = top.groupBy(_.getLong(0))
        .map { case (qid, rows) =>
          qid -> ((rows.map(_.getDouble(2)).min, rows.length))
        }
      val proofHolds = mixedQids.forall { qid =>
        val (kth, n) = kthByQid.getOrElse(qid, (0.0, 0))
        val dense = split(qid)._2
        val ceiling = dense.map { t =>
          val df = dfByTerm.getOrElse(t, 0.0)
          2.2 * math.log(1.0 + (nDocs - df + 0.5) / (df + 0.5))
        }.sum
        n == k && kth - ceiling > (dense.size + 1) * MaxScoreQuantum
      }
      if (proofHolds) {
        maxScoreBatchPruned.incrementAndGet()
        import scala.jdk.CollectionConverters._
        import org.apache.spark.sql.types._
        s.createDataFrame(top.toList.asJava, StructType(Seq(
            StructField("qid", LongType, nullable = false),
            StructField("doc_id", LongType, nullable = false),
            StructField("score", DoubleType, nullable = false),
            StructField("rk", LongType, nullable = false))))
          .orderBy(col("qid"), col("rk"))
      } else {
        maxScoreBatchFellBack.incrementAndGet()
        ranked(None)
      }
    }
  }

  /** Session-staged index over `dir`'s FULL documents table, built in a
    * temp dir at most once per (session, dataset) — the BandIndex
    * staging discipline, so the oracle-gated `text_bm25_indexed` query
    * and the bench both probe a prebuilt index instead of rebuilding
    * per run. Cached relations are valid because the staged index is
    * immutable for the session; the growth paths ([[append]]/
    * [[compact]]) read fresh via the `indexDir` overload. */
  final case class StagedIndex(dir: String, postings: DataFrame,
                               termsRel: DataFrame, stats: (Double, Double))

  val CacheTier = "term_index"
  private val staged = new graft.operators.SessionStaged[StagedIndex](
    (s, dir) => {
      // the index directory rides the cross-invocation StageCache
      // (r17): tokenize + df census + partitioned writes run once per
      // (dataset, code) on the machine; a later JVM's staging is three
      // relation opens
      val (idxDir, _) = graft.operators.StageCache.dir(
          s, dir, CacheTier, 1, "graft_termidx") { into =>
        build(s, graft.operators.Tables(s, dir).documents
          .select(col("doc_id"), col("text")), into)
      }
      StagedIndex(idxDir, s.read.parquet(postingsPath(idxDir)),
        s.read.parquet(s"$idxDir/terms"), loadStats(s, idxDir))
    },
    // cache entries outlive the session by design; only a cache-off
    // scratch temp dir is reaped here
    idx => if (!graft.operators.StageCache.isCachePath(idx.dir))
      deleteDir(idx.dir))

  // staged index dirs must not outlive the JVM (the BandIndex rule)
  Runtime.getRuntime.addShutdownHook(new Thread(() => staged.clear()))

  private def deleteDir(dir: String): Unit =
    graft.operators.IndexFs.deleteQuietly(dir)

  private[graft] def stagedIndex(s: SparkSession, dir: String): StagedIndex =
    staged.get(s, dir)

  private[graft] def probeStaged(s: SparkSession, idx: StagedIndex,
                                 terms: Seq[String], k: Int): DataFrame =
    probeRel(s, idx.postings, idx.termsRel, idx.stats, terms, k, DefaultShards)

  private[graft] def probeBatchStaged(s: SparkSession, idx: StagedIndex,
                                      queries: Seq[(Long, Seq[String])],
                                      k: Int): DataFrame =
    probeBatchRel(s, idx.postings, idx.termsRel, idx.stats, queries, k,
      DefaultShards)
}
