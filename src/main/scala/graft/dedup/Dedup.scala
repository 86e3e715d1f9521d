package graft.dedup

import graft.{QueryDef, QueryModule}
import graft.operators.Tables
import graft.similarity.VectorOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication suite (SURVEY.md §2.4) over `documents` / `embeddings`.
  *
  * Five operators, in increasing fuzziness:
  *  - exact (normalized-content hash groups)
  *  - exact set-similarity with prefix filtering (the PPJoin-style
  *    bound: a pair with Jaccard >= tau must share a token among each
  *    side's (n - ceil(tau*n) + 1) globally-rarest tokens) — recall 1,
  *    so it is oracle-checked against brute force
  *  - MinHash + LSH banding (128 perms, 64 bands x 2 rows) with exact
  *    verification of candidates — at tau=0.5 the banding miss
  *    probability is (1 - 0.5^2)^64 ~ 1e-8, so it too matches the
  *    brute-force oracle
  *  - SimHash (64-bit) with segment banding (8 x 8 bits; pigeonhole
  *    guarantees recall for Hamming <= 7) — md5-hashed shingles, so the
  *    whole pipeline is oracle-exact against a banding-free SQL mirror
  *  - embedding cosine near-dup via exact angular blocking
  *    ([[AngularBlocking]]: cell equi-joins + triangle-inequality
  *    pruning, recall 1 by construction — never an all-pairs product)
  *
  * Scale notes: candidate generation is always (key-explode, shuffle on
  * key, within-bucket pair join with `a < b`), never a cross join; the
  * verify step joins candidates back to features by doc_id — both
  * shuffles are on high-cardinality keys. Prefix filtering additionally
  * removes the stop-token skew that sinks naive inverted-index joins
  * (the prefix holds each doc's *rarest* tokens).
  */
object Dedup extends QueryModule {

  private val JaccardTauSets = 0.9     // word-set similarity threshold

  /** The ONE near-dup cluster derivation in SQL (word-set jaccard
    * pairs → undirected closure → min-id components → sizes), shared
    * by the dedup_clusters and dedup_soft_weights oracles so the two
    * surfaces cannot drift. Ends with `cc(id, cluster_id)` and
    * `sizes(cluster_id, cluster_size)` relations. */
  private lazy val ClusterCteSql: String =
    s"""s AS (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS ws FROM documents),
        pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM s a JOIN s b ON a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) /
                (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))) >= $JaccardTauSets),
        undir AS (SELECT doc_a AS src, doc_b AS dst FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
        nodes AS (SELECT DISTINCT src AS id FROM undir),
        cc AS (WITH RECURSIVE reach(id, comp) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT u.dst, r.comp FROM reach r JOIN undir u ON r.id = u.src)
          SELECT id, MIN(comp) AS cluster_id FROM reach GROUP BY id),
        sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM cc GROUP BY cluster_id)"""
  private[graft] val JaccardTauShingles = 0.5 // 3-shingle threshold (planted near-dups)
  private val CosineTau = 0.3
  private val SemanticTau = 0.4
  private val ShingleK = 3
  private val NumPerms = 128
  private[graft] val Bands = 64               // x 2 rows = 128
  // 2^31 - 1 (Mersenne prime). With h reduced to 32 bits and multipliers
  // below 2^30 the product stays under 2^62 (ANSI-safe), while wrapping
  // the 31-bit modulus ~2^31 times — a genuine permutation of the
  // shingle ranking per multiplier.
  private val MinhashPrime = 2147483647L
  // largest 32-bit prime: shingle hashes are reduced mod this before the
  // permutation family so (m * mult + i) stays under 2^62 (overflow-free)
  private val ShingleHashMod = 4294967291L

  /** Deterministic odd multipliers in [1, 2^30) for the minhash family.
    * FROZEN literal table (generated once from
    * `new scala.util.Random(20240612L)`, 128 draws of
    * `nextInt(1 << 29) * 2 + 1`): the signature family is part of the
    * persisted-feature contract (VectorIndex-style staged artifacts and
    * any cross-version replay compare signatures bit-for-bit), so it
    * must not depend on `scala.util.Random`'s stream remaining stable
    * across Scala versions. DedupSpec pins first/last values. */
  private[graft] val PermMultipliers: Seq[Long] = Seq(
    418874083L, 128313197L, 571060123L, 552288185L, 249606615L, 730963943L,
    923201637L, 582599L, 135393409L, 655553331L, 151989861L, 391229123L,
    424014413L, 785881073L, 277381175L, 371237791L, 645234683L, 908402701L,
    332085407L, 291024261L, 576952873L, 292523947L, 357898099L, 300796173L,
    753246943L, 1529315L, 459407377L, 711420867L, 688320305L, 751891541L,
    949157485L, 651149049L, 119288303L, 49312379L, 644871071L, 570921707L,
    34685033L, 657951201L, 811389725L, 351289149L, 365085243L, 44517399L,
    564193635L, 429585843L, 35482935L, 939832201L, 770520391L, 1040211021L,
    957709897L, 151769109L, 83258577L, 586912687L, 308490373L, 59060345L,
    1002952347L, 1051795151L, 375128875L, 711463313L, 922595541L, 729575677L,
    156020697L, 582339685L, 380137161L, 155596603L, 863289767L, 43727877L,
    918922743L, 387039709L, 155373179L, 879854643L, 915411893L, 988889987L,
    1052730193L, 608269799L, 787854451L, 565635671L, 71615641L, 675520147L,
    534345091L, 1022634155L, 650294191L, 592109385L, 267754085L, 427348439L,
    284129883L, 266877091L, 952925891L, 869859437L, 66751837L, 1043613821L,
    749137373L, 970656457L, 1034495759L, 727041677L, 112842897L, 173939417L,
    139086623L, 753147057L, 348177155L, 564022855L, 11908163L, 335153191L,
    506909359L, 184849395L, 715144465L, 167641227L, 158201403L, 104778667L,
    134767843L, 648343963L, 1017261993L, 981466449L, 442933695L, 592422103L,
    744397377L, 751881267L, 28786783L, 275515381L, 766137585L, 1049992131L,
    762225473L, 1070157077L, 789383755L, 238168739L, 1040499145L, 832614869L,
    236805895L, 273266925L)
  require(PermMultipliers.size == NumPerms && PermMultipliers.forall(m =>
    m % 2 == 1 && m > 0 && m < (1L << 30)), "frozen multiplier table corrupt")

  /** Session-staged per-doc dedup features for `dir`'s documents table
    * (the TripleStore.staged pattern applied to the dedup tier): ONE
    * kernel pass computes shingle sets + all 128 minhash band keys +
    * the 64-bit simhash for every doc (persisted), and one scan builds
    * the distinct word sets (persisted). Before this cache the suite
    * ran the CPU-heavy shingle/signature kernel once per query —
    * minhash, incremental, and simhash each re-shingled the corpus —
    * and tokenized it twice more for ngram/clusters/exact. At 100 TB
    * this staging is a materialized feature table maintained beside
    * the corpus (exactly how production dedup indexes work); here it
    * is per-(session, dataset), so the gate and bench sessions build
    * it once.
    */
  final case class StagedDocFeatures(feats: DataFrame, ws: DataFrame)

  val FeatsCacheTier = "dedup_feats"
  val WsCacheTier = "dedup_ws"
  private val stagedCache =
    new graft.operators.SessionStaged[StagedDocFeatures]((s, dir) => {
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      // both frames ride the cross-invocation StageCache (r17): the
      // CPU-dominant 128-perm shingle kernel runs once per (dataset,
      // code) on a machine, not once per JVM — a cache hit is one
      // parquet read, bit-identical to the build by the write-then-
      // read-back contract
      StagedDocFeatures(
        feats = graft.operators.StageCache.frame(s, dir, FeatsCacheTier, 1,
          persist = Some(lvl)) {
          shingleFeatures(Tables(s, dir).documents,
            withSig = true, withSim = true)
        },
        ws = graft.operators.StageCache.frame(s, dir, WsCacheTier, 1,
          persist = Some(lvl)) {
          wordSets(Tables(s, dir).documents)
        })
    }, f => { f.feats.unpersist(); f.ws.unpersist() })

  private[graft] def stagedDocFeatures(s: SparkSession, dir: String): StagedDocFeatures =
    stagedCache.get(s, dir)

  /** Session-staged word-set near-dup PAIRS (the
    * [[ngramJaccardPairsFromWs]] output at tau = JaccardTauSets):
    * dedup_ngram_jaccard serves them directly and dedup_clusters folds
    * them transitively — without staging, the second query re-runs the
    * whole prefix-filter + verify pipeline (the single most expensive
    * dedup stage at the 30x probe) just to throw the jaccard column
    * away. At 100 TB this is the same materialized-artifact discipline
    * as the feature table: pairs are computed once beside the corpus
    * and every consumer (pair surface, clustering, incremental refresh)
    * reads them. */
  /** Staged pair frame + the pipeline's INTERNAL persists (the prefix
    * frame, verify's sorted sets), tracked so eviction releases the
    * whole build, not just the top-level frame. */
  private[graft] case class StagedPairs(pairs: DataFrame, internals: Seq[DataFrame])

  val PairsCacheTier = "wordset_pairs"
  private val stagedPairsCache =
    new graft.operators.SessionStaged[StagedPairs]((s, dir) => {
      val internals = scala.collection.mutable.ListBuffer.empty[DataFrame]
      // on a StageCache hit the whole prefix-filter + verify pipeline
      // (the most expensive staging stage at the 30x probe) never runs
      // and `internals` stays empty — teardown over an empty list is a
      // no-op, exactly right
      val pairs = graft.operators.StageCache.frame(s, dir, PairsCacheTier, 1,
          persist = Some(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)) {
          ngramJaccardPairsFromWs(stagedDocFeatures(s, dir).ws,
            track = df => { internals += df; () })
        }
      StagedPairs(pairs, internals.toList)
    }, sp => { sp.pairs.unpersist(); sp.internals.foreach(_.unpersist()); () })

  private[graft] def stagedWordSetPairs(s: SparkSession, dir: String): DataFrame =
    stagedPairsCache.get(s, dir).pairs

  val ClustersCacheTier = "dedup_clusters"

  /** Session-staged near-dup CLUSTER frame (doc_id, cluster_id,
    * cluster_size) — FIVE queries consume it (dedup_clusters,
    * dedup_canonical, dedup_soft_weights, dedup_effective_tokens,
    * sample_dedup_weighted); each used to re-run the vocabulary probe
    * (an eager take(65) job) plus the propagation/union-find clustering
    * from scratch over the already-staged pairs (review finding r13).
    * The same materialized-artifact discipline as the pair frame: a
    * 100 TB pipeline computes clusters once beside the corpus and every
    * consumer reads them. */
  private val stagedClustersCache =
    new graft.operators.SessionStaged[DataFrame]((s, dir) =>
      graft.operators.StageCache.frame(s, dir, ClustersCacheTier, 1,
        persist = Some(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)) {
        clusterDocsFromWs(s, stagedDocFeatures(s, dir).ws,
          pairsOpt = Some(() => stagedWordSetPairs(s, dir)))
      },
      df => { df.unpersist(); () })

  private[graft] def stagedClusters(s: SparkSession, dir: String): DataFrame =
    stagedClustersCache.get(s, dir)

  /** doc_id + distinct lowercase word set. */
  private[graft] def wordSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), array_distinct(split(lower(col("text")), " ")).as("ws"))

  /** doc_id + distinct word-3-shingle strings (docs with >= 3 tokens). */
  private[graft] def shingleSets(docs: DataFrame): DataFrame = {
    val toks = split(lower(col("text")), " ")
    docs
      .filter(size(toks) >= ShingleK)
      .select(col("doc_id"),
        array_distinct(transform(sequence(lit(0), size(toks) - ShingleK),
          i => concat_ws(" ", slice(toks, i + 1, lit(ShingleK))))).as("ss"))
  }

  /** xxhash64-compatible string hash (Spark's default seed 42), so kernel
    * and column pipelines produce identical shingle hashes. */
  private def xxh64(s: String): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
      org.apache.spark.unsafe.types.UTF8String.fromString(s), 42L)

  /** DuckDB `md5_number_lower` semantics: little-endian uint64 of MD5
    * digest bytes 8..15. Used for the SIMHASH shingle hash so the whole
    * simhash pipeline is oracle-expressible (xxhash64 has no DuckDB
    * mirror; md5 is defined identically in both engines). The caller
    * owns the digest instance (one per partition). */
  private[graft] def md5Lower64(md: java.security.MessageDigest, s: String): Long = {
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var i = 15
    while (i >= 8) { h = (h << 8) | (d(i) & 0xffL); i -= 1 }
    h
  }

  /** `xxhash64(intLit, long, long)` fold semantics (seed 42, each value
    * hashed with the running hash as seed) — the band-key hash the old
    * column pipeline produced, now computed in the kernel: 64 inline
    * xxhash64 column expressions generate janino code whose COMPILATION
    * dominates the query (~20 s), a three-long JVM hash does not. */
  private def bandKey(band: Int, s1: Long, s2: Long): Long = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    XXH64.hashLong(s2, XXH64.hashLong(s1, XXH64.hashInt(band, 42L)))
  }

  /** All per-doc shingle features in ONE narrow JVM pass: distinct
    * 3-shingles (`ss`, first-occurrence order — array_distinct semantics),
    * optional 128-perm minhash signature (`sig`), optional 64-bit simhash
    * (`sim`). Docs with < ShingleK tokens are dropped, matching
    * [[shingleSets]].
    *
    * This replaces the previous explode -> groupByKey(mapGroups) shape:
    * every shingle of a doc already lives in the doc's own row, so
    * signatures need NO shuffle — the old pipeline shuffled every
    * shingle row only to regroup what was never apart, and recomputed
    * the interpreted HOF shingle transform once per downstream use.
    * Callers persist the (small) output and derive banding/verification
    * from it.
    */
  private[graft] def shingleFeatures(docs: DataFrame, withSig: Boolean, withSim: Boolean): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val mult = PermMultipliers.toArray
    val fields = Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("ss", ArrayType(StringType, containsNull = false), nullable = false)) ++
      (if (withSig) Seq(StructField("bands", ArrayType(LongType, containsNull = false), nullable = false)) else Nil) ++
      (if (withSim) Seq(StructField("sim", LongType, nullable = false)) else Nil)
    val outSchema = StructType(fields)
    // `lower` stays a Spark column op: UTF8String lowercasing == the SQL
    // pipelines' semantics; the kernel then matches split(text, ' ').
    // Repartition by doc_id first: the corpus often arrives in few input
    // splits (one parquet file locally; coarse splits at scale), and the
    // signature loop is the CPU-heavy stage — shuffling the raw docs is
    // cheap, running 128 permutations on one core is not. The partition
    // count is EXPLICIT: a bare repartition(col) is an AQE coalesce
    // target, and at ~MBs of text AQE would fold it back to one
    // partition, resurrecting the single-core kernel.
    val numParts = docs.sparkSession.sparkContext.defaultParallelism
    val src = docs.select(col("doc_id"), lower(col("text")).as("t"))
      .repartition(numParts, col("doc_id"))
    src.mapPartitions { iter =>
      // one digest instance per partition, reset per shingle (withSim)
      val md = java.security.MessageDigest.getInstance("MD5")
      iter.flatMap { row =>
        val toks = row.getString(1).split(" ", -1)
        if (toks.length < ShingleK) Iterator.empty
        else {
          val seen = new java.util.HashSet[String]()
          val shingles = Seq.newBuilder[String]
          val hashes = new scala.collection.mutable.ArrayBuffer[Long](toks.length)
          val simHashes = new scala.collection.mutable.ArrayBuffer[Long](toks.length)
          val sb = new java.lang.StringBuilder(64)
          var i = 0
          while (i + ShingleK <= toks.length) {
            sb.setLength(0)
            var k = 0
            while (k < ShingleK) {
              if (k > 0) sb.append(' ')
              sb.append(toks(i + k))
              k += 1
            }
            val sh = sb.toString
            if (seen.add(sh)) {
              shingles += sh
              if (withSig) hashes += xxh64(sh)
              if (withSim) simHashes += md5Lower64(md, sh)
            }
            i += 1
          }
          var out: Seq[Any] = Seq(row.getLong(0), shingles.result())
          if (withSig) {
            val sig = Array.fill(NumPerms)(Long.MaxValue)
            hashes.foreach { h =>
              val m = ((h % ShingleHashMod) + ShingleHashMod) % ShingleHashMod
              var p = 0
              while (p < NumPerms) {
                val v = (m * mult(p) + p) % MinhashPrime
                if (v < sig(p)) sig(p) = v
                p += 1
              }
            }
            val bands = new Array[Long](Bands)
            var b = 0
            while (b < Bands) {
              bands(b) = bandKey(b, sig(b * 2), sig(b * 2 + 1))
              b += 1
            }
            out = out :+ (bands.toSeq: Seq[Long])
          }
          if (withSim) {
            val counts = new Array[Int](64)
            simHashes.foreach { h =>
              var j = 0
              while (j < 64) {
                counts(j) += ((h >>> j) & 1L).toInt
                j += 1
              }
            }
            var sim = 0L
            var j = 0
            while (j < 64) {
              if (2 * counts(j) > simHashes.length) sim |= (1L << j)
              j += 1
            }
            out = out :+ sim
          }
          Iterator.single(Row.fromSeq(out))
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Two-level simhash band keys for one 64-bit signature — 64 keys,
    * one per (8-bit segment s, 7-bit sub-block t of the 56-bit
    * complement of s). DOUBLE pigeonhole: hamming <= 7 over 8 segments
    * leaves >= 1 segment clean; the <= 7 differing bits then all fall in
    * the complement's 8 sub-blocks, leaving >= 1 sub-block clean — so
    * any qualifying pair shares at least one full (s, seg_val, t,
    * sub_val) key. Versus single-level segment keys (8 x 256 = 2048
    * possible buckets, occupancy linear in corpus size, candidate pairs
    * QUADRATIC — measured 179 s at the 30x probe), the 2^21-key space
    * keeps buckets sparse: expected false-positive candidates drop by
    * the extra 2^10 key bits (measured: the same 30x probe at 7.7 s).
    * Key layout: (s*8+t) << 15 | seg_val << 7 | sub_val (21 bits). */
  private[graft] def simhashKeys64(sim: Long): Array[Long] = {
    val out = new Array[Long](64)
    var s = 0
    while (s < 8) {
      val segVal = (sim >>> (s * 8)) & 255L
      // 56-bit complement of byte s: bytes above s shifted down one slot
      val hi = if (s == 7) 0L else (sim >>> ((s + 1) * 8)) << (s * 8)
      val lo = if (s == 0) 0L else sim & ((1L << (s * 8)) - 1L)
      val c = hi | lo
      var t = 0
      while (t < 8) {
        val subVal = (c >>> (t * 7)) & 127L
        out(s * 8 + t) = ((s * 8 + t).toLong << 15) | (segVal << 7) | subVal
        t += 1
      }
      s += 1
    }
    out
  }

  /** (doc_id, seg_key) rows from a (doc_id, sim) frame via
    * [[simhashKeys64]] — a JVM kernel (the bit surgery is branchy and
    * interpreted-slow as a SQL lambda; shiftrightunsigned-by-64 is also
    * a mod-64 trap in SQL that the kernel's explicit s==7 case avoids). */
  private[graft] def simhashBandKeys(simhashed: DataFrame): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("seg_key", LongType, nullable = false)))
    simhashed.mapPartitions { iter =>
      iter.flatMap { row =>
        val id = row.getLong(0)
        simhashKeys64(row.getLong(1)).iterator.map(k => Row(id, k))
      }
    }(Encoders.row(outSchema))
  }

  private val shingleSetsSql =
    s"""SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - ${ShingleK - 2}),
          i -> array_to_string(toks[i:i+${ShingleK - 1}], ' '))) AS ss
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents) t
        WHERE len(toks) >= $ShingleK"""

  /** Banding-free simhash-pair oracle (all pairs at hamming <= 7 of the
    * majority-vote simhash over md5_number_lower'd shingles) — shared
    * by `dedup_simhash` and the multimodal container roundtrip
    * `mm_dedup_phash`, whose carried perceptual hash IS the simhash by
    * construction, so one oracle string gates both. */
  private[graft] val SimhashPairsOracleSql: String =
    s"""WITH sh0 AS ($shingleSetsSql),
        sh AS (SELECT doc_id, unnest(ss) AS s FROM sh0),
        hb AS (SELECT doc_id, md5_number_lower(s) AS h FROM sh),
        votes AS (
          SELECT doc_id, j,
            SUM(CASE WHEN (h >> CAST(j AS INTEGER)) & 1 = 1 THEN 1 ELSE 0 END) AS ones,
            COUNT(*) AS n
          FROM hb CROSS JOIN range(0, 64) r(j)
          GROUP BY doc_id, j),
        bits AS (SELECT doc_id, j,
            CASE WHEN 2 * ones > n THEN 1 ELSE 0 END AS b FROM votes)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        CAST(SUM(CASE WHEN a.b <> b.b THEN 1 ELSE 0 END) AS BIGINT) AS hamming
      FROM bits a JOIN bits b ON a.j = b.j AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING SUM(CASE WHEN a.b <> b.b THEN 1 ELSE 0 END) <= 7
      ORDER BY doc_a, doc_b"""

  /** Brute-force delta×base oracle shared by `dedup_incremental` and
    * its prebuilt-index serving form `dedup_indexed` — one string, so
    * the two queries are gated against literally the same reference. */
  private val IncrementalOracleSql =
    s"""WITH s AS ($shingleSetsSql),
        base AS (SELECT * FROM s WHERE doc_id % 7 <> 0),
        delta AS (SELECT * FROM s WHERE doc_id % 7 = 0)
      SELECT delta.doc_id AS delta_id, base.doc_id AS base_id,
        CAST(len(list_intersect(base.ss, delta.ss)) AS DOUBLE) /
          (len(base.ss) + len(delta.ss) - len(list_intersect(base.ss, delta.ss))) AS jaccard
      FROM base JOIN delta
        ON CAST(len(list_intersect(base.ss, delta.ss)) AS DOUBLE) /
          (len(base.ss) + len(delta.ss) - len(list_intersect(base.ss, delta.ss))) >= $JaccardTauShingles
      ORDER BY delta_id, base_id"""

  /** Exact-verify candidate pairs against set columns, emitting jaccard.
    *
    * Two scale tricks: (1) a size-ratio prefilter — Jaccard >= tau
    * implies min(|A|,|B|) >= tau * max(|A|,|B|) — runs over a sizes-only
    * join so pruned pairs never ship their arrays; (2) the surviving
    * pairs' intersection is a sorted-merge two-pointer kernel in plain
    * JVM code (see [[jaccardKernel]]) instead of the interpreted
    * `array_intersect`, which is ~10x on wide sets.
    */
  private[graft] def verifyJaccard(cands: DataFrame, sets: DataFrame, setCol: String, tau: Double,
                                   track: DataFrame => Unit = _ => ()): DataFrame = {
    // persisted: referenced three times below (sizes + both pair sides);
    // without it the upstream set construction re-runs per reference.
    // `track` reports internal persists to callers that stage the
    // result, so eviction can release them too.
    val sorted = sets.select(col("doc_id"), array_sort(col(setCol)).as("s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    track(sorted)
    val sizes = sorted.select(col("doc_id"), size(col("s")).as("n"))
    val prefiltered = cands
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .filter(least(col("n_a"), col("n_b")).cast("double") >=
        greatest(col("n_a"), col("n_b")).cast("double") * tau)
      .select(col("doc_a"), col("doc_b"))
    val joined = prefiltered
      .join(sorted.select(col("doc_id").as("doc_a"), col("s").as("set_a")), "doc_a")
      .join(sorted.select(col("doc_id").as("doc_b"), col("s").as("set_b")), "doc_b")
    joined
      .withColumn("jaccard", org.apache.spark.sql.GraftSqlBridge.column(
        graft.expressions.JaccardSorted(
          org.apache.spark.sql.GraftSqlBridge.expression(col("set_a")),
          org.apache.spark.sql.GraftSqlBridge.expression(col("set_b")))))
      .filter(col("jaccard") >= tau)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** (vec_a, vec_b) similarity pairs → transitive clusters with sizes —
    * the dedup_semantic assembly, factored (r15) so the raw-space and
    * whitened-space queries share one definition. Connectivity solves
    * on the driver when the pair summary fits (Components.autoLabel —
    * one collect instead of a loop of per-round jobs), distributed
    * min-label propagation + star-contraction fallback above the cap.
    * Every node IS a pair endpoint, so no node frame is passed, which
    * skips the membership/isolated anti-joins (they would re-run the
    * pair generation plan). */
  private[dedup] def semanticClusterFrame(s: SparkSession, pairs: DataFrame): DataFrame = {
    val labels = graft.graph.Components.autoLabel(s,
      pairs.select(col("vec_a").as("src"), col("vec_b").as("dst")))
    labels
      .join(labels.groupBy(col("comp")).agg(count(lit(1)).as("cluster_size")), "comp")
      .select(col("id").as("vec_id"), col("comp").as("cluster_id"), col("cluster_size"))
      .orderBy(col("vec_id"))
  }

  /** Sorted-merge set intersection + jaccard in a tight JVM loop.
    * Requires `set_a`/`set_b` sorted string arrays; appends `jaccard`.
    * The division matches the SQL mirror exactly (int/int in IEEE
    * double), so oracle results stay bit-identical.
    */
  private def jaccardKernel(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val aIdx = df.schema.fieldIndex("set_a")
    val bIdx = df.schema.fieldIndex("set_b")
    val outSchema = StructType(df.schema.fields :+ StructField("jaccard", DoubleType, nullable = false))
    df.mapPartitions { iter =>
      iter.map { row =>
        val a = row.getSeq[String](aIdx)
        val b = row.getSeq[String](bIdx)
        var i = 0; var j = 0; var inter = 0
        while (i < a.length && j < b.length) {
          val c = a(i).compareTo(b(j))
          if (c == 0) { inter += 1; i += 1; j += 1 }
          else if (c < 0) i += 1
          else j += 1
        }
        val jac = inter.toDouble / (a.length + b.length - inter).toDouble
        Row.fromSeq(row.toSeq :+ jac)
      }
    }(Encoders.row(outSchema))
  }

  /** Candidate pairs from (key, doc_id) bucket rows WITHOUT a self-join:
    * group to id lists per bucket and explode the within-bucket pair
    * combinations. The upstream (often an expensive signature pipeline)
    * is computed exactly once — a self-join would recompute it per side
    * whenever exchange reuse doesn't kick in. `maxBucket` bounds skew:
    * a degenerate bucket can't quadratically explode an executor (cap is
    * far above anything a healthy banding produces).
    */
  /** Expand qualifying mask-group pairs into (doc_a, doc_b, jaccard)
    * rows: `cross` rows carry (ids_a, ids_b, jaccard) for distinct-mask
    * pairs; `intra` rows carry (ids) for groups of identical masks
    * (jaccard exactly 1.0). Pure JVM loops — the only row volume
    * materialized is the actual output. */
  private def expandGroupPairs(cross: DataFrame, intra: DataFrame): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val outSchema = StructType(Seq(
      StructField("doc_a", LongType, nullable = false),
      StructField("doc_b", LongType, nullable = false),
      StructField("jaccard", DoubleType, nullable = false)))
    val enc = Encoders.row(outSchema)
    val crossPairs = cross.mapPartitions { iter =>
      iter.flatMap { row =>
        val as = row.getSeq[Long](0)
        val bs = row.getSeq[Long](1)
        val j = row.getDouble(2)
        as.iterator.flatMap { x =>
          bs.iterator.map { y =>
            if (x < y) Row(x, y, j) else Row(y, x, j)
          }
        }
      }
    }(enc)
    val intraPairs = intra.mapPartitions { iter =>
      iter.flatMap { row =>
        val ids = row.getSeq[Long](0).toArray
        java.util.Arrays.sort(ids)
        (0 until ids.length - 1).iterator.flatMap { i =>
          (i + 1 until ids.length).iterator.map(j => Row(ids(i), ids(j), 1.0))
        }
      }
    }(enc)
    crossPairs.unionByName(intraPairs)
  }

  private[graft] def bucketPairs(bucketed: DataFrame, keyCol: String,
                                 maxBucket: Int = IncrementalHotBandCap.toInt): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val grouped = bucketed
      .groupBy(col(keyCol))
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
      .select(col("ids"))
    // pair combinations in a JVM kernel: the nested-transform/slice HOF
    // formulation is interpreted per element and measured ~100 s of CPU
    // where this loop is negligible; sorting each bucket once replaces
    // per-pair least/greatest
    val outSchema = StructType(Seq(
      StructField("doc_a", LongType, nullable = false),
      StructField("doc_b", LongType, nullable = false)))
    grouped.mapPartitions { iter =>
      iter.flatMap { row =>
        val ids = row.getSeq[Long](0).toArray
        java.util.Arrays.sort(ids)
        (0 until ids.length - 1).iterator.flatMap { i =>
          (i + 1 until ids.length).iterator.map(j => Row(ids(i), ids(j)))
        }
      }
    }(Encoders.row(outSchema)).distinct()
  }

  /** dedup_incremental body, cap-parameterized so the spec can exercise
    * both regimes (the shipped corpus never comes near the cap — the
    * inertness spec pins that; a synthetic degenerate band pins the
    * capped behavior). Bands with more than `hotBandCap` BASE docs are
    * excluded from candidate generation: a degenerate band pairing the
    * whole base with the whole delta is quadratic, and (like
    * spo_cooccurrence's MaxCoocDegree) a band shared by everything
    * carries no similarity signal. The cap can make the engine miss
    * pairs whose ONLY shared bands are hot — the oracle is uncapped
    * brute force, so the gate is meaningful only while the cap is inert
    * on the gated corpus, which DedupIncrementalCapSpec asserts.
    */
  /** Skew cap for incremental dedup's candidate join (and the default
    * bucket cap in [[bucketPairs]]): ONE named constant so the engine,
    * the QueryDef call site, and the inertness spec cannot drift — a
    * cap tuned in one place with the spec still asserting the old value
    * would re-open the silent engine/oracle divergence the spec exists
    * to catch. */
  private[graft] val IncrementalHotBandCap = 10000L

  private[graft] def incrementalDedup(docs: DataFrame, hotBandCap: Long = IncrementalHotBandCap): DataFrame =
    incrementalDedupFromFeats(
      shingleFeatures(docs, withSig = true, withSim = false)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      hotBandCap)

  /** [[incrementalDedup]] over a pre-built persisted (doc_id, ss, bands)
    * feature frame, so the QueryDef shares the session-staged features. */
  private[graft] def incrementalDedupFromFeats(featsIn: DataFrame, hotBandCap: Long): DataFrame = {
    val feats = featsIn.withColumn("is_delta", col("doc_id") % 7 === 0)
    val deltaBands = feats.filter(col("is_delta"))
      .select(col("doc_id").as("delta_id"), explode(col("bands")).as("band_key"))
    val baseBands = feats.filter(!col("is_delta"))
      .select(col("doc_id").as("base_id"), explode(col("bands")).as("band_key"))
    // skew guard: cap mirrors bucketPairs
    val hot = baseBands.groupBy(col("band_key"))
      .agg(count(lit(1)).as("c")).filter(col("c") > hotBandCap)
      .select(col("band_key"))
    val cands = deltaBands
      .join(broadcast(hot), Seq("band_key"), "left_anti")
      .join(baseBands, "band_key")
      .select(col("base_id").as("doc_a"), col("delta_id").as("doc_b"))
      .distinct()
    verifyJaccard(cands, feats.select(col("doc_id"), col("ss")), "ss", JaccardTauShingles)
      .select(col("doc_b").as("delta_id"), col("doc_a").as("base_id"), col("jaccard"))
      .orderBy(col("delta_id"), col("base_id"))
  }

  /** Window width for `dedup_substring`: 20 tokens. The synthetic
    * corpus' docs run 10-99 tokens (median 56), so 20 is long enough
    * that a shared window is a real repeated SPAN (not a common
    * phrase) and short enough that near-dup docs actually share
    * windows. A production run over web-scale text would use the
    * Lee-et-al 50-token discipline — the operator is
    * width-parameterized. */
  private[graft] val SubstringWindow = 20

  /** EXACT SUBSTRING (window-level) dedup — the Lee et al. "Deduplicating
    * Training Data Makes Language Models Better" span discipline, the
    * dedup modality the doc-level tiers (exact/minhash/simhash/semantic)
    * cannot see: cross-document repeated token SPANS (boilerplate,
    * license headers, memorization hazards) inside otherwise-distinct
    * documents.
    *
    * Scala-Spark shape: a narrow JVM kernel emits one 64-bit hash per
    * fixed-width token window (stride 1 over the lowercased token
    * stream — the same one-pass no-shuffle discipline as
    * [[shingleFeatures]]; the hash is [[md5Lower64]] so the DuckDB
    * oracle can mirror it with `md5_number_lower`). Corpus-wide
    * duplication is then ONE hash-partitioned window count over
    * `whash` followed by a per-doc aggregate — the operator never
    * enumerates pairs, so the quadratic object a band-bucket-style hot
    * cap guards against never exists: a boilerplate span repeated 10M
    * times costs one counter in one partition, and (unlike the banding
    * tiers, where a degenerate bucket means quadratic candidates)
    * hot windows are precisely the signal this operator reports.
    * At 100 TB the shuffle ships (doc_id, 8-byte hash) rows — ~an
    * order of magnitude smaller than the text itself — and every
    * stage is a hash exchange; DedupSubstringSpec pins the
    * degenerate-corpus behavior (10k identical docs) linear.
    */
  private[graft] def substringDedup(docs: DataFrame, w: Int = SubstringWindow): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("whash", LongType, nullable = false)))
    // explicit partition count for the kernel stage, as in shingleFeatures
    val numParts = docs.sparkSession.sparkContext.defaultParallelism
    val wins = docs.select(col("doc_id"), lower(col("text")).as("t"))
      .repartition(numParts, col("doc_id"))
      .mapPartitions { iter =>
        val md = java.security.MessageDigest.getInstance("MD5")
        iter.flatMap { row =>
          val toks = row.getString(1).split(" ", -1)
          if (toks.length < w) Iterator.empty
          else {
            val id = row.getLong(0)
            val sb = new java.lang.StringBuilder(256)
            (0 to toks.length - w).iterator.map { i =>
              sb.setLength(0)
              var k = 0
              while (k < w) {
                if (k > 0) sb.append(' ')
                sb.append(toks(i + k))
                k += 1
              }
              Row(id, md5Lower64(md, sb.toString))
            }
          }
        }
      }(Encoders.row(outSchema))
    // corpus-wide occurrence count per window WITHOUT a self-join: the
    // count rides a whash-partitioned window function, so each window
    // row learns its global multiplicity in one exchange and the
    // kernel runs exactly once
    wins
      .withColumn("c", count(lit(1)).over(Window.partitionBy(col("whash"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("c") >= 2, 1L).otherwise(0L)).as("n_dup_windows"))
      .withColumn("dup_ratio",
        col("n_dup_windows").cast("double") / col("n_windows").cast("double"))
      .orderBy(col("doc_id"))
  }

  private[graft] def substringOracleSql(w: Int): String =
    s"""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        wins AS (SELECT doc_id,
            md5_number_lower(array_to_string(t[i:i+${w - 1}], ' ')) AS whash
          FROM (SELECT doc_id, t, unnest(range(1, len(t) - $w + 2)) AS i
                FROM toks WHERE len(t) >= $w)),
        counted AS (SELECT doc_id,
            count(*) OVER (PARTITION BY whash) AS c FROM wins)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
        CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
        CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS DOUBLE) /
          CAST(count(*) AS DOUBLE) AS dup_ratio
      FROM counted GROUP BY doc_id ORDER BY doc_id"""

  /** Chunk width for `dedup_chunk_embedding`: 16 tokens, stride 16
    * (full chunks only). The synthetic 10-99-token docs then carry 0-6
    * chunks each; a web-scale run would use the paragraph or
    * ~256-token chunk discipline — width-parameterized like
    * [[SubstringWindow]]. Measured against W=8 on this ~40-word-vocab
    * corpus: halving the width tripled the chunk count and flooded the
    * tau band with tiny-support coincidences (2 898 pairs at tau 0.8
    * vs 71 at W=16 tau 0.9 on sf0.01) — wider chunks carry richer
    * supports, so the band selects real shared sections. */
  private[graft] val ChunkW = 16

  /** Hash-projection dimensionality for chunk vectors: 64 dims over
    * 16-token chunks. On a real (large-vocab) corpus supports are
    * near-disjoint and unrelated chunks sit near cosine 0; the
    * small-vocab synthetic corpus is the documented adversarial case
    * (heavy support overlap), which the tau=0.9 band absorbs. */
  private[graft] val ChunkDims = 64

  private[graft] val ChunkCosTau = 0.9

  /** chunk vec_id packing: doc_id * cap + chunk_idx. The kernel
    * REQUIRES nChunks < cap loudly (the loud-contract discipline) —
    * a silent wrap would alias two chunks into one id. */
  private[graft] val ChunkIdxCap = 1024L

  /** CHUNK-LEVEL EMBEDDING dedup — the §2.4/§2.5 bridge modality
    * (VERDICT r10 item 7): doc-level tiers miss a duplicated SECTION
    * inside two otherwise-distinct containers, and `dedup_substring`
    * catches it only as an exact in-order token span. This operator
    * embeds each fixed-width token chunk as a BAG: a feature-hashed
    * signed-count vector (per token: dim = md5_lower_64 & 63, sign =
    * bit 6), so two chunks match when their token multisets align —
    * reordered or lightly-shuffled shared spans score near 1 where the
    * exact-span tier scores 0.
    *
    * Exactness: the vector entries are small integers, so every dot
    * product and squared norm is EXACT in double regardless of
    * accumulation order — cosine = dot / (sqrt(n2a) * sqrt(n2b)) is
    * bit-identical across engines by construction (the strongest form
    * of the VectorOps fold-order discipline: here even the order is
    * free). The DuckDB oracle computes the same cosine from the SPARSE
    * (chunk, dim, v) rows; values agree exactly, so the gate is a hash
    * match, not an envelope.
    *
    * Scale shape: the kernel is one narrow pass (no shuffle) emitting
    * ~|tokens|/w vectors of 64 floats; pair generation goes through the
    * recall-1 [[AngularBlocking]] equi-join — never an all-pairs
    * product; the blocking build is session-staged like every other
    * dedup artifact. All-zero chunk vectors (full sign cancellation)
    * are dropped in the kernel — their cosine is 0/0, which both
    * engines would otherwise NaN through the tau filter. */
  private[graft] def chunkVectors(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}
    val outSchema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))
    val w = ChunkW
    val dims = ChunkDims
    val cap = ChunkIdxCap
    val numParts = docs.sparkSession.sparkContext.defaultParallelism
    docs.select(col("doc_id"), lower(col("text")).as("t"))
      .repartition(numParts, col("doc_id"))
      .mapPartitions { iter =>
        val md = java.security.MessageDigest.getInstance("MD5")
        iter.flatMap { row =>
          val id = row.getLong(0)
          val toks = row.getString(1).split(" ", -1)
          val nChunks = toks.length / w
          require(nChunks < cap,
            s"doc $id has $nChunks chunks >= $cap — widen ChunkIdxCap's packing")
          (0 until nChunks).iterator.flatMap { ci =>
            val v = new Array[Float](dims)
            var k = 0
            while (k < w) {
              val h = md5Lower64(md, toks(ci * w + k))
              val dim = (h & (dims - 1)).toInt
              v(dim) += (if (((h >>> 6) & 1L) == 0L) 1f else -1f)
              k += 1
            }
            var nz = false
            var i = 0
            while (i < dims && !nz) { nz = v(i) != 0f; i += 1 }
            if (!nz) Iterator.empty
            else Iterator.single(Row(id * cap + ci, v.toSeq))
          }
        }
      }(Encoders.row(outSchema))
  }

  val ChunkCacheTier = "chunk_blocking"

  /** Session-staged chunk-vector blocking (the [[stagedDocFeatures]]
    * discipline): the kernel pass + angular assignment are
    * tau-independent, built once per (session, dataset). */
  private val stagedChunkCache =
    new graft.operators.SessionStaged[AngularBlocking.Blocking]((s, dir) =>
      AngularBlocking.buildBlockingCached(s, dir, ChunkCacheTier, 1)(
        chunkVectors(Tables(s, dir).documents)),
      AngularBlocking.releaseBlocking)

  private[graft] def stagedChunkBlocking(s: SparkSession, dir: String): AngularBlocking.Blocking =
    stagedChunkCache.get(s, dir)

  /** `dedup_chunk_embedding` body over a pre-built chunk blocking —
    * one definition shared by the QueryDef and the spec's brute-force
    * gate, so the decode/filter semantics cannot drift. */
  private[graft] def chunkEmbeddingPairs(b: AngularBlocking.Blocking): DataFrame =
    AngularBlocking.pairsFrom(b, ChunkCosTau)
      .select(
        // ids are non-negative, so DIV/pmod decode the packing
        // exactly (Spark `/` on longs is true division — the
        // floorDiv lesson from the containment prefix math)
        expr(s"vec_a DIV $ChunkIdxCap").as("doc_a"),
        pmod(col("vec_a"), lit(ChunkIdxCap)).as("chunk_a"),
        expr(s"vec_b DIV $ChunkIdxCap").as("doc_b"),
        pmod(col("vec_b"), lit(ChunkIdxCap)).as("chunk_b"),
        col("cosine"))
      .filter(col("doc_a") =!= col("doc_b"))
      .orderBy(col("doc_a"), col("chunk_a"), col("doc_b"), col("chunk_b"))

  /** `dedup_editdistance` body: re-score candidate pairs (doc_a, doc_b,
    * jaccard) with Levenshtein distance and normalized edit similarity
    * over the docs' lowercased text. One definition shared by the
    * QueryDef and the spec's engineered corpora. */
  private[graft] def editVerify(pairs: DataFrame, docsRaw: DataFrame): DataFrame = {
    val docs = docsRaw.select(col("doc_id"), lower(col("text")).as("t"))
    pairs
      .join(docs.select(col("doc_id").as("doc_a"), col("t").as("ta")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("t").as("tb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        levenshtein(col("ta"), col("tb")).cast("long").as("lev"),
        greatest(length(col("ta")), length(col("tb"))).cast("long").as("mx"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"), col("lev"),
        when(col("mx") === 0L, lit(1.0))
          .otherwise(lit(1.0) - col("lev").cast("double") / col("mx").cast("double"))
          .as("edit_sim"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Containment threshold as an EXACT fraction (4/5 = 0.8), kept in
    * integer numerator/denominator form: both the prefix length and the
    * verify threshold are computed in pure integer arithmetic
    * (`5*inter >= 4*|S_a|`), so no FP-ceil rounding can shorten a
    * prefix below the completeness bound and no libm threshold can
    * drift between engines — the kcore adaptive-K discipline applied
    * to similarity. */
  private[graft] val ContainTauNum = 4L
  private[graft] val ContainTauDen = 5L

  /** CONTAINMENT dedup — the ASYMMETRIC near-dup modality every
    * Jaccard-style tier misses: doc a CONTAINED in doc b
    * (C(a,b) = |S_a ∩ S_b| / |S_a| over distinct 3-shingles). A short
    * quote, abstract, or repost embedded in a much larger container
    * has C ≈ 1 but Jaccard ≈ |a|/|b| — arbitrarily far below any
    * symmetric threshold, invisible to minhash banding (whose band
    * collisions need agreement on BOTH sets' minima).
    *
    * Scale shape — the PPJoin prefix filter adapted to containment:
    * if C(a,b) >= t then b misses at most |S_a| - ceil(t|S_a|) of a's
    * shingles, so ANY |S_a| - ceil(t|S_a|) + 1 of them must hit b.
    * Each doc therefore probes the full posting index with only its
    * p = n - ceil(tn) + 1 RAREST shingles (ascending corpus df, the
    * one aggregate this stages): candidate volume is the sum of the
    * SHORTEST posting lists rather than all of them, which for
    * Zipfian shingle frequencies is near-linear in corpus size. The
    * probe is one vocabulary-bounded df aggregate, one per-doc
    * bounded window (rank within doc), one shuffle join onto the
    * postings, and an exact sorted-set verify — no all-pairs product
    * anywhere, and (unlike the banded tiers) no recall knob: the
    * prefix bound makes candidate generation COMPLETE, so the output
    * is oracle-exact by construction, not spec-bounded. */
  /** Containment's staged token frame: ONE row per (doc, distinct
    * 3-shingle) — (doc_id, n = |S_doc|, shh = xxhash64(shingle), df =
    * corpus document frequency). Replaces the r10 dense-id dictionary
    * (global sort + zipWithIndex + an UNCONDITIONAL `broadcast(dict)`
    * — VERDICT r10 items 3-4: the forced broadcast cannot degrade at a
    * web-scale shingle vocabulary, it OOMs the driver, and the full
    * per-doc id-set staging cost more than half the suite's staging
    * phase to serve one query). The frame needs only one map-side-
    * combined df aggregate (vocabulary-bounded output; hot shingles
    * collapse in the combiner, so no skew reaches its shuffle) joined
    * back WITHOUT a hint: Catalyst broadcasts the aggregate while it
    * fits autoBroadcastJoinThreshold and falls back to a shuffle join
    * with AQE skew splitting beyond — the size gate the verdict asked
    * for, implemented by the engine instead of a hand-rolled
    * threshold. Downstream stages join on the 8-byte hash: a collision
    * only ADDS a candidate pair (equal shingles always hash equal, so
    * prefix completeness is untouched) and the exact string-set verify
    * removes it — candidates stay COMPLETE, output stays bit-exact,
    * and the candidate shuffle ships 8 bytes instead of ~20-char
    * strings. Persisted (probe + postings read it) and OWNED by the
    * caller: the staged cache unpersists on evict. */
  private[graft] def containmentTokFrame(featsIn: DataFrame): DataFrame = {
    val exploded = featsIn.select(col("doc_id"), size(col("ss")).as("n"),
      explode(col("ss")).as("sh"))
    // corpus shingle document frequency — vocabulary-bounded aggregate
    val dfreq = exploded.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    // rarity rank within doc (ascending df, hash tiebreak) is
    // query-invariant, so it is staged with the frame: the per-query
    // probe is then a FILTER on the cached frame, not a window shuffle.
    // A tie straddling the prefix boundary (same df AND colliding shh
    // within one doc) picks an arbitrary shingle — completeness holds
    // for ANY p distinct probes (the postings side is full), so the
    // verified output is identical either way.
    exploded.join(dfreq, "sh")
      .select(col("doc_id"), col("n"), xxhash64(col("sh")).as("shh"), col("df"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("shh"))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  val ContainmentCacheTier = "containment_toks"

  /** Session-staged containment token frame (the stagedDocFeatures
    * discipline): the gate and bench run every query at least twice,
    * and each un-staged invocation would re-persist a fresh copy. */
  private val stagedContainCache =
    new graft.operators.SessionStaged[DataFrame]((s, dir) =>
      // containmentTokFrame persists its own return value; the frame
      // helper's persist is a same-level no-op on that path and the
      // persist-of-record on a cache hit — one materialization serves
      // both the cache write and every consumer
      graft.operators.StageCache.frame(s, dir, ContainmentCacheTier, 1,
        persist = Some(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)) {
        containmentTokFrame(stagedDocFeatures(s, dir).feats)
      }, tok => { tok.unpersist(); () })

  private[graft] def stagedContainment(s: SparkSession, dir: String): DataFrame =
    stagedContainCache.get(s, dir)

  /** Prefix probe + verify over the prebuilt token frame — the per-run
    * cost once the frame is staged. `featsIn` supplies the exact
    * shingle sets for the verify: they are joined in AFTER candidate
    * generation and sorted per CANDIDATE row (the BandIndex
    * candidate-driven-verify lesson — r10 materialized a sorted id
    * array for every doc in the corpus up front, a second full corpus
    * copy at 100 TB serving only the candidate-touched sliver). */
  private[graft] def containmentFromTok(tok: DataFrame, featsIn: DataFrame): DataFrame = {
    // prefix length in EXACT integer arithmetic: p = n - ceil(t*n) + 1
    // with ceil(4n/5) = floorDiv(4n + 4, 5). Spark's `/` on longs is
    // TRUE division (double), so floorDiv is spelled (x - pmod(x,d))/d:
    // the numerator is an exact multiple of d, making the double
    // division exact — no FP rounding can shorten a prefix below the
    // completeness bound.
    val x = col("n") * lit(ContainTauNum) + lit(ContainTauDen - 1)
    val ceilTn = ((x - pmod(x, lit(ContainTauDen))) / lit(ContainTauDen)).cast("long")
    val prefixLen = col("n") - ceilTn + lit(1)
    // probe with the p RAREST shingles (rk is staged with the frame —
    // ascending df, hash tiebreak; ANY p distinct shingles keep
    // candidates complete because the postings side is the FULL frame,
    // so the rarity order is purely the shortest-posting-lists
    // performance choice)
    val probe = tok
      .filter(col("rk") <= prefixLen)
      .select(col("doc_id").as("doc_a"), col("n").as("n_a"), col("shh"))
    val postings = tok.select(col("doc_id").as("doc_b"),
      col("n").as("n_b"), col("shh"))
    val cands = probe.join(postings, "shh")
      .filter(col("doc_a") =!= col("doc_b"))
      // size prune before the set join: b holds >= ceil(t*n_a) distinct
      // shingles of a, so |S_b| must reach it (integer form)
      .filter(col("n_b") * lit(ContainTauDen) >= col("n_a") * lit(ContainTauNum))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    // verify on the EXACT shingle strings: cands is the small side —
    // AQE broadcasts it and the corpus feature frame STREAMS from
    // cache (never shuffles), with array_sort projected ONCE PER DOC
    // inside the streamed scan (sorting after the join would re-sort
    // per candidate PAIR — measured 3.1 s vs 0.9 s at sf0.1 on the
    // 206k-pair candidate set)
    val sets = featsIn.select(col("doc_id"), array_sort(col("ss")).as("s"))
    cands
      .join(sets.select(col("doc_id").as("doc_a"), col("s").as("set_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("s").as("set_b")), "doc_b")
      .withColumn("inter", org.apache.spark.sql.GraftSqlBridge.column(
        graft.expressions.IntersectSizeSorted(
          org.apache.spark.sql.GraftSqlBridge.expression(col("set_a")),
          org.apache.spark.sql.GraftSqlBridge.expression(col("set_b")))).cast("long"))
      .filter(col("inter") * lit(ContainTauDen) >= size(col("set_a")) * lit(ContainTauNum))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / size(col("set_a")).cast("double")).as("containment"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** One-shot build + probe over an arbitrary feature frame (the spec
    * entry point; the QueryDef goes through [[stagedContainment]]). */
  private[graft] def containmentPairsFromFeats(featsIn: DataFrame): DataFrame =
    containmentFromTok(containmentTokFrame(featsIn), featsIn)

  /** Brute-force ordered-pair containment oracle; the integer-form
    * threshold mirrors [[containmentPairsFromFeats]] exactly. */
  private[graft] val ContainmentOracleSql: String =
    s"""WITH s AS ($shingleSetsSql),
      p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          CAST(len(list_intersect(a.ss, b.ss)) AS BIGINT) AS inter,
          CAST(len(a.ss) AS BIGINT) AS n_a
        FROM s a JOIN s b ON a.doc_id <> b.doc_id)
      SELECT doc_a, doc_b,
        CAST(inter AS DOUBLE) / CAST(n_a AS DOUBLE) AS containment
      FROM p WHERE inter * $ContainTauDen >= n_a * $ContainTauNum
      ORDER BY doc_a, doc_b"""

  /** Per-band BASE-doc counts for the incremental index — exposed for
    * the cap-inertness spec. */
  private[graft] def incrementalBandCounts(docs: DataFrame): DataFrame =
    shingleFeatures(docs, withSig = true, withSim = false)
      .filter(col("doc_id") % 7 =!= 0)
      .select(explode(col("bands")).as("band_key"))
      .groupBy(col("band_key")).agg(count(lit(1)).as("c"))

  private def jaccardPairsSql(setsCte: String, setCol: String, tau: Double,
                              idCol: String = "doc_id", outA: String = "doc_a", outB: String = "doc_b"): String = {
    val inter = s"len(list_intersect(a.$setCol, b.$setCol))"
    val jac = s"CAST($inter AS DOUBLE) / (len(a.$setCol) + len(b.$setCol) - $inter)"
    s"""WITH s AS ($setsCte)
      SELECT a.$idCol AS $outA, b.$idCol AS $outB, $jac AS jaccard
      FROM s a JOIN s b ON a.$idCol < b.$idCol
      WHERE $jac >= $tau ORDER BY $outA, $outB"""
  }

  /** (doc_a, doc_b, jaccard) word-set near-dup pairs at
    * tau = JaccardTauSets, recall 1 (oracle-exact vs brute force) —
    * shared by dedup_ngram_jaccard (the pair surface) and
    * dedup_clusters (the transitive-cluster surface). Two measured plan
    * tiers picked by vocabulary size, see inline notes. */
  /** Tiny-vocabulary mask-tier internals: with <= 64 tokens every word
    * set IS a 64-bit mask. Groups docs by identical (mask, n) and
    * qualifies DISTINCT group pairs with codegen'd bit_count over a
    * broadcast nested-loop join (m^2/2 long-ops, no row explosion).
    * Returns (mgroups = (mask, n, ids), crossQual = (ids_a, ids_b,
    * jaccard) for qualifying cross-group pairs); intra-group pairs are
    * jaccard == 1.0 by construction. mgroups is persisted.
    */
  private def maskGroups(tok: DataFrame, dfreq: DataFrame): (DataFrame, DataFrame) = {
    val dict = graft.operators.DenseIds
      .byOrder(dfreq, "token_id", 0L, col("df"), col("token"))
      .withColumn("token_id", col("token_id").cast("int"))
    // un-hinted: this tier's dict is structurally <= 64 rows (the
    // vocabSize gate at the call site), so the engine broadcasts it
    // anyway — the hint bought nothing and kept the forced-broadcast
    // pattern alive for copy-paste (VERDICT r11 item 3 hygiene)
    val idTok = tok.join(dict, "token")
    val masks = idTok.groupBy(col("doc_id"))
      .agg(sum(expr("shiftleft(1L, token_id)")).as("mask"), count(lit(1)).as("n"))
    val mgroups = masks.groupBy(col("mask"), col("n"))
      .agg(collect_list(col("doc_id")).as("ids"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = mgroups.select(col("mask").as("mask_a"), col("n").as("n_a"), col("ids").as("ids_a"))
    val b = mgroups.select(col("mask").as("mask_b"), col("n").as("n_b"), col("ids").as("ids_b"))
    val crossQual = a.join(broadcast(b), col("mask_a") < col("mask_b"))
      .withColumn("inter", expr("CAST(bit_count(mask_a & mask_b) AS BIGINT)"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= JaccardTauSets)
      .select(col("ids_a"), col("ids_b"), col("jaccard"))
    (mgroups, crossQual)
  }

  private[graft] def ngramJaccardPairs(docs: DataFrame): DataFrame =
    ngramJaccardPairsFromWs(wordSets(docs))

  /** [[ngramJaccardPairs]] over a pre-built (doc_id, ws) frame, so
    * callers that already materialized the word sets (dedup_clusters)
    * share one scan instead of re-tokenizing the corpus. */
  private[graft] def ngramJaccardPairsFromWs(ws: DataFrame,
                                             track: DataFrame => Unit = _ => ()): DataFrame = {
    val tok = ws.select(col("doc_id"), size(col("ws")).as("n"), explode(col("ws")).as("token"))
        val dfreq = tok.groupBy(col("token")).agg(count(lit(1)).as("df"))
        val vocabSize = dfreq.count() // one tiny job; picks the plan tier
        if (vocabSize <= 64) {
          // Tiny-vocabulary tier: with ~30 tokens every doc shares "rare"
          // tokens with thousands of others, so PPJoin-style prefix
          // filtering degenerates to brute force (measured: a 12M-row
          // candidate join + GC storm). Group by identical mask
          // ([[maskGroups]] — near-dup corpora collapse hard) and only
          // expand the qualifying group pairs into doc pairs in a JVM
          // kernel.
          val (mgroups, crossQual) = maskGroups(tok, dfreq)
          val intra = mgroups.filter(size(col("ids")) >= 2).select(col("ids"))
          expandGroupPairs(crossQual, intra)
            .orderBy(col("doc_a"), col("doc_b"))
        } else {
          // Real-vocabulary tier: PPJoin-style prefix filtering. Token
          // ids in rarity order (distributed sort+zipWithIndex, no
          // single-partition window); a pair with Jaccard >= tau must
          // share one of each side's (n - ceil(tau*n) + 1) rarest tokens.
          val dict = graft.operators.DenseIds
            .byOrder(dfreq, "token_id", 0L, col("df"), col("token"))
            .withColumn("token_id", col("token_id").cast("int"))
          // UN-hinted dict join (VERDICT r11 item 3 — the containment
          // discipline applied to the word dictionary): a 100 TB
          // corpus's vocabulary (Zipf tail of typos/ids/URLs) is
          // hundreds of millions of tokens, and a forced broadcast
          // cannot degrade — it OOMs the driver. Left to the engine,
          // Catalyst broadcasts the dict while it fits
          // autoBroadcastJoinThreshold and falls back to a shuffle
          // join (AQE skew-split) beyond; DedupSpec pins the fallback
          // path to identical output with broadcast disabled.
          val idTok = tok.join(dict, "token")
          val ranked = idTok
            .withColumn("rk", row_number().over(
              Window.partitionBy(col("doc_id")).orderBy(col("token_id"))))
            .filter(col("rk") <= col("n") - ceil(col("n") * JaccardTauSets) + 1)
            .select(col("doc_id"), col("token_id"))
            // persisted: both sides of the candidate self-join read this,
            // and exchange reuse does not always cover a self-join
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          track(ranked)
          val cands = ranked.as("x").join(ranked.as("y"),
              col("x.token_id") === col("y.token_id") && col("x.doc_id") < col("y.doc_id"))
            .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
            .distinct()
          // verify over SORTED DENSE-ID sets, not the string sets: the
          // candidate join ships every surviving pair's two arrays, and
          // at the 30x probe that is tens of GB of strings vs ~4 bytes
          // per token as ids (the id mapping is bijective, so set sizes,
          // intersections, and the jaccard double are bit-identical).
          // The groupBy reuses the doc_id exchange the prefix window
          // already shuffled.
          // no sort here: verifyJaccard array_sorts its set column
          // itself, so pre-sorting would sort every array twice on the
          // hottest dedup stage
          val idSets = idTok
            .groupBy(col("doc_id"))
            .agg(collect_list(col("token_id")).as("ids"))
          verifyJaccard(cands, idSets, "ids", JaccardTauSets, track)
        }
  }

  /** Mask-tier group summaries above this count leave the driver-solve
    * path for the distributed qualify+propagate fallback. At the cap the
    * driver does m^2/2 ~ 2.1e9 64-bit AND+popcounts across cores —
    * bounded work; the summaries themselves (4 longs/group) are smaller
    * than what the distributed tier would broadcast anyway. */
  private[graft] val MaskDriverCap = 65536

  /** (doc_id, mask, n) rows: each <=64-token word set as a bit mask.
    * One narrow kernel pass, no shuffle — the dictionary is a broadcast
    * local map, never a joined dimension. */
  private def maskRows(ws: DataFrame, dict: Map[String, Int]): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("mask", LongType, nullable = false),
      StructField("n", IntegerType, nullable = false)))
    val bc = ws.sparkSession.sparkContext.broadcast(dict)
    ws.mapPartitions { iter =>
      val d = bc.value
      iter.map { row =>
        val set = row.getSeq[String](1)
        var m = 0L
        set.foreach(t => m |= (1L << d(t)))
        Row(row.getLong(0), m, set.length)
      }
    }(Encoders.row(outSchema))
  }

  /** Driver-side mask-tier solve. Collects one summary row per distinct
    * (mask, n) group — count, min doc_id — qualifies the m^2/2 group
    * pairs with a parallel popcount loop, union-finds components, and
    * ships the (mask -> cluster_id, cluster_size) labels back as ONE
    * broadcast join. The contraction insight is the same as the
    * distributed tier's; what changes is that the already-driver-sized
    * summary (the distributed tier broadcasts the strictly-larger
    * mgroups, id lists included) is solved in-process instead of through
    * ~60 sub-second Spark jobs of tiny-data aggregates + propagation
    * rounds (measured 20.8 s -> ~3 jobs). Returns None above
    * [[MaskDriverCap]] groups — callers fall back to the distributed
    * path, which has no driver-memory assumption.
    */
  private def maskClustersDriver(s: SparkSession, masks: DataFrame, driverCap: Int): Option[DataFrame] = {
    val groups = masks.groupBy(col("mask"), col("n"))
      .agg(count(lit(1)).as("gsize"), min(col("doc_id")).as("rep"))
      .take(driverCap + 1)
    if (groups.length > driverCap) return None
    val m = groups.length
    val gMask = new Array[Long](m)
    val gN = new Array[Int](m)
    val gSize = new Array[Long](m)
    val gRep = new Array[Long](m)
    var i = 0
    while (i < m) {
      val r = groups(i)
      gMask(i) = r.getLong(0); gN(i) = r.getInt(1)
      gSize(i) = r.getLong(2); gRep(i) = r.getLong(3)
      i += 1
    }
    // phase 1 (parallel, contention-free): each i owns adj(i); the
    // jaccard arithmetic mirrors the distributed crossQual bit for bit
    // (bigint intersection, IEEE double division, >= tau)
    val adj = new Array[Array[Int]](m)
    val tau = JaccardTauSets
    java.util.stream.IntStream.range(0, m).parallel().forEach { a =>
      var buf: scala.collection.mutable.ArrayBuffer[Int] = null
      var b = a + 1
      while (b < m) {
        val inter = java.lang.Long.bitCount(gMask(a) & gMask(b)).toLong
        if (inter > 0L &&
            inter.toDouble / (gN(a) + gN(b) - inter).toDouble >= tau) {
          if (buf == null) buf = new scala.collection.mutable.ArrayBuffer[Int]
          buf += b
        }
        b += 1
      }
      if (buf != null) adj(a) = buf.toArray
    }
    // phase 2 (sequential): the shared union-find
    // (graft.graph.UnionFind); the final relabel to min-rep per root
    // makes the result independent of union order
    val uf = new graft.graph.UnionFind(m)
    val hasEdge = new Array[Boolean](m)
    i = 0
    while (i < m) {
      val nb = adj(i)
      if (nb != null) {
        hasEdge(i) = true
        var k = 0
        while (k < nb.length) {
          hasEdge(nb(k)) = true
          uf.union(i, nb(k))
          k += 1
        }
      }
      i += 1
    }
    // docs in >= 1 pair: groups of >= 2 (intra pairs, jaccard 1.0) plus
    // any group on a qualifying cross edge — everything else is its own
    // trivial cluster and stays out of the output by definition
    val minRep = new java.util.HashMap[Int, Long]()
    val sumSize = new java.util.HashMap[Int, Long]()
    i = 0
    while (i < m) {
      if (gSize(i) >= 2L || hasEdge(i)) {
        val r = uf.find(i)
        val cur = minRep.get(r)
        if (!minRep.containsKey(r) || gRep(i) < cur) minRep.put(r, gRep(i))
        sumSize.merge(r, gSize(i), (x, y) => x + y)
      }
      i += 1
    }
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val labelRows = new java.util.ArrayList[Row](m)
    i = 0
    while (i < m) {
      if (gSize(i) >= 2L || hasEdge(i)) {
        val r = uf.find(i)
        labelRows.add(Row(gMask(i), minRep.get(r), sumSize.get(r)))
      }
      i += 1
    }
    val labelSchema = StructType(Seq(
      StructField("mask", LongType, nullable = false),
      StructField("cluster_id", LongType, nullable = false),
      StructField("cluster_size", LongType, nullable = false)))
    val labels = s.createDataFrame(labelRows, labelSchema)
    Some(masks.join(broadcast(labels), Seq("mask"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
      .orderBy(col("doc_id")))
  }

  /** Distributed mask-tier fallback (no driver-memory assumption):
    * group id lists, qualify group pairs via broadcast popcount join,
    * contract to min-doc_id representatives, propagate labels with the
    * shared [[graft.graph.Components]] loop. */
  private def maskClustersDistributed(s: SparkSession, masks: DataFrame): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val mgroups = masks.groupBy(col("mask"), col("n"))
      .agg(collect_list(col("doc_id")).as("ids"))
      .persist(lvl)
    val a = mgroups.select(col("mask").as("mask_a"), col("n").as("n_a"), col("ids").as("ids_a"))
    val b = mgroups.select(col("mask").as("mask_b"), col("n").as("n_b"), col("ids").as("ids_b"))
    val crossQual = a.join(broadcast(b), col("mask_a") < col("mask_b"))
      .withColumn("inter", expr("CAST(bit_count(mask_a & mask_b) AS BIGINT)"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= JaccardTauSets)
    val mg = mgroups.select(array_min(col("ids")).as("rep"), col("ids")).persist(lvl)
    val edges = crossQual
      .select(array_min(col("ids_a")).as("src"), array_min(col("ids_b")).as("dst"))
      .distinct()
      .persist(lvl)
    val edgeReps = edges.select(col("src").as("rep"))
      .unionByName(edges.select(col("dst").as("rep"))).distinct()
    val eligible = mg.filter(size(col("ids")) >= 2).select(col("rep"))
      .unionByName(edgeReps).distinct()
    val members = mg.join(eligible, Seq("rep"), "leftsemi")
      .select(explode(col("ids")).as("doc_id"), col("rep"))
    assembleClusters(s, edges, members)
  }

  /** Shared tail of both distributed cluster tiers: propagate min
    * labels over the representative edge graph, broadcast the label
    * back to members, attach cluster sizes. */
  private def assembleClusters(s: SparkSession, repEdges: DataFrame, memberReps: DataFrame): DataFrame = {
    val repNodes = memberReps.select(col("rep").as("id")).distinct()
    val labels = graft.graph.Components.autoLabel(s, repEdges, Some(repNodes))
    val members = memberReps.join(labels, memberReps("rep") === labels("id"))
      .select(col("doc_id"), col("comp"))
    members.join(
        members.groupBy(col("comp")).agg(count(lit(1)).as("cluster_size")), "comp")
      .select(col("doc_id"), col("comp").as("cluster_id"), col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** Transitive near-dup clusters over the pair graph — the full
    * `dedup_clusters` body, parameterized so specs can force the
    * distributed fallback (`driverCap = 0`) on small data. */
  private[graft] def clusterDocs(s: SparkSession, docs: DataFrame,
                                 driverCap: Int = MaskDriverCap): DataFrame =
    clusterDocsFromWs(s,
      wordSets(docs).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      driverCap)

  /** [[clusterDocs]] over a pre-built persisted (doc_id, ws) frame, so
    * the QueryDef shares the session-staged word sets. `pairsOpt`
    * supplies an already-persisted pair frame (the session-staged
    * [[stagedWordSetPairs]]) so the real-vocabulary tier folds the SAME
    * pairs dedup_ngram_jaccard serves instead of re-running the
    * prefix-filter + verify pipeline. It is a THUNK, resolved only
    * after the vocabulary probe picks the real-vocab tier — a mask-tier
    * corpus must not pay the staged pair build (whose vocabSize count
    * is an eager Spark job) for pairs it never reads. */
  private[graft] def clusterDocsFromWs(s: SparkSession, ws: DataFrame,
                                       driverCap: Int = MaskDriverCap,
                                       pairsOpt: Option[() => DataFrame] = None): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // tier probe: the mask tier needs the full (<= 64 entry) dictionary
    // anyway; a real vocabulary stops collecting at 65 rows
    val vocab = ws.select(explode(col("ws")).as("token")).distinct().take(65)
    if (vocab.length <= 64) {
      val dict = vocab.map(_.getString(0)).sorted.zipWithIndex.toMap
      val masks = maskRows(ws, dict).persist(lvl)
      maskClustersDriver(s, masks, driverCap)
        .getOrElse(maskClustersDistributed(s, masks))
    } else {
      // Real-vocabulary tier: doc pairs from prefix filtering (sharing
      // the persisted word sets), contracted by identical normalized
      // word set before the propagation loop.
      val pairs = pairsOpt
        .map(_.apply().select(col("doc_a"), col("doc_b")))
        .getOrElse(ngramJaccardPairsFromWs(ws)
          .select(col("doc_a"), col("doc_b")).persist(lvl))
      val canon = ws
        .select(col("doc_id"), md5(concat_ws(" ", array_sort(col("ws")))).as("norm"))
        .withColumn("rep", min(col("doc_id")).over(Window.partitionBy(col("norm"))))
        .select(col("doc_id"), col("rep"))
        .join(pairs.select(col("doc_a").as("doc_id"))
          .unionByName(pairs.select(col("doc_b").as("doc_id"))).distinct(),
          Seq("doc_id"), "leftsemi")
        .persist(lvl)
      val repA = canon.select(col("doc_id").as("doc_a"), col("rep").as("rep_a"))
      val repB = canon.select(col("doc_id").as("doc_b"), col("rep").as("rep_b"))
      val edges = pairs.join(repA, "doc_a").join(repB, "doc_b")
        .filter(col("rep_a") =!= col("rep_b"))
        .select(col("rep_a").as("src"), col("rep_b").as("dst"))
        .distinct()
      assembleClusters(s, edges, canon)
    }
  }

  def defs: Seq[QueryDef] = Seq(
    QueryDef(
      "dedup_exact",
      (s, dir) => {
        // staged word sets: array_distinct(split(lower(text))) computed
        // once per session, shared with ngram/clusters
        stagedDocFeatures(s, dir).ws
          .select(col("doc_id"),
            md5(concat_ws(" ", array_sort(col("ws")))).as("norm_md5"))
          .groupBy(col("norm_md5"))
          .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_doc_id"))
          .filter(col("n_docs") >= 2)
          .orderBy(col("norm_md5"))
      },
      Some("""SELECT norm_md5, COUNT(*) AS n_docs, MIN(doc_id) AS canonical_doc_id
      FROM (SELECT doc_id,
              md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS norm_md5
            FROM documents) t
      GROUP BY norm_md5 HAVING COUNT(*) >= 2 ORDER BY norm_md5""")
    ),

    QueryDef(
      "dedup_ngram_jaccard",
      (s, dir) => stagedWordSetPairs(s, dir),
      Some(jaccardPairsSql(
        "SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS ws FROM documents",
        "ws", JaccardTauSets))
    ),

    QueryDef(
      // The step after pair generation in every real dedup pipeline:
      // near-dup PAIRS -> transitive CLUSTERS -> one canonical doc per
      // cluster (min doc_id) + cluster size. Pairs come from the same
      // recall-1 prefix-filter plan as dedup_ngram_jaccard; clustering
      // is min-label propagation over the pair graph (the shared
      // graft.graph.Components loop — AQE-off/interpreted regime notes
      // there). Only docs in >= 1 pair appear; everything else is its
      // own trivial cluster by definition.
      // CONTRACT exact-duplicate groups before anything iterative: a
      // near-dup corpus is near-clique-dense (measured sf0.1: 965k doc
      // pairs over 2.9k docs), but docs with IDENTICAL word sets are
      // interchangeable for connectivity — so connectivity is solved
      // over one min-doc_id representative per group and the label
      // broadcast back to members (standard exact-before-fuzzy pipeline
      // ordering; cluster_id = min doc_id of the whole cluster either
      // way). Tiering in [[clusterDocs]]: <= 64-token vocabularies get
      // the mask tier whose group summary is solved ON THE DRIVER when
      // it fits ([[maskClustersDriver]] — it was already broadcast-sized
      // by construction), distributed propagation otherwise.
      "dedup_clusters",
      (s, dir) => stagedClusters(s, dir),
      Some(s"""WITH $ClusterCteSql
      SELECT cc.id AS doc_id, cc.cluster_id, sizes.cluster_size
      FROM cc JOIN sizes ON cc.cluster_id = sizes.cluster_id
      ORDER BY doc_id""")
    ),

    QueryDef(
      // SOFT-DEDUP SAMPLING WEIGHTS — the alternative to dropping
      // near-dups a mixture designer often prefers (SemDeDup's soft
      // option): keep EVERY doc but weight it 1/cluster_size, so each
      // near-dup cluster's total contribution to a training mix is
      // exactly one document's worth — duplication stops inflating a
      // source without discarding the (possibly best) copy the
      // canonical pick would have made. Singletons (never in a pair)
      // weight 1.0 via a left join — the dedup_canonical rule: at
      // 100 TB the full corpus is touched by one hash join against the
      // pair-participant cluster frame, never windowed or re-featurized
      // (the staged pairs/clusters are the shared artifact). weight =
      // 1.0 / cluster_size is one IEEE division of exact longs —
      // bit-identical cross-engine, no rounding needed. Oracle shares
      // the ONE cluster CTE with dedup_clusters, so the two surfaces
      // cannot drift.
      "dedup_soft_weights",
      (s, dir) => {
        val clusters = stagedClusters(s, dir)
        Tables(s, dir).documents.select(col("doc_id"))
          .join(clusters.select(col("doc_id"), col("cluster_size")),
            Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
            (lit(1.0) / coalesce(col("cluster_size"), lit(1L))).as("weight"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $ClusterCteSql,
        cl AS (SELECT cc.id AS doc_id, sizes.cluster_size
          FROM cc JOIN sizes ON cc.cluster_id = sizes.cluster_id)
      SELECT d.doc_id,
        CAST(COALESCE(cl.cluster_size, 1) AS BIGINT) AS cluster_size,
        1.0 / COALESCE(cl.cluster_size, 1) AS weight
      FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
      ORDER BY d.doc_id""")
    ),

    QueryDef(
      // DEDUP-WEIGHTED SAMPLING — sample_stratified's draw chain with
      // dedup_soft_weights' acceptance rule: doc kept iff
      // hashU32(doc_id) < (1/cluster_size)·M, so each near-dup cluster
      // contributes ONE expected survivor and the sample is
      // dedup-neutral in expectation without ever materializing a
      // dedup pass (the draw and the weight are both pure functions of
      // the row + the staged cluster frame). Per source: docs, the
      // exact expected survivor count (Σ weights, 6dp-decimal sums),
      // and the realized kept count — expected vs realized IS the
      // sampler's calibration read. One hash join + one aggregate; the
      // draw chain is CorpusOps.hashU32 (the ONE Lehmer chain — shared,
      // not re-derived), the weight rule and cluster CTE are
      // dedup_soft_weights' verbatim.
      "sample_dedup_weighted",
      (s, dir) => {
        import graft.pipeline.CorpusOps
        val clusters = stagedClusters(s, dir)
        val base = Tables(s, dir).documents.select(col("doc_id"), col("source"))
          .join(clusters.select(col("doc_id"), col("cluster_size")),
            Seq("doc_id"), "left")
          .withColumn("w", lit(1.0) / coalesce(col("cluster_size"), lit(1L)))
        val kept = CorpusOps.hashU32(col("doc_id")).cast("double") <
          col("w") * lit(CorpusOps.HashMod)
        base.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(round(col("w"), 6).cast("decimal(18,6)")).as("exp_dec"),
            sum(when(kept, 1L).otherwise(0L)).as("n_kept"))
          .select(col("source"), col("n_docs"),
            col("exp_dec").cast("double").as("expected_kept"),
            col("n_kept"))
          .orderBy(col("source"))
      },
      Some(s"""WITH $ClusterCteSql,
        cl AS (SELECT cc.id AS doc_id, sizes.cluster_size
          FROM cc JOIN sizes ON cc.cluster_id = sizes.cluster_id),
        w AS (SELECT d.doc_id, d.source,
            1.0 / COALESCE(cl.cluster_size, 1) AS w
          FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(CAST(ROUND(w, 6) AS DECIMAL(18,6))) AS DOUBLE) AS expected_kept,
        CAST(SUM(CASE WHEN CAST(${graft.pipeline.CorpusOps.HashU32Sql} AS DOUBLE) <
          w * 2147483647.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      FROM w GROUP BY source ORDER BY source""")
    ),

    QueryDef(
      // EFFECTIVE (deduplicated) TOKEN CENSUS per source — the number a
      // mixture designer actually budgets against: raw token counts
      // overstate a source by exactly its duplication, so each doc's
      // tokens are weighted by the soft-dedup rule (tokens /
      // cluster_size — a cluster contributes one copy's worth) and the
      // per-source dup_inflation ratio (raw/effective) says how
      // duplicated the source is in one number. Same one-hash-join
      // corpus plan as dedup_soft_weights; each weighted count is
      // 6dp-rounded to DECIMAL before the order-independent exact sum
      // (the perplexity discipline), and the ratio is one IEEE chain
      // over the exact sums. Oracle shares the ONE cluster CTE.
      "dedup_effective_tokens",
      (s, dir) => {
        val clusters = stagedClusters(s, dir)
        Tables(s, dir).documents
          .select(col("doc_id"), col("source"),
            size(split(lower(col("text")), " ")).cast("long").as("ntok"))
          .join(clusters.select(col("doc_id"), col("cluster_size")),
            Seq("doc_id"), "left")
          .select(col("source"), col("ntok"),
            round(col("ntok").cast("double") /
                coalesce(col("cluster_size"), lit(1L)).cast("double"), 6)
              .cast("decimal(18,6)").as("wtok"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("ntok")).as("raw_sum"),
            sum(col("wtok")).as("eff_dec"))
          .select(col("source"), col("n_docs"),
            col("raw_sum").cast("long").as("raw_tokens"),
            col("eff_dec").cast("double").as("effective_tokens"),
            (col("raw_sum").cast("double") / col("eff_dec").cast("double"))
              .as("dup_inflation"))
          .orderBy(col("source"))
      },
      Some(s"""WITH $ClusterCteSql,
        cl AS (SELECT cc.id AS doc_id, sizes.cluster_size
          FROM cc JOIN sizes ON cc.cluster_id = sizes.cluster_id),
        tk AS (SELECT d.source,
            CAST(len(string_split(lower(d.text), ' ')) AS BIGINT) AS ntok,
            COALESCE(cl.cluster_size, 1) AS csz
          FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
        agg AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(SUM(ntok) AS BIGINT) AS raw_tokens,
            SUM(CAST(ROUND(CAST(ntok AS DOUBLE) / CAST(csz AS DOUBLE), 6)
              AS DECIMAL(18,6))) AS eff_dec
          FROM tk GROUP BY source)
      SELECT source, n_docs, raw_tokens,
        CAST(eff_dec AS DOUBLE) AS effective_tokens,
        CAST(raw_tokens AS DOUBLE) / CAST(eff_dec AS DOUBLE) AS dup_inflation
      FROM agg ORDER BY source""")
    ),

    QueryDef(
      // Canonical-representative selection — the step a real dedup
      // pipeline runs AFTER clustering: keep exactly one doc per
      // near-dup cluster (longest text wins, doc_id breaks ties) and
      // mark the rest as drops. The per-cluster window runs over the
      // CLUSTERED docs only (pair-participants — a small fraction of
      // the corpus), never over all docs: singletons are canonical by
      // definition and get their flag from a left join, so at 100 TB
      // the full corpus is touched by exactly one hash join, not a
      // corpus-wide window sort.
      "dedup_canonical",
      (s, dir) => {
        val docs = Tables(s, dir).documents.select(col("doc_id"), col("n_chars"))
        val clusters = stagedClusters(s, dir)
        val w = Window.partitionBy(col("cluster_id"))
          .orderBy(col("n_chars").desc, col("doc_id").asc)
        val flagged = clusters.join(docs, "doc_id")
          .withColumn("is_canonical", row_number().over(w) === 1)
          .select(col("doc_id"), col("cluster_id"), col("cluster_size"), col("is_canonical"))
        docs.join(flagged, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
            coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
            coalesce(col("is_canonical"), lit(true)).as("is_canonical"),
            col("n_chars"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH s AS (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS ws FROM documents),
        pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM s a JOIN s b ON a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) /
                (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))) >= $JaccardTauSets),
        undir AS (SELECT doc_a AS src, doc_b AS dst FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
        nodes AS (SELECT DISTINCT src AS id FROM undir),
        cc AS (WITH RECURSIVE reach(id, comp) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT u.dst, r.comp FROM reach r JOIN undir u ON r.id = u.src)
          SELECT id, MIN(comp) AS cluster_id FROM reach GROUP BY id),
        sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM cc GROUP BY cluster_id),
        flagged AS (SELECT cc.id AS doc_id, cc.cluster_id, sizes.cluster_size,
            ROW_NUMBER() OVER (PARTITION BY cc.cluster_id
              ORDER BY d.n_chars DESC, cc.id ASC) = 1 AS is_canonical
          FROM cc JOIN sizes ON cc.cluster_id = sizes.cluster_id
          JOIN documents d ON cc.id = d.doc_id)
      SELECT d.doc_id,
        COALESCE(f.cluster_id, d.doc_id) AS cluster_id,
        CAST(COALESCE(f.cluster_size, 1) AS BIGINT) AS cluster_size,
        COALESCE(f.is_canonical, TRUE) AS is_canonical,
        d.n_chars
      FROM documents d LEFT JOIN flagged f ON d.doc_id = f.doc_id
      ORDER BY d.doc_id""")
    ),


    QueryDef(
      "dedup_minhash_lsh",
      (s, dir) => {
        // One narrow kernel pass computes shingles + all 128 permutation
        // minima per doc — no explode/regroup shuffle (every shingle is
        // born in its doc's row). The 32-bit-reduced hash keeps
        // (m * mult + i) overflow-free; a 128-min aggregate expression
        // would instead generate janino code whose compilation dominates
        // cold-start, and an interpreted HOF lambda is ~20x slower.
        // Session-staged: minhash/incremental/simhash share the pass.
        val feats = stagedDocFeatures(s, dir).feats
        val banded = feats.select(col("doc_id"), explode(col("bands")).as("band_key"))
        val cands = bucketPairs(banded, "band_key")
        verifyJaccard(cands, feats.select(col("doc_id"), col("ss")), "ss", JaccardTauShingles)
      },
      Some(jaccardPairsSql(shingleSetsSql, "ss", JaccardTauShingles))
    ),

    QueryDef(
      // INCREMENTAL dedup — the daily-ingest shape: a small delta batch
      // (doc_id % 7 = 0 stands in for today's arrivals) probes the BASE
      // corpus for near-dups without ever scoring base-base pairs. Both
      // sides' minhash bands come from the shared one-pass kernel (in
      // production the base bands are a precomputed index updated per
      // batch); candidates are the bipartite (band_key) equi-join —
      // probe-sized, never corpus x corpus — with the same hot-bucket
      // cap discipline as bucketPairs, then exact verification. At
      // 100 TB the base side is bucket-partitioned storage and the join
      // touches only buckets the delta's bands hit.
      "dedup_incremental",
      (s, dir) => incrementalDedupFromFeats(stagedDocFeatures(s, dir).feats, IncrementalHotBandCap),
      Some(IncrementalOracleSql)
    ),

    QueryDef(
      // The SERVING form of dedup_incremental: the delta probes a
      // PREBUILT persisted BandIndex over the base split instead of
      // featurizing the base per run — the build-once/probe-many
      // daily-ingest pipeline, under the same brute-force oracle as the
      // inline query (the two must agree pair-for-pair; BandIndexSpec
      // additionally pins the partition-pruned probe plan and
      // deterministic rebuilds). The index is session-staged like the
      // other shared artifacts, so the gate and bench probe a built
      // index rather than paying construction per run.
      "dedup_indexed",
      // probeFeats over the session-staged (persisted) delta features —
      // the same staging the inline query gets; probe() would re-run
      // the 128-perm kernel over the delta once per consumer reference
      (s, dir) => {
        val idx = BandIndex.stagedBaseIndex(s, dir)
        BandIndex.probeRel(idx.bands, idx.features,
          stagedDocFeatures(s, dir).feats.filter(col("doc_id") % 7 === 0)
            .select(col("doc_id"), col("ss"), col("bands")),
          JaccardTauShingles, IncrementalHotBandCap, 64)
      },
      Some(IncrementalOracleSql)
    ),

    QueryDef(
      // exact substring (window-level) dedup — see [[substringDedup]]
      "dedup_substring",
      (s, dir) => substringDedup(Tables(s, dir).documents),
      Some(substringOracleSql(SubstringWindow))
    ),

    QueryDef(
      // ordered containment pairs (a contained in b) — asymmetric
      // near-dup detection over the session-staged shingle features;
      // prefix-complete candidates, so oracle-exact (not recall-bounded)
      "dedup_containment",
      (s, dir) =>
        containmentFromTok(stagedContainment(s, dir), stagedDocFeatures(s, dir).feats),
      Some(ContainmentOracleSql)
    ),

    QueryDef(
      // 64-bit SimHash over md5-hashed shingles; two-level banding
      // ([[simhashKeys64]]: 8 segments x 8 complement sub-blocks, double
      // pigeonhole guarantees recall for hamming <= 7).
      // Oracle-exact — see the oracle note below for the equivalence
      // argument and its bucket-cap condition.
      "dedup_simhash",
      (s, dir) => {
        // bit-majority in the same narrow kernel pass as shingling (a
        // 64-sum aggregate compiles to outsized generated code, an
        // interpreted lambda is slow, and the old explode+regroup shape
        // shuffled every shingle just to reunite it with its doc).
        // Persisted: referenced by banding AND both sides of the verify
        // join below.
        val simhashed = stagedDocFeatures(s, dir).feats
          .select(col("doc_id"), col("sim"))
        val banded = simhashBandKeys(simhashed)
        val cands = bucketPairs(banded, "seg_key")
        val simsA = simhashed.select(col("doc_id").as("doc_a"), col("sim").as("sim_a"))
        val simsB = simhashed.select(col("doc_id").as("doc_b"), col("sim").as("sim_b"))
        cands.join(simsA, "doc_a").join(simsB, "doc_b")
          .withColumn("hamming", expr("bit_count(sim_a ^ sim_b)").cast("long"))
          .filter(col("hamming") <= 7)
          .select(col("doc_a"), col("doc_b"), col("hamming"))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      // The oracle needs NO banding: by DOUBLE pigeonhole
      // ([[simhashKeys64]]), hamming <= 7 forces at least one shared
      // (segment, sub-block) key, so the engine's banded candidate set
      // is a superset of every qualifying pair — engine output ≡ all
      // pairs at hamming <= 7, PROVIDED no 21-bit band bucket overflows
      // bucketPairs' skew cap (trivially true at gate scale; >10k docs
      // agreeing on a specific 15-bit pattern is mega-dup-dense and
      // needs the dedup_clusters discipline — exact-dup contraction
      // BEFORE pair enumeration — since its qualifying pair set is
      // itself quadratic). The shingle
      // hash is md5_number_lower (defined identically in both engines),
      // the bit votes a strict majority, and the per-pair hamming a sum
      // of per-bit disagreements (no 64-bit assembly, so no signedness
      // traps). Quadratic pair join is oracle-side only (sf0.01).
      Some(SimhashPairsOracleSql)
    ),

    QueryDef(
      // Exact angular blocking (see [[AngularBlocking]]): hyperplane
      // sign-cells + per-cell (mean direction, max-angle radius) + the
      // spherical triangle inequality generate a candidate superset with
      // recall 1 by construction, joined cell-to-cell (equi-join — no
      // cartesian / nested-loop pair product) and verified by the
      // codegen'd cosine. Output is bit-identical to the brute-force
      // pair join the SQL oracle runs, but candidate volume scales with
      // the data's cluster structure instead of n^2 (on this synthetic
      // isotropic corpus the qualifying output itself is a fixed tail
      // fraction of ALL pairs, so no recall-1 method can be sub-quadratic
      // here — the plan shape, not the local row count, is what survives
      // a 100x scale-up).
      "dedup_embedding",
      (s, dir) => {
        // session-staged assignment: the blocking structure is
        // tau-independent, shared with dedup_semantic and knn_join
        AngularBlocking.cosinePairsStaged(s, dir, CosineTau)
          .orderBy(col("vec_a"), col("vec_b"))
      },
      Some(s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        ${VectorOps.cosineSql("a.embedding", "b.embedding")} AS cosine
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE ${VectorOps.cosineSql("a.embedding", "b.embedding")} >= $CosineTau
      ORDER BY vec_a, vec_b""")
    ),

    QueryDef(
      // SEMANTIC dedup end-to-end: embedding-similarity pairs (the same
      // recall-1 angular-blocked generation as dedup_embedding, never
      // all-pairs) -> transitive clusters -> canonical vector per
      // cluster. This is the semantic sibling of dedup_clusters: where
      // that one clusters lexical near-dups, this clusters meaning-level
      // ones — the shape you'd run over paraphrase-heavy corpora at
      // 100 TB. Connectivity solves on the driver when the pair summary
      // fits (Components.autoLabel — one collect instead of a loop of
      // per-round jobs), distributed min-label propagation + star-
      // contraction fallback above the cap.
      "dedup_semantic",
      (s, dir) => semanticClusterFrame(s,
        AngularBlocking.cosinePairsStaged(s, dir, SemanticTau)
          .select(col("vec_a"), col("vec_b"))),
      Some(s"""WITH pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE ${VectorOps.cosineSql("a.embedding", "b.embedding")} >= $SemanticTau),
      undir AS (SELECT vec_a AS src, vec_b AS dst FROM pairs
        UNION SELECT vec_b, vec_a FROM pairs),
      nodes AS (SELECT DISTINCT src AS id FROM undir),
      cc AS (WITH RECURSIVE reach(id, comp) AS (
          SELECT id, id FROM nodes
          UNION
          SELECT u.dst, r.comp FROM reach r JOIN undir u ON r.id = u.src)
        SELECT id, MIN(comp) AS cluster_id FROM reach GROUP BY id),
      sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM cc GROUP BY cluster_id)
      SELECT cc.id AS vec_id, cc.cluster_id, sizes.cluster_size
      FROM cc JOIN sizes ON cc.cluster_id = sizes.cluster_id
      ORDER BY vec_id""")
    ),

    QueryDef(
      // SEMANTIC DEDUP OVER THE WHITENED SPACE (VERDICT r14 item 3 —
      // embed_whiten's consumer): SemDeDup whitens BEFORE cosine
      // clustering, because one dominant embedding direction inflates
      // every pairwise cosine and glues distinct meaning clusters into
      // one component — whitening equalizes the directions so the
      // threshold separates again (WhitenedDedupSpec demonstrates the
      // failure on an engineered anisotropic corpus: raw clustering
      // collapses the planted clusters, whitened recovers them
      // exactly; on an isotropic corpus both agree). Pipeline: the
      // SESSION-STAGED whitened frame (ONE eigensolve shared with
      // embed_whiten — localCheckpoint'd, so this query scans
      // materialized blocks, plan-pinned) → float-cast for the
      // recall-1 angular-blocked pair generation (same engine as
      // dedup_semantic, never all-pairs) → transitive clusters. Same
      // 100 TB shape as dedup_semantic plus whiten's two corpus
      // passes. Rows-only BY DESIGN (eigensolve inside — the
      // embed_whiten class) with the whiten gate columns riding as
      // FILTERS: a mis-applied basis (offdiag/diag_err off identity)
      // empties the result and flips the driver's rows-only check.
      "dedup_semantic_whitened",
      (s, dir) => {
        val w = graft.similarity.Similarity.stagedWhitenFrame(s, dir)
        // session-staged whitened blocking (the cosinePairsStaged
        // discipline): the assignment + cell stats are tau-independent
        // and the blocking kernel's float-cast is deterministic;
        // verification cosines are re-computed in double — the
        // operator defines similarity IN the whitened space
        val pairs = AngularBlocking.cosinePairsWhitenedStaged(s, dir, SemanticTau)
          .select(col("vec_a"), col("vec_b"))
        val gates = w.agg(
          max(col("n_components")).as("n_components"),
          max(col("whiten_offdiag")).as("whiten_offdiag"),
          max(col("whiten_diag_err")).as("whiten_diag_err"))
        semanticClusterFrame(s, pairs)
          .crossJoin(broadcast(gates))
          .filter(col("whiten_offdiag") < 0.01 && col("whiten_diag_err") < 0.01)
          .select(col("vec_id"), col("cluster_id"), col("cluster_size"),
            col("n_components"), col("whiten_offdiag"), col("whiten_diag_err"))
          // the cross join drops semanticClusterFrame's order
          .orderBy(col("vec_id"))
      },
      None
    ),

    QueryDef(
      // Chunk-level embedding dedup (see [[chunkVectors]]): bag-of-token
      // hash-projected chunk vectors -> recall-1 angular-blocked pair
      // generation -> exact-integer cosine (bit-identical cross-engine by
      // construction). Cross-doc pairs only: same-doc repeated chunks are
      // dedup_substring / text_repetition territory; the training-data
      // hazard this tier reports is a SECTION shared across containers.
      // The oracle mirrors the cosine from the SPARSE (chunk, dim, v)
      // rows — same exact integers, same op order (dot / (sqrt * sqrt)),
      // so even threshold-boundary pairs agree.
      "dedup_chunk_embedding",
      (s, dir) => chunkEmbeddingPairs(stagedChunkBlocking(s, dir)),
      Some(s"""WITH toks AS (
          SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        chunks AS (
          SELECT doc_id, i AS chunk_idx, t[i*$ChunkW+1 : i*$ChunkW+$ChunkW] AS ctoks
          FROM (SELECT doc_id, t, unnest(range(0, len(t) // $ChunkW)) AS i FROM toks)),
        ctok AS (
          SELECT doc_id, chunk_idx, unnest(ctoks) AS tok FROM chunks),
        tokh AS (
          SELECT doc_id, chunk_idx, md5_number_lower(tok) AS h FROM ctok),
        proj AS (
          SELECT doc_id, chunk_idx, CAST(h & ${ChunkDims - 1} AS INTEGER) AS dim,
            SUM(CASE WHEN (h >> 6) & 1 = 0 THEN 1 ELSE -1 END) AS v
          FROM tokh GROUP BY doc_id, chunk_idx, dim),
        norms AS (
          SELECT doc_id, chunk_idx, SUM(v * v) AS n2 FROM proj
          GROUP BY doc_id, chunk_idx),
        dots AS (
          SELECT a.doc_id AS doc_a, a.chunk_idx AS chunk_a,
            b.doc_id AS doc_b, b.chunk_idx AS chunk_b,
            SUM(a.v * b.v) AS dot
          FROM proj a JOIN proj b ON a.dim = b.dim
            AND (a.doc_id * $ChunkIdxCap + a.chunk_idx) < (b.doc_id * $ChunkIdxCap + b.chunk_idx)
          GROUP BY doc_a, chunk_a, doc_b, chunk_b)
      SELECT d.doc_a, d.chunk_a, d.doc_b, d.chunk_b,
        CAST(d.dot AS DOUBLE) /
          (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
      FROM dots d
      JOIN norms na ON na.doc_id = d.doc_a AND na.chunk_idx = d.chunk_a
      JOIN norms nb ON nb.doc_id = d.doc_b AND nb.chunk_idx = d.chunk_b
      WHERE na.n2 > 0 AND nb.n2 > 0 AND d.doc_a <> d.doc_b
        AND CAST(d.dot AS DOUBLE) /
          (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= $ChunkCosTau
      ORDER BY doc_a, chunk_a, doc_b, chunk_b""")
    ),

    QueryDef(
      // CHARACTER-LEVEL edit-distance verify — the re-rank tier every
      // token-set pipeline needs: word-set Jaccard is blind to token
      // ORDER and to sub-token noise (OCR errors, typos, segmentation
      // drift), so two candidates with identical jaccard can be an
      // exact char-level duplicate and a fully reshuffled doc. This
      // operator re-scores the staged lexical near-dup pairs (the
      // prefix-filter recall-1 frame dedup_ngram_jaccard serves —
      // BOUNDED, never all-pairs) with true Levenshtein distance and a
      // normalized edit similarity 1 − lev/max(len) (one exact-int
      // division per row, no accumulation — bit-identical cross-engine;
      // `levenshtein` is the same classic DP in both engines,
      // char-exact on this corpus). Scale: cost is per-PAIR O(len_a ×
      // len_b) on the candidate frame only; at web scale the bounded
      // variant levenshtein(a, b, threshold) caps the DP band — same
      // output for every pair under the threshold, early-exit above.
      "dedup_editdistance",
      (s, dir) => editVerify(stagedWordSetPairs(s, dir), Tables(s, dir).documents),
      Some(s"""WITH s AS (
          SELECT doc_id, lower(text) AS t,
            list_distinct(string_split(lower(text), ' ')) AS ws FROM documents),
        p AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) /
              (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))) AS jaccard,
            levenshtein(a.t, b.t) AS lv,
            greatest(length(a.t), length(b.t)) AS mx
          FROM s a JOIN s b ON a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) /
            (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))) >= $JaccardTauSets)
      SELECT doc_a, doc_b, jaccard, CAST(lv AS BIGINT) AS lev,
        CASE WHEN mx = 0 THEN 1.0
             ELSE 1.0 - CAST(lv AS DOUBLE) / CAST(mx AS DOUBLE) END AS edit_sim
      FROM p ORDER BY doc_a, doc_b""")
    )
  )
}
