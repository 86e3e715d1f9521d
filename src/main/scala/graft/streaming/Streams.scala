package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY.md §2.8) — the reference's
  * poll-loop semantics (`src/main.cpp:238-258`) as declarative streams.
  *
  * The reference's consume loop is: poll -> unframe+decode (count
  * failures) -> transform -> persist. Here:
  * `readStream -> AvroCodec.decode -> [windowed agg | sessionize |
  * error monitor] -> writeStream`, with watermarks replacing the manual
  * poll timeouts and state store replacing the hand-rolled SafeQueue
  * pipeline (`src/SafeQueue.h`). The decode is the batch codec verbatim:
  * its `DecodeFrames` generator is stateless, so one code path serves
  * batches and micro-batches.
  */
object AvroStream {

  /** The reference's failed-deserialization counter as a streaming
    * aggregation: running count per error status. */
  def errorMonitor(decoded: DataFrame): DataFrame =
    decoded
      .withColumn("status", coalesce(col("err"), lit("ok")))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"))
}

object WindowedAggregator {

  /** Tumbling event-time windows with a watermark — the streaming form
    * of the batch `q_events_window` query. */
  def hourly(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n_events"), col("total_value"))
}

/** Streaming deduplication (the streaming face of §2.4's exact dedup):
  * `dropDuplicatesWithinWatermark` keyed on a content fingerprint. State
  * is bounded by the watermark delay — keys older than the watermark are
  * evicted, so the operator runs indefinitely at ingest scale, unlike an
  * unbounded `dropDuplicates` whose state grows forever.
  */
object StreamDedup {

  /** Drop rows whose `keyCols` combination was already seen within the
    * watermark window around `eventTimeCol`. */
  def withinWatermark(events: DataFrame, eventTimeCol: String, delay: String,
                      keyCols: Seq[String]): DataFrame =
    events.withWatermark(eventTimeCol, delay).dropDuplicatesWithinWatermark(keyCols)

  /** Content-exact streaming document dedup: key = md5 of the sorted
    * distinct lowercase word set (the SAME normalization as the batch
    * `dedup_exact` operator, so batch and stream agree on what "same
    * document" means). */
  def documents(docs: DataFrame, textCol: String, eventTimeCol: String,
                delay: String): DataFrame =
    withinWatermark(
      docs.withColumn("norm_md5",
        md5(concat_ws(" ", array_sort(array_distinct(split(lower(col(textCol)), " ")))))),
      eventTimeCol, delay, Seq("norm_md5"))
}

/** Streaming NEAR-dup on ingest: each document micro-batch probes the
  * persisted [[graft.dedup.BandIndex]] for near-dups against everything
  * ingested before it, writes the pair report under its batch id, then
  * folds the batch into the index so later batches dedup against it —
  * the daily-ingest loop `dedup_incremental` models, run continuously.
  *
  * Delivery contract (at-least-once replay safe, in batch order — the
  * engine serializes micro-batches, so a replay is always of the LAST
  * uncommitted batch):
  *  - pairs are delta-vs-HISTORY only: candidates whose base side is in
  *    the probing batch itself are excluded. That keeps the two crash
  *    windows idempotent — a crash after the output write replays with
  *    the batch not yet excluded-relevant (identical output rewritten),
  *    a crash after the index append replays with the batch already in
  *    the index (the self-exclusion discards exactly those rows).
  *    Intra-batch dedup is the batch's own inline dedup pass, not this
  *    sink's job.
  *  - output overwrites `outDir/batch_id=<id>` — replays rewrite
  *    identical content instead of appending duplicates;
  *  - a replayed index append may double a doc's postings; probe
  *    tolerates that (distinct candidates, doc_id-deduped sets).
  */
object StreamNearDedup {

  /** `foreachBatch` body. The index at `indexDir` must exist (built
    * over the base corpus with the same `nShards`).
    *
    * `compactEvery` > 0 folds the index's posting shards every N
    * batches ([[graft.dedup.BandIndex.compact]]): each append leaves
    * one file set per batch inside the current generation, so an
    * unbounded ingest run otherwise accumulates a small-files problem
    * in every shard — the same reason [[ParquetGraphSink]] compacts
    * its batch directories. Compaction runs AFTER the append, on the
    * same single-writer foreachBatch thread; a crash anywhere in it
    * leaves the committed generation intact (see BandIndex), and a
    * replay of the appended batch probes identically against a
    * compacted or uncompacted index (spec-pinned). */
  def sink(indexDir: String, outDir: String, nShards: Int = 64,
           tau: Double = graft.dedup.Dedup.JaccardTauShingles,
           compactEvery: Int = 0, snapDir: Option[String] = None)
      : (DataFrame, Long) => Unit = { (batch, id) =>
    val s = batch.sparkSession
    // featurize ONCE per batch: the 128-perm signature kernel is the
    // CPU-dominant stage (Dedup.scala's measured note), and the lazy
    // probe() would otherwise re-run it per consumer (shard collect,
    // candidate bands, verification sets) plus a fourth time in
    // append. Both sink actions run while the persist is live.
    val feats = graft.dedup.Dedup
      .shingleFeatures(batch, withSig = true, withSim = false)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val own = feats.select(col("doc_id").as("base_id"))
      graft.dedup.BandIndex
        .probeFeats(s, indexDir, feats, tau,
          graft.dedup.Dedup.IncrementalHotBandCap, nShards)
        .join(broadcast(own), Seq("base_id"), "left_anti")
        .select(col("delta_id"), col("base_id"), col("jaccard"))
        .write.mode("overwrite").parquet(s"$outDir/batch_id=$id")
      graft.dedup.BandIndex.appendFeats(feats, indexDir, nShards)
      if (compactEvery > 0 && (id + 1) % compactEvery == 0)
        // pinned ServingSnapshot generations survive the sweep
        graft.dedup.BandIndex.compact(s, indexDir,
          protect = snapDir.fold(Set.empty[Long])(
            graft.operators.ServingSnapshot.protectedGens(_, indexDir)))
    } finally { feats.unpersist(); () }
  }

  /** All pairs reported so far, with their batch id. */
  def pairs(s: org.apache.spark.sql.SparkSession, outDir: String): DataFrame =
    s.read.parquet(outDir)
}

/** Embedding near-dup on ingest — [[StreamNearDedup]]'s loop for the
  * SEMANTIC axis: each micro-batch of (vec_id, embedding) rows probes
  * the persisted IVF [[graft.similarity.VectorIndex]] for cosine
  * near-dups against everything indexed so far (the base corpus plus
  * every earlier batch), reports (new_id, base_id, cosine) pairs at or
  * above `tau`, then folds itself into the index under the FROZEN
  * quantizer. The lexical loop catches re-posts sharing shingles; this
  * one catches paraphrases/translations whose embeddings collide — the
  * same two-axis split as decontam_ngram vs decontam_semantic, on the
  * live path.
  *
  * Crash/replay contract (the StreamNearDedup discipline): the pairs
  * write is per-batch overwrite (idempotent); a crash after the append
  * replays the batch against an index already holding its own vectors —
  * the anti-join on the batch's own ids removes exactly those, and
  * probeIvf drops bit-identical duplicate candidates, so the replayed
  * pairs are IDENTICAL (spec-pinned). Probe cost per batch: nprobe/
  * nCells of the indexed corpus via partition pruning, batch-sized
  * query broadcast — the serving shape at any index size. */
object StreamVectorDedup {

  /** `foreachBatch` body. The index at `indexDir` must exist
    * (built over the base corpus via `VectorIndex.buildIvf`).
    * `compactEvery` > 0 folds the index's generations every N batches
    * ([[graft.similarity.VectorIndex.compact]]): each append leaves one
    * file set per touched cell per batch, so an unbounded ingest run
    * otherwise accumulates a small-files problem in every inverted
    * list — the StreamNearDedup/BandIndex rationale verbatim.
    * Compaction runs AFTER the append on the same single-writer
    * thread; a crash anywhere in it leaves the committed generation
    * intact, and a replayed batch probes identically against a
    * compacted or uncompacted index (spec-pinned). */
  def sink(indexDir: String, outDir: String,
           tau: Double = 0.9, k: Int = 5, nprobe: Int = 4,
           compactEvery: Int = 0, snapDir: Option[String] = None)
      : (DataFrame, Long) => Unit = { (batch, id) =>
    val s = batch.sparkSession
    val vecs = batch.select(col("vec_id"), col("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // own ids are excluded INSIDE the probe's heaps, not filtered
      // afterwards: a post-cut anti-join would let an already-appended
      // batchmate (crash-past-append replay) crowd a genuine base
      // neighbor out of the top-k and silently LOSE it from the
      // replayed output (review finding r13) — in-heap exclusion keeps
      // the replayed top-k identical to the first delivery's
      val own = vecs.select(col("vec_id")).collect().map(_.getLong(0)).toSet
      graft.similarity.VectorIndex
        .probeIvf(s, indexDir,
          vecs.select(col("vec_id").as("query_id"), col("embedding")),
          k, nprobe, exclude = own)
        .filter(col("cosine") >= tau)
        .select(col("query_id").as("new_id"), col("vec_id").as("base_id"),
          col("cosine"))
        .write.mode("overwrite").parquet(s"$outDir/batch_id=$id")
      graft.similarity.VectorIndex.append(s, vecs, indexDir)
      if (compactEvery > 0 && (id + 1) % compactEvery == 0)
        // pinned ServingSnapshot generations survive the sweep
        graft.similarity.VectorIndex.compact(s, indexDir,
          protect = snapDir.fold(Set.empty[Long])(
            graft.operators.ServingSnapshot.protectedGens(_, indexDir)))
    } finally { vecs.unpersist(); () }
  }

  /** All pairs reported so far, with their batch id. */
  def pairs(s: org.apache.spark.sql.SparkSession, outDir: String): DataFrame =
    s.read.parquet(outDir)
}

/** Continuous sparse retrieval off the live ingest — the SPARSE sibling
  * of [[StreamVectorDedup]]'s growth loop (r15, completing the serving
  * symmetry the persisted [[graft.textfn.TermIndex]] opened): each
  * micro-batch of (doc_id, text) docs folds its postings into the
  * persisted index under the FROZEN scorer stats, then the STANDING
  * term query re-probes the grown index and publishes the current
  * corpus-wide BM25 top-k — the continuous-top-k / alerting shape
  * ("keep the best k docs for this query as the corpus streams in").
  *
  * Append-then-probe order, unlike the dedup loops: the batch's own
  * docs are WANTED in the result (they compete for the top-k
  * immediately), so there is no self-exclusion. Crash/replay contract:
  * the per-batch output write is an idempotent overwrite; a crash after
  * the append replays the batch onto an index already holding its
  * postings — bit-identical rows the probe's per-term max() pivot
  * absorbs — so the replayed top-k is IDENTICAL (spec-pinned), and
  * compaction folds the duplicates away on its normal cadence. Frozen
  * stats mean published results never rescore as the corpus grows: a
  * doc leaves the top-k only by being OUTRANKED, never by IDF drift —
  * the alerting-feed stability property (rescoring is an offline
  * rebuild, the TermIndex contract). Probe cost per batch: the queried
  * terms' shards only (partition pruning), independent of batch count.
  */
object StreamSparseTopK {

  /** `foreachBatch` body. The index at `indexDir` must exist (built
    * over the base corpus with the same `nShards`); `terms` is the
    * standing query. `compactEvery` > 0 folds the postings generations
    * every N batches — the StreamNearDedup/BandIndex small-files
    * rationale verbatim, same single-writer thread, same
    * crash-leaves-committed-generation-intact guarantee. */
  def sink(indexDir: String, outDir: String, terms: Seq[String],
           k: Int = 20,
           nShards: Int = graft.textfn.TermIndex.DefaultShards,
           compactEvery: Int = 0, snapDir: Option[String] = None)
      : (DataFrame, Long) => Unit = { (batch, id) =>
    val s = batch.sparkSession
    graft.textfn.TermIndex.append(s,
      batch.select(col("doc_id"), col("text")), indexDir, nShards)
    graft.textfn.TermIndex.probe(s, indexDir, terms, k, nShards)
      .write.mode("overwrite").parquet(s"$outDir/batch_id=$id")
    if (compactEvery > 0 && (id + 1) % compactEvery == 0)
      // when serving readers hold ServingSnapshot versions over this
      // index, their pinned generations survive the compaction sweep
      graft.textfn.TermIndex.compact(s, indexDir,
        protect = snapDir.fold(Set.empty[Long])(
          graft.operators.ServingSnapshot.protectedGens(_, indexDir)))
  }

  /** Every published top-k so far, tagged with its batch id. */
  def results(s: org.apache.spark.sql.SparkSession, outDir: String): DataFrame =
    s.read.parquet(outDir)
}

/** Continuous DENSE retrieval off the live ingest — the dense sibling of
  * [[StreamSparseTopK]] (r16, completing the standing-query symmetry the
  * r15 sparse loop opened): each micro-batch of (vec_id, embedding)
  * vectors is appended to the persisted [[graft.similarity.VectorIndex]]
  * under its FROZEN coarse quantizer, then the STANDING query vectors
  * re-probe the grown index and publish the current corpus-wide cosine
  * top-k — the continuous-ANN / alerting shape ("keep the best k vectors
  * for these queries as the corpus streams in").
  *
  * Append-then-probe like the sparse loop: the batch's own vectors are
  * WANTED in the result (they compete for the top-k immediately), so
  * there is no self-exclusion. Crash/replay contract: the per-batch
  * output write is an idempotent overwrite; a crash after the append
  * replays the batch onto an index already holding its vectors —
  * bit-identical rows the probe absorbs BY CONSTRUCTION (in-partition
  * heap membership sets + the cross-partition pre-rank
  * dropDuplicates, review finding r13) — so the replayed top-k is
  * IDENTICAL (spec-pinned), and compaction folds the duplicate rows
  * away on its normal cadence. Frozen centroids mean cell assignment
  * never drifts as the corpus grows: a vector leaves the top-k only by
  * being OUTRANKED, never by re-quantization — re-training is an
  * offline rebuild, the VectorIndex contract verbatim. Probe cost per
  * batch: the queries' nprobe cells only (partition pruning),
  * independent of batch count.
  *
  * Standing query ids MUST be negative: [[graft.similarity.VectorIndex
  * .probeIvf]]'s kernel self-excludes `vec_id == query_id` (the knn
  * convention, where queries are corpus members) — a standing query
  * whose id collided with a corpus vector would silently never see that
  * vector. Corpus ids are non-negative by convention, so the sink
  * REFUSES non-negative query ids loudly instead of serving a silent
  * blind spot. */
object StreamDenseTopK {

  /** `foreachBatch` body. The index at `indexDir` must exist (built over
    * the base corpus via `VectorIndex.buildIvf`); `queries` is the
    * standing (query_id < 0, embedding) set, driver-sized. `compactEvery`
    * > 0 folds the vector generations every N batches — the shared
    * small-files rationale, same single-writer thread, same
    * crash-leaves-committed-generation-intact guarantee. */
  def sink(indexDir: String, outDir: String,
           queries: Seq[(Long, Array[Float])],
           k: Int = 5, nprobe: Int = 4, compactEvery: Int = 0,
           snapDir: Option[String] = None)
      : (DataFrame, Long) => Unit = {
    require(queries.nonEmpty, "StreamDenseTopK: no standing queries")
    require(queries.forall(_._1 < 0),
      s"StreamDenseTopK: standing query ids must be negative (got " +
        s"${queries.map(_._1).filter(_ >= 0).mkString(", ")}) — probeIvf " +
        "self-excludes vec_id == query_id, so a non-negative query id " +
        "can collide with a corpus vector and silently never rank it")
    (batch, id) => {
      val s = batch.sparkSession
      graft.similarity.VectorIndex.append(s,
        batch.select(col("vec_id"), col("embedding")), indexDir)
      val qdf = s.createDataFrame(
        queries.map { case (qid, e) => (qid, e.toSeq) })
        .toDF("query_id", "embedding")
      graft.similarity.VectorIndex
        .probeIvf(s, indexDir, qdf, k, nprobe)
        .write.mode("overwrite").parquet(s"$outDir/batch_id=$id")
      if (compactEvery > 0 && (id + 1) % compactEvery == 0)
        // pinned ServingSnapshot generations survive the sweep
        graft.similarity.VectorIndex.compact(s, indexDir,
          protect = snapDir.fold(Set.empty[Long])(
            graft.operators.ServingSnapshot.protectedGens(_, indexDir)))
    }
  }

  /** Every published top-k so far, tagged with its batch id. */
  def results(s: org.apache.spark.sql.SparkSession, outDir: String): DataFrame =
    s.read.parquet(outDir)
}

/** The full RAG ingest loop (r16) — ONE `foreachBatch` feeding BOTH
  * retrieval legs and publishing a [[graft.operators.ServingSnapshot]]
  * per micro-batch, so serving readers always resolve a CONSISTENT
  * cross-index cut: a batch's documents enter the sparse postings index
  * and the dense vector index on the same writer thread, and only the
  * snapshot publish — after both appends — makes them visible to
  * snapshot-resolving readers. Without this, the two single-leg loops
  * ([[StreamSparseTopK]], [[StreamDenseTopK]]) each advance their index
  * independently and a reader probing both mid-batch sees a document in
  * one leg but not the other — exactly the torn read the snapshot
  * manifest exists to prevent.
  *
  * Lifecycle per batch, single-writer (the shared sink contract):
  * append sparse → append dense → publish snapshot (pins both legs'
  * exact file sets at one instant) → retire old versions (keep
  * `keepSnapshots`) → on the `compactEvery` cadence, compact BOTH legs
  * with the LIVE snapshots' generations protected — a pinned reader
  * keeps serving bit-identical results across folds until its version
  * is retired, then fails loudly.
  *
  * Crash/replay contract: a crash-past-append replay re-appends the
  * batch (new duplicate files — absorbed bit-identically by both
  * probes' dedup discipline) and publishes one more snapshot version
  * whose pinned probes return results BIT-IDENTICAL to the crashed
  * attempt's (spec-pinned); version numbers advance monotonically and
  * are cheap manifest files, so an extra version is noise the
  * retirement policy sweeps.
  */
object StreamRagIngest {

  /** `foreachBatch` body. Both indexes must exist (TermIndex.build /
    * VectorIndex.buildIvf over the base corpus); batches carry
    * (doc_id, text, embedding). `bpeDir` (r17, VERDICT r16 item 4)
    * optionally names a [[graft.textfn.Bpe.saveVersioned]] vocab root:
    * each published snapshot then ALSO pins the tokenizer generation
    * that was current at the publish instant, so a resolved cut names
    * index files AND the vocab that tokenized them — a vocab release
    * (a new generation) never leaks into an already-published version
    * (spec-pinned in BpeVocabSpec). */
  def sink(termDir: String, vecDir: String, snapDir: String,
           nShards: Int = graft.textfn.TermIndex.DefaultShards,
           keepSnapshots: Int = 2, compactEvery: Int = 0,
           bpeDir: Option[String] = None)
      : (DataFrame, Long) => Unit = { (batch, id) =>
    val s = batch.sparkSession
    val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      graft.textfn.TermIndex.append(s,
        b.select(col("doc_id"), col("text")), termDir, nShards)
      graft.similarity.VectorIndex.append(s,
        b.select(col("doc_id").as("vec_id"), col("embedding")), vecDir)
      graft.operators.ServingSnapshot.publish(snapDir,
        Map("sparse" -> termDir, "dense" -> vecDir) ++
          bpeDir.map("bpe" -> _))
      graft.operators.ServingSnapshot.retire(snapDir, keepSnapshots)
      if (compactEvery > 0 && (id + 1) % compactEvery == 0) {
        // ONE pass over the live manifests serves both legs' protection
        val prot = graft.operators.ServingSnapshot.protectedGensAll(snapDir)
        def of(d: String) = prot.getOrElse(
          graft.operators.ServingSnapshot.qualified(d), Set.empty[Long])
        graft.textfn.TermIndex.compact(s, termDir, protect = of(termDir))
        graft.similarity.VectorIndex.compact(s, vecDir, protect = of(vecDir))
      }
    } finally { b.unpersist(); () }
  }
}

/** Streaming face of `produce_delivery_report` (r16 — the ack side of
  * the producer, which is ASYNC by nature: librdkafka invokes dr_cb
  * per message as broker acks arrive, so the stream is the callback's
  * native shape and the batch query is its aggregate snapshot). Each
  * micro-batch of produced frames updates per-partition cumulative
  * counters and emits the partition's CURRENT report row — produced /
  * delivered / failed / high-water offset — the live view an ops
  * dashboard tails while a backfill produce runs.
  *
  * Broker model shared with the batch QueryDef by construction (same
  * constants, same arithmetic): keyed partitioner
  * floorMod(key, nParts), the offline partition fails every message
  * (LEADER_NOT_AVAILABLE — the per-partition failure class real
  * delivery reports surface), fresh-topic consecutive offsets make
  * the high-water mark n_delivered − 1 (−1 while a partition has
  * delivered nothing, the Kafka empty-partition convention). The
  * serializer-failure guard is the batch query's filter verbatim: a
  * null/≤ CP1-header-sized frame never reaches the broker, so it
  * counts in NO column. Counters are order-independent sums, so the
  * report is replay- and split-invariant by construction; state per
  * partition is three longs — O(nParts), never stream-bound.
  * StreamDeliveryReportSpec pins single-batch ≡ the batch QueryDef's
  * aggregate rows and split-feed ≡ single-feed on the final report.
  */
object StreamDeliveryReport {

  /** One produced frame: the partitioner key + the frame's byte size
    * (the report needs validity and routing, never the payload). */
  final case class Msg(key: String, n_bytes: Long)

  final case class PartState(produced: Long, delivered: Long, failed: Long)

  final case class Report(partition: Int, n_produced: Long,
                          n_delivered: Long, n_failed: Long,
                          max_offset: Long, err_reason: String)

  /** CP1 frame floor: magic byte + 4-byte schema id — anything not
    * strictly larger carries no payload (the batch query's filter). */
  private val MinFrameBytes = 5L

  def reports(msgs: Dataset[Msg], nParts: Int = 8, offline: Int = 7)
      : Dataset[Report] = {
    import msgs.sparkSession.implicits._
    msgs
      .filter(m => m.n_bytes > MinFrameBytes)
      .groupByKey { m =>
        // keys come from the config's key column (numeric by the
        // CsvProducer contract); a non-numeric key is a producer-config
        // bug — fail with the cause NAMED, not a bare
        // NumberFormatException three stack frames deep (review r16)
        val k = m.key.toLongOption.getOrElse(sys.error(
          s"StreamDeliveryReport: non-numeric partitioner key '${m.key}' — " +
            "the producer's key column is not the configured numeric key"))
        math.floorMod(k, nParts.toLong).toInt
      }
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (p: Int, batch: Iterator[Msg], state: GroupState[PartState]) =>
          val st = state.getOption.getOrElse(PartState(0L, 0L, 0L))
          var produced = st.produced
          var delivered = st.delivered
          var failed = st.failed
          batch.foreach { _ =>
            produced += 1
            if (p == offline) failed += 1 else delivered += 1
          }
          state.update(PartState(produced, delivered, failed))
          Iterator.single(Report(p, produced, delivered, failed,
            delivered - 1L,
            if (p == offline) "LEADER_NOT_AVAILABLE" else "NONE"))
      }
  }
}

/** Streaming face of `q_events_markov`: per-user event-type transition
  * rows off the live stream, with the LAST event carried in state so a
  * transition that straddles a micro-batch boundary is never lost — the
  * property a per-batch lead() window cannot have (its last row has no
  * successor until the next batch arrives, and by then the window has
  * forgotten it). Emits one row per (user, consecutive-pair); the
  * consumer aggregates to the (from, to) matrix — transition counts are
  * plain sums, so any downstream rollup (per batch, per day, global)
  * composes exactly with the batch operator's counts.
  *
  * Ordering contract: events are sorted per user within the batch by
  * (ts_us, event_id) — the batch operator's total order — and batches
  * are assumed event-time-monotone per user across deliveries (the
  * sessionizer's watermark assumption). State per user: the single
  * last (ts_us, event_id, type) triple — O(users), never stream-bound.
  * StreamMarkovSpec pins one-batch ≡ batch q_events_markov counts and
  * split-feed ≡ single-feed (the boundary transition preserved).
  */
object StreamMarkov {

  final case class Ev(user_id: Long, ts_us: Long, event_id: Long, event_type: String)
  final case class Trans(user_id: Long, from_type: String, to_type: String)

  def transitions(events: Dataset[Ev]): Dataset[Trans] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Ev], state: GroupState[(Long, Long, String)]) =>
          val sorted = batch.toSeq.sortBy(e => (e.ts_us, e.event_id))
          if (sorted.isEmpty) Iterator.empty
          else {
            // LOUD ordering contract (review finding r13: the carried
            // (ts, id) were stored but never read, so a late delivery
            // would silently emit a transition the batch operator
            // orders differently — counts diverging forever with no
            // error). A transition already emitted against the carried
            // last event cannot be unsaid, so a violated contract
            // refuses, it does not guess — the BFS round-bound
            // discipline applied to event-time monotonicity.
            state.getOption.foreach { case (lts, lid, _) =>
              val h = sorted.head
              require(h.ts_us > lts || (h.ts_us == lts && h.event_id > lid),
                s"StreamMarkov: out-of-order delivery for user $uid — batch head " +
                  s"(ts_us=${h.ts_us}, id=${h.event_id}) is not after the carried last " +
                  s"(ts_us=$lts, id=$lid); transitions emitted against the carried event " +
                  "cannot be reordered retroactively")
            }
            val types = state.getOption.map(_._3).toSeq ++ sorted.map(_.event_type)
            val last = sorted.last
            state.update((last.ts_us, last.event_id, last.event_type))
            types.sliding(2).collect {
              case Seq(a, b) => Trans(uid, a, b)
            }
          }
      }
  }
}

/** Watermarked stream-stream join: purchases join the same user's views
  * within a bounded lookback — the streaming form of the batch as-of /
  * interval join. Both sides carry watermarks AND the join condition
  * bounds event-time distance, which is exactly what lets Spark evict
  * join state: a view older than (watermark + lookback) can never match
  * a future purchase and is dropped. Without the time bound the state
  * grows forever — the condition is a correctness-of-operations
  * requirement at scale, not an optimization.
  */
object StreamJoin {

  /** Inner join: every (purchase, view) pair for the same user with
    * `view.ts` in `[purchase.ts - lookback, purchase.ts]`. */
  def viewsBeforePurchase(purchases: DataFrame, views: DataFrame,
                          watermark: String = "10 minutes",
                          lookback: String = "1 hour"): DataFrame = {
    val p = purchases.select(col("event_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", watermark)
    val v = views.select(col("user_id").as("v_user"), col("ts").as("v_ts"))
      .withWatermark("v_ts", watermark)
    p.join(v, col("user_id") === col("v_user") &&
        col("v_ts") >= col("p_ts") - expr(s"INTERVAL $lookback") &&
        col("v_ts") <= col("p_ts"))
      .select(col("event_id"), col("user_id"), col("p_ts"), col("v_ts"))
  }
}

/** Streaming, incrementally-maintained SPO graph statistics — the
  * streaming face of §2.2's batch graph queries. Triples are deduped
  * within the watermark (a replayed or re-sent triple must not inflate
  * degrees — the same at-least-once discipline as [[ParquetGraphSink]]),
  * then degree counts update per micro-batch in update output mode:
  * state is one counter per entity, hash-partitioned across executors,
  * and each batch touches only the keys it saw.
  */
object GraphStream {

  /** Running out/in-degree per entity over a deduped triple stream.
    * `eventTimeCol` drives the dedup watermark. */
  def degrees(triples: DataFrame, eventTimeCol: String, delay: String): DataFrame = {
    val clean = StreamDedup.withinWatermark(
      triples, eventTimeCol, delay, Seq("subject", "predicate", "object"))
    clean
      .select(col("subject").as("name"), lit(1L).as("out_d"), lit(0L).as("in_d"))
      .unionByName(clean.select(col("object").as("name"), lit(0L).as("out_d"), lit(1L).as("in_d")))
      .groupBy(col("name"))
      .agg(sum(col("out_d")).as("out_edges"), sum(col("in_d")).as("in_edges"))
  }
}

object EventSessionizer {

  final case class SessionEvent(user_id: Long, ts_us: Long, value: Double)
  final case class SessionState(startUs: Long, lastUs: Long, n: Int, total: Double)
  final case class Session(user_id: Long, start_us: Long, end_us: Long, n_events: Int, total_value: Double)

  val DefaultGapUs: Long = 30L * 60 * 1000000

  /** Custom streaming state: gap-based sessionization via
    * `flatMapGroupsWithState`. Sessions close when a later event in the
    * group arrives more than `gapUs` after the last one; the open tail
    * session stays in state across micro-batches.
    *
    * Scale: state is one small case class per active user key,
    * hash-partitioned by the grouping key across executors — the
    * idiomatic replacement for the reference's single-threaded queue.
    */
  def sessionize(events: Dataset[SessionEvent], gapUs: Long = DefaultGapUs): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          val evs = batch.toSeq.sortBy(e => e.ts_us)
          var cur = state.getOption
          val closed = Seq.newBuilder[Session]
          evs.foreach { e =>
            cur match {
              case Some(st) if e.ts_us - st.lastUs <= gapUs =>
                cur = Some(st.copy(lastUs = e.ts_us, n = st.n + 1, total = st.total + e.value))
              case Some(st) =>
                closed += Session(userId, st.startUs, st.lastUs, st.n, st.total)
                cur = Some(SessionState(e.ts_us, e.ts_us, 1, e.value))
              case None =>
                cur = Some(SessionState(e.ts_us, e.ts_us, 1, e.value))
            }
          }
          cur.foreach(state.update)
          closed.result().iterator
      }
  }
}

/** Streaming corpus preparation — the streaming face of §2.9's batch
  * tier. Every operator here is STATELESS on the stream side (pure
  * column expressions or stream-static lookups against an
  * eval-suite-sized benchmark), so they compose into any ingest
  * pipeline without watermark state and run indefinitely.
  */
object StreamCorpus {

  /** PII redaction on a streaming document column — the identical
    * ordered regexp chain as the batch `text_pii_scrub` (shared
    * expression), so batch and stream agree on what "scrubbed" means. */
  def piiScrub(docs: DataFrame, textCol: String): DataFrame =
    docs.withColumn(textCol, graft.pipeline.CorpusOps.redactPii(col(textCol)))

  /** Stream-static decontamination: flag each streaming doc that shares
    * an 8-token shingle with the benchmark set. The benchmark is
    * eval-suite-sized BY DEFINITION (the same broadcast argument as the
    * batch `decontam_ngram`), so it ships as a broadcast literal and the
    * check is a stateless per-row `arrays_overlap` — no join state, no
    * watermark, exactly-per-row semantics under replay.
    */
  def markContaminated(docs: DataFrame, textCol: String,
                       benchmarkShingles: Seq[String]): DataFrame =
    docs.withColumn("contaminated",
      arrays_overlap(graft.pipeline.CorpusOps.shingles8(col(textCol)),
        typedlit(benchmarkShingles)))

  /** The SHARED quality score (TextFunctions.qualityScore — one
    * definition with text_quality / pipeline_filter / token_budget),
    * streaming-safe: a stateless expression over one row, empty text
    * scored 0 by the shared guard. */
  def qualityScore(docs: DataFrame, textCol: String): DataFrame =
    docs.withColumn("quality",
      graft.textfn.TextFunctions.qualityScore(col(textCol)))
}

/** Streaming face of the batch `token_budget`: per-source running token
  * totals via `flatMapGroupsWithState`, emitting each doc that still
  * fits ENTIRELY within its source's remaining budget (same fit rule as
  * the batch operator: exclusive prefix + own tokens ≤ B).
  *
  * Semantics under streaming: a stream cannot sort the future, so each
  * micro-batch is ranked by the SHARED quality score ((quality DESC,
  * doc_id) — the batch operator's exact order; group iterators carry no
  * order guarantee, so the sort is the operator's job, as in the
  * sessionizer) and the cumulative carries across batches. The batch
  * operator is the one-batch special case: feed everything in one batch
  * and the kept set is EXACTLY the batch `token_budget` selection
  * (spec-proven, including across a micro-batch split in quality order).
  *
  * State per source: ONE long (tokens consumed) — trivially bounded by
  * the source dictionary.
  */
object StreamTokenBudget {

  final case class DocTokens(source: String, doc_id: Long, quality: Double, n_tokens: Long)
  final case class Kept(source: String, doc_id: Long, n_tokens: Long, cum_tokens: Long)

  def keep(docs: Dataset[DocTokens], budget: Long): Dataset[Kept] = {
    import docs.sparkSession.implicits._
    docs
      .groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (source: String, batch: Iterator[DocTokens], state: GroupState[Long]) =>
          var cum = state.getOption.getOrElse(0L)
          val kept = Seq.newBuilder[Kept]
          batch.toSeq.sortBy(d => (-d.quality, d.doc_id)).foreach { d =>
            // EVERY doc advances the cumulative — the batch rule is
            // "kept iff its inclusive prefix over ALL docs in order fits"
            // (a skipped doc still consumes its slot in the order), so
            // the stream must match or the two diverge at the boundary
            cum += d.n_tokens
            if (cum <= budget) kept += Kept(source, d.doc_id, d.n_tokens, cum)
          }
          state.update(cum)
          kept.result().iterator
      }
  }
}

/** Streaming face of the batch `q_events_funnel`: per-user 4-slot
  * funnel state via `flatMapGroupsWithState`, emitting each stage the
  * FIRST time a user reaches it (with latency from the signup stage).
  *
  * Semantics match the batch operator when events arrive in event-time
  * order across micro-batches (each batch is sorted before the walk, so
  * any single-batch feed is exact — spec-proven against the batch
  * funnel). A cross-batch straggler older than an already-claimed stage
  * cannot retroactively lower that stage — the inherent streaming
  * trade, same as the sessionizer's.
  *
  * Scale: state is 4 longs per user, hash-partitioned by user across
  * executors; a production deployment would add an event-time timeout
  * to expire dormant users once the funnel window closes.
  */
object StreamFunnel {

  final case class FunnelEvent(user_id: Long, event_type: String, ts_us: Long)
  final case class StageHit(user_id: Long, stage: String, ts_us: Long, latency_us: Long)

  def funnel(events: Dataset[FunnelEvent]): Dataset[StageHit] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[FunnelEvent], state: GroupState[graft.operators.Funnel.State]) =>
          // THE shared transition rules (Funnel.step) — one definition
          // with the batch q_events_funnel walker
          var st = state.getOption.getOrElse(graft.operators.Funnel.Empty)
          val hits = Seq.newBuilder[StageHit]
          batch.toSeq.sortBy(_.ts_us).foreach { e =>
            val (next, hit) = graft.operators.Funnel.step(st, e.event_type, e.ts_us)
            st = next
            hit.foreach(h => hits += StageHit(userId, h.stage, e.ts_us, h.latencyUs))
          }
          state.update(st)
          hits.result().iterator
      }
  }
}

/** Streaming face of the batch `text_heavy_hitters` CANDIDATE pass:
  * hash-sharded Misra-Gries state over a token stream (the live
  * stopword/boilerplate monitor — "which tokens are flooding the feed
  * right now" without per-key state for the whole vocabulary).
  *
  * Each token routes by hash to one of `nShards` persistent group
  * states, so every occurrence of a given token folds into the SAME
  * summary — the superset guarantee survives sharding (a token with
  * global count > n/phi holds at least that share of its own shard's
  * substream, so slots >= phi retains it there) while total state stays
  * bounded at nShards x slots counters and the fold parallelizes across
  * executors. The transition is THE batch kernel's [[graft.textfn
  * .MisraGries.fold]] — one definition, both surfaces.
  *
  * Per batch, each touched shard re-emits its full current summary —
  * survivor estimates plus a (tok = null) substream-total marker, the
  * same summary shape the batch kernel's partitions emit — tagged with
  * the shard id, so "latest batch per shard" reconstructs the candidate
  * union downstream. Estimates are sketch-bounded (never overcounting,
  * undershooting <= substream_n/(slots+1)); exact numbers remain the
  * batch verify pass's job, exactly as in the batch operator. The fold
  * order within a shard is pinned by `seq`, making a split feed equal a
  * single-batch feed bit-for-bit (spec-pinned).
  */
object StreamHeavyHitters {

  final case class Tok(seq: Long, tok: String)
  final case class Summary(shard: Int, tok: String, est: Long, substream_n: Long)

  /** Persisted shard summary: parallel survivor/estimate arrays (a
    * state-store-friendly flat shape) + the substream length. */
  final case class MgState(toks: Array[String], ests: Array[Long], n: Long)

  def candidates(toks: Dataset[Tok], slots: Int, nShards: Int): Dataset[Summary] = {
    import toks.sparkSession.implicits._
    toks
      .groupByKey(t => math.floorMod(t.tok.##, nShards))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (shard: Int, batch: Iterator[Tok], state: GroupState[MgState]) =>
          val st = state.getOption.getOrElse(MgState(Array.empty, Array.empty, 0L))
          val m = new java.util.HashMap[String, java.lang.Long]()
          st.toks.indices.foreach(i => m.put(st.toks(i), st.ests(i)))
          var n = st.n
          // (seq, tok) is a TOTAL order: sorting by seq alone left the
          // relative order of two same-seq tokens to the batch's arrival
          // order, weakening the split-feed == single-batch determinism
          // claim (ADVICE r10)
          batch.toSeq.sortBy(t => (t.seq, t.tok)).foreach { t =>
            graft.textfn.MisraGries.fold(m, t.tok, slots)
            n += 1
          }
          // deterministic state layout: survivors sorted by token
          val keys = new Array[String](m.size)
          m.keySet().toArray(keys)
          java.util.Arrays.sort(keys.asInstanceOf[Array[AnyRef]])
          state.update(MgState(keys, keys.map(k => m.get(k).longValue()), n))
          (keys.iterator.map(t => Summary(shard, t, m.get(t).longValue(), n)) ++
            Iterator.single(Summary(shard, null, 0L, n)))
      }
  }
}

/** Streaming face of `q_events_anomaly`: per-type z-score flagging with
  * EXACT integer running moments. State is three longs per event_type —
  * value in Money cents, so Σv and Σv² accumulate as exact integers
  * with no float accumulation order (the batch operator's decimal
  * discipline, translated to state-store-friendly longs). Per batch:
  * fold the batch into the moments FIRST, then judge the batch's rows
  * against the updated cumulative moments with the SAME double chain
  * and the SAME radicand guard as the batch operator — cents/100.0 and
  * cents²/10000.0 are single correctly-rounded IEEE divisions, so they
  * equal the batch side's decimal→double casts bit-for-bit
  * (spec-pinned: single-batch feed ≡ the batch operator) — PROVIDED
  * the moments stay exactly representable. That exactness domain is
  * BOUNDED and enforced loudly, not assumed: |Σcents| and Σcents² must
  * stay ≤ 2^53 (past it, long→double conversion itself rounds and the
  * batch equality claim quietly dies — ~10^8 events of $100 reach it),
  * and each event's cents² must not overflow Long (a single ≥ ~$30.4M
  * value would wrap Σv² negative and corrupt every later z). Both are
  * `require`s: a stream leaving the exact domain fails loudly at the
  * offending batch instead of drifting. Cross-batch, rows are judged on
  * moments as of their OWN batch — the inherent streaming trade (a
  * later regime change cannot retroactively unflag), same class as the
  * sessionizer's.
  */
object StreamAnomaly {

  final case class Ev(event_id: Long, event_type: String, cents: Long)
  final case class Mom(sum: Long, ssq: Long, n: Long)
  final case class Hit(event_id: Long, event_type: String, value: Double, z: Double)

  /** The exact-double domain: longs above this round under
    * long→double, breaking bit-equality with the batch decimals. */
  private val ExactDoubleMax = 1L << 53

  /** Money-faithful cents: the same double→DECIMAL(18,2) rounding the
    * batch operator's cast applies. */
  def cents(value: Double): Long =
    (BigDecimal(value).setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact

  def anomalies(events: Dataset[Ev]): Dataset[Hit] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (tpe: String, batch: Iterator[Ev], state: GroupState[Mom]) =>
          val st = state.getOption.getOrElse(Mom(0L, 0L, 0L))
          val rows = batch.toArray.sortBy(_.event_id)
          var sum = st.sum; var ssq = st.ssq; var n = st.n
          rows.foreach { e =>
            require(math.abs(e.cents) <= 3037000499L, // floor(sqrt(Long.Max))
              s"StreamAnomaly($tpe): |cents|=${e.cents} would overflow cents² — " +
                "exact-moment domain exceeded")
            sum += e.cents; ssq += e.cents * e.cents; n += 1
          }
          require(math.abs(sum) <= ExactDoubleMax && ssq >= 0 && ssq <= ExactDoubleMax,
            s"StreamAnomaly($tpe): running moments (sum=$sum, ssq=$ssq) left the " +
              "exact-double domain (2^53) — batch bit-equality no longer holds; " +
              "shard the type key or rescale before this point")
          state.update(Mom(sum, ssq, n))
          val sv = sum / 100.0
          val ssqd = ssq / 10000.0
          // the batch operator's degenerate guard: the z-chain's OWN
          // radicand must be positive (see the q_events_anomaly note)
          if (n <= 1 || !((ssqd - sv * sv / n) / n > 0)) Iterator.empty
          else {
            val mean = sv / n
            val std = math.sqrt((ssqd - sv * sv / n) / n)
            rows.iterator.flatMap { e =>
              val v = e.cents / 100.0
              val z = (v - mean) / std
              if (math.abs(z) > 3.0) Some(Hit(e.event_id, tpe, v, z)) else None
            }
          }
      }
  }
}

/** Streaming face of `docs_drift_lang` (r12): monitor an INGEST stream's
  * language mix per source against a FROZEN baseline distribution (the
  * accepted corpus's per-source lang counts — sources × langs rows,
  * trivially driver-sized, shipped as a plain map the way the batch
  * tier broadcasts its rate tables). After every micro-batch each
  * source emits its current smoothed PSI over ALL docs seen so far —
  * the "did today's crawl shift the mix" alarm while the crawl is
  * still running, instead of after the snapshot lands.
  *
  * Exactness contract: the PSI chain is the batch operator's, term for
  * term — category universe = union of baseline and observed langs,
  * add-one smoothing over that universe's size, each term
  * (qn−qb)·ln(qn/qb) HALF_UP-rounded to 6dp via the SAME
  * [[graft.graph.Betweenness.round6micros]] kernel the centrality tier
  * pins (terms are ≥ 0 — (a−b) and ln(a/b) share sign — so the
  * kernel's non-negative domain holds), summed exactly in micro-units.
  * StreamDriftSpec pins a one-batch feed EXACTLY equal to
  * `docs_drift_lang` on the corpus whose base snapshot is the baseline.
  *
  * State per source: the observed lang→count map — bounded by the
  * language vocabulary (ISO-coded, ~dozens), never by stream length.
  */
object StreamDrift {

  final case class DocLang(source: String, lang: String)
  final case class Drift(source: String, n_seen: Long, psi: Double, drifted: Boolean)

  /** ONE smoothed-PSI term in 6dp micro-units — the per-category tail
    * of the batch `smoothedPsiBySource` chain (add-one smoothing over
    * `b` categories, (qn−qb)·ln(qn/qb), HALF_UP 6dp via the shared
    * [[graft.graph.Betweenness.round6micros]] kernel; terms are ≥ 0 —
    * (a−b) and ln(a/b) share sign — so the kernel's non-negative
    * domain holds). Both streaming axes (categorical [[psiOf]] and
    * numeric [[psiBins]]) sum exactly these micros, so an exactness
    * change lands on every drift surface at once — the same
    * single-chain rule the batch tier enforces. */
  private def psiTermMicros(cb: Long, tb: Long, cn: Long, tn: Long, b: Long): Long = {
    val qb = (cb + 1L).toDouble / (tb + b).toDouble
    val qn = (cn + 1L).toDouble / (tn + b).toDouble
    graft.graph.Betweenness.round6micros((qn - qb) * math.log(qn / qb))
  }

  /** Smoothed categorical PSI of `seen` against `baseline` — the batch
    * docs_drift_lang chain on driver-local maps. */
  private[streaming] def psiOf(baseline: Map[String, Long],
                               seen: Map[String, Long]): Double = {
    val langs = (baseline.keySet ++ seen.keySet).toSeq.sorted
    val b = langs.size.toLong
    val tb = baseline.valuesIterator.sum
    val tn = seen.valuesIterator.sum
    val micros = langs.iterator.map(l =>
      psiTermMicros(baseline.getOrElse(l, 0L), tb, seen.getOrElse(l, 0L), tn, b)).sum
    micros / 1e6
  }

  /** Smoothed PSI over a DENSE bin grid — the batch docs_drift chain:
    * unlike the categorical axis (universe = observed langs), every
    * bin of the fixed grid contributes a term even when both sides are
    * empty, because add-one smoothing gives absent bins nonzero mass
    * (the batch operator's densified-grid rule). */
  private[streaming] def psiBins(base: IndexedSeq[Long], seen: IndexedSeq[Long]): Double = {
    val b = base.length.toLong
    val tb = base.sum
    val tn = seen.sum
    var micros = 0L
    var i = 0
    while (i < base.length) {
      micros += psiTermMicros(base(i), tb, seen(i), tn, b)
      i += 1
    }
    micros / 1e6
  }

  def drift(docs: Dataset[DocLang], baseline: Map[String, Map[String, Long]],
            threshold: Double = 0.2): Dataset[Drift] = {
    import docs.sparkSession.implicits._
    val bc = docs.sparkSession.sparkContext.broadcast(baseline)
    docs.groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (source: String, batch: Iterator[DocLang], state: GroupState[Map[String, Long]]) =>
          val seen = scala.collection.mutable.HashMap
            .empty[String, Long] ++= state.getOption.getOrElse(Map.empty)
          batch.foreach(d => seen.update(d.lang, seen.getOrElse(d.lang, 0L) + 1L))
          val snap = seen.toMap
          state.update(snap)
          val psi = psiOf(bc.value.getOrElse(source, Map.empty), snap)
          Iterator.single(Drift(source, snap.valuesIterator.sum, psi, psi >= threshold))
      }
  }

  // ---- numeric (length) axis — the streaming face of `docs_drift`
  //      (VERDICT r12 item 5) ----

  final case class DocLen(source: String, n_chars: Long)
  final case class LenDrift(source: String, n_seen: Long, psi: Double, drifted: Boolean)

  /** Frozen per-source length baseline: the bin support (vmin, vmax)
    * and dense bin counts of the ACCEPTED snapshot. The support is
    * what makes the numeric axis streamable at all: the batch operator
    * bins on the snapshot's own min/max, which a stream cannot know
    * ahead of time — so the stream bins on the BASELINE's support,
    * frozen at baseline-build time, and out-of-support arrivals clamp
    * into the edge bins (where they belong: mass beyond the accepted
    * corpus's range IS distribution shift, and the edge bin is where
    * the PSI sees it). */
  final case class LenBaseline(vmin: Long, vmax: Long, counts: Seq[Long])

  /** The batch docsDrift bin rule on frozen edges — identical IEEE
    * chain ((v−vmin)·bins then ÷ span, floor, cap at bins−1), plus the
    * clamp-at-0 a live stream needs for below-support arrivals (the
    * batch operator can never see one: it derived the edges from the
    * same rows it bins). */
  private[streaming] def binOf(vmin: Long, vmax: Long, bins: Int, v: Long): Int =
    if (vmax == vmin) 0
    else {
      val raw = math.floor(
        (v - vmin).toDouble * bins.toDouble / (vmax - vmin).toDouble).toLong
      math.max(0L, math.min(raw, bins - 1L)).toInt
    }

  /** Build the frozen baseline from an accepted base-snapshot frame
    * ((source, n_chars, …) columns): per-source support + dense bin
    * counts. Output is sources × (bins+2) longs — driver-sized by
    * construction, the lang-baseline discipline; the corpus itself is
    * touched by two aggregates (min/max, then binned counts), never
    * collected. */
  def lenBaselineOf(docs: org.apache.spark.sql.DataFrame,
                    bins: Int = graft.pipeline.CorpusOps.DriftBins): Map[String, LenBaseline] = {
    import org.apache.spark.sql.functions._
    val nb = lit(bins.toLong)
    val mm = docs.groupBy(col("source"))
      .agg(min(col("n_chars")).as("vmin"), max(col("n_chars")).as("vmax"))
    val counts = docs.select(col("source"), col("n_chars")).join(mm, "source")
      .select(col("source"), col("vmin"), col("vmax"),
        when(col("vmax") === col("vmin"), lit(0L)).otherwise(
          least(floor((col("n_chars") - col("vmin")).cast("double") * nb.cast("double") /
            (col("vmax") - col("vmin")).cast("double")).cast("long"), nb - 1L))
          .as("bin"))
      .groupBy(col("source"), col("vmin"), col("vmax"), col("bin"))
      .agg(count(lit(1)).as("c"))
      .collect() // ≤ sources × bins rows
    counts.groupBy(_.getString(0)).map { case (src, rows) =>
      val arr = Array.fill(bins)(0L)
      rows.foreach(r => arr(r.getLong(3).toInt) += r.getLong(4))
      src -> LenBaseline(rows.head.getLong(1), rows.head.getLong(2), arr.toSeq)
    }
  }

  /** Per-source cumulative length-distribution PSI against the frozen
    * baseline — `docs_drift`'s numeric axis on the live ingest path,
    * the exact complement of [[drift]]'s categorical one. State per
    * source: the dense bin-count array — sources × bins longs, never
    * stream-length-bound. Each source's grid size comes from ITS OWN
    * baseline (`counts.length`), never from a caller parameter — a
    * free `bins` argument could disagree with the frozen grid and
    * either index past the state array or silently drop terms (review
    * finding r13); `bins` below sizes only the degenerate grid of a
    * source ABSENT from the baseline (whose every arrival lands in
    * bin 0, the batch operator's vmax == vmin rule — all its mass in
    * one cell of an otherwise-empty grid, which PSI flags loudly, as
    * an unknown source should be). */
  def driftLen(docs: Dataset[DocLen], baseline: Map[String, LenBaseline],
               bins: Int = graft.pipeline.CorpusOps.DriftBins,
               threshold: Double = 0.2): Dataset[LenDrift] = {
    import docs.sparkSession.implicits._
    val bc = docs.sparkSession.sparkContext.broadcast(baseline)
    docs.groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (source: String, batch: Iterator[DocLen], state: GroupState[Array[Long]]) =>
          val base = bc.value.getOrElse(source,
            LenBaseline(0L, 0L, Seq.fill(bins)(0L)))
          val grid = base.counts.length
          val seen = state.getOption.map(_.clone()).getOrElse(Array.fill(grid)(0L))
          batch.foreach(d => seen(binOf(base.vmin, base.vmax, grid, d.n_chars)) += 1L)
          state.update(seen)
          val psi = psiBins(base.counts.toIndexedSeq, seen.toIndexedSeq)
          Iterator.single(LenDrift(source, seen.sum, psi, psi >= threshold))
      }
  }
}
