package graft.streaming

import graft.operators.IndexFs
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's persistence stage as a streaming graph sink: a
  * `foreachBatch` body persisting each micro-batch of decoded SPO
  * triples to a parquet table — the Spark placement of the
  * reference's Postgres store (`/root/reference/src/Database.cpp`
  * `insert_object`/`insert_relationship`), with the row-at-a-time
  * prepared-statement upserts re-expressed as set-oriented writes.
  *
  * Idempotence: foreachBatch delivers micro-batches at-least-once (a
  * batch is replayed after a failure between sink commit and
  * checkpoint commit), so an append-only merge would append a replayed
  * batch twice and inflate edge weights. The guard here is structural,
  * not a driver-memory `lastAppliedBatchId`, so it SURVIVES DRIVER
  * RESTARTS:
  *
  *  - each batch writes to its own `batch_id=<id>` directory in
  *    OVERWRITE mode, so a replayed batch replaces its own previous
  *    (possibly partial) write instead of double-appending;
  *  - a persisted marker file (`_applied/<id>`) is created only after
  *    the data commit; replays of fully-applied batches become pure
  *    no-ops, and a crash between data write and marker write just
  *    re-overwrites the same directory.
  *
  * One-directory-per-batch accumulates a small-files problem
  * unboundedly, so [[compact]] periodically folds applied batches into
  * a generational base table:
  *
  *  - the union of the previous base generation and all newly applied
  *    batches is written to `base/gen=<n+1>` (overwrite mode — a
  *    crashed earlier attempt at the same generation is replaced);
  *  - a commit marker (`_compaction/commit.gen=<n+1>.through=<m>` —
  *    the generation AND `through` = the highest folded batch id ride
  *    in the NAME, readers take the max-gen marker, so a racing reader
  *    parses either the old or the new record, never a partial one;
  *    the [[graft.operators.Generations]] discipline, no rename
  *    needed) flips readers to the new generation; only then are
  *    folded batch directories, their markers, stale generations, and
  *    superseded commit markers deleted.
  *
  * Crash anywhere in that sequence is safe: before the commit flip,
  * readers still see old base + batch dirs and a re-run overwrites the
  * same next generation; after the flip, leftovers are invisible to
  * readers (ids <= `through` are excluded everywhere) and the next
  * compact()/cleanup reaps them. A replay of a batch whose id is
  * already folded (its marker now gone) is refused by `through`, not
  * by the marker. Call it from the foreachBatch driver thread or while
  * the stream is idle — same single-writer discipline as the stream
  * itself.
  *
  * A real lakehouse deployment would swap this for a Delta/Iceberg
  * `MERGE` keyed by `txnAppId`/`txnVersion` — same contract, ACID
  * visibility for concurrent readers on top. Readers here materialize
  * the graph through the SAME batch TripleStore logic as the batch
  * surface, so streamed and batch graphs agree by construction.
  */
final class ParquetGraphSink(tablePath: String) extends Serializable {

  private def triplesDir = s"$tablePath/triples"
  private def appliedDir = s"$tablePath/_applied"
  private def compactionDir = s"$tablePath/_compaction"
  private def batchDir(id: Long) = s"$triplesDir/batch_id=$id"
  private def genDir(gen: Long) = s"$tablePath/base/gen=$gen"
  private def commitMarker(gen: Long, through: Long) =
    s"commit.gen=$gen.through=$through"

  /** (generation, highest folded batch id); (0, -1) before any
    * compaction. Max-gen marker wins — the Generations read rule. */
  private def commitState: (Long, Long) = {
    val records = IndexFs.list(compactionDir)
      .map(_.getPath.getName)
      .filter(_.startsWith("commit.gen="))
      .map { n =>
        val parts = n.stripPrefix("commit.gen=").split("\\.through=")
        (parts(0).toLong, parts(1).toLong)
      }
    if (records.isEmpty) (0L, -1L) else records.maxBy(_._1)
  }

  /** foreachBatch body. Safe under replays and restarts (see class doc). */
  def merge(batch: DataFrame, batchId: Long): Unit = {
    val marker = s"$appliedDir/$batchId"
    // a batch already folded into the base has no marker anymore — the
    // commit record refuses its replay instead
    if (batchId > commitState._2 && !IndexFs.exists(marker)) {
      batch.select("subject", "predicate", "object", "ts_us")
        .write.mode("overwrite").parquet(batchDir(batchId))
      IndexFs.createMarker(marker)
    }
  }

  /** Batch ids durably applied and not yet folded into the base. */
  def appliedBatchIds: Seq[Long] = {
    val through = commitState._2
    IndexFs.list(appliedDir)
      .map(_.getPath.getName.toLong)
      .filter(_ > through).toSeq.sorted
  }

  /** Fold every applied batch into the next base generation and reap
    * the folded batch directories + markers. Idempotent; crash-safe at
    * every step (see class doc). No-op when nothing new is applied
    * (still reaps leftovers of a previously interrupted cleanup). */
  def compact(spark: SparkSession, protect: Set[Long] = Set.empty): Unit = {
    val (gen, through) = commitState
    cleanup(gen, through, protect)
    val applied = appliedBatchIds
    if (applied.isEmpty) return
    val newGen = gen + 1
    val newThrough = applied.max
    val srcs = (if (gen > 0) Seq(genDir(gen)) else Nil) ++ applied.map(batchDir)
    spark.read.parquet(srcs: _*)
      .select("subject", "predicate", "object", "ts_us")
      .write.mode("overwrite").parquet(genDir(newGen))
    // the atomically-visible flip: the new record's NAME carries both
    // fields, readers take the max generation
    IndexFs.createMarker(s"$compactionDir/${commitMarker(newGen, newThrough)}",
      s"gen=$newGen through=$newThrough")
    cleanup(newGen, newThrough, protect)
  }

  /** Delete base generations other than `keepGen` (and any pinned by a
    * live ServingSnapshot — the `protect` seam), batch data + markers
    * folded through `through`, and superseded commit records —
    * everything invisible to readers of the current commit. */
  private def cleanup(keepGen: Long, through: Long,
                      protect: Set[Long] = Set.empty): Unit = {
    def reap(dir: String, keep: String => Boolean): Unit =
      IndexFs.list(dir)
        .filterNot(st => keep(st.getPath.getName))
        .foreach(st => IndexFs.deleteQuietly(st.getPath.toString))
    reap(s"$tablePath/base", n => n == s"gen=$keepGen" ||
      n.stripPrefix("gen=").toLongOption.exists(protect))
    reap(triplesDir, name => name.stripPrefix("batch_id=").toLong > through)
    reap(appliedDir, _.toLong > through)
    reap(compactionDir, _ == commitMarker(keepGen, through))
  }

  /** The sink's current state as a [[graft.operators.ServingSnapshot]]
    * leg — dir is the BASE table (the sink's own commit encoding names
    * the generation; [[graft.operators.ServingSnapshot.publishLegs]]
    * takes it from here). REFUSES to pin while unfolded batch
    * directories exist: they live outside the generational layout, so
    * a manifest could not pin them — run [[compact]] first (the
    * publish-after-compact ordering the ingest loop already follows).
    * With the graph leg in the same manifest as the retrieval legs, one
    * snapshot pins retrieval AND graph context at one instant — the
    * knowledge-graph RAG serving cut. */
  def leg(): graft.operators.ServingSnapshot.Leg = {
    val (gen, _) = commitState
    require(gen > 0, s"ParquetGraphSink.leg: nothing compacted under " +
      s"$tablePath yet — compact() before publishing a snapshot")
    val unfolded = appliedBatchIds
    require(unfolded.isEmpty,
      s"ParquetGraphSink.leg: unfolded batch dirs ${unfolded.mkString(",")} " +
        s"under $tablePath — they live outside the generational layout " +
        "and cannot be pinned; compact() before publishing a snapshot")
    graft.operators.ServingSnapshot.Leg(s"$tablePath/base", gen,
      IndexFs.listParquetRecursive(genDir(gen)))
  }

  /** [[graph]] pinned to a snapshot leg: the exact base-generation
    * files the manifest lists, immutable under later merges and
    * compactions (protected by the leg's live snapshot). Loud on a
    * wrong-type leg (graph base files sit DIRECTLY in the generation
    * dir — a leg pinning subdirectory files is some other index) and
    * on a reaped generation. */
  def graphPinned(spark: SparkSession,
                  leg: graft.operators.ServingSnapshot.Leg)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.col
    require(leg.files.forall(!_.contains("/")),
      s"ParquetGraphSink.graphPinned: leg at ${leg.dir} pins files under " +
        s"subdirectories (${leg.files.find(_.contains("/")).get}) — not a " +
        "graph base leg (wrong leg name resolved from the snapshot?)")
    require(IndexFs.exists(s"${leg.dir}/gen=${leg.gen}"),
      s"ParquetGraphSink.graphPinned: generation ${leg.gen} of ${leg.dir} " +
        "is gone — its snapshot was retired and the generation reaped " +
        "(or it never committed); re-resolve the latest ServingSnapshot")
    val t = spark.read
      .parquet(leg.files.map(f => s"${leg.dir}/gen=${leg.gen}/$f"): _*)
      .select(col("subject"), col("predicate"), col("object"), col("ts_us"))
    val objs = graft.graph.TripleStore.objects(t)
    (objs, graft.graph.TripleStore.relationships(t, objs))
  }

  /** Materialize (objects, relationships) from everything durably
    * applied — the current base generation plus unfolded batch
    * directories, same TripleStore logic as the batch surface. */
  def graph(spark: SparkSession): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.col
    val (gen, _) = commitState
    val paths = (if (gen > 0) Seq(genDir(gen)) else Nil) ++
      appliedBatchIds.map(batchDir)
    require(paths.nonEmpty, s"no applied batches under $tablePath")
    // only marker-committed batch directories and the committed base
    // generation are listed: a crashed write may have left uncommitted
    // partial directories behind
    val t = spark.read.parquet(paths: _*)
      .select(col("subject"), col("predicate"), col("object"), col("ts_us"))
    val objs = graft.graph.TripleStore.objects(t)
    (objs, graft.graph.TripleStore.relationships(t, objs))
  }
}
