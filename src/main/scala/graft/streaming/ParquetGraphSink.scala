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
  *  - each batch writes to its own `batch_id=<id>` directory, deleted
  *    first, so a replayed batch replaces its own previous (possibly
  *    partial) write instead of double-appending;
  *  - the write is ONE job whose tasks write their parquet files
  *    straight into that directory (`part-<partition>-<attempt>`, with
  *    Spark's own parquet writer, so schema metadata and compression
  *    are those of `write.parquet`); partition 0 writes a file even
  *    when empty, so an all-malformed batch stays readable;
  *  - the marker file `_applied/<id>`, put in place after the job
  *    returns, is the ONE commit: its content lists the files the
  *    job's successful task attempts wrote. It is written whole as
  *    `_marker` inside the batch dir and renamed into `_applied`
  *    (atomic on HDFS and local disk; object stores publish at close),
  *    so no reader or restart ever meets a marker whose list is cut
  *    off. Readers ([[graph]], [[compact]]) read exactly the listed
  *    files, so a file left by a failed or speculative attempt, or by a
  *    crash before the rename, is never read; it goes with its
  *    directory at the next compaction. A replay of a fully-applied
  *    batch is a no-op. An EMPTY marker is one an older sink wrote,
  *    after Spark's committed writer had finished the dir: it admits
  *    every file of its batch dir, as it did then.
  *
  * No FileOutputCommitter runs on this path. Its `_temporary` tree,
  * task-commit renames and job commit would be a second commit behind
  * the marker, and on a small micro-batch they are most of the write
  * (the commit-by-manifest discipline of Spark's own FileStreamSink).
  * The job's Hadoop conf reaches the tasks as one broadcast rather than
  * a copy in every task closure.
  *
  * Batch files are staging files, written without dictionary encoding:
  * [[compact]] reads each of them once, and its Spark writer builds the
  * base generation's dictionaries anyway. A dictionary would cost the
  * trigger path CPU for nothing: `ts_us` is unique per record, so
  * parquet drops its dictionary at the first page, and the string
  * columns' dictionaries are rebuilt by the fold.
  *
  * One-directory-per-batch accumulates a small-files problem
  * unboundedly, so [[compact]] periodically folds applied batches into
  * a generational base table:
  *
  *  - the union of the previous base generation and the listed files
  *    of all newly applied batches is written to `base/gen=<n+1>` with
  *    Spark's committed writer in overwrite mode (a crashed earlier
  *    attempt at the same generation is replaced). Compaction keeps
  *    that writer because it runs once per fold, off the trigger path,
  *    and because snapshot legs pin a generation directory whole
  *    ([[leg]] lists it), which needs a directory holding only
  *    committed files;
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
  * readers still see old base + batch files and a re-run overwrites the
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
      val dir = batchDir(batchId)
      IndexFs.delete(dir)
      val files = ParquetGraphSink.writeParts(
        batch.select("subject", "predicate", "object", "ts_us"), dir)
      val staged = s"$dir/_marker"
      IndexFs.createMarker(staged, files.mkString("\n"))
      IndexFs.rename(staged, marker)
    }
  }

  /** Everything committed, as (subject, predicate, object, ts_us): the
    * base generation `gen` (none when 0) plus the files the markers of
    * batches `ids` list (every file of the dir for an older sink's
    * empty marker). The batch dirs are listed whole, as one read root
    * each, through [[ParquetGraphSink.CommittedOnly]], so a file no
    * marker lists is never read. (Naming each file as a root instead
    * would cost a parallel-listing job past 32 roots.) */
  private def committed(spark: SparkSession, gen: Long, ids: Seq[Long]): DataFrame = {
    val listed = ids.flatMap { id =>
      val files = IndexFs.readSmall(s"$appliedDir/$id").split("\n").filter(_.nonEmpty)
      (if (files.isEmpty) Seq(ParquetGraphSink.AnyFile) else files.toSeq)
        .map(f => s"batch_id=$id/$f")
    }
    spark.read
      .option("mapreduce.input.pathFilter.class",
        classOf[ParquetGraphSink.CommittedOnly].getName)
      .option(ParquetGraphSink.CommittedKey, listed.mkString("\n"))
      .parquet((if (gen > 0) Seq(genDir(gen)) else Nil) ++ ids.map(batchDir): _*)
      .select("subject", "predicate", "object", "ts_us")
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
    committed(spark, gen, applied).write.mode("overwrite").parquet(genDir(newGen))
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
    * applied — the current base generation plus the files the markers
    * of unfolded batches list, same TripleStore logic as the batch
    * surface. */
  def graph(spark: SparkSession): (DataFrame, DataFrame) = {
    val (gen, _) = commitState
    val ids = appliedBatchIds
    require(gen > 0 || ids.nonEmpty, s"no applied batches under $tablePath")
    val t = committed(spark, gen, ids)
    val objs = graft.graph.TripleStore.objects(t)
    (objs, graft.graph.TripleStore.relationships(t, objs))
  }
}

object ParquetGraphSink {
  import org.apache.hadoop.conf.{Configurable, Configuration}
  import org.apache.hadoop.fs.{Path, PathFilter}
  import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskID, TaskType}
  import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
  import org.apache.parquet.hadoop.ParquetOutputFormat
  import org.apache.spark.TaskContext
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
  import org.apache.spark.util.SerializableConfiguration

  /** Write `df` into `dir` as one parquet file per non-empty partition
    * (partition 0 always writes one), without dictionary encoding, in
    * one job, with no output committer: each task attempt writes
    * `part-<partition>-<attempt>` in place, `<attempt>` being the
    * attempt's context-wide id, so a retry never meets its predecessor's
    * file. Returns the names of the files the successful attempts wrote,
    * the only ones a reader may trust. */
  private def writeParts(df: DataFrame, dir: String): Seq[String] = {
    val spark = df.sparkSession
    val schema = df.schema
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    // staging files: compact() reads each once and rebuilds dictionaries
    job.getConfiguration.setBoolean(ParquetOutputFormat.ENABLE_DICTIONARY, false)
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    val conf = spark.sparkContext.broadcast(new SerializableConfiguration(job.getConfiguration))
    val rows = df.queryExecution.toRdd
    val rdd =
      if (rows.getNumPartitions > 0) rows
      else spark.sparkContext.parallelize(Seq.empty[InternalRow], 1)
    val written = try spark.sparkContext.runJob(rdd,
      (task: TaskContext, it: Iterator[InternalRow]) =>
        if (task.partitionId() > 0 && !it.hasNext) None
        else {
          val attempt = new TaskAttemptContextImpl(conf.value.value, new TaskAttemptID(
            new TaskID("graft", task.stageId(), TaskType.MAP, task.partitionId()),
            task.attemptNumber()))
          val name = f"part-${task.partitionId()}%05d-${task.taskAttemptId()}" +
            factory.getFileExtension(attempt)
          val out = factory.newInstance(s"$dir/$name", schema, attempt)
          try it.foreach(out.write)
          catch { case t: Throwable =>
            try out.close() catch { case c: Throwable => t.addSuppressed(c) }
            throw t
          }
          out.close()
          Some(name)
        })
    finally conf.destroy()
    written.toSeq.flatten
  }

  /** The read option carrying the committed files, one
    * `batch_id=<id>/<file>` a line; `<file>` = [[AnyFile]] admits the
    * whole dir. */
  private val CommittedKey = "graft.sink.committed"
  private val AnyFile = "*"

  /** The listing filter of the sink's reads. Spark's file index builds
    * it from `mapreduce.input.pathFilter.class`, with the read's options
    * in its conf, and applies it to every file it lists. A file directly
    * in a `batch_id=<id>` dir passes only when that batch's marker lists
    * it, or the marker is an older sink's empty one; files elsewhere
    * (the base generation) pass. */
  final class CommittedOnly extends PathFilter with Configurable with Serializable {
    @transient private var conf: Configuration = _
    private var listed: Set[String] = Set.empty
    override def setConf(c: Configuration): Unit = {
      conf = c
      listed = c.get(CommittedKey, "").split("\n").toSet
    }
    override def getConf: Configuration = conf
    override def accept(p: Path): Boolean = {
      val dir = p.getParent.getName
      !dir.startsWith("batch_id=") || listed(s"$dir/${p.getName}") ||
        listed(s"$dir/$AnyFile")
    }
  }
}
