package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.avro.{AvroCodec, ConfluentFraming, SchemaRegistry}
import graft.graph.TripleStore
import graft.streaming.ParquetGraphSink
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, udf}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.util.LongAccumulator

/** The SPO topic: (subject, predicate, object, ts_us) triples as CP1-framed
  * Avro, with a seeded share of malformed frames in place of valid ones. */
final class Topic(val frames: Array[Array[Byte]], val triples: Array[Row],
                  val cls: Array[Int], val writerSchemas: Map[Int, String]) {
  def size: Int = frames.length
}

object Topic {
  val SchemaJson: String = AvroCodec.recordSchemaJson("spo_msg", Seq(
    "subject" -> "string", "predicate" -> "string", "object" -> "string",
    "ts_us" -> "long"))
  /** Frame classes; the three malformed ones are the reference's
    * per-class error counters. */
  val Ok = 0; val BadMagic = 1; val Truncated = 2; val UnknownId = 3
  val ClassNames: Seq[String] = Seq("ok", "bad_magic", "truncated", "unknown_schema_id")
  /** Share of frames replaced by a malformed one. */
  val MalformedShare = 0.02
  val UnknownSchemaId = 4242

  /** Turn the topic's events (gen_data.py writes them at build time) into
    * triples with `TripleStore.triplesFromEvents`, frame them with
    * `AvroCodec.encode` under the id a fresh registry gives the schema, and
    * replace a seeded ~2 % of the frames by malformed ones, a third of
    * each class. */
  def build(spark: SparkSession, dir: String, seed: Long): Topic = {
    val (registry, id) = SchemaRegistry.withSchema("spo", SchemaJson)
    val fields = Seq("subject", "predicate", "object", "ts_us")
    // one small file, read as one partition: the rows arrive in file order
    val events = graft.operators.Tables(spark, dir).events
    val rows = AvroCodec.encode(TripleStore.triplesFromEvents(events), SchemaJson, id, fields)
      .collect()
    val rnd = new scala.util.Random(seed)
    val cls = Array.fill(rows.length)(
      if (rnd.nextDouble() < MalformedShare) 1 + rnd.nextInt(3) else Ok)
    val frames = rows.indices.map { i =>
      val f = rows(i).getAs[Array[Byte]]("value")
      cls(i) match {
        case Ok => f
        case BadMagic => val g = f.clone(); g(0) = 1; g
        case Truncated => f.take(3)
        case UnknownId =>
          ConfluentFraming.frame(UnknownSchemaId, f.drop(ConfluentFraming.HeaderLen))
      }
    }.toArray
    require(!registry.snapshot.contains(UnknownSchemaId))
    new Topic(frames, rows.map(r => Row(r.get(0), r.get(1), r.get(2), r.get(3))),
      cls, registry.snapshot)
  }
}

/** Per-class frame counters, updated by the tasks that decode a batch. */
final class FrameCounters(val seen: LongAccumulator, val byClass: Array[LongAccumulator],
                          val decodeError: LongAccumulator) extends Serializable {

  /** Keeps successfully decoded rows and counts every frame by class. */
  def classify(err: String): Boolean = {
    seen.add(1)
    if (err == null) { byClass(Topic.Ok).add(1); true }
    else {
      if (err == "bad_magic") byClass(Topic.BadMagic).add(1)
      else if (err == "truncated") byClass(Topic.Truncated).add(1)
      else if (err.startsWith("unknown_schema_id")) byClass(Topic.UnknownId).add(1)
      else decodeError.add(1)
      false
    }
  }
}

object FrameCounters {
  def apply(spark: SparkSession): FrameCounters = {
    def acc(n: String): LongAccumulator = spark.sparkContext.longAccumulator(n)
    new FrameCounters(acc("frames_seen"), Topic.ClassNames.map(n => acc(s"frames_$n")).toArray,
      acc("frames_decode_error"))
  }
}

/** `backfill`: a file-backed topic log consumed by one streaming query,
  * decoded with `AvroCodec.decodeMulti` against a registry snapshot and
  * merged into a `ParquetGraphSink`.
  *
  * The log is a directory the stream's file source lists each trigger.
  * Its segments (contiguous ranges of the topic, wrapping at the end)
  * are written as parquet during set-up and published by hard-linking
  * them into the log, so publishing costs nothing per record and
  * reading them runs in the engine's tasks, as a Kafka fetch would. */
final class Ingest(spark: SparkSession, topic: Topic, work: String, tracer: Tracer,
                   sheet: Sheet, segments: Seq[(Int, Int)]) {
  private val logDir = Paths.get(work, "log")
  private val segFiles = Ingest.writeSegments(topic, segments, s"$work/segments")
  private val counters = FrameCounters(spark)
  val sink = new ParquetGraphSink(s"$work/sink")

  /** Times served per topic position: the replay the sink must equal. */
  private val served = new Array[Long](topic.size)
  private val servedTotal = new AtomicLong
  private val durableFrames = new AtomicLong
  val merges = new Samples
  val compacts = new Samples
  private val foldedDirs = new AtomicLong

  private val query: StreamingQuery = {
    Files.createDirectories(logDir)
    val c = counters
    val keep = udf((err: String) => c.classify(err)).asNondeterministic()
    val log = spark.readStream.schema(Ingest.SegmentSchema).parquet(logDir.toString)
    AvroCodec.decodeMulti(log, "value", topic.writerSchemas, Topic.SchemaJson)
      .filter(keep(col("err")))
      .writeStream
      .option("checkpointLocation", s"$work/checkpoint")
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch(onBatch _)
      .start()
  }

  private def onBatch(batch: DataFrame, batchId: Long): Unit = {
    val t0 = Clock.ms
    tracer.span("sink.merge", parent = s"b$batchId.add_batch") { sink.merge(batch, batchId) }
    merges.add(t0, Clock.ms - t0)
    durableFrames.set(counters.seen.value)
  }

  def compact(): Unit = {
    val t0 = Clock.ms
    val dirs = sink.appliedBatchIds.size
    tracer.span("sink.compact") { sink.compact(spark) }
    foldedDirs.addAndGet(dirs.toLong)
    compacts.add(t0, Clock.ms - t0)
  }

  /** Append segment `seg` to the log as file `name`. */
  def publish(seg: Int, name: String): Unit = {
    Files.createLink(logDir.resolve(name), segFiles(seg))
    val (start, len) = segments(seg)
    var i = 0
    while (i < len) { served((start + i) % topic.size) += 1; i += 1 }
    servedTotal.addAndGet(len.toLong)
    ()
  }

  /** Block until every frame published so far is merged into the sink.
    * A stopped query, or no merge for `stallMs`, ends the run with a
    * named error instead of a hang. */
  def awaitDurable(stallMs: Long = 60000L): Unit = {
    val target = servedTotal.get
    var last = durableFrames.get
    var lastMove = System.nanoTime()
    while (durableFrames.get < target) {
      if (!query.isActive)
        throw new IllegalStateException("stream stopped", query.exception.orNull)
      val now = durableFrames.get
      if (now != last) { last = now; lastMove = System.nanoTime() }
      else if (System.nanoTime() - lastMove > stallMs * 1000000L)
        throw new IllegalStateException(
          s"stream stalled: no batch merged for $stallMs ms ($now of $target frames durable)")
      Thread.sleep(1)
    }
  }

  def stop(): Unit = { query.stop(); query.awaitTermination() }

  /** Frames of each class served so far. */
  def servedByClass: Array[Long] = {
    val out = new Array[Long](4)
    var i = 0
    while (i < topic.size) { out(topic.cls(i)) += served(i); i += 1 }
    out
  }

  def countedByClass: Array[Long] = counters.byClass.map(_.value.longValue)

  /** Correctness of the decode path: counts per class equal the injected
    * counts, and every served frame was decoded exactly once. */
  def verifyCounts(): Unit = {
    val want = servedByClass
    val got = countedByClass
    Seq(Topic.BadMagic, Topic.Truncated, Topic.UnknownId).foreach { c =>
      val n = Topic.ClassNames(c)
      sheet.check(s"err_count.$n", got(c) == want(c), s"counted ${got(c)}, injected ${want(c)}")
      sheet.put(s"avro.err.$n", got(c).toDouble, "count", 1)
    }
    sheet.check("frames_once", counters.seen.value == servedTotal.get &&
      got(Topic.Ok) == want(Topic.Ok),
      s"decoded ${counters.seen.value} frames (${got(Topic.Ok)} ok) of " +
        s"${servedTotal.get} served (${want(Topic.Ok)} ok)")
    sheet.check("decode_errors", counters.decodeError.value == 0,
      s"${counters.decodeError.value} well-formed frames failed to decode")
  }

  /** The triples the sink stores equal the replayed ones as a multiset:
    * the sink is compacted, its snapshot leg read, and both sides
    * reduced to a count and a hash sum. graph() is TripleStore over
    * exactly these rows, so this checks what it reads at a cost linear
    * in the rows, where building the graph twice over millions of
    * replayed rows would outlast the run. The graph layer itself is
    * checked against the DuckDB oracle in query_mix (spo_objects,
    * spo_relationships). */
  def verifyStored(): Unit = {
    import org.apache.spark.sql.functions.{shiftrightunsigned, sum, xxhash64}
    def h = shiftrightunsigned(xxhash64(col("subject"), col("predicate"), col("object"),
      col("ts_us")), 24)
    compact()
    val leg = sink.leg()
    val stored = spark.read.parquet(leg.files.map(f => s"${leg.dir}/gen=${leg.gen}/$f"): _*)
      .agg(count(lit(1)), sum(h)).first()
    val want = expectedTriples().agg(sum(col("times")), sum(h * col("times"))).first()
    sheet.check("sink.stored_triples",
      stored.getLong(0) == want.getLong(0) && stored.getLong(1) == want.getLong(1),
      s"sink holds (${stored.getLong(0)}, ${stored.getLong(1)}), " +
        s"replay was (${want.getLong(0)}, ${want.getLong(1)})")
  }

  /** The well-formed triples served, each with the times it was served. */
  private def expectedTriples(): DataFrame = {
    val schema = StructType(Seq(StructField("subject", StringType),
      StructField("predicate", StringType), StructField("object", StringType),
      StructField("ts_us", LongType), StructField("times", LongType)))
    val rows = topic.triples.indices.collect {
      case i if topic.cls(i) == Topic.Ok && served(i) > 0 =>
        val t = topic.triples(i)
        Row(t.get(0), t.get(1), t.get(2), t.get(3), served(i))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Stream and sink layer metrics over the window. `awaits` are the
    * traced waits for durability, (span id, start, end): each trigger is
    * laid out as a child of the wait it overlaps most. */
  def reportLayers(progress: ProgressLog, w: Window, awaits: Seq[(String, Double, Double)]): Unit = {
    val inWindow = progress.batches.filter { p =>
      val s = ProgressLog.startMs(p); s >= w.t0 && s <= w.t1
    }
    sheet.putQ("stream.trigger_ms_p50",
      inWindow.flatMap(ProgressLog.phaseMs(_, "triggerExecution")), 0.5, "ms")
    ProgressLog.Phases.filter(_._1 != "getBatch").foreach { case (k, n) =>
      sheet.putQ(s"stream.${n}_ms_p50", inWindow.flatMap(ProgressLog.phaseMs(_, k)), 0.5, "ms")
    }
    sheet.put("stream.batches", inWindow.size.toDouble, "count", 1)
    sheet.put("stream.rows", inWindow.map(_.numInputRows.toDouble).sum, "count", 1)
    sheet.putQ("sink.merge_ms_p50", merges.in(w.t0, w.t1), 0.5, "ms")
    // the one compaction folds every batch dir once the catch-up is over
    sheet.putQ("sink.compact_ms_p50", compacts.all, 0.5, "ms")
    sheet.put("sink.dirs_folded", foldedDirs.get.toDouble, "count", compacts.size.toLong)
    // trigger spans and their phases, laid out in the engine's order
    if (tracer.on) progress.batches.foreach { p =>
      val s0 = ProgressLog.startMs(p)
      val b = s"b${p.batchId}"
      ProgressLog.phaseMs(p, "triggerExecution").foreach { d =>
        def overlap(a: (String, Double, Double)) = math.min(a._3, s0 + d) - math.max(a._2, s0)
        val parent = awaits.filter(overlap(_) > 0).maxByOption(overlap).fold("window")(_._1)
        tracer.add(Span(s"$b.trigger", parent, "stream.trigger", s0, s0 + d))
        var at = s0
        ProgressLog.Phases.foreach { case (k, n) =>
          ProgressLog.phaseMs(p, k).foreach { pd =>
            tracer.add(Span(s"$b.$n", s"$b.trigger", s"stream.$n", at, at + pd))
            at += pd
          }
        }
      }
    }
  }
}

object Ingest {
  /** A log segment file: CP1 frames. */
  val SegmentSchema: StructType = StructType(Seq(StructField("value", BinaryType)))

  /** Write each (start, length) range of the topic as one parquet file,
    * with the plain parquet writer on this thread; returns the files in
    * segment order. */
  def writeSegments(topic: Topic, segments: Seq[(Int, Int)], dir: String): IndexedSeq[Path] = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.MessageTypeParser
    val msg = MessageTypeParser.parseMessageType("message segment { required binary value; }")
    val groups = new SimpleGroupFactory(msg)
    val conf = new org.apache.hadoop.conf.Configuration()
    Files.createDirectories(Paths.get(dir))
    segments.zipWithIndex.map { case ((start, len), id) =>
      val file = Paths.get(dir, s"segment-$id.parquet")
      val out = HadoopOutputFile.fromPath(new org.apache.hadoop.fs.Path(file.toUri), conf)
      val writer = ExampleParquetWriter.builder(out).withType(msg).withConf(conf).build()
      try (0 until len).foreach { j =>
        writer.write(groups.newGroup()
          .append("value", Binary.fromConstantByteArray(topic.frames((start + j) % topic.size))))
      } finally writer.close()
      file
    }.toIndexedSeq
  }

  /** Closed loop: publish one batch, wait until it is durable, repeat.
    * A batch is one lap of the topic, split into one segment per core. */
  def backfill(spark: SparkSession, topic: Topic, work: String, cores: Int, seconds: Int,
               tracer: Tracer, sheet: Sheet, progress: ProgressLog, w: Window): Unit = {
    val per = topic.size / cores
    val segments = (0 until cores).map(i => (i * per, if (i == cores - 1) topic.size - i * per else per))
    val ing = new Ingest(spark, topic, work, tracer, sheet, segments)
    var batches = 0
    def publishBatch(): Unit = {
      segments.indices.foreach(i => ing.publish(i, s"batch$batches-part$i.parquet"))
      batches += 1
    }
    // warm-up: two untimed batches
    (1 to 2).foreach { _ => publishBatch(); ing.awaitDurable() }
    val okBefore = ing.countedByClass(Topic.Ok)
    val cycles = mutable.ArrayBuffer.empty[NetTimer]
    val awaits = mutable.ArrayBuffer.empty[(String, Double, Double)]
    Clock.phase("window")
    tracer.span("window", id = "window") {
      w.open()
      val deadline = w.t0 + seconds * 1000.0
      while (Clock.ms < deadline) {
        val cycle = new NetTimer
        tracer.span("consume.publish") { publishBatch() }
        val a0 = Clock.ms
        val id = s"await${cycles.size}"
        tracer.span("consume.await", id = id) { ing.awaitDurable() }
        awaits += ((id, a0, Clock.ms))
        cycles += cycle.stop()
      }
      w.close()
    }
    val committed = ing.countedByClass(Topic.Ok) - okBefore
    // each trigger is netted by the steal over the cycle it overlaps most
    val trig = progress.batches.filter(p => ProgressLog.startMs(p) >= w.t0).flatMap { p =>
      val s0 = ProgressLog.startMs(p)
      ProgressLog.phaseMs(p, "triggerExecution").map { d =>
        val steal = cycles.maxByOption(c => math.min(c.t1, s0 + d) - math.max(c.t0, s0))
          .fold(w.stealShare)(_.steal)
        (d, d * Steal.factor(steal))
      }
    }
    sheet.ops(ing.merges.size.toLong)
    sheet.put("rate_per_s", committed / w.seconds, "1/s", cycles.size.toLong)
    sheet.putNet("p50_ms", trig, 0.5)
    sheet.putNet("p90_ms", trig, 0.9)
    sheet.putNet("cycle_ms", cycles.map(_.sample), 0.5)
    Clock.phase("checks")
    ing.stop()
    ing.verifyCounts()
    ing.verifyStored()
    ing.reportLayers(progress, w, awaits.toSeq)
  }
}
