package graft.streaming

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import graft.avro.AvroCodec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}

/** The reference's loop in its small-batch regime: a closed loop that
  * publishes one file of `records` CP1-framed SPO triples to a watched
  * directory, waits until `ParquetGraphSink.merge` has applied it, and
  * repeats, so each trigger carries about `records` rows. Decoding is
  * `AvroCodec.decodeMulti`, as in the ingest path. At this size the
  * per-trigger fixed cost is nearly the whole latency. Prints the
  * trigger p50 (the engine's `triggerExecution`), the merge p50 and the
  * publish-to-durable cycle p50 over the timed triggers.
  *
  * Not a spec, so the test suite does not run it. Run it after
  * `sbt Test/compile` with the `java` line of `tools/run.sh`, adding
  * `target/scala-2.13/test-classes` to its class path:
  * `graft.streaming.SmallBatchLoop [records=1000] [warmup=20]
  * [triggers=100]`. The engine keeps the progress of the last 100
  * triggers, so at most 100 are timed. */
object SmallBatchLoop {

  def main(args: Array[String]): Unit = {
    val records = args.lift(0).fold(1000)(_.toInt)
    val warmup = args.lift(1).fold(20)(_.toInt)
    val triggers = args.lift(2).fold(100)(_.toInt)
    val schema = AvroCodec.recordSchemaJson("spo_msg", Seq("subject" -> "string",
      "predicate" -> "string", "object" -> "string", "ts_us" -> "long"))
    val spark = graft.GraftSession()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val work = Files.createTempDirectory("graft_smallbatch")
    try {
      // one segment of `records` frames, written once, hard-linked into
      // the log under a new name per trigger
      val segment = work.resolve("segment")
      AvroCodec.encode(
        (0 until records).map(i => (s"s${i % 97}", s"p${i % 5}", s"o${i % 89}", i.toLong))
          .toDF("subject", "predicate", "object", "ts_us"),
        schema, 1).select("value").coalesce(1).write.parquet(segment.toString)
      val segFile = Files.list(segment).filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get
      val log = Files.createDirectories(work.resolve("log"))

      val sink = new ParquetGraphSink(work.resolve("sink").toString)
      val merged = new AtomicLong
      val mergeMs = mutable.ArrayBuffer.empty[Double]
      def onBatch(batch: DataFrame, id: Long): Unit = {
        val t0 = System.nanoTime()
        sink.merge(batch, id)
        mergeMs.synchronized { mergeMs += (System.nanoTime() - t0) / 1e6 }
        merged.incrementAndGet()
        ()
      }
      val stream = spark.readStream
        .schema(StructType(Seq(StructField("value", BinaryType)))).parquet(log.toString)
      val q = AvroCodec.decodeMulti(stream, "value", Map(1 -> schema), schema)
        .filter(col("err").isNull)
        .writeStream
        .option("checkpointLocation", work.resolve("checkpoint").toString)
        .trigger(Trigger.ProcessingTime(0L))
        .foreachBatch(onBatch _)
        .start()
      val cycles = mutable.ArrayBuffer.empty[Double]
      try {
        (0 until warmup + triggers).foreach { i =>
          val t0 = System.nanoTime()
          Files.createLink(log.resolve(s"seg-$i.parquet"), segFile)
          while (merged.get() <= i) {
            if (!q.isActive) throw new IllegalStateException("stream stopped", q.exception.orNull)
            Thread.sleep(1)
          }
          if (i >= warmup) cycles += (System.nanoTime() - t0) / 1e6
        }
      } finally q.stop()
      // the last `triggers` batches are the timed ones (one file each)
      val trig = q.recentProgress.filter(_.batchId >= warmup)
        .map(_.durationMs.get("triggerExecution").toDouble).toSeq
      def p50(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
      val merges = mergeMs.drop(warmup).toSeq
      println(f"small-batch loop: $records records/trigger, ${trig.size} timed triggers " +
        f"(${spark.sparkContext.defaultParallelism} cores)")
      println(f"trigger_ms_p50 ${p50(trig)}%.1f")
      println(f"merge_ms_p50 ${p50(merges)}%.1f")
      println(f"cycle_ms_p50 ${p50(cycles.toSeq)}%.1f")
    } finally {
      spark.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)
    }
  }
}
