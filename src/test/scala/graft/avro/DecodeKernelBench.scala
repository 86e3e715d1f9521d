package graft.avro

import java.io.ByteArrayOutputStream

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{BinaryDecoder, DecoderFactory, EncoderFactory}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}

/** The Avro decode kernel's per-record cost, single-threaded and warm,
  * in three numbers over the same CP1-framed 4-field SPO frames:
  *
  *  - `reader`: unframe + a reused `GenericDatumReader` in a plain loop,
  *    the codec's own floor;
  *  - `scan`: the cached frame DataFrame to a `noop` sink on `local[1]`,
  *    the engine's floor;
  *  - `decode_multi`: `AvroCodec.decodeMulti` over that frame to the
  *    same sink; its excess over `scan` is what decoding costs inside
  *    the engine (conversions included).
  *
  * Each number is the median of `passes` timed passes after `warmup`
  * untimed ones, with the spread (min-max) beside it.
  *
  * Not a spec, so the test suite does not run it. Run it after
  * `sbt Test/compile` with the `java` line of `tools/run.sh`, adding
  * `target/scala-2.13/test-classes` to its class path:
  * `graft.avro.DecodeKernelBench [records=200000] [warmup=3] [passes=7]`. */
object DecodeKernelBench {

  def main(args: Array[String]): Unit = {
    val records = args.lift(0).fold(200000)(_.toInt)
    val warmup = args.lift(1).fold(3)(_.toInt)
    val passes = args.lift(2).fold(7)(_.toInt).max(5)
    val schemaJson = AvroCodec.recordSchemaJson("spo_msg", Seq("subject" -> "string",
      "predicate" -> "string", "object" -> "string", "ts_us" -> "long"))
    val frames = encode(schemaJson, records)

    val schema = new Schema.Parser().parse(schemaJson)
    val reader = new GenericDatumReader[GenericRecord](schema, schema)
    var decoder: BinaryDecoder = null
    var rec: GenericRecord = null
    var sink = 0L
    val readerUs = timed(warmup, passes, records) {
      var i = 0
      while (i < frames.length) {
        ConfluentFraming.unframe(frames(i)) match {
          case ConfluentFraming.Framed(_, b, off, len) =>
            decoder = DecoderFactory.get().binaryDecoder(b, off, len, decoder)
            rec = reader.read(rec, decoder)
            sink += rec.get(3).asInstanceOf[Long]
          case other => throw new IllegalStateException(s"bad frame: $other")
        }
        i += 1
      }
    }

    // one core, as the plain loop has: the engine's cost per record, not its parallelism
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val framed = spark.createDataFrame(
        spark.sparkContext.parallelize(frames.toSeq.map(Row(_)), 1),
        StructType(Seq(StructField("value", BinaryType)))).cache()
      require(framed.count() == records)
      val decoded = AvroCodec.decodeMulti(framed, "value", Map(1 -> schemaJson), schemaJson)
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      val scanUs = timed(warmup, passes, records)(noop(framed))
      val decodeUs = timed(warmup, passes, records)(noop(decoded))

      println(f"decode kernel: $records SPO frames, $passes timed passes after $warmup " +
        f"(checksum $sink)")
      Seq("reader" -> readerUs, "scan" -> scanUs, "decode_multi" -> decodeUs).foreach {
        case (name, us) => println(f"${name}_us_per_rec ${median(us)}%.3f " +
          f"(min ${us.min}%.3f, max ${us.max}%.3f)")
      }
      println(f"decode_multi_net_us_per_rec ${median(decodeUs) - median(scanUs)}%.3f")
    } finally spark.stop()
  }

  private def encode(schemaJson: String, records: Int): Array[Array[Byte]] = {
    val schema = new Schema.Parser().parse(schemaJson)
    val writer = new GenericDatumWriter[GenericRecord](schema)
    val out = new ByteArrayOutputStream(64)
    val rec = new GenericData.Record(schema)
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    Array.tabulate(records) { i =>
      out.reset()
      rec.put(0, s"s${i % 997}"); rec.put(1, s"p${i % 5}")
      rec.put(2, s"o${i % 1009}"); rec.put(3, i.toLong)
      writer.write(rec, enc)
      enc.flush()
      ConfluentFraming.frame(1, out.toByteArray)
    }
  }

  /** µs per record of each timed pass. */
  private def timed(warmup: Int, passes: Int, records: Int)(body: => Unit): Seq[Double] = {
    (0 until warmup).foreach(_ => body)
    (0 until passes).map { _ =>
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e3 / records
    }
  }

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
}
