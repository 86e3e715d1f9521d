package perfbench

import graft.avro.{AvroCodec, ConfluentFraming}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}

/** One benchmark run in one JVM: set-up, untimed warm-up, a timed window
  * of `--seconds`, correctness checks, and a result file for `run.py`.
  *
  * Arguments (all required): --workload backfill|query_mix
  * --seed N --seconds N --trace 0|1 --cores N --tables DIR --topic DIR
  * --work DIR --out FILE --launched-ms EPOCH_MS
  */
object Main {
  def main(args: Array[String]): Unit = {
    val mainMs = Clock.ms
    val mainCpu = Cpu.machine()
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val work = a("work")
    val tracer = new Tracer(trace)
    val sheet = new Sheet
    require(Seq("backfill", "query_mix").contains(workload), s"unknown workload $workload")

    // set-up, once and cold, as a user meets it: session start plus the
    // workload's input preparation
    Clock.phase("set-up")
    val setupT0 = Clock.ms
    val spark = session(cores, s"$work/spark")
    Clock.phase("input")
    val topic =
      if (workload == "backfill") Topic.build(spark, a("topic"), seed)
      else { graft.operators.Tables(spark, a("tables")).lineitem.schema; null }
    val setupS = (Clock.ms - setupT0) / 1e3
    val engine = new EngineCounters
    val progress = new ProgressLog
    spark.sparkContext.addSparkListener(engine)
    spark.streams.addListener(progress)
    val w = new Window(spark, engine)

    Clock.phase("warm-up")
    val started = Clock.ms
    workload match {
      case "backfill" =>
        Ingest.backfill(spark, topic, s"$work/ingest", cores, seconds, tracer, sheet, progress, w)
      case "query_mix" =>
        QueryMix.run(spark, a("tables"), work, seed, seconds, tracer, sheet, w)
    }
    Clock.phase("report")
    val jvmS = (mainMs - a("launched-ms").toDouble) / 1e3
    val warmS = (w.t0 - started) / 1e3
    sheet.put("setup_s", jvmS + setupS + warmS, "s", 1)
    netOfSteal(sheet, Cpu.stealShare(mainCpu, w.m0), w.stealShare)
    sheet.put("setup.jvm_s", jvmS, "s", 1)
    sheet.put("setup.session_input_s", setupS, "s", 1)
    sheet.put("setup.warm_s", warmS, "s", 1)
    w.report(sheet, cores)

    if (workload == "query_mix") ingestAbsent(sheet) else QueryMix.absent(sheet)
    if (trace && topic != null) kernels(spark, topic, cores, sheet)
    else {
      sheet.put("avro.decode_rec_per_s", 0.0, "rec/s", 0)
      sheet.put("avro.unframe_ns_per_rec", 0.0, "ns", 0)
    }
    sheet.put("heap_mb", Heap.liveOldGenMb(), "MB", 1)
    sheet.put("trace.spans", tracer.count.toDouble, "count", 1)
    if (trace) tracer.write(s"$work/spans.jsonl", workload, s"$workload-$seed-${ProcessHandle.current.pid}")
    write(a("out"), sheet, w)
    Clock.phase("stop")
    spark.stop()
  }

  /** Set-up time and rate net of hypervisor steal (`Steal`): the set-up
    * time scaled by the factor over the set-up, the rate divided by the
    * factor over the window. The workloads net their latency samples one
    * by one (`NetTimer`). The raw figures stay in the sheet as
    * `raw.<name>`. */
  private def netOfSteal(sheet: Sheet, setupSteal: Double, windowSteal: Double): Unit = {
    def scale(name: String, f: Double): Unit = sheet.metrics.get(name).foreach { m =>
      sheet.put(s"raw.$name", m.value, m.unit, m.n)
      sheet.put(name, m.value * f, m.unit, m.n)
    }
    scale("setup_s", Steal.factor(setupSteal))
    scale("rate_per_s", 1 / Steal.factor(windowSteal))
    sheet.put("host.setup_steal_share", setupSteal, "ratio", 1)
  }

  def session(cores: Int, dir: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.local.dir", s"$dir/local")
      .getOrCreate()

  /** Row kernels of the codec, measured apart from the stream: CP1
    * unframe on one driver thread, and `decodeMulti` over the topic's
    * frames into a noop sink. Medians of five and three passes. */
  private def kernels(spark: SparkSession, topic: Topic, cores: Int, sheet: Sheet): Unit = {
    val frames = topic.frames
    val unframeNs = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      var ok = 0L
      var i = 0
      while (i < frames.length) {
        ConfluentFraming.unframe(frames(i)) match {
          case _: ConfluentFraming.Framed => ok += 1
          case _ => ()
        }
        i += 1
      }
      require(ok > 0)
      (System.nanoTime() - t0).toDouble / frames.length
    }
    sheet.put("avro.unframe_ns_per_rec", Stats.median(unframeNs.drop(1)), "ns", 4)
    val schema = StructType(Seq(StructField("value", BinaryType)))
    val df = spark.createDataFrame(java.util.Arrays.asList(frames.toSeq.map(Row(_)): _*), schema)
      .repartition(cores).cache()
    df.count()
    val rates = (1 to 4).map { _ =>
      val t0 = System.nanoTime()
      AvroCodec.decodeMulti(df, "value", topic.writerSchemas, Topic.SchemaJson)
        .write.format("noop").mode("overwrite").save()
      frames.length / ((System.nanoTime() - t0) / 1e9)
    }
    df.unpersist()
    sheet.put("avro.decode_rec_per_s", Stats.median(rates.drop(1)), "rec/s", 3)
  }

  /** Zero for each ingest layer, on the workload that ingests nothing. */
  private def ingestAbsent(sheet: Sheet): Unit = {
    Seq("stream.trigger_ms_p50", "stream.add_batch_ms_p50", "stream.planning_ms_p50",
      "stream.wal_commit_ms_p50", "stream.commit_offsets_ms_p50", "stream.latest_offset_ms_p50",
      "sink.merge_ms_p50", "sink.compact_ms_p50").foreach(sheet.putQ(_, Nil, 0.5, "ms"))
    Seq("stream.batches", "stream.rows", "sink.dirs_folded", "avro.err.bad_magic",
      "avro.err.truncated", "avro.err.unknown_schema_id").foreach(sheet.put(_, 0.0, "count", 0))
  }

  private def write(path: String, sheet: Sheet, w: Window): Unit = {
    val metrics = sheet.metrics.toSeq.map { case (k, m) =>
      k -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit),
        "n" -> m.n.toString))
    }
    val json = Json.obj(Seq(
      "attempted" -> sheet.attemptedOps.toString,
      "failures" -> Json.arr(sheet.failures.toSeq.map(Json.str)),
      "window" -> Json.arr(Seq(Json.num(w.t0), Json.num(w.t1))),
      "metrics" -> Json.obj(metrics)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
    ()
  }
}
