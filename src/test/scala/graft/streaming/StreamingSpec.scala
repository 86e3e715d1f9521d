package graft.streaming

import graft.SparkFixture
import graft.avro.{AvroCodec, AvroQueries}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite with SparkFixture {

  private def frameSpo(subject: String, predicate: String, obj: String): Array[Byte] = {
    val schema = StructType(Seq(StructField("subject", StringType),
      StructField("predicate", StringType), StructField("object", StringType)))
    val df = spark.createDataFrame(java.util.List.of(Row(subject, predicate, obj)), schema)
    AvroCodec.encode(df, AvroQueries.SpoSchemaJson, 2).collect().head.getAs[Array[Byte]]("value")
  }

  test("streaming decode + error monitor mirrors the consume loop") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Array[Byte]]
    val decoded = AvroCodec.decode(input.toDF().withColumnRenamed("value", "value"),
      "value", AvroQueries.SpoSchemaJson)
    val monitor = AvroStream.errorMonitor(decoded)
    val q = monitor.writeStream.format("memory").queryName("mon").outputMode("complete").start()
    try {
      val good = frameSpo("Don Vito", "Email", "donvito@example.com")
      val badMagic = good.clone(); badMagic(0) = 1
      input.addData(good, badMagic, good.take(3), good)
      q.processAllAvailable()
      val counts = spark.table("mon").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts == Map("ok" -> 2L, "bad_magic" -> 1L, "truncated" -> 1L))
    } finally q.stop()
  }

  test("windowed aggregation with watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val agg = WindowedAggregator.hourly(events)
    val q = agg.writeStream.format("memory").queryName("winagg").outputMode("complete").start()
    try {
      def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      input.addData((ts(10, 5), "click", 1.0), (ts(10, 40), "click", 2.0), (ts(11, 10), "view", 3.0))
      q.processAllAvailable()
      val rows = spark.table("winagg")
        .select(col("hour").cast("string"), col("event_type"), col("n_events"), col("total_value"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(rows == Set(
        ("2024-01-01 10:00:00", "click", 2L, 3.0),
        ("2024-01-01 11:00:00", "view", 1L, 3.0)))
    } finally q.stop()
  }

  test("end-to-end reference loop: framed SPO stream -> decode -> graph sink") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    // the reference's topic: CP1-framed Avro SPO triples
    val triples = graft.graph.TripleStore.triplesFromEvents(
      graft.operators.Tables(spark, dir).events)
    val framed = AvroCodec.encode(triples, AvroQueries.SpoSchemaJson, 2,
      passthrough = Seq("ts_us")).collect()
    val input = MemoryStream[(Long, Array[Byte])]
    val decoded = AvroCodec.decode(
      input.toDF().toDF("ts_us", "value"), "value", AvroQueries.SpoSchemaJson,
      passthrough = Seq("ts_us"))
      .filter(col("err").isNull)
    val tablePath = java.nio.file.Files.createTempDirectory("graft_loop").toString
    val sink = new ParquetGraphSink(tablePath)
    val q = decoded.writeStream.foreachBatch(sink.merge _).start()
    try {
      // two micro-batches, like a consumer polling twice
      val (first, second) = framed.splitAt(framed.length / 2)
      input.addData(first.map(r => (r.getLong(0), r.getAs[Array[Byte]]("value"))).toSeq)
      q.processAllAvailable()
      input.addData(second.map(r => (r.getLong(0), r.getAs[Array[Byte]]("value"))).toSeq)
      q.processAllAvailable()
      val (objs, edges) = sink.graph(spark)
      // must equal the batch graph built straight from the table
      val batchObjs = graft.SparkEntry.queries("spo_objects")(spark, dir).collect().toSeq
      val batchEdges = graft.SparkEntry.queries("spo_relationships")(spark, dir).collect().toSeq
      assert(objs.orderBy("object_id").collect().toSeq == batchObjs)
      assert(edges.orderBy("source_id", "target_id", "predicate").collect().toSeq == batchEdges)
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tablePath))
    }
  }

  test("streaming sessionization agrees with the batch sessionizer on real data") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import EventSessionizer._
    val dir = "/root/testdata/sf0.001"
    val evs = graft.operators.Tables(spark, dir).events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .collect()
      .map(r => SessionEvent(r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_.ts_us)
    val input = MemoryStream[SessionEvent]
    val q = sessionize(input.toDS()).writeStream
      .format("memory").queryName("sess_eq").outputMode("append").start()
    try {
      input.addData(evs.toSeq)
      q.processAllAvailable()
      // flush the open tail session per user with a far-future sentinel
      val maxTs = evs.map(_.ts_us).max
      input.addData(evs.map(_.user_id).distinct.map(u =>
        SessionEvent(u, maxTs + 10L * 3600 * 1000000, 0.0)).toSeq)
      q.processAllAvailable()
      val streamed = spark.table("sess_eq").as[Session].collect()
        .groupBy(_.user_id)
        .map { case (u, ss) => u -> ((ss.length.toLong, ss.map(_.n_events).max.toLong)) }
      val batch = graft.SparkEntry.queries("q_events_sessionize")(spark, dir)
        .collect()
        .map(r => r.getLong(r.fieldIndex("user_id")) ->
          ((r.getLong(r.fieldIndex("n_sessions")), r.getLong(r.fieldIndex("max_session_events")))))
        .toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming funnel agrees with the batch funnel on real data") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import StreamFunnel._
    val dir = "/root/testdata/sf0.001"
    val evs = graft.operators.Tables(spark, dir).events
      .filter(col("event_type").isin("signup", "view", "click", "purchase"))
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"))
      .collect()
      .map(r => FunnelEvent(r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_.ts_us)
    val input = MemoryStream[FunnelEvent]
    val q = funnel(input.toDS()).writeStream
      .format("memory").queryName("sfunnel").outputMode("append").start()
    try {
      // two in-order micro-batches: state must carry across the split
      val (b1, b2) = evs.splitAt(evs.length / 2)
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
      val streamed = spark.table("sfunnel").as[StageHit].collect()
        .groupBy(_.stage)
        .map { case (st, hs) => st -> ((hs.length.toLong, hs.map(_.latency_us).sum)) }
      val batch = graft.SparkEntry.queries("q_events_funnel")(spark, dir)
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
      assert(streamed == batch)
      assert(streamed.keySet ==
        Set("s1_signup", "s2_view", "s3_click", "s4_purchase"))
    } finally q.stop()
  }

  test("streaming token budget fed in quality order equals the batch selection") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import StreamTokenBudget._
    val dir = "/root/testdata/sf0.001"
    // the batch operator's order: (quality DESC, doc_id) within source
    val docs = graft.operators.Tables(spark, dir).documents
      .select(col("source"),
        graft.textfn.TextFunctions.qualityScore(col("text")).as("q"),
        col("doc_id"),
        graft.textfn.TextFunctions.tokenCount(col("text")).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
      .sortBy { case (_, q, id, _) => (-q, id) }
      .map { case (src, q, id, n) => DocTokens(src, id, q, n) }
    val input = MemoryStream[DocTokens]
    val q = keep(input.toDS(), budget = 800L).writeStream
      .format("memory").queryName("sbudget").outputMode("append").start()
    try {
      // split mid-stream: the per-source cumulative must carry
      val (b1, b2) = docs.splitAt(docs.length / 3)
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
      // doc-level equality: the kept SET must be the per-source
      // inclusive-prefix-fits selection, not just matching aggregates
      val streamedIds = spark.table("sbudget").as[Kept].collect()
        .map(k => (k.source, k.doc_id)).toSet
      val expectedIds = docs.toSeq.groupBy(_.source).values.flatMap { ds =>
        var cum = 0L
        ds.flatMap { d =>
          cum += d.n_tokens
          if (cum <= 800L) Some((d.source, d.doc_id)) else None
        }
      }.toSet
      assert(streamedIds == expectedIds)
      // and the aggregates still match the batch operator
      val streamed = spark.table("sbudget").as[Kept].collect()
        .groupBy(_.source)
        .map { case (s, ks) => s -> ((ks.length.toLong, ks.map(_.n_tokens).sum)) }
      val batch = graft.SparkEntry.queries("token_budget")(spark, dir)
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming dedup within watermark drops repeated content") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val docs = input.toDF().toDF("ts", "doc_id", "text")
    val deduped = StreamDedup.documents(docs, "text", "ts", "10 minutes")
      .select("doc_id")
    val q = deduped.writeStream.format("memory").queryName("sdedup")
      .outputMode("append").start()
    try {
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      // same normalized content: word order and case don't matter
      input.addData((ts(0), 1L, "alpha beta gamma"), (ts(1), 2L, "Beta GAMMA alpha"))
      q.processAllAvailable()
      input.addData((ts(2), 3L, "alpha beta gamma"), (ts(3), 4L, "delta"))
      q.processAllAvailable()
      val kept = spark.table("sdedup").as[Long].collect().toSet
      assert(kept == Set(1L, 4L))
    } finally q.stop()
  }

  test("stream-stream interval join matches views within the lookback") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val pIn = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val vIn = MemoryStream[(Long, java.sql.Timestamp)]
    val purchases = pIn.toDF().toDF("event_id", "user_id", "ts")
    val views = vIn.toDF().toDF("user_id", "ts")
    val q = StreamJoin.viewsBeforePurchase(purchases, views)
      .writeStream.format("memory").queryName("ssj").outputMode("append").start()
    try {
      def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      // views arrive first (separate micro-batch), then purchases
      vIn.addData((7L, ts(10, 0)), (7L, ts(10, 30)), (7L, ts(8, 0)), (8L, ts(10, 15)))
      q.processAllAvailable()
      pIn.addData((1L, 7L, ts(10, 45)), (2L, 9L, ts(10, 50)))
      q.processAllAvailable()
      val got = spark.table("ssj")
        .select(col("event_id"), col("v_ts").cast("string"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      // purchase 1 at 10:45: views 10:00 + 10:30 within 1h; 08:00 too old;
      // user 8's view and purchase 2 (user 9, no views) never match
      assert(got == Set(
        (1L, "2024-01-01 10:00:00"),
        (1L, "2024-01-01 10:30:00")))
    } finally q.stop()
  }

  test("streaming degrees dedup replayed triples and match batch counts") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(java.sql.Timestamp, String, String, String)]
    val triples = input.toDF().toDF("ts", "subject", "predicate", "object")
    val q = GraphStream.degrees(triples, "ts", "10 minutes").writeStream
      .format("memory").queryName("sdeg").outputMode("complete").start()
    try {
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      input.addData((ts(0), "a", "knows", "b"), (ts(1), "a", "emails", "c"))
      q.processAllAvailable()
      // duplicate of an already-seen triple + one genuinely new edge
      input.addData((ts(2), "a", "knows", "b"), (ts(3), "b", "knows", "c"))
      q.processAllAvailable()
      val deg = spark.table("sdeg").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(deg == Map(
        "a" -> ((2L, 0L)),   // duplicate (a,knows,b) counted once
        "b" -> ((1L, 1L)),
        "c" -> ((0L, 2L))))
    } finally q.stop()
  }

  test("replayed micro-batch does not double-count in ParquetGraphSink") {
    import spark.implicits._
    val tablePath = java.nio.file.Files.createTempDirectory("graft_replay").toString
    try {
      val sink = new ParquetGraphSink(tablePath)
      val batch = Seq(("a", "p", "b", 1L)).toDF("subject", "predicate", "object", "ts_us")
      sink.merge(batch, 0L)
      sink.merge(batch, 0L) // at-least-once replay of the same batchId
      val (_, edges) = sink.graph(spark)
      assert(edges.collect().map(_.getLong(3)).toSeq == Seq(1L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tablePath))
  }

  test("continuous pipeline: file topic -> evolving decode -> graph sink") {
    import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
    // the file source is the no-broker stand-in for the Kafka source:
    // new files arrive between micro-batches exactly like new offsets.
    // The topic carries TWO writer schema versions live (v2 adds a
    // defaulted nullable 'origin'), decoded against the v2 reader.
    val watch = java.nio.file.Files.createTempDirectory("graft_topic").toString
    val spoV2 =
      """{"type":"record","name":"spo_msg","fields":[
        |{"name":"subject","type":"string"},
        |{"name":"predicate","type":"string"},
        |{"name":"object","type":"string"},
        |{"name":"origin","type":["null","string"],"default":null}]}""".stripMargin
    val registry = new graft.avro.SchemaRegistry
    val v1Id = registry.register("spo-value", AvroQueries.SpoSchemaJson)
    val v2Id = registry.register("spo-value", spoV2)
    val dir = "/root/testdata/sf0.001"
    val triples = graft.graph.TripleStore.triplesFromEvents(
      graft.operators.Tables(spark, dir).events)
    val (first, second) = {
      val all = triples.collect()
      all.splitAt(all.length / 2)
    }
    import spark.implicits._
    def stage(rows: Array[org.apache.spark.sql.Row], writerJson: String, id: Int, part: String): Unit = {
      val df = rows.toSeq.map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toDF("subject", "predicate", "object", "ts_us")
      val withOrigin =
        if (writerJson == spoV2) df.withColumn("origin", org.apache.spark.sql.functions.lit("replay"))
        else df
      AvroCodec.encode(withOrigin, writerJson, id, passthrough = Seq("ts_us"))
        .select("ts_us", "value")
        .write.mode("append").parquet(s"$watch/$part")
    }
    // batch 1 staged BEFORE the query starts (v1 frames)
    stage(first, AvroQueries.SpoSchemaJson, v1Id, "f1")
    val fileSchema = StructType(Seq(
      StructField("ts_us", LongType), StructField("value", BinaryType)))
    val stream = spark.readStream.schema(fileSchema)
      .option("recursiveFileLookup", "true").parquet(watch)
    val decoded = AvroCodec.decodeMulti(stream, "value", registry.snapshot, spoV2,
      passthrough = Seq("ts_us"))
      .filter(org.apache.spark.sql.functions.col("err").isNull)
    // outside the watched dir: the file source lists it recursively
    val sink = new ParquetGraphSink(
      java.nio.file.Files.createTempDirectory("graft_topic_graph").toString)
    val q = decoded.select("subject", "predicate", "object", "ts_us")
      .writeStream.foreachBatch(sink.merge _).start()
    try {
      q.processAllAvailable()
      // batch 2 arrives mid-flight with the EVOLVED writer schema
      stage(second, spoV2, v2Id, "f2")
      q.processAllAvailable()
      val (objs, edges) = sink.graph(spark)
      val batchObjs = graft.SparkEntry.queries("spo_objects")(spark, dir).collect().toSeq
      val batchEdges = graft.SparkEntry.queries("spo_relationships")(spark, dir).collect().toSeq
      assert(objs.orderBy("object_id").collect().toSeq == batchObjs)
      assert(edges.orderBy("source_id", "target_id", "predicate").collect().toSeq == batchEdges)
    } finally q.stop()
  }

  test("stateful sessionization closes sessions on gap, keeps tail open") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import EventSessionizer._
    val minUs = 60L * 1000000
    val input = MemoryStream[SessionEvent]
    val sessions = sessionize(input.toDS(), gapUs = 30 * minUs)
    val q = sessions.writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      // user 1: two events 10 min apart, then a 2h gap, then one more
      input.addData(
        SessionEvent(1L, 0, 1.0), SessionEvent(1L, 10 * minUs, 2.0),
        SessionEvent(2L, 0, 5.0))
      q.processAllAvailable()
      assert(spark.table("sess").count() == 0) // nothing closed yet
      input.addData(SessionEvent(1L, 130 * minUs, 3.0))
      q.processAllAvailable()
      val closed = spark.table("sess").as[Session].collect().toSeq
      assert(closed == Seq(Session(1L, 0, 10 * minUs, 2, 3.0)))
      // user 2's session and user 1's tail remain open in state
    } finally q.stop()
  }

  test("streaming corpus prep: scrub, decontaminate, and score statelessly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    // benchmark = the shingles of one known doc (8+ tokens)
    val benchDoc = "one two three four five six seven eight nine"
    val bench = (0 to 1).map(i => benchDoc.split(" ").slice(i, i + 8).mkString(" "))
    val piped = StreamCorpus.qualityScore(
      StreamCorpus.markContaminated(
        StreamCorpus.piiScrub(docs, "text"), "text", bench),
      "text")
    val q = piped.writeStream.format("memory").queryName("scorpus")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, "write to me at someone@example.com about one two three four five six seven eight nine ok"),
        (2L, "the quick brown fox jumps over the lazy dog here"),
        (3L, "short doc"))
      q.processAllAvailable()
      val out = spark.table("scorpus")
        .select("doc_id", "text", "contaminated", "quality")
        .collect().map(r => r.getLong(0) ->
          (r.getString(1), r.getBoolean(2), r.getDouble(3))).toMap
      assert(out(1L)._1.contains("<EMAIL>") && !out(1L)._1.contains("@"))
      assert(out(1L)._2, "doc sharing a benchmark shingle must be flagged")
      assert(!out(2L)._2 && !out(3L)._2)
      assert(out.values.forall { case (_, _, ql) => ql >= 0.0 && ql <= 1.0 })
      // replay determinism: same rows re-sent produce the same flags
      // (stateless operators — nothing accumulated between batches)
      input.addData((4L, "the quick brown fox jumps over the lazy dog here"))
      q.processAllAvailable()
      val again = spark.table("scorpus").filter(col("doc_id") === 4L)
        .select("contaminated").as[Boolean].collect()
      assert(again.toSeq == Seq(false))
    } finally q.stop()
  }
}
