package graft.streaming

import graft.SparkFixture
import graft.avro.{AvroCodec, AvroQueries}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ParquetGraphSinkSpec extends AnyFunSuite with SparkFixture {

  private val dir = "/root/testdata/sf0.001"

  test("durable sink: streamed graph == batch graph, replays and restarts don't double-count") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val tablePath = java.nio.file.Files.createTempDirectory("graft_sink").toString
    try {
      val triples = graft.graph.TripleStore.triplesFromEvents(
        graft.operators.Tables(spark, dir).events)
      val framed = AvroCodec.encode(triples, AvroQueries.SpoSchemaJson, 2,
        passthrough = Seq("ts_us")).collect()
      val input = MemoryStream[(Long, Array[Byte])]
      val decoded = AvroCodec.decode(
        input.toDF().toDF("ts_us", "value"), "value", AvroQueries.SpoSchemaJson,
        passthrough = Seq("ts_us"))
        .filter(col("err").isNull)
      val sink = new ParquetGraphSink(tablePath)
      val q = decoded.writeStream.foreachBatch(sink.merge _).start()
      try {
        val (first, second) = framed.splitAt(framed.length / 2)
        input.addData(first.map(r => (r.getLong(0), r.getAs[Array[Byte]]("value"))).toSeq)
        q.processAllAvailable()
        input.addData(second.map(r => (r.getLong(0), r.getAs[Array[Byte]]("value"))).toSeq)
        q.processAllAvailable()
      } finally q.stop()
      assert(sink.appliedBatchIds.size >= 2)

      val (objs, edges) = sink.graph(spark)
      val batchObjs = graft.SparkEntry.queries("spo_objects")(spark, dir).collect().toSeq
      val batchEdges = graft.SparkEntry.queries("spo_relationships")(spark, dir).collect().toSeq
      assert(objs.orderBy("object_id").collect().toSeq == batchObjs)
      assert(edges.orderBy("source_id", "target_id", "predicate").collect().toSeq == batchEdges)

      // at-least-once replay within the same sink instance: re-deliver an
      // applied batch (same id, same rows) — must be a pure no-op
      val lastId = sink.appliedBatchIds.max
      // materialized (not a live read of the directory merge overwrites)
      val replayRows = spark.read.option("basePath", s"$tablePath/triples")
        .parquet(s"$tablePath/triples/batch_id=$lastId")
        .select("subject", "predicate", "object", "ts_us")
        .collect().toSeq
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toDF("subject", "predicate", "object", "ts_us")
      sink.merge(replayRows, lastId)

      // restart: a FRESH sink instance on the same path (no in-memory
      // state carried over) replays the last batch again
      val restarted = new ParquetGraphSink(tablePath)
      restarted.merge(replayRows, lastId)
      assert(restarted.appliedBatchIds == sink.appliedBatchIds)

      val (objs2, edges2) = restarted.graph(spark)
      assert(objs2.orderBy("object_id").collect().toSeq == batchObjs)
      assert(edges2.orderBy("source_id", "target_id", "predicate").collect().toSeq == batchEdges,
        "replay after restart double-counted edges")

      // crash between data write and marker: simulate by deleting the
      // marker and re-merging — the batch directory is overwritten, not
      // appended, so weights stay exact
      java.nio.file.Files.delete(java.nio.file.Paths.get(tablePath, "_applied", lastId.toString))
      val crashRecovered = new ParquetGraphSink(tablePath)
      crashRecovered.merge(replayRows, lastId)
      val (_, edges3) = crashRecovered.graph(spark)
      assert(edges3.orderBy("source_id", "target_id", "predicate").collect().toSeq == batchEdges,
        "re-merge after lost marker double-counted edges")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tablePath))
    }
  }

  test("compaction folds batches into a base generation; graph unchanged through crashes") {
    import spark.implicits._
    val tablePath = java.nio.file.Files.createTempDirectory("graft_sink_c").toString
    def triples(ids: Range) =
      ids.map(i => (s"s$i", "knows", s"o${i % 7}", i.toLong))
        .toDF("subject", "predicate", "object", "ts_us")
    def edgeSet(sink: ParquetGraphSink) = {
      val (_, edges) = sink.graph(spark)
      edges.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    }
    try {
      val sink = new ParquetGraphSink(tablePath)
      sink.merge(triples(0 until 40), 0L)
      sink.merge(triples(40 until 80), 1L)
      sink.merge(triples(80 until 120), 2L)
      val before = edgeSet(sink)

      sink.compact(spark)
      assert(edgeSet(sink) == before, "compaction changed the graph")
      assert(sink.appliedBatchIds.isEmpty, "folded batches still listed")
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(tablePath, "triples", "batch_id=0")), "folded data not reaped")

      // replay of a folded batch (its marker is gone): the commit record
      // must refuse it — no batch dir reappears, graph unchanged
      sink.merge(triples(0 until 40), 1L)
      assert(edgeSet(sink) == before, "replay of folded batch double-counted")

      // new batch after compaction reads base + unfolded batch together
      sink.merge(triples(120 until 150), 3L)
      val withNew = edgeSet(sink)
      assert(withNew != before)

      // crash AFTER commit, BEFORE cleanup: a stale folded leftover
      // (batch dir + marker with id <= through) must stay invisible and
      // get reaped by the next compact
      val staleDir = java.nio.file.Paths.get(tablePath, "triples", "batch_id=2")
      triples(0 until 5).write.mode("overwrite").parquet(staleDir.toString)
      java.nio.file.Files.createFile(
        java.nio.file.Paths.get(tablePath, "_applied", "2"))
      assert(edgeSet(sink) == withNew, "stale folded leftovers leaked into the graph")

      // second compaction (fresh instance = restart): folds batch 3,
      // reaps the stale leftovers, graph unchanged
      val restarted = new ParquetGraphSink(tablePath)
      restarted.compact(spark)
      assert(edgeSet(restarted) == withNew, "second compaction changed the graph")
      assert(!java.nio.file.Files.exists(staleDir), "stale leftover survived cleanup")
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(tablePath, "base", "gen=1")), "old generation survived")

      // crash BEFORE commit: a partial next-generation directory exists
      // but the commit still points at gen 2 — readers unaffected, and
      // a no-op compact (nothing newly applied) leaves the graph intact
      triples(0 until 3).write.mode("overwrite")
        .parquet(s"$tablePath/base/gen=3")
      assert(edgeSet(restarted) == withNew, "uncommitted generation leaked")
      restarted.compact(spark)
      assert(edgeSet(restarted) == withNew)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tablePath))
    }
  }

  test("batch files are written without dictionaries; the compacted base keeps them") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val tablePath = java.nio.file.Files.createTempDirectory("graft_sink_d").toString
    // (column path, dictionary-encoded) of every column chunk of every
    // parquet file directly in `dir`
    def chunks(dir: String): Seq[(String, Boolean)] = {
      val files = new java.io.File(dir).listFiles().toSeq
        .filter(f => f.getName.endsWith(".parquet"))
      assert(files.nonEmpty, s"no parquet files in $dir")
      files.flatMap { f =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toURI), new org.apache.hadoop.conf.Configuration()))
        try reader.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala.map(c =>
          c.getPath.toDotString -> c.getEncodings.asScala.exists(_.usesDictionary)))
        finally reader.close()
      }
    }
    def triples(ids: Range) =
      ids.map(i => (s"s${i % 11}", "knows", s"o${i % 7}", i.toLong))
        .toDF("subject", "predicate", "object", "ts_us").repartition(2)
    def graphOf(sink: ParquetGraphSink) = {
      val (objs, edges) = sink.graph(spark)
      (objs.collect().toSet, edges.collect().toSet)
    }
    try {
      val sink = new ParquetGraphSink(tablePath)
      sink.merge(triples(0 until 300), 0L)
      sink.merge(triples(300 until 600), 1L)
      Seq(0L, 1L).foreach { id =>
        val batch = chunks(s"$tablePath/triples/batch_id=$id")
        assert(batch.map(_._1).toSet == Set("subject", "predicate", "object", "ts_us"))
        assert(!batch.exists(_._2), s"batch $id has dictionary-encoded chunks: $batch")
      }
      val merged = graphOf(sink)
      sink.compact(spark)
      assert(graphOf(sink) == merged, "compaction changed the graph")
      val base = chunks(s"$tablePath/base/gen=1")
      Seq("subject", "predicate", "object").foreach { c =>
        assert(base.filter(_._1 == c).forall(_._2) && base.exists(_._1 == c),
          s"base column $c is not dictionary-encoded: $base")
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tablePath))
    }
  }

  test("the marker is the only commit: it lists exactly the written files, " +
    "readers trust nothing else, and empty batches stay readable") {
    import spark.implicits._
    val tablePath = java.nio.file.Files.createTempDirectory("graft_sink_m").toString
    def triples(ids: Range) =
      ids.map(i => (s"s$i", "knows", s"o${i % 7}", i.toLong))
        .toDF("subject", "predicate", "object", "ts_us")
    def edgeSet(sink: ParquetGraphSink) = {
      val (_, edges) = sink.graph(spark)
      edges.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    }
    def names(dir: java.nio.file.Path) = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted finally s.close()
    }
    def listed(id: Long) =
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(tablePath, "_applied", id.toString)), "UTF-8")
        .split("\n").filter(_.nonEmpty).toSeq.sorted
    try {
      val sink = new ParquetGraphSink(tablePath)
      // three keys hashed into four partitions: at least one stays empty
      val batch = triples(0 until 60).repartition(4, col("ts_us") % 3)
      sink.merge(batch, 0L)
      val dir0 = java.nio.file.Paths.get(tablePath, "triples", "batch_id=0")
      val visible = names(dir0).filterNot(n => n.startsWith(".") || n.startsWith("_"))
      assert(!names(dir0).contains("_temporary") && !names(dir0).contains("_SUCCESS"),
        s"committer debris in a committed batch dir: ${names(dir0)}")
      assert(visible.nonEmpty && visible.forall(_.startsWith("part-")))
      assert(listed(0L) == visible, "the marker does not list exactly the written files")
      val before = edgeSet(sink)
      assert(before.size == 60)

      // a stray file (a failed or speculative attempt's) is never read
      val junk = java.nio.file.Files.createTempDirectory("graft_sink_junk")
      triples(100 until 130).coalesce(1).write.mode("overwrite").parquet(junk.toString)
      val junkPart = names(junk).find(n => n.startsWith("part-") && n.endsWith(".parquet")).get
      java.nio.file.Files.copy(junk.resolve(junkPart), dir0.resolve("part-00007-999.snappy.parquet"))
      org.apache.commons.io.FileUtils.deleteDirectory(junk.toFile)
      assert(edgeSet(sink) == before, "an unlisted file in a batch dir leaked into the graph")

      // an all-empty batch commits one readable file
      sink.merge(triples(0 until 60).repartition(4).filter(col("ts_us") < 0), 1L)
      assert(listed(1L).size == 1, s"empty batch committed ${listed(1L)}")
      assert(sink.appliedBatchIds == Seq(0L, 1L))
      assert(edgeSet(sink) == before, "the empty batch changed the graph")
      // ... and an empty local batch (no partitions at all) too
      sink.merge(triples(0 until 0), 2L)
      assert(listed(2L).size == 1)
      val emptyOnly = new ParquetGraphSink(s"$tablePath/only_empty")
      emptyOnly.merge(triples(0 until 0), 0L)
      assert(edgeSet(emptyOnly).isEmpty)

      // past 32 read roots Spark lists them in a job: the filter that
      // keeps the stray out travels with it
      (3L to 33L).foreach(i => sink.merge(triples(0 until 0), i))
      assert(edgeSet(sink) == before, "an unlisted file leaked through the parallel listing")

      // compaction folds the listed files only and reaps the stray
      sink.compact(spark)
      assert(edgeSet(sink) == before, "compaction read an unlisted file")
      assert(!java.nio.file.Files.exists(dir0), "the stray file's dir was not reaped")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tablePath))
    }
  }

  test("the marker lands whole: a crash before it is in place leaves the batch " +
    "unapplied, and an older sink's empty marker still admits its dir") {
    import spark.implicits._
    val tablePath = java.nio.file.Files.createTempDirectory("graft_sink_t").toString
    def triples(ids: Range) =
      ids.map(i => (s"s$i", "knows", s"o${i % 7}", i.toLong))
        .toDF("subject", "predicate", "object", "ts_us")
    def edgeCount(sink: ParquetGraphSink) = sink.graph(spark)._2.count()
    val applied = java.nio.file.Paths.get(tablePath, "_applied")
    def batchDir(id: Long) = java.nio.file.Paths.get(tablePath, "triples", s"batch_id=$id")
    def names(dir: java.nio.file.Path) = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted finally s.close()
    }
    try {
      val sink = new ParquetGraphSink(tablePath)
      sink.merge(triples(0 until 30), 0L)
      sink.merge(triples(30 until 60).repartition(3), 1L)
      assert(edgeCount(sink) == 60)
      val marker1 = applied.resolve("1")
      val list1 = new String(java.nio.file.Files.readAllBytes(marker1), "UTF-8")
      assert(!names(batchDir(1L)).contains("_marker"), "the staged marker was left behind")

      // the driver dies while staging batch 1's marker: the staged list
      // is cut off and nothing is in `_applied`
      java.nio.file.Files.delete(marker1)
      java.nio.file.Files.deleteIfExists(applied.resolve(".1.crc"))
      java.nio.file.Files.write(batchDir(1L).resolve("_marker"),
        list1.take(list1.length / 2).getBytes("UTF-8"))
      val restarted = new ParquetGraphSink(tablePath)
      assert(restarted.appliedBatchIds == Seq(0L))
      assert(edgeCount(restarted) == 30, "an unapplied batch was read")
      // the replay after restart applies it whole
      restarted.merge(triples(30 until 60).repartition(3), 1L)
      assert(restarted.appliedBatchIds == Seq(0L, 1L))
      assert(edgeCount(restarted) == 60, "the replayed batch was not re-applied")
      assert(!names(batchDir(1L)).contains("_marker"))

      // a batch committed by an older sink: Spark's committed writer,
      // then an empty marker
      triples(60 until 90).write.parquet(batchDir(2L).toString)
      java.nio.file.Files.createFile(applied.resolve("2"))
      assert(edgeCount(restarted) == 90, "an empty marker hid its committed dir")
      restarted.merge(triples(0 until 10), 2L)
      assert(edgeCount(restarted) == 90, "the replay of an applied batch was not a no-op")
      restarted.compact(spark)
      assert(restarted.appliedBatchIds.isEmpty && edgeCount(restarted) == 90)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tablePath))
    }
  }
}
