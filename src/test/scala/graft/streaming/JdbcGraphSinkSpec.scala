package graft.streaming

import graft.SparkFixture
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Drives [[JdbcGraphSink]] against embedded Derby: streamed store ==
  * batch graph, then at-least-once replay (same sink, fresh restarted
  * sink, and re-delivery under a NEW batch id) never changes the store
  * — the reference's ON-CONFLICT-DO-NOTHING contract
  * (/root/reference/src/Database.h:23-31) held structurally.
  */
class JdbcGraphSinkSpec extends AnyFunSuite with SparkFixture {

  private val dir = "/root/testdata/sf0.001"

  /** `body` over a new temp dir for a Derby database, which is shut down
    * and deleted after it. */
  private def withDb(prefix: String)(body: String => Unit): Unit = {
    val dbDir = java.nio.file.Files.createTempDirectory(prefix).toString
    try body(dbDir)
    finally {
      // Derby reports a clean shutdown as an SQLException
      try java.sql.DriverManager.getConnection(s"jdbc:derby:$dbDir/graphdb;shutdown=true")
      catch { case _: java.sql.SQLException => () }
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dbDir))
    }
  }

  test("jdbc upsert sink: streamed == batch, replays and restarts are no-ops") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withDb("graft_jdbc") { dbDir =>
      val url = s"jdbc:derby:$dbDir/graphdb;create=true"

      val triples = graft.graph.TripleStore.triplesFromEvents(
          graft.operators.Tables(spark, dir).events)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))

      val input = MemoryStream[(String, String, String, Long)]
      val stream = input.toDF().toDF("subject", "predicate", "object", "ts_us")
      val sink = new JdbcGraphSink(url, appId = "spo-ingest")
      val q = stream.writeStream.foreachBatch(sink.merge _).start()
      try {
        // deliberately split so some entities span both batches — the
        // second batch must min-fold first_seen and DO-NOTHING the rest
        val (first, second) = triples.splitAt(triples.length / 2)
        input.addData(first.toSeq)
        q.processAllAvailable()
        input.addData(second.toSeq)
        q.processAllAvailable()
      } finally q.stop()
      assert(sink.appliedBatchIds.size >= 2)

      // streamed store == batch graph, compared by NAME (the store's
      // serial ids are insertion-ordered like the reference's; the batch
      // surface ranks by name — ids are not comparable, names are)
      val batchTriples = graft.graph.TripleStore.triplesFromEvents(
        graft.operators.Tables(spark, dir).events)
      def objsByName = sink.objects(spark)
        .select(col("object_name"), col("object_type"), col("first_seen_us"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val expectObjs = graft.graph.TripleStore.objects(batchTriples)
        .select(col("name"), col("object_type"), col("first_seen_us"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      def edgesByName = sink.relationshipsByName(spark)
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      val expectEdges = batchTriples
        .select(col("subject"), col("predicate"), col("object")).distinct()
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(objsByName == expectObjs)
      assert(edgesByName == expectEdges)

      // object ids are serial and unique (the reference's PK shape)
      val ids = sink.objects(spark).select(col("id")).collect().map(_.getLong(0))
      assert(ids.distinct.length == ids.length)

      // replay an applied batch id on the live sink: refused by the log
      val replayDf = triples.take(10).toSeq
        .toDF("subject", "predicate", "object", "ts_us")
      sink.merge(replayDf, sink.appliedBatchIds.max)
      assert(objsByName == expectObjs && edgesByName == expectEdges)

      // restart: a FRESH sink on the same URL (no in-memory state) — the
      // batch log is durable, replay still refused
      val restarted = new JdbcGraphSink(url, appId = "spo-ingest")
      restarted.merge(replayDf, restarted.appliedBatchIds.max)
      assert(restarted.appliedBatchIds == sink.appliedBatchIds)
      assert(objsByName == expectObjs && edgesByName == expectEdges)

      // re-delivery under a NEW batch id (a crashed coordinator re-sending
      // data it already sent): every statement is conflict-ignoring, so
      // the store is unchanged even though the log accepts the new id
      restarted.merge(replayDf, restarted.appliedBatchIds.max + 1)
      assert(objsByName == expectObjs && edgesByName == expectEdges)

      // a SECOND query writing to the same store has its own appId and
      // its own batch numbering from 0: its batch 0 must NOT be refused
      // by the first query's log (per-app replay scoping, the txnAppId
      // discipline), and its conflict-ignoring writes leave shared rows
      // intact
      val firstAppLog = sink.appliedBatchIds
      val secondQuery = new JdbcGraphSink(url, appId = "other-query")
      assert(secondQuery.appliedBatchIds.isEmpty)
      secondQuery.merge(replayDf, 0L)
      assert(secondQuery.appliedBatchIds == Seq(0L))
      assert(sink.appliedBatchIds == firstAppLog)
      assert(objsByName == expectObjs && edgesByName == expectEdges)
    }
  }

  test("a pre-app_id batch log is refused loudly at construction") {
    withDb("graft_jdbc_old") { dbDir =>
      val url = s"jdbc:derby:$dbDir/graphdb;create=true"
      val c = java.sql.DriverManager.getConnection(url)
      try {
        val st = c.createStatement()
        try st.executeUpdate(
          "CREATE TABLE graft_applied_batches (batch_id BIGINT PRIMARY KEY)")
        finally st.close()
      } finally c.close()
      val e = intercept[IllegalArgumentException] {
        new JdbcGraphSink(url, appId = "any")
      }
      assert(e.getMessage.contains("older JdbcGraphSink"), e.getMessage)
    }
  }

  test("a crashed partial batch replays to the correct final state") {
    import spark.implicits._
    withDb("graft_jdbc_crash") { dbDir =>
      val url = s"jdbc:derby:$dbDir/graphdb;create=true"
      val sink = new JdbcGraphSink(url, appId = "crash-test")
      val full = Seq(
        ("user_1", "viewed", "k_10", 100L),
        ("user_1", "bought", "k_11", 200L),
        ("user_2", "viewed", "k_10", 50L))
        .toDF("subject", "predicate", "object", "ts_us")

      // simulate a crash mid-phase-1: only a SUBSET of the batch's objects
      // got committed (with a later first_seen than the full batch holds),
      // NO edges, and no log entry — built by running a 1-row merge, then
      // doctoring the store back to the true partial state (edge and log
      // entry removed)
      val partial = Seq(("user_1", "viewed", "k_10", 999L))
        .toDF("subject", "predicate", "object", "ts_us")
      sink.merge(partial, 0L)
      val c = java.sql.DriverManager.getConnection(url)
      try {
        val st = c.createStatement()
        try {
          st.executeUpdate("DELETE FROM graft_relationships")
          st.executeUpdate("DELETE FROM graft_applied_batches")
        } finally st.close()
      } finally c.close()

      // the replayed FULL batch must converge: DO-NOTHING inserts fill the
      // missing rows, the min-fold repairs the partial first_seen
      sink.merge(full, 0L)
      val objs = sink.objects(spark)
        .select(org.apache.spark.sql.functions.col("object_name"),
          org.apache.spark.sql.functions.col("first_seen_us"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(objs == Map(
        "user_1" -> 100L, "user_2" -> 50L, "k_10" -> 50L, "k_11" -> 200L))
      val edges = sink.relationshipsByName(spark)
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(edges == Set(
        ("user_1", "viewed", "k_10"),
        ("user_1", "bought", "k_11"),
        ("user_2", "viewed", "k_10")))
      assert(sink.appliedBatchIds == Seq(0L))
    }
  }

  test("two concurrent sinks with distinct appIds converge to the union graph") {
    import spark.implicits._
    withDb("graft_jdbc_conc") { dbDir =>
      val url = s"jdbc:derby:$dbDir/graphdb;create=true"
      // two independent streaming queries writing ONE store: overlapping
      // entities and edges so the NOT-EXISTS check-then-act races are
      // real — both sinks probe the same absent rows and the loser's
      // 23505 must be resolved by the row-at-a-time replay, not crash the
      // batch. Each sink logs under its own appId (per-query batch
      // numbering), so neither refuses the other's batch ids.
      val sinkA = new JdbcGraphSink(url, appId = "writer-A")
      val sinkB = new JdbcGraphSink(url, appId = "writer-B")
      // shared core: every (entity, edge) below is written by BOTH sinks
      // with different timestamps; expected first_seen is the global min
      val shared = (0 until 400).map(i => (s"user_$i", "viewed", s"k_${i % 50}"))
      def batch(rows: Seq[(String, String, String)], tsBase: Long) =
        rows.zipWithIndex.map { case ((s, p, o), i) => (s, p, o, tsBase + i) }
          .toDF("subject", "predicate", "object", "ts_us")
      val dfA = batch(shared, tsBase = 1000L)   // A writes earlier timestamps
      val dfB = batch(shared, tsBase = 500000L)
      val extraB = batch(Seq(("user_X", "bought", "k_0")), tsBase = 7L)

      // interleave under a simultaneous-start barrier, several rounds so
      // the duplicate-key window is actually hit
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      def runner(body: => Unit): Thread = {
        val t = new Thread(() => {
          try { barrier.await(); body }
          catch { case e: Throwable => errs.add(e); () }
        })
        t.start(); t
      }
      val ta = runner { (0L until 3L).foreach(b => sinkA.merge(dfA, b)) }
      val tb = runner {
        (0L until 3L).foreach(b => sinkB.merge(dfB, b))
        sinkB.merge(extraB, 3L)
      }
      ta.join(120000); tb.join(120000)
      assert(errs.isEmpty, s"concurrent merge failed: ${errs.peek()}")

      // store == union batch graph, min-folded first_seen across writers
      val objs = sinkA.objects(spark)
        .select(org.apache.spark.sql.functions.col("object_name"),
          org.apache.spark.sql.functions.col("first_seen_us"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      val expectFirstSeen = (dfA.unionByName(dfB).unionByName(extraB))
        .select($"subject".as("n"), $"ts_us")
        .unionByName(dfA.unionByName(dfB).unionByName(extraB)
          .select($"object".as("n"), $"ts_us"))
        .groupBy("n").agg(org.apache.spark.sql.functions.min("ts_us"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(objs == expectFirstSeen)
      val edges = sinkA.relationshipsByName(spark)
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(edges == (shared.toSet + (("user_X", "bought", "k_0"))))
      // no duplicate objects slipped past the unique constraint
      val names = sinkA.objects(spark).select("object_name")
        .collect().map(_.getString(0))
      assert(names.distinct.length == names.length)
      // each writer's log is scoped to its own appId
      assert(sinkA.appliedBatchIds == Seq(0L, 1L, 2L))
      assert(sinkB.appliedBatchIds == Seq(0L, 1L, 2L, 3L))
    }
  }
}
