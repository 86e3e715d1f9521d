package perfbench

import scala.collection.mutable

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `query_mix`: one caller runs a fixed list of declared queries
  * (`SparkEntry.queries`) in seeded order, pass after pass. */
object QueryMix {

  /** At least one query per module family, the quickest of each on the
    * benchmark's tables (about 0.1-0.7 s each on 4 cores with a fresh
    * plan), so that one window holds as many executions as it can. Twelve,
    * not ten: with ten, the slowest query (deser_error_count) is exactly
    * the top tenth of the executions and the p90 sits on the edge between
    * it and the rest; with twelve it falls inside the samples of the
    * second slowest. Every one has oracle SQL: a rows-only query's
    * floating-point output can depend on the number of partitions, so a
    * recorded hash of it would tie the check to one machine's core
    * count. */
  val Queries: Seq[String] = Seq(
    // graft.avro
    "deser_error_count",
    // graft.operators (relational)
    "q_lag_lead", "q6_forecast_revenue", "q_events_window",
    // graft.graph
    "spo_objects", "spo_relationships",
    // graft.textfn
    "text_tokens", "text_langid",
    // graft.dedup
    "dedup_exact",
    // graft.similarity
    "knn_radius",
    // graft.multimodal
    "mm_extract_meta",
    // graft.pipeline
    "sample_hash_split")

  /** Untimed warm-up: one pass over the list, which fills the
    * session-staged artifacts. It writes each result for the oracle
    * check, from the collected rows, and keeps the digest of a second
    * execution of the same plan as the reference for every later
    * execution. */
  def warm(spark: SparkSession, dir: String, out: String, sheet: Sheet): Map[String, (Long, Long)] = {
    val fns = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    val missing = Queries.filterNot(fns.contains)
    require(missing.isEmpty, s"not declared in SparkEntry.queries: ${missing.mkString(", ")}")
    val digests = Queries.map { q =>
      val df = fns(q)(spark, dir)
      val rows = df.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.parquet(s"$out/results/$q")
      q -> Digest.of(df)
    }.toMap
    val json = Json.obj(Queries.flatMap(q => oracle.get(q).map(q -> Json.str(_))))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/results/oracle_sql.json"), json)
    digests
  }

  def run(spark: SparkSession, dir: String, out: String, seed: Long, seconds: Int,
          tracer: Tracer, sheet: Sheet, w: Window): Unit = {
    val digests = warm(spark, dir, out, sheet)
    val fns = SparkEntry.queries
    val rnd = new scala.util.Random(seed)
    val total = mutable.ArrayBuffer.empty[NetTimer]
    val construct = mutable.ArrayBuffer.empty[Double]
    val plan = mutable.ArrayBuffer.empty[Double]
    val exec = mutable.ArrayBuffer.empty[Double]
    val perQuery = mutable.LinkedHashMap(Queries.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val passes = mutable.ArrayBuffer.empty[NetTimer]
    var executions = 0L
    Clock.phase("window")
    tracer.span("window", id = "window") {
      w.open()
      val deadline = w.t0 + seconds * 1000.0
      // whole passes only: the window ends with the pass that crosses the
      // deadline, so every query has the same number of samples and the
      // seed picks only their order, not which queries are timed
      while (Clock.ms < deadline) {
        val pass = new NetTimer
        rnd.shuffle(Queries).foreach { q =>
          tracer.span("query") {
            val timer = new NetTimer
            val t0 = timer.t0
            // construction: the declared fn, with its driver-side work
            val df = tracer.span("query.construct") { fns(q)(spark, dir) }
            val t1 = Clock.ms
            // planning: analysis, optimization, physical planning
            tracer.span("query.plan") { df.queryExecution.executedPlan }
            val t2 = Clock.ms
            val got = tracer.span("query.exec") { Digest.of(df) }
            val t3 = timer.stop().t1
            executions += 1
            sheet.check(s"query.$q.digest", got == digests(q),
              s"digest $got differs from the untimed pass ${digests(q)}")
            construct += (t1 - t0) / 1e3; plan += (t2 - t1) / 1e3; exec += (t3 - t2) / 1e3
            total += timer
            perQuery(q) += (t3 - t0) / 1e3
          }
        }
        passes += pass.stop()
      }
      w.close()
    }
    sheet.put("rate_per_s", executions / w.seconds, "1/s", executions)
    sheet.putNet("p50_ms", total.map(_.sample), 0.5)
    sheet.putNet("p90_ms", total.map(_.sample), 0.9)
    sheet.putNet("cycle_ms", passes.map(_.sample), 0.5)
    sheet.putQ("query.construct_s_p50", construct, 0.5, "s")
    sheet.putQ("query.plan_s_p50", plan, 0.5, "s")
    sheet.putQ("query.exec_s_p50", exec, 0.5, "s")
    perQuery.foreach { case (q, xs) => sheet.putQ(s"query.$q.s_p50", xs, 0.5, "s") }
  }

  /** Zero for each query layer, on workloads that run no query. */
  def absent(sheet: Sheet): Unit = {
    Seq("query.construct_s_p50", "query.plan_s_p50", "query.exec_s_p50")
      .foreach(sheet.putQ(_, Nil, 0.5, "s"))
    Queries.foreach(q => sheet.putQ(s"query.$q.s_p50", Nil, 0.5, "s"))
  }
}
