package graft.plans

import java.util.concurrent.atomic.AtomicInteger

import graft.SparkFixture
import org.apache.spark.GraftCoreBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, ResultQueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** [[CollectSortStrategy]]: a collected global ORDER BY over a small
  * child sorts on the driver and runs fewer jobs; every other action on
  * the same frame keeps Spark's range sort, and the collected order is
  * the range sort's order. */
class CollectSortSpec extends AnyFunSuite with SparkFixture {

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  private def withThreshold[A](v: String)(body: => A): A = {
    val prev = spark.conf.get(Threshold)
    spark.conf.set(Threshold, v)
    try body finally spark.conf.set(Threshold, prev)
  }

  /** The Spark jobs `body` submits. */
  private def jobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    GraftCoreBridge.drainListenerBus(sc)
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    sc.addSparkListener(l)
    try { body; GraftCoreBridge.drainListenerBus(sc) } finally sc.removeSparkListener(l)
    n.get
  }

  /** The executed plan's root below AQE's wrapper and its result stage. */
  private def root(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan match {
      case r: ResultQueryStageExec => r.plan
      case p => p
    }
    case p => p
  }

  private def explain(df: DataFrame): String = df.queryExecution.explainString(FormattedMode)

  private lazy val table: String = {
    val dir = java.nio.file.Files.createTempDirectory("collect-sort").resolve("t").toString
    spark.range(0, 2000, 1, 4)
      .select((col("id") * 7919 % 1000).as("k"), col("id"), (col("id") % 13).as("g"))
      .write.parquet(dir)
    dir
  }

  test("a collected scan -> sort runs 1 job, not the range sort's 3") {
    def sorted = spark.read.parquet(table).orderBy(col("k"), col("id"))
    val df = sorted
    assert(jobs(df.collect()) == 1, explain(df))
    assert(root(df).isInstanceOf[CollectSortExec], explain(df))
    withThreshold("-1") {
      val ref = sorted
      assert(jobs(ref.collect()) == 3, explain(ref))
      assert(ref.collect().toSeq == df.collect().toSeq)
    }
  }

  test("a collected aggregate -> sort under AQE runs 2 jobs, not 4, CollectSort at the final root") {
    def sorted = spark.read.parquet(table).groupBy(col("g")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("g"))
    val df = sorted
    assert(jobs(df.collect()) == 2, explain(df))
    assert(df.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec])
    assert(root(df).isInstanceOf[CollectSortExec], explain(df))
    withThreshold("-1") {
      val ref = sorted
      assert(jobs(ref.collect()) == 4, explain(ref))
      assert(ref.collect().toSeq == df.collect().toSeq)
    }
  }

  // ---- the collected order is the range sort's order ----

  private val schema = StructType(Seq(
    StructField("a", IntegerType), StructField("x", DoubleType),
    StructField("s", StringType), StructField("id", LongType, nullable = false)))

  private val rowGen: Gen[(Option[Int], Option[Double], Option[String])] = for {
    a <- Gen.option(Gen.choose(-2, 2))
    x <- Gen.option(Gen.oneOf(Gen.oneOf(Double.NaN, -0.0, 0.0, 1.5, -1.5,
      Double.PositiveInfinity, Double.NegativeInfinity), Gen.choose(-3.0, 3.0)))
    s <- Gen.option(Gen.listOfN(2, Gen.oneOf('a', 'A', 'b', 'B')).map(_.mkString))
  } yield (a, x, s)

  // a, x, and s under a case-insensitive collation
  private val keys: Seq[Column] = Seq(col("a"), col("x"), collate(col("s"), "UTF8_LCASE"))

  private def direction(c: Column, pick: Int): Column = pick match {
    case 0 => c.asc_nulls_first
    case 1 => c.asc_nulls_last
    case 2 => c.desc_nulls_first
    case _ => c.desc_nulls_last
  }

  /** A row's sort key, normalized as the ordering compares it: -0.0
    * equals 0.0, NaN equals NaN, the collated string ignores case. */
  private def sortKey(r: Row, perm: Seq[Int]): Seq[Any] = perm.map { i =>
    if (r.isNullAt(i)) null
    else i match {
      case 1 => val d = r.getDouble(1); if (d == 0.0) "0.0" else d.toString
      case 2 => r.getString(2).toLowerCase(java.util.Locale.ROOT)
      case _ => r.get(i)
    }
  }

  test("property: collect() orders rows as the range sort does (nulls, NaN, -0.0, ties, collation)") {
    val params = Gen.Parameters.default
    for (trial <- 0 until 24) {
      // two rows at least: the optimizer drops a sort of one row
      val n = 2 + trial * 17 % 300
      val rows = Gen.listOfN(n, rowGen).apply(params, Seed(7000L + trial)).getOrElse(Nil)
        .zipWithIndex.map { case ((a, x, s), i) =>
          Row(a.map(Int.box).orNull, x.map(Double.box).orNull, s.orNull, i.toLong) }
      val perm = Gen.oneOf(Seq(0, 1, 2).permutations.toSeq)
        .apply(params, Seed(8000L + trial)).get.take(1 + trial % 3)
      val dirs = Gen.listOfN(3, Gen.choose(0, 3)).apply(params, Seed(9000L + trial)).get
      val order = perm.zip(dirs).map { case (k, d) => direction(keys(k), d) }
      def sorted: DataFrame = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .repartition(3).orderBy(order: _*)
      val df = sorted
      val got = df.collect().toSeq
      assert(root(df).isInstanceOf[CollectSortExec], explain(df))
      val want = withThreshold("-1") {
        val ref = sorted
        assert(explain(ref).contains("rangepartitioning"), explain(ref))
        ref.collect().toSeq
      }
      val ctx = s"trial $trial perm=$perm dirs=$dirs"
      assert(got.map(sortKey(_, perm)) == want.map(sortKey(_, perm)), ctx)
      assert(got.map(_.toString).sorted == want.map(_.toString).sorted, ctx)
    }
  }

  // ---- every other action keeps the range sort ----

  test("rdd, toLocalIterator, a persisted frame and a parquet write keep the range sort and the collected order") {
    import scala.jdk.CollectionConverters._
    def sorted = spark.read.parquet(table).orderBy(col("k").desc, col("id"))
    val want = sorted.collect().toSeq
    val partitions = spark.conf.get("spark.sql.shuffle.partitions").toInt

    // `rdd` plans its own deserializing query: Spark's sort, untouched
    val rdd = sorted.rdd
    assert(rdd.toDebugString.contains("ShuffledRowRDD"), rdd.toDebugString)
    assert(rdd.collect().toSeq == want)

    // toLocalIterator and the internal RDD run CollectSortExec.doExecute
    val iterated = sorted
    val node = root(iterated)
    assert(node.isInstanceOf[CollectSortExec], explain(iterated))
    assert(node.outputPartitioning == RangePartitioning(node.outputOrdering, partitions))
    assert(iterated.toLocalIterator().asScala.toSeq == want)
    val internal = iterated.queryExecution.toRdd
    assert(internal.toDebugString.contains("ShuffledRowRDD"), internal.toDebugString)
    assert(internal.getNumPartitions == partitions)

    // a cache is built by doExecute and reports the range partitioning
    val persisted = sorted.persist()
    try {
      assert(persisted.collect().toSeq == want)
      val scan = persisted.queryExecution.executedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
      }
      assert(scan.exists(_.outputPartitioning.isInstanceOf[RangePartitioning]),
        explain(persisted))
    } finally { persisted.unpersist(blocking = true); () }

    // the write plan is the command's own, with Spark's range sort in it
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        { plans.add(qe.executedPlan.toString); () }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val out = java.nio.file.Files.createTempDirectory("collect-sort-out").resolve("w").toString
    spark.listenerManager.register(l)
    try {
      sorted.write.parquet(out)
      GraftCoreBridge.drainListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    assert(plans.asScala.exists(_.contains("rangepartitioning")), plans)
    // one file per range, in part order, each file in order
    val parts = new java.io.File(out).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).sorted
    assert(parts.flatMap(p => spark.read.parquet(p).collect()).toSeq == want)
  }

  test("a child above the threshold keeps Exchange rangepartitioning") {
    withThreshold("16") {
      val df = spark.read.parquet(table).orderBy(col("k"))
      val p = explain(df)
      assert(df.queryExecution.executedPlan.toString.contains("Exchange rangepartitioning"), p)
      assert(!p.contains("CollectSort"), p)
      df.collect()
      assert(!root(df).isInstanceOf[CollectSortExec], explain(df))
    }
  }

  test("orderBy(..).limit(n) still plans TakeOrderedAndProject") {
    val df = spark.read.parquet(table).orderBy(col("k")).limit(5)
    val p = explain(df)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CollectSort"), p)
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(0L, 0L, 1L, 1L, 2L))
  }
}
