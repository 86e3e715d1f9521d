package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Wall clock in epoch milliseconds with sub-millisecond resolution: one
  * origin for the benchmark's own spans and the engine's progress
  * timestamps. */
object Clock {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  def ms: Double = originMs + (System.nanoTime() - originNs) / 1e6

  /** Mark the start of a run phase in the log, so a run that stalls or
    * fails names the phase it was in. */
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] phase $name at ${(System.nanoTime() - originNs) / 1e9}%.1f s")
}

object Stats {
  /** Linear-interpolated quantile (numpy's default method). */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    require(s.nonEmpty, "quantile of an empty sample")
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
}

/** One reported number: value, unit and the number of samples behind it. */
final case class Metric(value: Double, unit: String, n: Long)

/** Ordered metric sheet plus the run's operation and check accounting. */
final class Sheet {
  val metrics = mutable.LinkedHashMap.empty[String, Metric]
  val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L

  def put(name: String, value: Double, unit: String, n: Long): Unit =
    metrics(name) = Metric(value, unit, n)

  /** Median (or another quantile) of a sample; an empty sample is
    * reported as 0 with n = 0, meaning the layer did not run. */
  def putQ(name: String, xs: Iterable[Double], q: Double, unit: String): Unit =
    if (xs.isEmpty) put(name, 0.0, unit, 0)
    else put(name, Stats.quantile(xs, q), unit, xs.size.toLong)

  /** A quantile of timed samples, (raw ms, net of steal ms): the net
    * one as `name`, the raw one as `raw.<name>`. */
  def putNet(name: String, xs: Iterable[(Double, Double)], q: Double): Unit = {
    putQ(name, xs.map(_._2), q, "ms")
    putQ(s"raw.$name", xs.map(_._1), q, "ms")
  }

  def ops(n: Long): Unit = attempted += n

  def fail(name: String, detail: String): Unit = failures += s"$name: $detail"

  /** A named correctness check: counts as one attempted operation and,
    * when it does not hold, as one failure. */
  def check(name: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) fail(name, detail)
  }

  def attemptedOps: Long = attempted
}

/** Task-level engine counters, from a SparkListener the benchmark
  * registers. */
final class EngineCounters extends SparkListener {
  private val jobs = new AtomicLong
  private val tasks = new AtomicLong
  private val runMs = new AtomicLong
  private val shuffleBytes = new AtomicLong
  private val spillBytes = new AtomicLong
  private val gcMs = new AtomicLong
  private val cpuNs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
      gcMs.addAndGet(m.jvmGCTime)
      cpuNs.addAndGet(m.executorCpuTime)
    }
    ()
  }

  def snapshot(): Array[Long] =
    Array(jobs.get, tasks.get, runMs.get, shuffleBytes.get, spillBytes.get, gcMs.get, cpuNs.get)

  /** Counter deltas over [before, after] as spark.* metrics. */
  def report(sheet: Sheet, before: Array[Long], after: Array[Long],
             wallMs: Double, cores: Int): Unit = {
    val d = after.zip(before).map { case (a, b) => (a - b).toDouble }
    sheet.put("spark.jobs", d(0), "count", 1)
    sheet.put("spark.tasks", d(1), "count", 1)
    sheet.put("spark.task_run_s", d(2) / 1e3, "s", d(1).toLong)
    sheet.put("spark.shuffle_mb", d(3) / 1048576.0, "MB", d(1).toLong)
    sheet.put("spark.spill_mb", d(4) / 1048576.0, "MB", d(1).toLong)
    sheet.put("spark.task_gc_ms", d(5), "ms", d(1).toLong)
    sheet.put("spark.busy_share", d(2) / (wallMs * cores), "ratio", d(1).toLong)
    sheet.put("spark.task_cpu_s", d(6) / 1e9, "s", d(1).toLong)
  }
}

/** Samples of one timed step: (start in epoch ms, duration in ms). */
final class Samples {
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]()
  def add(start: Double, ms: Double): Unit = { buf.add((start, ms)); () }
  def all: Seq[Double] = buf.asScala.toSeq.map(_._2)
  /** Durations of the samples that started inside [from, to]. */
  def in(from: Double, to: Double): Seq[Double] =
    buf.asScala.toSeq.collect { case (s, d) if s >= from && s <= to => d }
  def size: Int = buf.size
}

/** CPU time: this process's (all threads) and the machine's, from
  * /proc/stat: (busy, steal) jiffies, steal being time a virtual CPU
  * wanted to run but the host ran something else. */
object Cpu {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processMs: Double = os.getProcessCpuTime / 1e6
  def machine(): (Long, Long) = {
    val r = java.nio.file.Files.newBufferedReader(java.nio.file.Paths.get("/proc/stat"))
    val f = try r.readLine().trim.split("\\s+").drop(1).map(_.toLong) finally r.close()
    (f(0) + f(1) + f(2) + f(5) + f(6), f(7))
  }
  /** Share of the CPU time demanded between two `machine()` readings
    * that the host stole. */
  def stealShare(a: (Long, Long), b: (Long, Long)): Double = {
    val busy = b._1 - a._1; val steal = b._2 - a._2
    if (busy + steal == 0) 0.0 else steal.toDouble / (busy + steal)
  }
}

/** Wall time net of hypervisor steal. On a shared virtual machine the
  * host can take half of the CPU time a run asks for, varying from
  * minute to minute, and the raw figures move with the neighbours' load,
  * not with the program. A wall time measured while the host stole a
  * share s of the CPU time demanded is scaled by (1 - s)^Exponent. The
  * exponent is above 1 because neighbours slow the CPU even while it
  * runs, and a parallel stage waits for its most-stolen task: fitted
  * over 15 runs of both workloads at 8-46 % steal, raw wall times grew
  * as (1 - s)^-k with k between 1.24 and 1.64 per metric. */
object Steal {
  val Exponent = 1.4
  def factor(s: Double): Double = math.pow(1 - s, Exponent)
}

/** One timed sample, started when constructed: its wall time, raw and
  * net of the host's steal over it. */
final class NetTimer {
  val t0: Double = Clock.ms
  private val m0 = Cpu.machine()
  var t1: Double = Double.NaN
  var steal: Double = Double.NaN
  def stop(): this.type = {
    t1 = Clock.ms
    steal = Cpu.stealShare(m0, Cpu.machine())
    this
  }
  def rawMs: Double = t1 - t0
  def sample: (Double, Double) = (rawMs, rawMs * Steal.factor(steal))
}

/** The timed window: its bounds and the engine counters across it. */
final class Window(spark: org.apache.spark.sql.SparkSession, engine: EngineCounters) {
  var t0: Double = Double.NaN
  var t1: Double = Double.NaN
  private var before: Array[Long] = Array.empty
  private var after: Array[Long] = Array.empty
  private var cpu0 = 0.0
  private var cpu1 = 0.0
  var m0 = (0L, 0L)
  private var m1 = (0L, 0L)
  def open(): Unit = {
    org.apache.spark.GraftCoreBridge.drainListenerBus(spark.sparkContext)
    before = engine.snapshot(); cpu0 = Cpu.processMs; m0 = Cpu.machine(); t0 = Clock.ms
  }
  def close(): Unit = {
    t1 = Clock.ms
    cpu1 = Cpu.processMs; m1 = Cpu.machine()
    org.apache.spark.GraftCoreBridge.drainListenerBus(spark.sparkContext)
    after = engine.snapshot()
  }
  def seconds: Double = (t1 - t0) / 1000.0
  /** CPU milliseconds this process used inside the window. */
  def cpuMs: Double = cpu1 - cpu0
  /** Share of the machine's demanded CPU time the host stole. */
  def stealShare: Double = Cpu.stealShare(m0, m1)
  def report(sheet: Sheet, cores: Int): Unit = {
    engine.report(sheet, before, after, t1 - t0, cores)
    sheet.put("host.steal_share", stealShare, "ratio", 1)
    sheet.put("process.cpu_s", cpuMs / 1e3, "s", 1)
  }
}

/** Micro-batch progress events, from a StreamingQueryListener the
  * benchmark registers. */
final class ProgressLog extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    events.add(e.progress); ()
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  def batches: Seq[StreamingQueryProgress] = events.asScala.toSeq.sortBy(_.batchId)
}

object ProgressLog {
  /** Trigger phases in the order the micro-batch engine runs them. */
  val Phases: Seq[(String, String)] = Seq(
    "latestOffset" -> "latest_offset", "walCommit" -> "wal_commit",
    "getBatch" -> "get_batch", "queryPlanning" -> "planning",
    "addBatch" -> "add_batch", "commitOffsets" -> "commit_offsets")

  def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble

  def phaseMs(p: StreamingQueryProgress, key: String): Option[Double] =
    Option(p.durationMs.get(key)).map(_.toDouble)
}

/** One traced interval. Ids are strings so spans built after the fact
  * (micro-batch phases, keyed by batch id) can name their parents. */
final case class Span(id: String, parent: String, name: String, start: Double, end: Double)

/** In-memory span recorder; written once when the run ends. Disabled,
  * it only runs the body. */
final class Tracer(val on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong
  private val stack = new ThreadLocal[List[String]] {
    override def initialValue(): List[String] = Nil
  }

  /** Time `body` as a child of the innermost open span on this thread,
    * or of `parent` when given. */
  def span[T](name: String, parent: String = null, id: String = null)(body: => T): T =
    if (!on) body
    else {
      val sid = if (id != null) id else s"s${ids.incrementAndGet()}"
      val par = if (parent != null) parent else stack.get.headOption.getOrElse("")
      stack.set(sid :: stack.get)
      val t0 = Clock.ms
      try body
      finally {
        spans.add(Span(sid, par, name, t0, Clock.ms))
        stack.set(stack.get.tail)
      }
    }

  def add(s: Span): Unit = if (on) { spans.add(s); () }

  def count: Int = spans.size

  def write(path: String, workload: String, runId: String): Unit = {
    val sb = new StringBuilder
    spans.asScala.foreach { s =>
      sb.append(Json.obj(Seq("id" -> Json.str(s.id), "parent" -> Json.str(s.parent),
        "name" -> Json.str(s.name), "start" -> Json.num(s.start), "end" -> Json.num(s.end),
        "workload" -> Json.str(workload), "run" -> Json.str(runId)))).append('\n')
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
    ()
  }
}

/** Row count plus an order-independent hash of a result: the action
  * every measured read runs, and what its result is checked by. The
  * rows are collected as the engine's binary rows, whose hash covers
  * every column; 32-bit hashes are summed as unsigned longs. */
object Digest {
  import org.apache.spark.sql.DataFrame

  def of(df: DataFrame): (Long, Long) = {
    val rows = df.queryExecution.executedPlan.executeCollect()
    var h = 0L
    rows.foreach(r => h += (r.hashCode & 0xffffffffL))
    (rows.length.toLong, h)
  }
}

object Heap {
  /** Old-generation bytes in use right after a full collection, in MB. */
  def liveOldGenMb(): Double = {
    System.gc()
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    val old = pools.find(_.getName.contains("Old Gen"))
      .getOrElse(sys.error(s"no old-generation pool among ${pools.map(_.getName)}"))
    old.getUsage.getUsed / 1048576.0
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}
