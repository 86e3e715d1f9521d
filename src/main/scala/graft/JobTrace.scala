package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev tool: run one declared query and print every Spark job it
  * submits — description/call site, wall, stage/task counts — so a
  * "24 jobs for one probe" bench entry can be attributed to specific
  * actions (guide §1.5: label your jobs). Not part of the bench or
  * oracle surface.
  *
  * Usage: tools/run.sh graft.JobTrace <query> [runs]
  */
object JobTrace {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: JobTrace <query> [runs]"))
    val runs = args.lift(1).map(GraftSession.intSetting("JobTrace runs", _)).getOrElse(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()

    final case class J(id: Int, t0: Long, desc: String, site: String,
                       stages: Int, tasks: Int)
    val live = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val out = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        val site = js.stageInfos.lastOption.map(_.name).getOrElse("")
        live.put(js.jobId, J(js.jobId, System.nanoTime(), desc, site,
          js.stageInfos.size, js.stageInfos.map(_.numTasks).sum))
        ()
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val j = live.remove(je.jobId)
        if (j != null) {
          val ms = (System.nanoTime() - j.t0) / 1e6
          out.add(f"  job ${j.id}%4d ${ms}%8.1f ms stages=${j.stages}%2d tasks=${j.tasks}%4d  ${j.site.take(50)}%-50s ${j.desc.take(80)}")
          ()
        }
      }
    })

    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query: $name"))
    (1 to runs).foreach { r =>
      org.apache.spark.GraftCoreBridge.drainListenerBus(spark.sparkContext)
      out.clear()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      // force analysis + optimization + physical planning (AQE root)
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      // collect, as a caller does: under a count() the optimizer drops
      // the query's final ORDER BY, and with it the sort's jobs
      val n = df.collect().length
      val sec = (System.nanoTime() - t0) / 1e9
      org.apache.spark.GraftCoreBridge.drainListenerBus(spark.sparkContext)
      println(f"== run $r: $name rows=$n wall=$sec%.3f s jobs=${out.size} " +
        f"construct=${(t1 - t0) / 1e9}%.3f plan=${(t2 - t1) / 1e9}%.3f exec=${(System.nanoTime() - t2) / 1e9}%.3f")
      out.forEach(s => println(s))
    }
    spark.stop()
  }
}
