package graft

/** Dev tool: print one or more declared queries' `.explain("formatted")`
  * to files — the optimization rounds' before/after plan evidence
  * (`plans/rNN/<query>_{before,after}.txt`). Not part of the bench or
  * oracle surface, and not a spec, so the test suite does not run it.
  *
  * Run it after `sbt Test/compile` with the `java` line of
  * `tools/run.sh`, adding `target/scala-2.13/test-classes` to its class
  * path: `graft.PlanDump <outDir> <suffix> <query> [query...]`.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <query> [query...]")
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query: $name"))
      val df = fn(spark, sfDir)
      val p = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
        p.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"wrote $outDir/${name}_$suffix.txt (${p.length} chars)")
    }
    spark.stop()
  }
}
