package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and
  * verify_errors.json: one record (query, exception class, message, top
  * stack frames) per failed query, `[]` on a clean run. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // optional dev filter: SPARK_GRAFT_ONLY=name1,name2 (driver never sets it)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val failures = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> e)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errors = failures.map { case (name, e) =>
      val frames = e.getStackTrace.take(12).map(f => q(f.toString)).mkString("[", ",", "]")
      s"""{"query": ${q(name)}, "class": ${q(e.getClass.getName)}, """ +
        s""""message": ${Option(e.getMessage).map(q).getOrElse("null")}, "frames": $frames}"""
    }.mkString("[", ",\n", "]")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errors)
    spark.stop()
  }
}
