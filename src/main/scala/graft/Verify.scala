package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: regex over query names (dev-only subset runs);
    // the driver always calls with exactly (sfDir, outDir)
    val (sfDir, outDir, only) = args match {
      case Array(a, b)    => (a, b, ".*")
      case Array(a, b, f) => (a, b, f)
    }
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Per-query failures are recorded in errors.json (name -> message),
    // not just stderr: a query that throws writes no parquet, and without
    // an explicit err record a missing entry can masquerade as "not run"
    // in the round's correctness summary (the round-6 NTZ breakage hid
    // exactly this way).
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.filter(_._1.matches(only)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ERR $name: ${e.getMessage}")
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(500)
      }
      // operators persist internal frames; keep queries independent
      // (catalog cache + checkpoint RDD blocks — GraftSession.release)
      GraftSession.release(spark)
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
    val json = SparkEntry.oracleSql.filter(_._1.matches(only))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries ERRORED: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}
