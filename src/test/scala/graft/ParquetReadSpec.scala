package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.{ConfigParser, PipelineRunner, SourceSpec}
import graft.sources.Sources

/** Every parquet read goes through `Sources.parquet`, which takes its
  * schema from one file footer on the driver: the schema must be the one
  * Spark's own inference gives, resolving it must run no Spark job, and
  * the cases it hands back to Spark's inference must behave as Spark's.
  */
class ParquetReadSpec extends SparkSpec {

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** `df` written as ONE parquet file at `to` (a file name of our own). */
  private def writeFile(df: DataFrame, to: String): Unit = {
    val out = s"${tmp("pq_one")}/out"
    df.coalesce(1).write.parquet(out)
    val part = Files.list(Paths.get(out)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.createDirectories(Paths.get(to).getParent)
    Files.move(part, Paths.get(to))
  }

  private def withConf[T](kv: (String, String))(body: => T): T = {
    val before = spark.conf.getOption(kv._1)
    spark.conf.set(kv._1, kv._2)
    try body
    finally before.fold(spark.conf.unset(kv._1))(spark.conf.set(kv._1, _))
  }

  /** The reader's frame: no job to resolve, and Spark's inferred schema. */
  private def footerRead(options: Map[String, String] = Map.empty)(
      paths: String*): DataFrame = {
    var df: DataFrame = null
    assert(jobsIn { df = Sources.parquet(spark, options)(paths: _*) } == 0,
      s"resolving ${paths.mkString(", ")} ran a Spark job")
    assert(df.schema == spark.read.options(options).parquet(paths: _*).schema)
    df
  }

  test("every table's schema equals Spark's inferred one, with no job") {
    Tables.names.filterNot(_ == "events").foreach(n =>
      footerRead()(s"$sf/$n.parquet"))
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      footerRead()(s"$sf/events.parquet")
    }
  }

  test("a Spark-written dir with _SUCCESS and .crc files") {
    val dir = s"${tmp("pq_spark")}/t"
    spark.range(0, 10).selectExpr("id", "cast(id AS string) AS s").write.parquet(dir)
    val names = new java.io.File(dir).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")))
    assert(footerRead()(dir).count() == 10)
  }

  test("a run= partitioned dir keeps its partition column") {
    val dir = s"${tmp("pq_part")}/rejects"
    spark.range(0, 6).withColumn("run", col("id") % 2).write.partitionBy("run").parquet(dir)
    val df = footerRead()(dir)
    assert(df.columns.toSeq == Seq("id", "run"))
    assert(df.filter(col("run") === 1).count() == 3)
  }

  test("a multi-file dir and a multi-path chain") {
    val root = tmp("pq_chain")
    spark.range(0, 30, 1, 3).selectExpr("id", "id * 2 AS x").write.parquet(s"$root/v=0")
    assert(new java.io.File(s"$root/v=0").list().count(_.endsWith(".parquet")) == 3)
    assert(footerRead()(s"$root/v=0").count() == 30)
    Seq(1, 2).foreach(v => spark.range(30 + v, 31 + v).selectExpr("id", "id * 2 AS x")
      .write.parquet(s"$root/v=$v"))
    assert(footerRead()((0 to 2).map(v => s"$root/v=$v"): _*).count() == 32)
  }

  test("a pattern read skips the excluded first file, option, source and glob alike") {
    val dir = tmp("pq_glob")
    writeFile(spark.range(0, 2).selectExpr("id", "'a' AS a"), s"$dir/a.parquet")
    writeFile(spark.range(0, 3).selectExpr("id", "1.5D AS b"), s"$dir/b.parquet")
    val df = footerRead(Map("pathGlobFilter" -> "b*"))(dir)
    assert(df.columns.toSeq == Seq("id", "b") && df.count() == 3)
    var src: DataFrame = null
    assert(jobsIn { src = Sources.read(spark, SourceSpec("file",
      Map("path" -> dir, "format" -> "parquet", "pattern" -> "b*"))) } == 0)
    assert(src.schema == df.schema)
    // a glob path is Spark's to expand: its inference resolves the read
    assert(Sources.parquet(spark)(s"$dir/b*").schema == df.schema)
  }

  test("mergeSchema, as an option or a session conf, still merges every footer") {
    val dir = tmp("pq_merge")
    writeFile(spark.range(0, 2).selectExpr("id", "'a' AS x"), s"$dir/a.parquet")
    writeFile(spark.range(2, 5).selectExpr("id", "7L AS y"), s"$dir/b.parquet")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir).schema
    assert(merged.fieldNames.toSet == Set("id", "x", "y"))
    assert(Sources.parquet(spark, Map("mergeSchema" -> "true"))(dir).schema == merged)
    withConf("spark.sql.parquet.mergeSchema" -> "true") {
      assert(Sources.parquet(spark)(dir).schema == merged)
    }
  }

  test("an empty or missing dir fails as spark.read.parquet fails") {
    val empty = tmp("pq_empty")
    Seq(empty, s"$empty/missing").foreach { p =>
      val want = intercept[Exception](spark.read.parquet(p))
      val got = intercept[Exception](Sources.parquet(spark)(p))
      assert(got.getClass == want.getClass)
      assert(got.getMessage == want.getMessage)
    }
  }

  test("the report pipeline's batch dataflow builds with no Spark job") {
    val dir = s"${tmp("pq_report")}/curated"
    spark.range(0, 20).selectExpr("if(id % 2 = 0, 'en', 'de') AS lang",
      "id AS n_chars").write.parquet(dir)
    val spec = ConfigParser.parse(
      s"""pipelines:
         |  - name: "report"
         |    source:
         |      type: file
         |      properties:
         |        path: "$dir"
         |        format: parquet
         |    transformations:
         |      - type: aggregate
         |        properties:
         |          groupBy: lang
         |          aggregations: {docs: "count(*)", chars: "sum(n_chars)"}
         |    sink:
         |      type: file
         |      properties:
         |        path: "$dir-out"
         |        format: parquet
         |""".stripMargin).pipelines.head
    var built: DataFrame = null
    assert(jobsIn { built = PipelineRunner.buildBatch(spark, spec) } == 0)
    assert(built.orderBy("lang").select("lang", "docs", "chars").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("de", 10L, 100L), ("en", 10L, 90L)))
  }

  test("no file in src/main/scala but Sources.scala and StateDir.scala reads parquet") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (no $root)")
    val read = Seq("""\.read\.parquet\(""", """\.read\.schema\(.*\)\.parquet\(""",
      """format\("parquet"\)\s*(?:\.\w+\([^()]*\)\s*)*\.load\(""").mkString("|").r
    val walk = Files.walk(root)
    val found = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        !Set("Sources.scala", "StateDir.scala").contains(p.getFileName.toString))
      .filter(p => read.findFirstIn(Files.readString(p)).nonEmpty)
      .map(root.relativize(_: Path).toString).toSeq.sorted
    finally walk.close()
    assert(found.isEmpty,
      s"read parquet through graft.sources.Sources.parquet, not in: ${found.mkString(", ")}")
  }
}
