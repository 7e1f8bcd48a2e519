package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.pipeline._
import graft.sources.Sources

class PipelineSpecTest extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-test").toString

  test("YAML config parses the reference's schema") {
    val cfg = ConfigParser.parse(
      """pipelines:
        |  - name: "csv-to-parquet"
        |    source:
        |      type: file
        |      properties:
        |        path: "data/input"
        |        pattern: "*.csv"
        |        format: csv
        |        header: "true"
        |    transformations:
        |      - type: filter
        |        properties:
        |          column: "status"
        |          condition: "important"
        |      - type: map
        |        properties:
        |          columnMapping:
        |            id: record_id
        |    sink:
        |      type: file
        |      properties:
        |        path: "data/output"
        |        format: "parquet"
        |""".stripMargin)
    assert(cfg.pipelines.length == 1)
    val p = cfg.pipelines.head
    assert(p.name == "csv-to-parquet")
    assert(p.source.kind == "file" && p.source.properties("pattern") == "*.csv")
    assert(p.transformations.map(_.kind) == Seq("filter", "map"))
    assert(p.transformations(1).properties("columnMapping")
      .asInstanceOf[Map[String, String]] == Map("id" -> "record_id"))
    assert(p.sink.properties("format") == "parquet")
  }

  test("top-level condition/expression fields parse like the reference's TransformationConfig") {
    val cfg = ConfigParser.parse(
      """pipelines:
        |  - name: "top-level-fields"
        |    source:
        |      type: file
        |      properties: { path: "in", format: csv }
        |    transformations:
        |      - type: filter
        |        condition: "important"
        |        properties:
        |          column: "status"
        |      - type: map
        |        expression: "upper(name) AS name_uc"
        |    sink:
        |      type: file
        |      properties: { path: "out" }
        |""".stripMargin)
    val ts = cfg.pipelines.head.transformations
    assert(ts(0).properties("condition") == "important")
    assert(ts(0).properties("column") == "status")
    assert(ts(1).properties("expression") == "upper(name) AS name_uc")
  }

  test("sink avro schema casts and orders the written columns (reference schema blocks)") {
    import org.apache.spark.sql.types.{IntegerType, StringType, DoubleType}
    val in = tmp(); val out = tmp()
    Files.writeString(java.nio.file.Paths.get(s"$in/e.csv"),
      "id,name,salary\n7,ada,100.5\n8,bob,90.25\n")
    val mgr = new PipelineManager(spark)
    val st = mgr.submit(PipelineSpec(
      name = "schema-sink",
      source = SourceSpec("file", Map("path" -> in, "format" -> "csv",
        "header" -> "true")),
      transformations = Seq.empty,
      sink = SinkSpec("file", Map("path" -> s"$out/p", "format" -> "parquet",
        "schema" ->
          """{"type":"record","name":"Employee","fields":[
            |  {"name":"salary","type":"double"},
            |  {"name":"id","type":"int"},
            |  {"name":"name","type":["null","string"]}
            |]}""".stripMargin))))
    assert(mgr.status("schema-sink").contains("COMPLETED"), s"got $st")
    val back = spark.read.parquet(s"$out/p")
    // declared order + declared (cast) types, not the CSV string schema
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      Seq(("salary", DoubleType), ("id", IntegerType), ("name", StringType)))
    assert(back.collect().map(r => (r.getDouble(0), r.getInt(1), r.getString(2)))
      .sortBy(_._2).toSeq == Seq((100.5, 7, "ada"), (90.25, 8, "bob")))
  }

  test("csv -> filter -> parquet pipeline end to end (reference pipeline 3)") {
    val in = tmp(); val out = tmp()
    Files.writeString(java.nio.file.Paths.get(s"$in/test.csv"),
      "id,project,status,assignee\n1,Project A,important,John\n2,Project B,normal,Jane\n")
    val mgr = new PipelineManager(spark)
    val st = mgr.submit(PipelineSpec(
      name = "csv-to-parquet",
      source = SourceSpec("file", Map("path" -> in, "format" -> "csv",
        "pattern" -> "*.csv", "header" -> "true")),
      transformations = Seq(TransformSpec("filter",
        Map("column" -> "status", "condition" -> "important"))),
      sink = SinkSpec("file", Map("path" -> out, "format" -> "parquet"))))
    assert(st == mgr.Completed)
    assert(mgr.status("csv-to-parquet").contains("COMPLETED"))
    val back = spark.read.parquet(out).collect()
    assert(back.length == 1 && back.head.getAs[String]("project") == "Project A")
    // restart replays the retained spec (reference restartPipeline)
    assert(mgr.restart("csv-to-parquet").contains(mgr.Completed))
    assert(spark.read.parquet(out).count() == 1)
    assert(mgr.restart("no-such-job").isEmpty)
  }

  test("text map pipeline preserves reference prefix/suffix semantics") {
    val in = tmp(); val out = tmp()
    Files.writeString(java.nio.file.Paths.get(s"$in/a.txt"), "hello\nworld\n")
    PipelineRunner.runBatch(spark, PipelineSpec(
      name = "text-to-text",
      source = SourceSpec("file", Map("path" -> in, "format" -> "text")),
      transformations = Seq(TransformSpec("map",
        Map("prefix" -> ">> ", "suffix" -> " <<"))),
      sink = SinkSpec("file", Map("path" -> out, "format" -> "text"))))
    val lines = spark.read.text(out).collect().map(_.getString(0)).sorted
    assert(lines.toSeq == Seq(">> hello <<", ">> world <<"))
  }

  test("csv sink keeps headers; json sink round-trips") {
    val out1 = tmp(); val out2 = tmp()
    val df = Tables.load(spark, sf, "region")
    graft.sinks.Sinks.write(df, SinkSpec("file",
      Map("path" -> out1, "format" -> "csv", "includeHeaders" -> "true")))
    val csv = spark.read.option("header", "true").csv(out1)
    assert(csv.columns.toSeq == df.columns.toSeq)
    assert(csv.count() == df.count())
    graft.sinks.Sinks.write(df, SinkSpec("file", Map("path" -> out2, "format" -> "json")))
    assert(spark.read.json(out2).count() == df.count())
  }

  test("parquet sink honors partitionBy and compression") {
    val out = tmp()
    graft.sinks.Sinks.write(Tables.load(spark, sf, "orders"),
      SinkSpec("file", Map("path" -> out, "format" -> "parquet",
        "partitionBy" -> "o_orderstatus", "compression" -> "snappy")))
    val dirs = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.exists(_.startsWith("o_orderstatus=")))
    assert(spark.read.parquet(out).count() ==
      Tables.load(spark, sf, "orders").count())
  }

  test("jdbc and kafka option mapping matches reference properties") {
    val j = Sources.jdbcOptions(Map(
      "jdbcUrl" -> "jdbc:postgresql://localhost:5432/udc",
      "user" -> "u", "password" -> "p",
      "query" -> "SELECT * FROM employee", "batchSize" -> "1000"))
    assert(j("url") == "jdbc:postgresql://localhost:5432/udc")
    assert(j("query") == "SELECT * FROM employee")
    assert(j("fetchsize") == "1000")
    val k = Sources.kafkaOptions(Map(
      "bootstrap.servers" -> "b:9092", "topic" -> "events"))
    assert(k("kafka.bootstrap.servers") == "b:9092" && k("subscribe") == "events")
    assert(Sources.s3aPath("s3://bucket/key") == "s3a://bucket/key")
  }

  test("streaming pipeline: directory source -> memory sink") {
    val in = tmp()
    Files.writeString(java.nio.file.Paths.get(s"$in/x.txt"), "alpha\nbeta\nimportant gamma\n")
    val q = PipelineRunner.runStream(spark, PipelineSpec(
      name = "stream-pipe",
      source = SourceSpec("directory", Map("path" -> in, "format" -> "text")),
      transformations = Seq(TransformSpec("filter", Map("condition" -> "important"))),
      sink = SinkSpec("memory", Map.empty),
      streaming = true))
    q.processAllAvailable()
    val rows = spark.sql("SELECT * FROM stream_pipe").collect()
    q.stop()
    assert(rows.map(_.getString(0)).toSeq == Seq("important gamma"))
  }

  test("streaming restart resumes from the checkpoint — no reprocessing") {
    val in = tmp(); val out = tmp()
    Files.writeString(java.nio.file.Paths.get(s"$in/a.txt"), "one\ntwo\n")
    def spec = PipelineSpec(
      name = "resume-pipe",
      source = SourceSpec("directory", Map("path" -> in, "format" -> "text")),
      transformations = Seq.empty,
      sink = SinkSpec("file", Map("path" -> out, "format" -> "text")),
      streaming = true)
    val q1 = PipelineRunner.runStream(spark, spec)
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.text(out).count() == 2)
    // new data lands while the pipeline is down; restart must process
    // ONLY the new file (checkpointed source offsets), exactly once
    Files.writeString(java.nio.file.Paths.get(s"$in/b.txt"), "three\n")
    val q2 = PipelineRunner.runStream(spark, spec)
    q2.processAllAvailable(); q2.stop()
    val rows = spark.read.text(out).collect().map(_.getString(0)).sorted.toSeq
    assert(rows == Seq("one", "three", "two"),
      s"each input row exactly once after restart, got $rows")
  }

  test("sql transform: whole-frame SQL over __input, windows and all") {
    import graft.operators.Transforms
    import graft.pipeline.TransformSpec
    import spark.implicits._
    val df = Seq(("a", 1L), ("a", 4L), ("b", 2L)).toDF("k", "v")
    val out = Transforms.apply(df, Seq(TransformSpec("sql", Map(
      "query" -> ("SELECT k, v, row_number() OVER " +
        "(PARTITION BY k ORDER BY v DESC) AS rn FROM __input")))))
    val top = out.filter($"rn" === 1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(top == Map("a" -> 4L, "b" -> 2L))
    // the scoped view does not leak
    assert(!spark.catalog.listTables().collect()
      .exists(_.name.startsWith("__graft_sql_")))
    // stages chain: sql output feeds the next transform
    val chained = Transforms.apply(df, Seq(
      TransformSpec("sql", Map("query" ->
        "SELECT k, sum(v) AS total FROM __input GROUP BY k")),
      TransformSpec("filter", Map("expression" -> "total > 2"))))
    assert(chained.collect().map(_.getString(0)).toSeq == Seq("a"))
    GraftSession.release(spark)
  }

  test("aggregate transform: YAML groupBy/aggregations run a grouped pipeline stage") {
    import graft.operators.Transforms
    import graft.pipeline.TransformSpec
    import spark.implicits._
    val df = Seq(("a", 1L), ("a", 4L), ("b", 2L)).toDF("k", "v")
    val out = Transforms.apply(df, Seq(TransformSpec("aggregate", Map(
      "groupBy" -> "k",
      "aggregations" -> Map("total" -> "sum(v)", "n" -> "count(*)")))))
    val got = out.collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(1))).toMap
    assert(got == Map("a" -> (5L, 2L), "b" -> (2L, 1L)))
    // global (no groupBy) aggregate
    val g = Transforms.apply(df, Seq(TransformSpec("aggregate", Map(
      "aggregations" -> Map("mx" -> "max(v)")))))
    assert(g.head().getLong(0) == 4L)
    // parses from YAML like any other stage
    val cfg = graft.pipeline.ConfigParser.parse(
      """pipelines:
        |  - name: "agg-pipe"
        |    source:
        |      type: file
        |      properties: { path: "/tmp/x", format: "csv" }
        |    transformations:
        |      - type: aggregate
        |        properties:
        |          groupBy: "k"
        |          aggregations:
        |            total: "sum(v)"
        |    sink:
        |      type: file
        |      properties: { path: "/tmp/y", format: "parquet" }
        |""".stripMargin)
    assert(cfg.pipelines.head.transformations.head.kind == "aggregate")
  }

  test("dedup transform: deterministic survivor per key, WindowGroupLimit plan") {
    import graft.operators.Transforms
    import graft.pipeline.TransformSpec
    import spark.implicits._
    val df = Seq(("a", 1L, 10.0), ("a", 3L, 30.0), ("a", 2L, 30.0),
      ("b", 9L, 5.0)).toDF("k", "id", "score")
    val spec = TransformSpec("dedup",
      Map("keys" -> "k", "orderBy" -> "score DESC, id"))
    val out = Transforms.apply(df, Seq(spec))
    // highest score wins; the score tie resolves to the lowest id
    assert(out.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("a", 2L), ("b", 9L)))
    // repartitioned input must produce the SAME survivors — the
    // determinism dropDuplicates cannot give
    val out2 = Transforms.apply(df.repartition(7), Seq(spec))
    assert(out2.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("a", 2L), ("b", 9L)))
    // rank=1 filter prunes map-side before the key exchange
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"),
      "dedup stage must carry a WindowGroupLimit")
    // missing orderBy is refused, not silently nondeterministic
    intercept[IllegalArgumentException] {
      Transforms.apply(df, Seq(TransformSpec("dedup", Map("keys" -> "k"))))
    }
    GraftSession.release(spark)
  }

  test("neardedup transform: refusal paths match the dedup determinism contract") {
    import graft.operators.Transforms
    import graft.pipeline.TransformSpec
    import spark.implicits._
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    def spec(extra: (String, Any)*) = TransformSpec("neardedup",
      Map[String, Any]("id" -> "doc_id", "text" -> "text",
        "orderBy" -> "doc_id") ++ extra)
    // a float threshold is refused — rational num/den only (the
    // integer-compare discipline; 0.5 would silently change semantics)
    intercept[IllegalArgumentException] {
      Transforms.apply(df, Seq(spec("threshold" -> "0.5")))
    }
    // missing survivor order is refused like the exact dedup stage
    intercept[IllegalArgumentException] {
      Transforms.apply(df, Seq(TransformSpec("neardedup",
        Map("id" -> "doc_id", "text" -> "text"))))
    }
    // unknown shingle mode is refused up front
    intercept[IllegalArgumentException] {
      Transforms.apply(df, Seq(spec("mode" -> "sentence")))
    }
    // a frame already carrying a different `id` column is refused
    // (the rename would collide silently otherwise)
    intercept[IllegalArgumentException] {
      Transforms.apply(df.withColumn("id", lit(0L)), Seq(spec()))
    }
    GraftSession.release(spark)
  }

  test("quality transform: clean data passes through, breaches fail the stage") {
    import graft.operators.Transforms
    import graft.pipeline.TransformSpec
    import spark.implicits._
    val df = Seq(("a", 10L), ("b", 20L), (null, 500L))
      .toDF("k", "v")
    // passes: one null allowed under maxViolations=1, bounds span data
    val rules = Seq(
      Map("kind" -> "not_null", "column" -> "k"),
      Map("kind" -> "bounds", "column" -> "v", "lo" -> "0", "hi" -> "1000"))
    val ok = Transforms.apply(df, Seq(TransformSpec("quality", Map(
      "rules" -> rules, "maxViolations" -> "1"))))
    assert(ok.count() == 3, "gate must pass the frame through untouched")
    // fails: default maxViolations=0 trips on the null, message carries
    // the rule name and count
    val e = intercept[IllegalStateException] {
      Transforms.apply(df, Seq(TransformSpec("quality", Map(
        "rules" -> rules))))
    }
    assert(e.getMessage.contains("null_k=1"))
    // parses from YAML: nested rule list arrives as Seq[Map]
    val cfg = graft.pipeline.ConfigParser.parse(
      """pipelines:
        |  - name: "gated"
        |    source:
        |      type: file
        |      properties: { path: "/tmp/x", format: "csv" }
        |    transformations:
        |      - type: quality
        |        properties:
        |          maxViolations: 0
        |          rules:
        |            - { kind: not_null, column: k }
        |            - { kind: in_set, column: lang, allowed: "en,de" }
        |    sink:
        |      type: file
        |      properties: { path: "/tmp/y", format: "parquet" }
        |""".stripMargin)
    val qt = cfg.pipelines.head.transformations.head
    assert(qt.kind == "quality")
    assert(qt.properties("rules").asInstanceOf[Seq[_]].size == 2)
    GraftSession.release(spark)
  }

  test("quality onViolation=route partitions clean/reject and dead-letters the rest") {
    import graft.operators.Transforms
    import graft.pipeline.TransformSpec
    import spark.implicits._
    val dlq = java.nio.file.Files.createTempDirectory("graft_dlq").toString + "/dead"
    val df = Seq(("a", 10L), ("b", 20L), (null, 500L), ("d", -3L),
      (null, 2000L)).toDF("k", "v")
    val rules = Seq(
      Map("kind" -> "not_null", "column" -> "k"),
      Map("kind" -> "bounds", "column" -> "v", "lo" -> "0", "hi" -> "1000"))
    val clean = Transforms.apply(df, Seq(TransformSpec("quality", Map(
      "rules" -> rules, "onViolation" -> "route", "deadLetterPath" -> dlq))))
    // only fully-clean rows continue downstream
    assert(clean.select($"k", $"v").collect().map(r =>
      (r.getString(0), r.getLong(1))).toSet === Set(("a", 10L), ("b", 20L)))
    assert(clean.columns.toSeq === Seq("k", "v"),
      "no audit columns may leak into the clean branch")
    // the dead-letter parquet holds exactly the rejects, each blaming
    // every rule it broke
    val dead = spark.read.parquet(dlq).collect().map(r =>
      (Option(r.getString(0)), r.getLong(1),
        r.getSeq[String](2).sorted)).toSet
    assert(dead === Set(
      (None, 500L, Seq("null_k")),
      (Some("d"), -3L, Seq("bounds_v")),
      (None, 2000L, Seq("bounds_v", "null_k"))))
    // a table-level rule cannot route rows — refuse loudly
    val e = intercept[IllegalArgumentException] {
      Transforms.apply(df, Seq(TransformSpec("quality", Map(
        "rules" -> Seq(Map("kind" -> "unique", "column" -> "k")),
        "onViolation" -> "route", "deadLetterPath" -> dlq))))
    }
    assert(e.getMessage.contains("row-local"))
    // route without a deadLetterPath refuses
    intercept[IllegalArgumentException] {
      Transforms.apply(df, Seq(TransformSpec("quality", Map(
        "rules" -> rules, "onViolation" -> "route"))))
    }
    GraftSession.release(spark)
  }

  test("a resubmitted route pipeline sees a newly landed file and leaves no blocks") {
    val in = tmp()
    val out = tmp() + "/clean"
    val dlq = tmp() + "/dead"
    def land(file: String, ids: Range): Unit = Files.writeString(
      java.nio.file.Paths.get(s"$in/$file"),
      ids.map(i => s"$i,${if (i % 10 == 0) "" else s"k$i"}")
        .mkString("id,k\n", "\n", "\n"))
    val spec = PipelineSpec(
      name = "route-resubmit",
      source = SourceSpec("file", Map("path" -> in, "format" -> "csv",
        "header" -> "true", "schemaDdl" -> "id LONG, k STRING")),
      transformations = Seq(TransformSpec("quality", Map(
        "rules" -> Seq(Map("kind" -> "not_null", "column" -> "k")),
        "onViolation" -> "route", "deadLetterPath" -> dlq))),
      sink = SinkSpec("file", Map("path" -> out, "format" -> "parquet")))
    val mgr = new PipelineManager(spark)
    val rddsBefore = spark.sparkContext.getPersistentRDDs.size
    land("a.csv", 0 until 1000)
    assert(mgr.submit(spec) == mgr.Completed)
    assert(spark.read.parquet(out).count() == 900)
    assert(spark.sparkContext.getPersistentRDDs.size == rddsBefore)
    land("b.csv", 1000 until 2000)
    assert(mgr.submit(spec) == mgr.Completed)
    assert(spark.read.parquet(out).count() == 1800,
      "the resubmitted run must read the newly landed file")
    assert(spark.sparkContext.getPersistentRDDs.size == rddsBefore,
      "the route stage's flagged frame must not outlive its pipeline")
    GraftSession.release(spark)
  }

  test("manager count/isRunning/stopAll mirror the controller surface") {
    val in = tmp()
    Files.writeString(java.nio.file.Paths.get(s"$in/x.txt"), "a\nb\n")
    val mgr = new PipelineManager(spark)
    def streamSpec(name: String) = PipelineSpec(
      name = name,
      source = SourceSpec("directory", Map("path" -> in, "format" -> "text")),
      transformations = Seq.empty,
      sink = SinkSpec("memory", Map.empty),
      streaming = true)
    mgr.submit(streamSpec("mgr-a"))
    mgr.submit(streamSpec("mgr-b"))
    assert(mgr.runningCount == 2)
    assert(mgr.isRunning("mgr-a") && mgr.isRunning("mgr-b"))
    assert(!mgr.isRunning("mgr-missing"))
    assert(mgr.stopAll().sorted == Seq("mgr-a", "mgr-b"))
    assert(mgr.runningCount == 0 && !mgr.isRunning("mgr-a"))
    assert(mgr.stopAll().isEmpty)
  }
}
