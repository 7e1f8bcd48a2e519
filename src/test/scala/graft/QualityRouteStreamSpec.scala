package graft

import org.apache.spark.sql.functions._
import graft.operators.Quality
import graft.pipeline.{PipelineRunner, PipelineSpec, SinkSpec, SourceSpec, TransformSpec}
import graft.streaming.StreamingOps

/** Round 17 (VERDICT r16 task 4 + ADVICE r16 medium): streaming
  * dead-letter routing for the quality stage. The streamed clean and
  * reject partitions must equal the batch stage's split (both run
  * Quality.flagRows — the shared kernel), batch-id dirs make
  * re-delivered micro-batches idempotent (the scd2EnrichedTo staged-
  * rename discipline), and the YAML runner maps `onViolation: route`
  * to the fold instead of silently degrading to audit counts.
  */
class QualityRouteStreamSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val rules = Seq(
    Quality.NotNull("text"),
    Quality.Bounds("n_chars", 0, 500))

  private lazy val docs = Tables.load(spark, sf, "documents")
    .select(col("doc_id"), col("text"), col("n_chars"))

  test("streamed clean/reject partitions equal the batch route split") {
    val dir = tmp("graft_qroute")
    val mid = docs.agg(((min(col("doc_id")) + max(col("doc_id"))) / 2)
      .cast("long")).head().getLong(0)
    docs.filter(col("doc_id") <= mid).coalesce(1).write.parquet(s"$dir/in/b0")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
      .parquet(s"$dir/in/*")
    val q = StreamingOps.qualityRoutedMaintained(
      stream, rules, s"$dir/out", s"$dir/dlq", "q_route_spec")
    try {
      q.processAllAvailable()
      docs.filter(col("doc_id") > mid).coalesce(1)
        .write.parquet(s"$dir/in/b1")
      q.processAllAvailable()
    } finally q.stop()

    val want = Quality.flagRows(docs, rules).persist()
    val wantClean = want.filter(size(col("violated_rules")) === 0)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    val wantDead = want.filter(size(col("violated_rules")) > 0)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(wantDead.nonEmpty && wantClean.nonEmpty,
      "corpus must split both ways or the assertions are vacuous")

    val gotClean = spark.read.parquet(s"$dir/out/data")
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    val gotDead = spark.read.parquet(s"$dir/dlq")
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(gotClean == wantClean, "clean partition diverged from batch")
    assert(gotDead == wantDead, "reject partition diverged from batch")
    // rejects blame the rules they broke, exactly as the batch kernel
    val blames = spark.read.parquet(s"$dir/dlq")
      .select(col("doc_id"), col("violated_rules")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).sorted).toMap
    val wantBlames = want.filter(size(col("violated_rules")) > 0)
      .select(col("doc_id"), col("violated_rules")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).sorted).toMap
    assert(blames == wantBlames, "violated_rules blame diverged")
    // the audit monitoring face still folds alongside the routing
    val audit = StreamingOps.latestState(spark, s"$dir/out").get.head()
    assert(audit.getAs[Long]("n_rows") == docs.count())
    assert(audit.getAs[Long]("bounds_n_chars") == wantDead.size ||
      audit.getAs[Long]("bounds_n_chars") + audit.getAs[Long]("null_text")
        >= wantDead.size)
    GraftSession.release(spark)
  }

  test("each micro-batch is scanned once: numInputRows equals the file's rows") {
    val dir = tmp("graft_qscan")
    spark.range(2000).select(col("id").as("doc_id"),
        when(col("id") % 7 === 0, lit(null)).otherwise(lit("t")).as("text"),
        (col("id") % 600).as("n_chars"))
      .coalesce(1).write.parquet(s"$dir/in/b0")
    val stream = spark.readStream.schema("doc_id LONG, text STRING, n_chars LONG")
      .parquet(s"$dir/in/*")
    val q = StreamingOps.qualityRoutedMaintained(
      stream, rules, s"$dir/out", s"$dir/dlq", "q_scan_once_spec")
    try q.processAllAvailable() finally q.stop()
    assert(q.recentProgress.map(_.numInputRows).sum == 2000L)
    assert(spark.read.parquet(s"$dir/out/data").count() +
      spark.read.parquet(s"$dir/dlq").count() == 2000L)
    GraftSession.release(spark)
  }

  test("a pre-existing batch dir is a replay marker — the side write skips, never duplicates") {
    import spark.implicits._
    val dir = tmp("graft_qreplay")
    // simulate the crash window: batch 0's DLQ side write survived a
    // crash that lost the state version rename — the fold re-runs and
    // must SKIP the already-renamed batch dir (content untouched)
    val sentinel = Seq((999L, "sentinel", 10L))
      .toDF("doc_id", "text", "n_chars")
      .withColumn("violated_rules", array(lit("null_text")))
    sentinel.coalesce(1).write.parquet(s"$dir/dlq/batch=0")
    docs.coalesce(1).write.parquet(s"$dir/in/b0")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in/*")
    val q = StreamingOps.qualityRoutedMaintained(
      stream, rules, s"$dir/out", s"$dir/dlq", "q_replay_spec")
    try q.processAllAvailable() finally q.stop()
    val dead = spark.read.parquet(s"$dir/dlq/batch=0")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    assert(dead == Seq(999L),
      s"replayed batch dir was rewritten (got ids $dead) — " +
        "the idempotent skip is broken")
    // the clean side (no pre-existing dir) still wrote batch 0
    assert(spark.read.parquet(s"$dir/out/data").count() > 0)
    GraftSession.release(spark)
  }

  test("YAML runner maps onViolation=route to the routed fold") {
    val in = tmp("graft_qy_in"); val out = tmp("graft_qy_out")
    val dlq = tmp("graft_qy_dlq") + "/dead"
    docs.coalesce(1).write.parquet(s"$in/b0")
    val stage = TransformSpec("quality", Map(
      "rules" -> Seq(
        Map("kind" -> "not_null", "column" -> "text"),
        Map("kind" -> "bounds", "column" -> "n_chars",
          "lo" -> "0", "hi" -> "500")),
      "onViolation" -> "route", "deadLetterPath" -> dlq))
    val spec = PipelineSpec(name = "qy_route",
      source = SourceSpec("file",
        Map("path" -> s"$in/*", "format" -> "parquet")),
      transformations = Seq(stage),
      sink = SinkSpec("parquet", Map("path" -> out)),
      streaming = true)
    val q = PipelineRunner.runStream(spark, spec)
    try q.processAllAvailable() finally q.stop()
    val nDead = spark.read.parquet(dlq).count()
    val nClean = spark.read.parquet(s"$out/data").count()
    assert(nDead > 0, "route produced no dead-letter rows")
    assert(nDead + nClean == docs.count(), "rows lost in the split")
    // route without a deadLetterPath refuses BEFORE the query starts
    val e = intercept[IllegalArgumentException] {
      PipelineRunner.runStream(spark, spec.copy(name = "qy_bad",
        transformations = Seq(TransformSpec("quality", Map(
          "rules" -> Seq(Map("kind" -> "not_null", "column" -> "text")),
          "onViolation" -> "route")))))
    }
    assert(e.getMessage.contains("deadLetterPath"))
    // an unknown policy refuses too (previously it degraded silently)
    val e2 = intercept[IllegalArgumentException] {
      PipelineRunner.runStream(spark, spec.copy(name = "qy_bad2",
        transformations = Seq(TransformSpec("quality", Map(
          "rules" -> Seq(Map("kind" -> "not_null", "column" -> "text")),
          "onViolation" -> "explode")))))
    }
    assert(e2.getMessage.contains("onViolation"))
    GraftSession.release(spark)
  }

  test("batch route with a pinned runId overwrites its own run partition — exact replay is idempotent") {
    import graft.operators.Transforms
    import spark.implicits._
    val dlq = tmp("graft_qrun") + "/dead"
    val df = Seq(("a", 10L), (null, 500L)).toDF("k", "v")
    val stage = TransformSpec("quality", Map(
      "rules" -> Seq(Map("kind" -> "not_null", "column" -> "k")),
      "onViolation" -> "route", "deadLetterPath" -> dlq,
      "runId" -> "r42"))
    Transforms.apply(df, Seq(stage)).count()
    Transforms.apply(df, Seq(stage)).count() // the re-run
    assert(spark.read.parquet(dlq).count() == 1L,
      "re-running the same runId duplicated dead-letter rows")
    GraftSession.release(spark)
  }
}
