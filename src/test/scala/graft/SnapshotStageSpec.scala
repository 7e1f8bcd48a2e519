package graft

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Transforms}
import graft.pipeline.TransformSpec

/** The incremental (cross-snapshot) neardedup BATCH stage: sequential
  * snapshot folds reproduce the one-shot fold's survivor set, the
  * state versions accumulate, a replayed crawl refuses via the
  * id-order guard, and divergent banding refuses via the params pin.
  */
class SnapshotStageSpec extends SparkSpec {

  import graft.streaming.StreamingOps

  private lazy val docs = Tables.load(spark, sf, "documents")
    .select(col("doc_id"), col("text")).persist()

  private lazy val mid = docs.agg(expr("(min(doc_id) + max(doc_id)) DIV 2"))
    .head().getLong(0)
  private def lower = docs.filter(col("doc_id") <= mid)
  private def upper = docs.filter(col("doc_id") > mid)
  private lazy val maxLower = lower.agg(max(col("doc_id"))).head().getLong(0)

  private def snapshot(batch: DataFrame, state: String): DataFrame =
    StreamingOps.minhashDedupSnapshot(batch, "doc_id", "text", state)
  private def ids(df: DataFrame): Seq[Long] =
    df.select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
  private def stateRows(state: String): Seq[(Long, Boolean)] =
    StreamingOps.latestState(spark, state).get
      .select(col("id"), col("is_dup")).collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).sortBy(_._1).toSeq
  private def freshState(prefix: String): String =
    s"${java.nio.file.Files.createTempDirectory(prefix)}/state"
  private def fs =
    new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def copyDir(from: String, to: String): Unit =
    assert(FileUtil.copy(fs, new Path(from), fs, new Path(to), false,
      spark.sparkContext.hadoopConfiguration))

  private def ndSpec(stateDir: String, extra: (String, Any)*) =
    TransformSpec("neardedup", Map[String, Any](
      "id" -> "doc_id", "text" -> "text", "orderBy" -> "doc_id",
      "stateDir" -> stateDir) ++ extra)

  test("two sequential snapshot stages equal the one-shot fold's survivors") {
    val dir = java.nio.file.Files.createTempDirectory("graft_snap").toString
    val mid = docs.agg(expr("(min(doc_id) + max(doc_id)) DIV 2"))
      .head().getLong(0)
    val s1 = Transforms.apply(docs.filter(col("doc_id") <= mid),
      Seq(ndSpec(s"$dir/state")))
    val s2 = Transforms.apply(docs.filter(col("doc_id") > mid),
      Seq(ndSpec(s"$dir/state")))
    val got = (s1.select(col("doc_id")).collect() ++
      s2.select(col("doc_id")).collect()).map(_.getLong(0)).sorted.toSeq
    val want = Dedup.minhashDedupFold(None, docs, "doc_id", "text")
      .filter(!col("is_dup")).select(col("id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got === want)
    // two committed state versions, newest holds every doc's decision
    assert(StreamingOps.stateVersions(spark, s"$dir/state") === Seq(0L, 1L))
    assert(StreamingOps.latestState(spark, s"$dir/state").get.count() ===
      docs.count())
    GraftSession.release(spark)
  }

  test("replay/ordering/banding/ownership guards hold") {
    val dir = java.nio.file.Files.createTempDirectory("graft_snap_r").toString
    val first = Transforms.apply(docs, Seq(ndSpec(s"$dir/state")))
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    // an EXACT re-run of the newest crawl (a sink failure after the
    // state committed, or a plan built twice) is IDEMPOTENT: same
    // survivors back, nothing double-folds, no new version
    val again = Transforms.apply(docs, Seq(ndSpec(s"$dir/state")))
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(again === first)
    assert(StreamingOps.stateVersions(spark, s"$dir/state") === Seq(0L))
    // a PARTIAL overlap is a genuine ordering violation -> refusal
    val e = intercept[IllegalStateException] {
      StreamingOps.minhashDedupSnapshot(
        docs.limit(10), "doc_id", "text", s"$dir/state")
    }
    assert(e.getMessage.contains("non-decreasing id order"), e.getMessage)
    // a strict SUFFIX-SUBSET of the newest crawl (batch {11} after
    // crawl {10,11}) is partial overlap, NOT a replay: the version's
    // _crawl_min marker compares against the FULL crawl id set
    // (round 14 — ADVICE r13 finding 2)
    val mid = docs.agg(expr("(min(doc_id) + max(doc_id)) DIV 2"))
      .head().getLong(0)
    val e1b = intercept[IllegalStateException] {
      StreamingOps.minhashDedupSnapshot(
        docs.filter(col("doc_id") > mid), "doc_id", "text", s"$dir/state")
    }
    assert(e1b.getMessage.contains("non-decreasing id order"), e1b.getMessage)
    assert(StreamingOps.stateVersions(spark, s"$dir/state") === Seq(0L))
    // a later snapshot under different banding is refused by the pin
    val e2 = intercept[IllegalStateException] {
      StreamingOps.minhashDedupSnapshot(
        docs.select(col("doc_id") + 1000000L as "doc_id", col("text")),
        "doc_id", "text", s"$dir/state", tauNum = 7, tauDen = 8)
    }
    assert(e2.getMessage.contains("_minhash_params"), e2.getMessage)
    // the incremental stage demands the ascending-id survivor order
    intercept[IllegalArgumentException] {
      Transforms.apply(docs, Seq(TransformSpec("neardedup",
        Map[String, Any]("id" -> "doc_id", "text" -> "text",
          "orderBy" -> "doc_id DESC", "stateDir" -> s"$dir/state2"))))
    }
    GraftSession.release(spark)
  }

  test("one harness per state dir: snapshot refuses a stream's dir and vice versa") {
    // a dir carrying a streaming _checkpoint: snapshot versioning
    // (last+1) would collide with the stream's batch-id versions
    val sdir = java.nio.file.Files.createTempDirectory("graft_snap_o").toString
    new java.io.File(s"$sdir/state/_checkpoint").mkdirs()
    val e = intercept[IllegalStateException] {
      StreamingOps.minhashDedupSnapshot(docs, "doc_id", "text",
        s"$sdir/state")
    }
    assert(e.getMessage.contains("STREAMING fold"), e.getMessage)
    // a snapshot-owned dir: a stream folding over it would read the
    // last+1 versions as already-folded batch ids and skip data
    val sdir2 = java.nio.file.Files.createTempDirectory("graft_snap_o2").toString
    Transforms.apply(docs, Seq(ndSpec(s"$sdir2/state")))
    docs.coalesce(1).write.parquet(s"$sdir2/in/b0")
    val stream = spark.readStream.schema(docs.schema).parquet(s"$sdir2/in/*")
    val q = StreamingOps.minhashDedupMaintained(
      stream, "doc_id", "text", s"$sdir2/state", "snap_owned_spec")
    val e2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q.processAllAvailable() finally q.stop()
    }
    assert(e2.getMessage.contains("minhashDedupSnapshot") ||
      Option(e2.getCause).exists(_.getMessage.contains("minhashDedupSnapshot")),
      e2.getMessage)
    GraftSession.release(spark)
  }

  test("a batch reaching down to the recorded max id refuses with its overlap count") {
    val state = freshState("graft_snap_max")
    snapshot(lower, state)
    val rec = scala.io.Source.fromFile(s"$state/v=0/_state_max")
    try assert(rec.mkString == maxLower.toString) finally rec.close()
    val e = intercept[IllegalStateException] {
      snapshot(docs.filter(col("doc_id") >= maxLower), state)
    }
    assert(e.getMessage.contains(
      s"batch min id $maxLower is at or below 1 already-folded"), e.getMessage)
    assert(StreamingOps.stateVersions(spark, state) === Seq(0L))
    snapshot(upper, state)
    assert(StreamingOps.stateVersions(spark, state) === Seq(0L, 1L))
    // string ids: the same guard in their own (lexicographic) ordering
    def named(df: DataFrame) =
      df.select(format_string("d%08d", col("doc_id")).as("doc_id"), col("text"))
    val namedState = freshState("graft_snap_max_s")
    snapshot(named(lower), namedState)
    val es = intercept[IllegalStateException] {
      snapshot(named(docs.filter(col("doc_id") >= maxLower)), namedState)
    }
    assert(es.getMessage.contains(
      f"batch min id d$maxLower%08d is at or below 1 already-folded"), es.getMessage)
    snapshot(named(upper), namedState)
    assert(StreamingOps.stateVersions(spark, namedState) === Seq(0L, 1L))
    GraftSession.release(spark)
  }

  test("an exact replay of the newest crawl returns its survivors again") {
    val state = freshState("graft_snap_replay")
    snapshot(lower, state)
    val survivors = ids(snapshot(upper, state))
    val rows = stateRows(state)
    assert(ids(snapshot(upper, state)) === survivors)
    assert(StreamingOps.stateVersions(spark, state) === Seq(0L, 1L))
    assert(stateRows(state) === rows)
    GraftSession.release(spark)
  }

  test("a version without the max-id and schema record counts and infers, deciding as before") {
    val base = java.nio.file.Files.createTempDirectory("graft_snap_old").toString
    val (rec, old) = (s"$base/rec", s"$base/old")
    snapshot(lower, rec)
    copyDir(rec, old)
    Seq("_state_max", "_schema").foreach(f =>
      assert(fs.delete(new Path(s"$old/v=0/$f"), false)))
    val overlapping = docs.filter(col("doc_id") >= maxLower)
    val refusals = Seq(rec, old).map(st => intercept[IllegalStateException](
      snapshot(overlapping, st)).getMessage.replace(st, "<state>"))
    assert(refusals.head == refusals.last)
    assert(ids(snapshot(lower, old)) === ids(snapshot(lower, rec)))
    var (outRec, outOld) = (Option.empty[DataFrame], Option.empty[DataFrame])
    val jobsRec = jobsIn { outRec = Some(snapshot(upper, rec)) }
    val jobsOld = jobsIn { outOld = Some(snapshot(upper, old)) }
    assert(ids(outOld.get) === ids(outRec.get))
    assert(stateRows(old) === stateRows(rec))
    // at least one job each for the schema inference and the state count
    assert(jobsOld >= jobsRec + 2, s"the unrecorded version must take " +
      s"the inference and counting path ($jobsOld jobs vs $jobsRec recorded)")
    assert(fs.exists(new Path(s"$old/v=1/_state_max")) &&
      fs.exists(new Path(s"$old/v=1/_schema")), "the next version records again")
    GraftSession.release(spark)
  }

  test("a _staging_<v> left by a crash before the rename is not read as a version") {
    val base = java.nio.file.Files.createTempDirectory("graft_snap_crash").toString
    val (crashed, clean) = (s"$base/crashed", s"$base/clean")
    snapshot(lower, crashed)
    copyDir(crashed, clean)
    val want = ids(snapshot(upper, clean))
    // what a crash after the write and before the rename leaves behind,
    // for the next version and for a later number
    copyDir(s"$clean/v=1", s"$crashed/_staging_1")
    copyDir(s"$clean/v=1", s"$crashed/_staging_7")
    assert(StreamingOps.stateVersions(spark, crashed) === Seq(0L))
    assert(ids(snapshot(upper, crashed)) === want)
    assert(StreamingOps.stateVersions(spark, crashed) === Seq(0L, 1L))
    assert(stateRows(crashed) === stateRows(clean))
    GraftSession.release(spark)
  }

  test("a warm snapshot fold of a small batch onto a small state stays at its job floor") {
    // Jobs the fold may run: one id pass over the batch (it also fills
    // the batch's checkpoint), the signature repartition, the signature
    // fill and the single-task sweep, the state write (broadcast of the
    // decisions + the write) and the survivor semi-join (broadcast +
    // checkpoint). No schema inference, no state count, no history size
    // probe (the version records its row count) and no recount of the
    // batch.
    val Floor = 8
    val state = freshState("graft_snap_floor")
    val q = docs.agg(expr("(min(doc_id) * 3 + max(doc_id)) DIV 4")).head().getLong(0)
    snapshot(docs.filter(col("doc_id") <= q), state)
    snapshot(docs.filter(col("doc_id") > q && col("doc_id") <= mid), state)
    val jobs = jobsIn(snapshot(upper, state))
    assert(jobs <= Floor, s"a warm snapshot fold ran $jobs Spark jobs, " +
      s"above its floor of $Floor: the id pass, the signature repartition " +
      "and fill, the sweep, the state write (2) and the survivor semi-join " +
      "(2); a schema inference, a state count, a history probe or a batch " +
      "recount has crept back")
    GraftSession.release(spark)
  }

  test("a warm fold onto a chained state runs no more jobs than onto a base") {
    val q = docs.agg(expr("(min(doc_id) * 3 + max(doc_id)) DIV 4")).head().getLong(0)
    val (chained, based) = (freshState("graft_snap_chain"), freshState("graft_snap_base"))
    snapshot(docs.filter(col("doc_id") <= q), chained)
    snapshot(docs.filter(col("doc_id") > q && col("doc_id") <= mid), chained)
    snapshot(lower, based)
    val dir = graft.streaming.StateDir(spark, chained)
    assert(dir.chain(1) === Seq(0L, 1L) && StreamingOps.stateVersions(spark, based) === Seq(0L))
    var (outC, outB) = (Option.empty[DataFrame], Option.empty[DataFrame])
    val jobsChained = jobsIn { outC = Some(snapshot(upper, chained)) }
    val jobsBased = jobsIn { outB = Some(snapshot(upper, based)) }
    assert(jobsChained <= jobsBased, s"a fold onto a base and a delta ran " +
      s"$jobsChained jobs, onto a base alone $jobsBased")
    assert(ids(outC.get) === ids(outB.get))
    assert(stateRows(chained) === stateRows(based))
    GraftSession.release(spark)
  }

  test("a version without the row-count record probes the state, deciding as before") {
    val base = java.nio.file.Files.createTempDirectory("graft_snap_rows").toString
    val (rec, old) = (s"$base/rec", s"$base/old")
    snapshot(lower, rec)
    copyDir(rec, old)
    assert(fs.delete(new Path(s"$old/v=0/_state_rows"), false))
    var (outRec, outOld) = (Option.empty[DataFrame], Option.empty[DataFrame])
    val jobsRec = jobsIn { outRec = Some(snapshot(upper, rec)) }
    val jobsOld = jobsIn { outOld = Some(snapshot(upper, old)) }
    assert(ids(outOld.get) === ids(outRec.get))
    assert(stateRows(old) === stateRows(rec))
    assert(jobsOld === jobsRec + 1, s"the unrecorded version must take the " +
      s"one-job size probe ($jobsOld jobs vs $jobsRec recorded)")
    val recorded = scala.io.Source.fromFile(s"$rec/v=1/_state_rows")
    try assert(recorded.mkString.toLong === docs.count()) finally recorded.close()
    GraftSession.release(spark)
  }
}
