package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.IncrementalAgg
import graft.streaming.{StateDir, StreamingOps}

/** The Spark jobs of a warm streaming fold trigger: every state version
  * records its schema, and an append-only fold's its row count, so a
  * trigger reads its parent with no schema-inference job and the minhash
  * fold probes no history size. The input is sf0.01 `documents` and
  * `events` in 6 files, streamed one file per trigger.
  */
class FoldJobsSpec extends SparkSpec {

  private val sf01 = sf.replace("sf0.001", "sf0.01")
  private val Files6 = 6

  private lazy val docs = Tables.load(spark, sf01, "documents")
    .select(col("doc_id"), col("text")).persist()
  private lazy val events = Tables.events(spark, sf01)
    .select(col("event_id"), col("user_id"), col("event_type")).persist()

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Slice `i` of `df` cut into [[Files6]] ascending `idCol` ranges,
    * written as one parquet file under `in` with a modification time
    * that orders it after every earlier slice.
    */
  private def writeSlice(df: DataFrame, idCol: String, in: String, i: Int): Unit = {
    val sorted = df.select(col(idCol)).collect().map(_.getLong(0)).sorted
    val cuts = Long.MinValue +: (1 until Files6).map(k =>
      sorted(k * sorted.length / Files6)) :+ Long.MaxValue
    val out = f"$in/b$i%02d"
    df.filter(col(idCol) >= cuts(i) && col(idCol) < cuts(i + 1))
      .coalesce(1).write.parquet(out)
    Files.list(Paths.get(out)).iterator().asScala.foreach(
      _.toFile.setLastModified(1000000000000L + i * 1000L))
  }

  private def stream(df: DataFrame, in: String): DataFrame =
    spark.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$in/*")

  private val aggs = Seq(IncrementalAgg.Agg("n", "count", lit(1)),
    IncrementalAgg.Agg("ids", "sum", col("event_id")),
    IncrementalAgg.Agg("last", "max", col("event_id")))

  private def aggregate(in: String, state: String, name: String) =
    StreamingOps.materializedAggregate(stream(events, in), Seq("user_id"),
      aggs, state, name)

  private def dedup(in: String, state: String, name: String) =
    StreamingOps.minhashDedupMaintained(stream(docs, in), "doc_id", "text",
      state, name)

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString(",")).sorted.toSeq

  /** An aggregate stream over the 6 event files: its jobs per batch and
    * its state dir.
    */
  private lazy val aggregated: (Map[Long, Int], String) = {
    val base = tmp("foldjobs_agg")
    (0 until Files6).foreach(writeSlice(events, "event_id", s"$base/in", _))
    (jobsPerBatch(aggregate(s"$base/in", s"$base/state", "foldjobs_agg")),
      s"$base/state")
  }

  test("a warm materializedAggregate trigger runs 3 jobs") {
    val (jobs, _) = aggregated
    assert(jobs.keySet == (0L until Files6).toSet, jobs.toString)
    // the batch's partial aggregate and the merge (2), and the state write
    (1L until Files6).foreach(b => assert(jobs(b) == 3, s"batch $b: $jobs"))
  }

  test("a keyed fold's final state equals the one-shot aggregate") {
    val (_, state) = aggregated
    val got = StreamingOps.latestState(spark, state).get
    assert(StateDir(spark, state).read(s"v=${Files6 - 1}/_schema")
      .contains(got.schema.json), "a base records the schema it was written with")
    assert(!StateDir(spark, state).exists(s"v=${Files6 - 1}/_state_rows"),
      "only an append-only fold records its row count")
    val want = IncrementalAgg.partial(events, Seq("user_id"), aggs)
    assert(sorted(got.select(want.columns.map(col).toSeq: _*)) == sorted(want))
    GraftSession.release(spark)
  }

  test("a warm minhashDedupMaintained trigger runs 7 jobs") {
    val base = tmp("foldjobs_mh")
    (0 until Files6).foreach(writeSlice(docs, "doc_id", s"$base/in", _))
    val jobs = jobsPerBatch(dedup(s"$base/in", s"$base/state", "foldjobs_mh"))
    assert(jobs.keySet == (0L until Files6).toSet, jobs.toString)
    // the batch count (it fills the signature persist), the signature
    // repartition, the single-task sweep, the decision broadcast and the
    // delta write: no schema inference and no history size probe
    (1L until Files6).foreach(b => assert(jobs(b) == 7, s"batch $b: $jobs"))
    val dir = StateDir(spark, s"$base/state")
    assert(dir.read(s"v=${Files6 - 1}/_state_rows").contains(docs.count().toString))
    GraftSession.release(spark)
  }

  test("a stream resumed over unrecorded versions infers and counts once, deciding as before") {
    val base = tmp("foldjobs_old")
    val (in, rec, old) = (s"$base/in", s"$base/rec", s"$base/old")
    (0 until 3).foreach(writeSlice(docs, "doc_id", in, _))
    val first = jobsPerBatch(dedup(in, rec, "foldjobs_rec"))
    assert(first.keySet == Set(0L, 1L, 2L), first.toString)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(base).getFileSystem(conf)
    assert(FileUtil.copy(fs, new Path(rec), fs, new Path(old), false, conf))
    // versions as written before the records: no schema, no row count
    StateDir(spark, old).versions.foreach(v => Seq("_schema", "_state_rows")
      .foreach(r => assert(fs.delete(new Path(s"$old/v=$v/$r"), false))))
    (3 until Files6).foreach(writeSlice(docs, "doc_id", in, _))
    val jobsRec = jobsPerBatch(dedup(in, rec, "foldjobs_rec"))
    val jobsOld = jobsPerBatch(dedup(in, old, "foldjobs_old"))
    assert(jobsRec.keySet == Set(3L, 4L, 5L), jobsRec.toString)
    assert(jobsOld.keySet == jobsRec.keySet, jobsOld.toString)
    assert(jobsOld(3) == jobsRec(3) + 2, s"the first resumed trigger reads " +
      s"an unrecorded parent: one inference and one count job ($jobsOld " +
      s"against $jobsRec)")
    assert(jobsOld(4) == jobsRec(4) && jobsOld(5) == jobsRec(5),
      s"the versions it wrote record again ($jobsOld against $jobsRec)")
    def state(dir: String) = sorted(StreamingOps.latestState(spark, dir).get
      .select(col("id"), col("is_dup")))
    assert(state(old) == state(rec))
    assert(StateDir(spark, old).read("v=5/_state_rows") ==
      StateDir(spark, rec).read("v=5/_state_rows"))
    GraftSession.release(spark)
  }
}
