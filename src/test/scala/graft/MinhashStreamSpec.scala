package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, SizeGate}

/** The incremental minhash-dedup contract: folding in-order batches
  * produces EXACTLY the state one fold over everything would — each
  * doc's is_dup decision (band match + integer signature-estimate vs
  * all smaller ids) is arrival-immutable and split-invariant.
  */
class MinhashStreamSpec extends SparkSpec {

  private def canon(df: DataFrame) =
    df.select(col("id"), col("is_dup"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).sortBy(_._1).toSeq

  private lazy val docs = Tables.load(spark, sf, "documents")
    .select(col("doc_id"), col("text")).persist()
  private lazy val full =
    canon(Dedup.minhashDedupFold(None, docs, "doc_id", "text"))

  test("the single-fold state flags the corpus' planted near-dups") {
    assert(full.nonEmpty)
    assert(full.exists(_._2), "corpus has planted near-dups — none flagged")
    assert(full.exists(!_._2), "every doc flagged dup — estimate broken")
  }

  test("in-order id splits fold to the single-fold state") {
    val ids = docs.select(col("doc_id")).orderBy(col("doc_id"))
      .collect().map(_.getLong(0))
    val cut1 = ids(ids.length / 3); val cut2 = ids(2 * ids.length / 3)
    for (cuts <- Seq(Seq(ids(ids.length / 2)), Seq(cut1, cut2))) {
      val bounds = (Seq(Long.MinValue) ++ cuts ++ Seq(Long.MaxValue))
        .sliding(2).toSeq
      val state = bounds.foldLeft(Option.empty[DataFrame]) { case (prev, Seq(a, b)) =>
        val batch = docs.filter(col("doc_id") > a && col("doc_id") <= b)
        Some(Dedup.minhashDedupFold(prev, batch, "doc_id", "text").persist())
      }
      assert(canon(state.get) == full, s"fold over cuts $cuts diverged")
    }
    GraftSession.release(spark)
  }

  test("the per-batch probe broadcasts the batch side — history never shuffles") {
    val ids = docs.select(col("doc_id")).orderBy(col("doc_id"))
      .collect().map(_.getLong(0))
    val mid = ids(ids.length / 2)
    // SizeGate.distributed forces the PHASED engine path — the plan
    // this test pins; the small spec corpus would otherwise take the
    // round-18 unified single-task sweep, which has no probe join
    val next = SizeGate.distributed {
      val prev = Dedup.minhashDedupFold(None,
        docs.filter(col("doc_id") <= mid), "doc_id", "text").persist()
      prev.count()
      Dedup.minhashDedupFold(Some(prev),
        docs.filter(col("doc_id") > mid), "doc_id", "text")
    }
    val p = next.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      "the band probe must broadcast the batch side")
    assert(!p.contains("SortMergeJoin"),
      "history must stream through the probe without a sort-merge exchange")
    GraftSession.release(spark)
  }

  test("unified small-corpus sweep == phased engine, batch and split") {
    // the round-18 fixed-cost fast path must be decision-identical to
    // the phased plan it elides — whole-corpus fold AND a mid-split
    // fold (the boundary is where the history-index logic could
    // diverge from the phased history passes)
    val phasedFull = canon(SizeGate.distributed(
      Dedup.minhashDedupFold(None, docs, "doc_id", "text")))
    assert(phasedFull == full, "phased whole-corpus fold diverged")
    val mid = docs.agg(((min(col("doc_id")) + max(col("doc_id"))) / 2)
      .cast("long")).head().getLong(0)
    val prevU = Dedup.minhashDedupFold(None,
      docs.filter(col("doc_id") <= mid), "doc_id", "text").persist()
    val nextU = Dedup.minhashDedupFold(Some(prevU),
      docs.filter(col("doc_id") > mid), "doc_id", "text")
    val nextP = SizeGate.distributed {
      val prevP = Dedup.minhashDedupFold(None,
        docs.filter(col("doc_id") <= mid), "doc_id", "text").persist()
      Dedup.minhashDedupFold(Some(prevP),
        docs.filter(col("doc_id") > mid), "doc_id", "text")
    }
    assert(canon(nextU) == canon(nextP), "split fold diverged across paths")
    GraftSession.release(spark)
  }

  test("minhashDedupMaintained streams two files into the single-fold state") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mhstream").toString
    val mid = docs.agg(((min(col("doc_id")) + max(col("doc_id"))) / 2)
      .cast("long")).head().getLong(0)
    // one file per micro-batch, smallest ids first: the in-order contract
    docs.filter(col("doc_id") <= mid).coalesce(1)
      .write.parquet(s"$dir/in/b0")
    docs.filter(col("doc_id") > mid).coalesce(1)
      .write.parquet(s"$dir/in/b1")
    val stream = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .parquet(s"$dir/in/*")
    val q = graft.streaming.StreamingOps.minhashDedupMaintained(
      stream, "doc_id", "text", s"$dir/state", "mh_stream_spec")
    try q.processAllAvailable() finally q.stop()
    val vs = graft.streaming.StreamingOps.stateVersions(spark, s"$dir/state")
    assert(vs.size >= 2, s"expected >=2 folded micro-batches, got $vs")
    val finalState = graft.streaming.StreamingOps
      .latestState(spark, s"$dir/state").get
    assert(canon(finalState) == full)
    GraftSession.release(spark)
  }

  test("params pinned over an EMPTY state dir are stale — a divergent fold re-pins instead of being refused") {
    import graft.streaming.StreamingOps
    val dir = java.nio.file.Files.createTempDirectory("graft_mhpin").toString
    val state = s"$dir/state"
    // simulate a fold that pinned at construction and died before its
    // first batch commit: params present, zero committed versions
    StreamingOps.bindMinhashParams(spark, state, Seq(
      "numHashes" -> "128", "bands" -> "64", "tau" -> "1/4",
      "mode" -> "word", "n" -> "3"))
    assert(StreamingOps.stateVersions(spark, state).isEmpty)
    // a later fold with DIFFERENT banding on the still-empty dir must
    // not be refused — no dup decision was ever made under the stale
    // params (divergence over COMMITTED state still refuses, pinned
    // by the existing reconcile spec)
    docs.coalesce(1).write.parquet(s"$dir/in/b0")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in/*")
    val q = StreamingOps.minhashDedupMaintained(
      stream, "doc_id", "text", state, "mh_repin_spec",
      tauNum = 1, tauDen = 2)
    try q.processAllAvailable() finally q.stop()
    assert(canon(StreamingOps.latestState(spark, state).get) == full)
    // the stale pin was replaced by the fold's effective params
    val txt = scala.io.Source.fromFile(s"$state/_minhash_params").mkString
    assert(txt.contains("tau=1/2"), txt)
    GraftSession.release(spark)
  }

  test("a crashed reconcile's parked pre-image counts as state — divergent params still refuse") {
    import graft.streaming.StreamingOps
    val dir = java.nio.file.Files.createTempDirectory("graft_mhpark").toString
    val state = s"$dir/state"
    StreamingOps.bindMinhashParams(spark, state, Seq(
      "numHashes" -> "128", "bands" -> "64", "tau" -> "1/4"))
    // the reconcile crash window: v=* renamed away to _pre_*, pending
    // marker present, ZERO committed version dirs — the pre-image
    // holds REAL decisions, so the pin must NOT be treated as stale
    new java.io.File(s"$state/_pre_0").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$state/_reconcile_pending"), "0")
    val e = intercept[IllegalStateException] {
      StreamingOps.bindMinhashParams(spark, state, Seq("bands" -> "32"))
    }
    assert(e.getMessage.contains("bands=64"), e.getMessage)
  }

  test("a reconcile over a chained state equals a reconcile over the one-shot fold's state") {
    import graft.streaming.{StateDir, StreamingOps}
    val dir = java.nio.file.Files.createTempDirectory("graft_mhrec").toString
    val (chained, oneShot) = (s"$dir/chained", s"$dir/oneshot")
    // three files, oldest first: a base and two deltas
    val sorted = docs.select(col("doc_id")).collect().map(_.getLong(0)).sorted
    val Seq(c1, c2) = Seq(1, 2).map(i => sorted(i * sorted.length / 3))
    Seq(docs.filter(col("doc_id") < c1),
        docs.filter(col("doc_id") >= c1 && col("doc_id") < c2),
        docs.filter(col("doc_id") >= c2)).zipWithIndex.foreach { case (b, i) =>
      b.coalesce(1).write.parquet(s"$dir/in/b$i")
      new java.io.File(s"$dir/in/b$i").listFiles()
        .foreach(_.setLastModified(1000000000000L + i * 1000L))
    }
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in/*")
    val q = StreamingOps.minhashDedupMaintained(
      stream, "doc_id", "text", chained, "mh_reconcile_chain_spec")
    try q.processAllAvailable() finally q.stop()
    assert(StateDir(spark, chained).chain(2) == Seq(0L, 1L, 2L))
    StateDir(spark, oneShot).commit("v", 0)(
      Dedup.minhashDedupFold(None, docs, "doc_id", "text").write.parquet(_))
    Seq(chained, oneShot).foreach(StreamingOps.minhashDedupReconcile(spark, _))
    assert(canon(StreamingOps.latestState(spark, chained).get) ==
      canon(StreamingOps.latestState(spark, oneShot).get))
    assert(StateDir(spark, chained).chain(2) == Seq(2L),
      "the reconcile swaps a base in for the newest version")
    GraftSession.release(spark)
  }
}
