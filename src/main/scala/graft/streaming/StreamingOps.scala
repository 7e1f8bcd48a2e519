package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

case class EventRow(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)
case class SessionState(startUs: Long, endUs: Long, n: Long)
case class SessionOut(user_id: Long, start_us: Long, end_us: Long, n_events: Long)

/** Structured Streaming operators (SURVEY.md §2.7) — the engine's
  * streaming surface over the same event schema the batch queries use.
  * The reference's whole pipeline model is streaming (Jet StreamStage);
  * here batch and stream share the Transforms/Sources/Sinks layers and
  * these ops add event-time semantics Jet's surface lacked.
  */
object StreamingOps {

  /** Streaming read of the events table (ns timestamps handled as in
    * Tables.events); schema comes from a batch probe. Note: the table is
    * a single file, so local tests see exactly one micro-batch.
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batch = spark.read.parquet(s"$dir/events.parquet")
    // the table is a single file; a streaming file source needs a
    // directory, so stream the parent with a glob on the table file
    graft.Tables.normalizeEventTs(
      spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
  }

  /** Tumbling event-time window aggregation with a watermark — late data
    * beyond the watermark is dropped, state is bounded.
    */
  def windowedCounts(events: DataFrame, windowLen: String,
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("min_val"), max(col("value")).as("max_val"))

  /** Tumbling-window DISTINCT counting in a stream via mergeable HLL
    * sketch state: the state store holds a few-KB sketch buffer per
    * window — bounded regardless of key cardinality, where a
    * distinct-set state would grow with the data. In the sketch's exact
    * (coupon) range the emitted estimate equals the true distinct count;
    * the emitted sketch column re-merges with batch partials
    * (`operators.Sketches`) for lambda-free backfills.
    */
  def windowedDistinct(events: DataFrame, keyCol: String, windowLen: String,
      watermark: String = "1 hour", lgK: Int = 14): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen))
      .agg(hll_sketch_agg(col(keyCol), lit(lgK)).as("hll_sketch"))
      .select(col("window"),
        hll_sketch_estimate(col("hll_sketch")).as("distinct_est"),
        col("hll_sketch"))

  /** Tumbling-window heavy hitters in a stream via mergeable
    * frequent-items sketch state (the [[windowedDistinct]] recipe
    * applied to the other classic unbounded-state aggregate): the
    * state store holds one ≤maxMapSize-entry sketch per window —
    * bounded at ANY key cardinality, where an exact per-key count
    * table grows with the data. In the sketch's exact regime
    * (distinct keys < 0.75·maxMapSize) the emitted top-k equals the
    * true count ranking (est desc, item asc — the sketch_freq_topk
    * tie order); beyond it the Misra-Gries error bound applies with
    * no change in shape. The raw sketch column re-merges with batch
    * partials for lambda-free backfills, like the HLL op.
    */
  def windowedTopK(events: DataFrame, keyCol: String, windowLen: String,
      watermark: String = "1 hour", maxMapSize: Int = 512,
      k: Int = 5): DataFrame = {
    import graft.functions.GraftFunctions.{freq_sketch_agg, freq_sketch_topk}
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen))
      .agg(freq_sketch_agg(col(keyCol).cast("string"), maxMapSize)
        .as("freq_sketch"))
      .select(col("window"), col("freq_sketch"),
        freq_sketch_topk(col("freq_sketch"), k).as("topk"))
  }

  /** Native session windows (Spark's session_window): per-user sessions
    * close after `gap` of event-time silence — the declarative twin of
    * [[sessionize]]'s flatMapGroupsWithState (which keeps explicit
    * control of state and emission). Works identically over batch
    * frames, which is how SessionWindowSpec cross-checks the two
    * formulations. State per open session only; the watermark retires
    * closed windows.
    */
  def sessionWindowAgg(events: DataFrame, gap: String,
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("first_ts")).as("first_us"),
        unix_micros(col("last_ts")).as("last_us"),
        col("n_events"))

  /** Stream-stream inner join: pair each left event with right events of
    * the same key whose timestamp falls in the preceding `windowSpec`
    * (e.g. "1 hour"). Watermarks on both sides bound the join state —
    * the streaming twin of operators.RangeJoin, and the op Jet's surface
    * expressed as a plain keyed stream join without event-time bounds.
    */
  def streamStreamWindowJoin(left: DataFrame, right: DataFrame,
      keyCol: String, tsCol: String, windowSpec: String,
      watermark: String = "2 hours", idCol: String = "event_id",
      joinType: String = "inner"): DataFrame = {
    val l = left.select(col(keyCol).as("l_key"), col(tsCol).as("l_ts"),
        col(idCol).as("l_id"))
      .withWatermark("l_ts", watermark)
    val r = right.select(col(keyCol).as("r_key"), col(tsCol).as("r_ts"),
        col(idCol).as("r_id"))
      .withWatermark("r_ts", watermark)
    // left_outer/full_outer emit the null-matched side once the
    // watermark proves no future match can arrive — the join state
    // stays bounded by the same event-time window either way
    l.join(r, expr(
      s"l_key = r_key AND r_ts BETWEEN l_ts - INTERVAL $windowSpec AND l_ts"),
      joinType)
  }

  /** Stream-static enrichment join: each micro-batch joins against a
    * batch dimension table. The static side is broadcast per batch —
    * at 100 TB/day of stream this is the only join shape that needs no
    * stream-side shuffle or state at all (vs stream-stream joins, whose
    * state grows with the watermark).
    */
  def streamStaticJoin(stream: DataFrame, dim: DataFrame,
      keyCol: String): DataFrame =
    stream.join(broadcast(dim), keyCol)

  /** Streaming exact KEY dedup: keep the first row per key, with the
    * watermark bounding how long a key is remembered — the streaming
    * form of Dedup.exact. State is O(distinct keys within the
    * watermark).
    */
  def streamingDedup(stream: DataFrame, keyCols: Seq[String],
      tsCol: String, watermark: String): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** foreachBatch idempotent upsert sink: each micro-batch merges into a
    * parquet target keyed by `keyCols` — existing rows win (first-write
    * semantics), so replayed batches (at-least-once delivery) leave the
    * target unchanged. The swap through a staging directory keeps the
    * target readable mid-merge. The batch-id-based shape is exactly
    * Spark's documented exactly-once-sink recipe; at scale the target
    * would be a transactional table format, same loop body.
    */
  def upsertSink(stream: DataFrame, targetDir: String,
      keyCols: Seq[String], name: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream.queryName(name.replaceAll("\\W", "_"))
      .option("checkpointLocation", s"$targetDir/_checkpoint")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val dir = StateDir(spark, targetDir)
        val staged = batch.dropDuplicates(keyCols)
        val merged =
          if (dir.exists("data"))
            spark.read.parquet(dir.path("data")).unionByName(staged)
              .dropDuplicates(keyCols)
          else staged
        merged.write.mode("overwrite").parquet(dir.path("_staging"))
        dir.delete("data")
        dir.move("_staging", "data")
      }.start()

  /** Stateful sessionization via flatMapGroupsWithState: per-user state
    * holds the open session; a gap > `gapMinutes` closes and emits it.
    * Emits only *closed* sessions (append mode); the final open session
    * per user stays in state — at 100 TB this is the only formulation
    * whose state is O(users), not O(events).
    */
  def sessionize(events: Dataset[EventRow], gapMinutes: Int): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L

    def micros(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, rows: Iterator[EventRow], state: GroupState[SessionState]) => {
          val sorted = rows.map(e => micros(e.ts)).toArray.sorted
          var cur = state.getOption
          val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
          sorted.foreach { us =>
            cur match {
              // late events: inside [start-gap, end+gap] extend the open
              // session without regressing its bounds; older than that
              // they cannot belong to it (or to an already-emitted one —
              // append mode cannot revise history) -> emit as a singleton
              case Some(s) if us < s.startUs - gapUs =>
                closed += SessionOut(user, us, us, 1)
              case Some(s) if us - s.endUs <= gapUs =>
                cur = Some(s.copy(startUs = math.min(s.startUs, us),
                  endUs = math.max(s.endUs, us), n = s.n + 1))
              case Some(s) =>
                closed += SessionOut(user, s.startUs, s.endUs, s.n)
                cur = Some(SessionState(us, us, 1))
              case None =>
                cur = Some(SessionState(us, us, 1))
            }
          }
          cur.foreach(state.update)
          closed.iterator
        })
  }

  /** Streaming materialized aggregate: maintains an
    * [[graft.operators.IncrementalAgg]] partial-state table under
    * `stateDir`, folding each micro-batch's delta into the previous
    * state. State versions are keyed by BATCH ID (`v=<id>`), which
    * makes replay exactly-once: a restarted query re-delivers a batch
    * with the same id, the version directory already exists, and the
    * fold is skipped — the same recipe as the upsert sink above, but
    * for aggregation state. A version is written to a staging path and
    * RENAMED into place (one atomic filesystem op), so a crash
    * mid-write can never leave a half-version that masks its own
    * replay — readers and the replay check only ever see complete
    * versions. All paths go through the Hadoop FileSystem API, so
    * hdfs:///s3a:// state dirs behave like local ones. Superseded
    * versions beyond the last `retainVersions` are pruned after each
    * fold — on-disk footprint is O(retainVersions × keys), however
    * much data streamed by.
    */
  def materializedAggregate(stream: DataFrame, keys: Seq[String],
      aggs: Seq[graft.operators.IncrementalAgg.Agg], stateDir: String,
      name: String, retainVersions: Int = 2): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.IncrementalAgg
    versionedStateSink(stream, stateDir, name, retainVersions) { (prev, batch) =>
      val delta = IncrementalAgg.partial(batch, keys, aggs)
      prev.fold(delta)(p => IncrementalAgg.merge(p, delta, keys, aggs))
    }
  }

  /** Streaming SCD2 dimension maintenance: folds each micro-batch of
    * events into a versioned [[graft.operators.Scd2]] dimension table
    * under `stateDir` — the warehouse "type-2 dimension kept current
    * from the event stream" pattern. Per-batch work is O(batch +
    * affected users), never O(history): closed versions are immutable,
    * only affected users' open rows rewrite. In-order arrival per user
    * is the contract (the same assumption a watermarked append stream
    * makes); the exactly-once replay/reset guards are the shared
    * [[versionedStateSink]] harness. Final state == the batch
    * `Scd2.runs` over everything streamed, proven in Scd2Spec.
    */
  def scd2Maintained(events: DataFrame, stateDir: String,
      name: String, retainVersions: Int = 2): org.apache.spark.sql.streaming.StreamingQuery =
    versionedStateSink(events, stateDir, name, retainVersions) { (prev, batch) =>
      graft.operators.Scd2.mergeFold(prev, batch.toDF())
    }

  /** Streaming near-dup dedup — the LLM-ingest minhash use: each
    * micro-batch of documents is flagged against all previously
    * streamed history via [[graft.operators.Dedup.minhashDedupFold]]
    * (per-band bucket probe + integer signature-estimate verify; state
    * is ~1KB/doc signatures, never text). Non-decreasing id arrival is
    * the contract (the scd2Maintained discipline); the exactly-once
    * replay/reset guards are the shared [[versionedStateSink]]
    * harness. The fold is append-only (a decided row never changes),
    * so each micro-batch commits only its own rows as a delta version
    * and a trigger writes O(batch), not O(state); `retainVersions`
    * keeps the newest versions together with their whole chains.
    * Final state == one fold over everything streamed, proven in
    * MinhashStreamSpec and, across a compaction, in StateDirSpec.
    */
  def minhashDedupMaintained(docs: DataFrame, idCol: String,
      textCol: String, stateDir: String, name: String,
      retainVersions: Int = 2, mode: String = "word", n: Int = 3,
      bands: Int = 0, tauNum: Int = 1,
      tauDen: Int = 2): org.apache.spark.sql.streaming.StreamingQuery = {
    // bands = 0 ("derive from tau") is the safe default: a fixed band
    // count independent of the threshold silently loses candidate
    // recall at moderate tau (see minhashDedupFold) — direct API
    // callers now get the same recall-preserving banding the YAML
    // stage derives. The EFFECTIVE banding is pinned in the state
    // dir's _minhash_params: a resume (or a reconcile) under different
    // candidate-generation params than the state was folded with is a
    // correctness bug (a coarser reconcile could UNMARK
    // previously-decided dups), so it refuses instead of drifting —
    // the default-change hazard is now enforced, not a scaladoc note.
    val bandsEff =
      graft.operators.Dedup.effectiveBands(128, bands, tauNum, tauDen)
    bindMinhashParams(docs.sparkSession, stateDir, Seq(
      "numHashes" -> "128", "bands" -> bandsEff.toString,
      "tau" -> s"$tauNum/$tauDen", "mode" -> mode, "n" -> n.toString))
    versionedStateSink(docs, stateDir, name, retainVersions,
        appendOnly = true) { (prev, batch) =>
      graft.operators.Dedup.minhashDedupFoldCounted(prev, batch.toDF(),
        None, None, idCol, textCol, mode, n, 128, bandsEff, tauNum, tauDen)
    }
  }

  /** Pin/validate minhash candidate-generation params in a state dir.
    * First writer records them (`_minhash_params`, staged + renamed);
    * every later fold resume or reconcile validates the keys it knows
    * against the stored values and REFUSES on mismatch — state folded
    * under one banding must never be extended or reconciled under
    * another (a coarser banding generates a candidate SUBSET, so a
    * reconcile could silently unmark decided dups). Keys the stored
    * file lacks (a reconcile pins only numHashes/bands/tau; the fold
    * also knows mode/n) are appended on the next bind.
    */
  private[graft] def bindMinhashParams(spark: SparkSession, stateDir: String,
      params: Seq[(String, String)]): Unit = {
    val dir = StateDir(spark, stateDir)
    // params pinned over a dir with NO committed state version are
    // STALE (a fold that failed before its first batch commit, or a
    // construction-time pin of a query that never started): no dup
    // decision was ever made under them, so a later fold with
    // different banding must re-pin, not be refused — the same rule
    // minhashDedupReconcile applies by only binding when state exists.
    // A crashed reconcile's PARKED pre-image counts as state: between
    // its rename(v -> _pre_v) and the staged swap, v=* dirs are gone
    // but _pre_* holds REAL committed decisions — treating that
    // window as empty would let a divergent bind overwrite the pin
    // and a later repair+reconcile run coarser banding over it
    val parkedState = dir.exists("_reconcile_pending") ||
      dir.glob("_pre_*").nonEmpty
    val stored: Map[String, String] =
      if (dir.versions.isEmpty && !parkedState) Map.empty
      else dir.read("_minhash_params").fold(Map.empty[String, String])(StateDir.parse)
    params.foreach { case (k, v) =>
      stored.get(k).foreach { sv =>
        if (sv != v) throw new IllegalStateException(
          s"state at $stateDir was built with $k=$sv but this " +
            s"fold/reconcile requests $k=$v — candidate generation " +
            "params must match the state's (_minhash_params) or dup " +
            "decisions drift; rerun with the stored params or use a " +
            "fresh stateDir.")
      }
    }
    val added = params.filterNot { case (k, _) => stored.contains(k) }
    if (added.nonEmpty || stored.isEmpty)
      dir.replace("_minhash_params", StateDir.format(stored.toSeq ++ added))
  }

  /** Batch reconcile of a [[minhashDedupMaintained]] state dir to the
    * batch stage's COMPONENT-MINIMA semantics. The incremental fold's
    * survivor rule is neighbor-minima ("no smaller-id near-duplicate
    * had streamed by"): on a transitive chain A~B, B~C, A≁C where the
    * bridge B carries the largest id, the fold keeps A AND C (C's only
    * neighbor has a larger id) while the batch neardedup stage's
    * connected components keep only A. This pass — run at a QUIET
    * point — rewrites the newest state version so is_dup = (id !=
    * component min id) over the pair graph the fold's own decision
    * rule generates ([[graft.operators.Dedup.sigEstimatePairs]]:
    * identical banding + signature-estimate verify, over signatures
    * already in state — no text needed), making the state equal to
    * what a single batch fold + CC over everything streamed would
    * produce. The pass reads the newest version's full state through
    * its chain and swaps a base in for it. The dup set only grows (the
    * fold never marks a component minimum dup: a smaller-id neighbor
    * implies a smaller component member). Params must match what the
    * fold ran with (defaults mirror the fold's) — ENFORCED against the
    * state dir's `_minhash_params` via [[bindMinhashParams]], not just
    * documented: a reconcile with coarser banding than the fold used
    * could UNMARK previously-decided dups.
    *
    * Crash discipline: the swap stages through `_reconcile_staging`,
    * parks the pre-image at `_pre_<v>`, and brackets both with a
    * `_reconcile_pending` marker. A crash mid-swap leaves the marker;
    * re-running this pass repairs (restores the pre-image if the
    * version dir is missing, clears leftovers) and redoes the
    * reconcile, while [[versionedStateSink]] REFUSES to resume folding
    * over a pending marker — the window can never silently lose a
    * version to the fold's below-newest fallback.
    */
  def minhashDedupReconcile(spark: SparkSession, stateDir: String,
      numHashes: Int = 128, bands: Int = 0, tauNum: Int = 1,
      tauDen: Int = 2): Unit = {
    require(spark.streams.active.isEmpty,
      s"minhashDedupReconcile($stateDir) must run at a quiet point: " +
        "stop every streaming query in this session first (the pass " +
        "rewrites the newest state version in place)")
    val dir = StateDir(spark, stateDir)
    // repair a crashed prior attempt before anything else. Repair is
    // TOTAL and MARKER-TEXT-INDEPENDENT: the parked _pre_* dirs are the
    // physical evidence of which version a crashed swap touched, so
    // repair derives every version from the glob — never from the
    // marker's contents (a torn legacy marker can hold a numeric
    // PREFIX of the real version, e.g. '1' of '12', and v=1 may exist
    // as an old retained version, so trusting parseable text could
    // "repair" the wrong version and strand the parked pre-image).
    // No pre-image at all means the live version was never touched,
    // so dropping the marker and staging restores the quiet state.
    if (dir.exists("_reconcile_pending")) {
      dir.glob("_pre_*").flatMap(_.stripPrefix("_pre_").toLongOption)
        .foreach { v =>
          if (!dir.exists(s"v=$v")) dir.move(s"_pre_$v", s"v=$v")
          dir.delete(s"_pre_$v")
        }
      dir.delete("_reconcile_staging")
      dir.delete("_reconcile_pending")
    }
    val bandsEff =
      graft.operators.Dedup.effectiveBands(numHashes, bands, tauNum, tauDen)
    dir.versions.lastOption.foreach { v =>
      // pin/validate params only when there IS state to reconcile: a
      // no-op reconcile on an empty dir must not pre-pin its defaults
      // and then refuse the first real fold's differing params
      bindMinhashParams(spark, stateDir, Seq(
        "numHashes" -> numHashes.toString, "bands" -> bandsEff.toString,
        "tau" -> s"$tauNum/$tauDen"))
      val sigs = dir.version(v).select(col("id"), col("sig"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pairs = graft.operators.Dedup.sigEstimatePairs(
        sigs, numHashes, bandsEff, tauNum, tauDen)
      val comp = graft.operators.Dedup.connectedComponents(
        sigs.select(col("id")), pairs)
      val reconciled = sigs.join(comp, Seq("id"))
        .select(col("id"), col("sig"),
          (col("component") =!= col("id")).as("is_dup"))
      // materialize the FULL result into staging before any rename
      // touches the live version
      dir.delete("_reconcile_staging")
      reconciled.write.mode("overwrite").parquet(dir.path("_reconcile_staging"))
      sigs.unpersist()
      // staged + renamed: a crash can leave the staging file or no
      // marker at all, never a zero-length marker (and repair above is
      // total even for legacy torn markers)
      dir.replace("_reconcile_pending", v.toString)
      dir.move(s"v=$v", s"_pre_$v")
      dir.move("_reconcile_staging", s"v=$v")
      dir.delete(s"_pre_$v")
      dir.delete("_reconcile_pending")
    }
  }

  /** BATCH face of [[minhashDedupMaintained]] — cross-snapshot
    * (incremental-crawl) dedup as a pipeline stage: fold ONE batch
    * (crawl N+1) against the pinned state PRIOR SNAPSHOT RUNS built
    * under `stateDir`, commit the batch's decided rows as the next
    * version (a delta over the newest, or every
    * [[StateDir.CompactEvery]]th version a base holding the whole
    * state), and return the batch's SURVIVORS (rows whose id was not
    * flagged against history or earlier-in-batch). Shares everything with the
    * streaming fold: the state layout (v=N parquet of
    * (id, sig, is_dup)), the `_minhash_params` pin (divergent banding
    * refuses), the pending-reconcile refusal, and
    * [[graft.operators.Dedup.minhashDedupFold]] itself — so
    * fold(old) + snapshot(new) == batch(old ∪ new) by
    * CrossSnapshotSpec's equivalence.
    *
    * OWNERSHIP: a state dir belongs to exactly ONE harness. The
    * streaming sink versions by BATCH ID; this versions by last+1 —
    * interleaving them would mint a version a resumed stream's next
    * micro-batch id collides with, and the sink's replay check would
    * silently SKIP that batch. The snapshot therefore refuses a dir
    * carrying a streaming `_checkpoint`, marks its own dirs
    * `_snapshot_owned`, and [[versionedStateSink]] refuses those.
    *
    * Exactly-once without streaming batch ids: the fold's
    * NON-DECREASING id contract doubles as the replay guard — BUT an
    * exact re-run of the newest crawl (a sink failure after the state
    * committed, or a plan built twice) is detected and returns the
    * committed survivors IDEMPOTENTLY instead of refusing; only a
    * genuinely out-of-order (or partially overlapping) snapshot
    * refuses. Each committed version carries a `_crawl_min` marker
    * (the folded batch's min id, renamed atomically with the version)
    * so the replay check compares against the FULL newest-crawl id
    * set — a strict suffix-subset of the newest crawl (batch {11}
    * after crawl {10,11}) is partial overlap and REFUSES. Versions
    * written before the marker existed fall back to the
    * at-or-above-batch-min heuristic, which accepts a suffix-subset
    * replay idempotently (documented legacy behavior). State writes
    * stage through `_staging_<v>` + rename; versions beyond
    * `retainVersions` prune unless a retained version's chain reads
    * them. The input batch localCheckpoints at entry so the min-id
    * guard, replay counts, the fold and the survivor semi-join all see
    * ONE consistent snapshot of a possibly mutable source directory; the survivors frame eagerly
    * localCheckpoints too (its source version dir is mutable state a
    * LATER snapshot may prune).
    *
    * What a version already knows is not recounted. ONE pass over the
    * batch (the job that fills its checkpoint) gives its row count,
    * which the fold engine takes instead of counting, and its min and
    * max id. Beside `_crawl_min`, each version records the state's max
    * id (`_state_max`), its row count (`_state_rows`: the parent's
    * plus the batch's) and the schema it was written with (`_schema`),
    * all committed by the same rename; an empty batch carries the max
    * forward. The newest version's state is read, and the survivors
    * re-read, with the recorded schema, so no read runs a
    * schema-inference job. The order guard compares the batch's min id
    * with the recorded max on the driver, and the fold engine takes the
    * recorded row count instead of probing the state's size. The state
    * is counted only when the batch reaches at or below that max (the
    * replay-or-refuse path, whose refusal reports the count) or when
    * the newest version records no max (versions written before the
    * record, or a state with no id yet); a version without a recorded
    * schema is read with inference and one without a recorded row
    * count is probed, as before.
    */
  def minhashDedupSnapshot(batch: DataFrame, idCol: String,
      textCol: String, stateDir: String, mode: String = "word", n: Int = 3,
      bands: Int = 0, tauNum: Int = 1, tauDen: Int = 2,
      retainVersions: Int = 2): DataFrame = {
    import org.apache.spark.sql.types.{DataType, StringType, StructType}
    import org.apache.spark.unsafe.types.UTF8String
    import graft.operators.Dedup
    val spark = batch.sparkSession
    val dir = StateDir(spark, stateDir)
    dir.refuseIf("_reconcile_pending")(
      s"state at $stateDir has an incomplete reconcile pass " +
        "(_reconcile_pending marker present) — re-run " +
        "minhashDedupReconcile to repair before folding a snapshot.")
    dir.refuseIf("_checkpoint")(
      s"state at $stateDir was built by a STREAMING fold (it has a " +
        "_checkpoint): snapshot versioning (last+1) would collide " +
        "with the stream's batch-id versions and a resumed stream " +
        "would silently skip a micro-batch. Keep one harness per " +
        "state dir; to switch to snapshots, copy the newest version " +
        "into a fresh dir.")
    val bandsEff =
      graft.operators.Dedup.effectiveBands(128, bands, tauNum, tauDen)
    bindMinhashParams(spark, stateDir, Seq(
      "numHashes" -> "128", "bands" -> bandsEff.toString,
      "tau" -> s"$tauNum/$tauDen", "mode" -> mode, "n" -> n.toString))
    val last = dir.newest()
    def readMarker(name: String): Option[String] =
      last.flatMap(v => dir.read(s"v=$v/$name")).filter(_.nonEmpty)
    val lastSchema = readMarker("_schema")
      .map(j => DataType.fromJson(j).asInstanceOf[StructType])
    val prev = last.map(dir.version(_, lastSchema))
    // ONE consistent snapshot of the input for the whole guard+fold
    // lifetime: a file-source batch would otherwise be re-scanned by
    // every separate action below (the id pass, replay counts, the
    // fold, the survivor semi-join), and a source directory gaining a
    // file between the id pass and the fold could slip rows below the
    // checked min past the id-order guard. The id pass is the
    // checkpoint's first job and fills it.
    val snap = batch.localCheckpoint(false)
    try {
      // a batch's survivors are among the rows its version holds itself
      def survivorsFrom(v: Long, schema: Option[StructType]): DataFrame =
        snap.join(
            dir.ownRows(v, schema).filter(!col("is_dup"))
              .select(col("id").as(idCol)),
            Seq(idCol), "left_semi")
          .localCheckpoint(true)
      // the order guard compares ids in the id column's NATIVE
      // ordering — the same `<` the fold's smaller-id rule uses
      // (string ids compare lexicographically on both)
      val idT = snap.schema(idCol).dataType
      val (batchN, minB, maxB) = idStats(snap, idCol)
      def scalaId(v: Any) =
        org.apache.spark.sql.catalyst.CatalystTypeConverters
          .convertToScala(v, idT)
      prev.foreach { p =>
        // the newest version's recorded max id settles the guard on the
        // driver (integral or string ids); the state is counted only for
        // a batch that reaches down to it, or for a version without it
        val stateT = p.schema("id").dataType
        val atOrBelowMax = readMarker("_state_max").collect {
          case m if Dedup.integralId(stateT) && Dedup.integralId(idT) =>
            (v: Any) => v.asInstanceOf[Number].longValue <= m.toLong
          case m if stateT == StringType && idT == StringType =>
            (v: Any) => v.asInstanceOf[UTF8String]
              .compareTo(UTF8String.fromString(m)) <= 0
        }
        val overlap = minB match {
          case Some(mb) if atOrBelowMax.forall(_(mb)) =>
            p.filter(col("id") >= lit(scalaId(mb))).count()
          case _ => 0L
        }
        if (overlap > 0) {
          // exact re-run of the NEWEST committed crawl? -> idempotent:
          // return its survivors, fold nothing. The newest crawl's id
          // set is everything at-or-above its committed _crawl_min
          // marker; a batch matching only a SUFFIX of it is partial
          // overlap and refuses. Legacy versions without the marker
          // fall back to at-or-above-batch-min (suffix-subset replays
          // pass there — see scaladoc).
          val crawlFloor = readMarker("_crawl_min")
            .map(cm => lit(cm).cast(stateT))
            .getOrElse(lit(scalaId(minB.get)))
          val stateIds = p.filter(col("id") >= crawlFloor).select(col("id"))
          val batchIds = snap.select(col(idCol).as("id"))
          val isReplay =
            stateIds.unionByName(batchIds).distinct().count() ==
              batchIds.distinct().count() &&
            stateIds.count() == batchIds.distinct().count()
          if (isReplay) return survivorsFrom(last.get, lastSchema)
          throw new IllegalStateException(
            s"minhashDedupSnapshot($stateDir): batch min id " +
              s"${scalaId(minB.get)} is at or below $overlap already-folded " +
              "state id(s) and the batch is NOT an exact re-run of the " +
              "newest crawl — snapshots must arrive in non-decreasing " +
              "id order (the fold's smaller-id-decided contract). " +
              "Nothing was folded.")
        }
      }
      // the state's recorded size settles the engine's small-corpus
      // gate on the driver; a version without the record is probed
      val stateRows =
        if (last.isEmpty) Some(0L) else readMarker("_state_rows").map(_.toLong)
      val rows = Dedup.minhashDedupFoldCounted(prev, snap, Some(batchN),
        stateRows, idCol, textCol, mode, n, 128, bandsEff, tauNum, tauDen)
      val vNew = last.getOrElse(-1L) + 1L
      // the version's records ride the staging dir so the rename
      // commits them atomically with the version: `_crawl_min` is the
      // batch's min id and `_state_max` its max (a batch that passed the
      // order guard tops every state id); an EMPTY batch (null min)
      // carries the prior records forward. `_state_rows` adds the
      // batch's rows to the parent's record
      def carried(b: Option[Any], name: String) = b.map(scalaId(_).toString)
        .orElse(readMarker(name)).map(name -> _)
      dir.commitFold(vNew, last, carried(minB, "_crawl_min").toSeq ++
          Seq("_schema" -> rows.schema.json) ++ carried(maxB, "_state_max") ++
          stateRows.map(r => "_state_rows" -> (r + batchN).toString))(
        prev.fold(rows)(_.unionByName(rows)), Some(rows))
      // mark ownership so a streaming fold refuses this dir (see above)
      dir.createIfAbsent("_snapshot_owned", "1")
      dir.prune(retainVersions)
      // survivors of THIS batch, read from the committed version (never
      // the pre-write lineage): history rows don't re-emit
      survivorsFrom(vNew, Some(rows.schema))
    } finally {
      // drop the entry snapshot's RDD storage: every consumer above
      // eagerly materialized (head/count/localCheckpoint), so nothing
      // returned still reads it
      snap.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.unpersist(blocking = false)
        case _ => ()
      }
    }
  }

  /** `df`'s row count and the min and max of `idCol`, in ONE Spark job
    * with no shuffle (on a lazy checkpoint, the job that fills it). Min
    * and max are Catalyst values in the column's own ordering, with
    * nulls skipped as `min`/`max` skip them; None when no id is set.
    */
  private def idStats(df: DataFrame, idCol: String)
      : (Long, Option[Any], Option[Any]) = {
    import org.apache.spark.sql.catalyst.InternalRow
    val t = df.schema(idCol).dataType
    val ord = org.apache.spark.sql.catalyst.expressions
      .InterpretedOrdering.forSchema(Seq(t))
    val parts = df.select(col(idCol)).queryExecution.toRdd
      .mapPartitions { rows =>
        var n = 0L
        var lo, hi: InternalRow = null
        rows.foreach { r =>
          n += 1
          if (!r.isNullAt(0)) {
            if (lo == null || ord.lt(r, lo)) lo = r.copy()
            if (hi == null || ord.gt(r, hi)) hi = r.copy()
          }
        }
        Iterator.single((n, Option(lo), Option(hi)))
      }.collect()
    (parts.map(_._1).sum,
      parts.flatMap(_._2).reduceOption(ord.min(_, _)).map(_.get(0, t)),
      parts.flatMap(_._3).reduceOption(ord.max(_, _)).map(_.get(0, t)))
  }

  /** Streaming SEMANTIC dedup (SemDeDup incremental): arriving vectors
    * flag against all streamed history through
    * [[graft.operators.Dedup.semanticDedupFold]] — broadcast-centroid
    * cell assignment + within-cell exact cosine vs smaller ids. The
    * centroid frame is FIXED for the query's lifetime (train it
    * offline via Similarity.ivfFit — re-fitting mid-stream would
    * reassign history). Same in-order-id contract and
    * [[versionedStateSink]] guards as minhashDedupMaintained;
    * SemanticStreamSpec proves batch-replay equivalence.
    */
  def semanticDedupMaintained(vecs: DataFrame, idCol: String,
      vecCol: String, centroidDf: DataFrame, tau: Double,
      stateDir: String, name: String,
      retainVersions: Int = 2): org.apache.spark.sql.streaming.StreamingQuery =
    versionedStateSink(vecs, stateDir, name, retainVersions) { (prev, batch) =>
      // round-18 self-review: this fold is id-keyed state like its
      // siblings — a re-delivered or intra-batch duplicate id would
      // silently union duplicate (id, cell, emb, is_dup) rows into
      // state (and the assignment groupBy would pick a
      // nondeterministic first(emb) for intra-batch dups); refuse
      // loudly like knnGraphMaintained/contaminationMaintained
      refuseRedelivery(prev.map(_.select(col("id"))),
        batch.toDF().select(col(idCol).as("id")), stateDir,
        "semanticDedupMaintained", "folded",
        "re-delivery would duplicate state rows (decisions are pinned " +
          "on arrival)")
      graft.operators.Dedup.semanticDedupFold(
        prev, batch.toDF(), idCol, vecCol, centroidDf, tau)
    }

  /** Streaming ANN/IVF INDEX MANIFEST maintenance (round 9 — VERDICT
    * r8 task 4, the vector stack joining the versionedStateSink
    * family): arriving embeddings fold into the per-cell manifest
    * `ann_prepare` computes in batch — per cell: assigned/kept/dropped
    * counts and kept-member cosine/id extremes under the SemDeDup
    * keep-worst rule (the cell's duplicate group keeps its member with
    * the LOWEST centroid cosine at-or-above tau).
    *
    * The trick that makes this a bounded fold: the keep flag of an
    * individual vector can CHANGE as members arrive (a new lower-cos
    * duplicate takes over as keeper and the old keeper becomes
    * dropped), so per-vector flags don't fold — but the MANIFEST needs
    * only per-cell statistics that all merge associatively and
    * commutatively: additive counts (n_assigned, n_dup), the keeper as
    * min(struct(cos, vec_id)) over tau-or-above members, and min/max
    * extremes over below-tau members. Like qualityAuditMaintained (and
    * unlike the id-ordered dedup folds) ANY batch split in ANY order
    * folds to the same state — split-invariance is arithmetic, not an
    * arrival contract. Cosines are row-local against the broadcast
    * centroid frame, so each vector scores identically whichever batch
    * carries it — streamed state is BIT-equal to the batch manifest,
    * which AnnManifestStreamSpec asserts against the ann_prepare
    * computation. The centroid frame is fixed for the query's lifetime
    * (train offline via Similarity.ivfFit — the semanticDedupMaintained
    * contract); state is k rows, independent of stream length. Read the
    * manifest back with [[annManifest]].
    */
  def annManifestMaintained(vecs: DataFrame, idCol: String, vecCol: String,
      centroidDf: DataFrame, tau: Double, stateDir: String, name: String,
      retainVersions: Int = 2): org.apache.spark.sql.streaming.StreamingQuery =
    versionedStateSink(vecs, stateDir, name, retainVersions) { (prev, batch) =>
      val delta = cellManifestStats(batch.toDF(), idCol, vecCol, centroidDf, tau)
      prev.fold(delta)(p => mergeCellManifestStats(p.unionByName(delta)))
    }

  /** Per-cell foldable statistics for one embedding micro-batch:
    * argmax-cosine cell assignment (map-side partial max(struct), ties
    * to the lowest cid — the dedup_semantic discipline), then one
    * groupBy(cid) of sums/mins/maxes.
    */
  private def cellManifestStats(df: DataFrame, idCol: String,
      vecCol: String, centroidDf: DataFrame, tau: Double): DataFrame = {
    import graft.functions.GraftFunctions.cosine_sim
    val assigned = df.crossJoin(broadcast(centroidDf))
      .select(col(idCol).as("__vid"),
        struct(cosine_sim(col(vecCol), col("cv")).as("cos_c"),
          (lit(0L) - col("cid")).as("negcid")).as("m"))
      .groupBy(col("__vid")).agg(max(col("m")).as("m"))
      .select(col("__vid"), (lit(0L) - col("m.negcid")).as("cid"),
        col("m.cos_c").as("cos_c"))
    assigned.groupBy(col("cid")).agg(
      count(lit(1)).as("n_assigned"),
      sum(when(col("cos_c") >= tau, 1L).otherwise(0L)).as("n_dup"),
      min(when(col("cos_c") >= tau,
        struct(col("cos_c"), col("__vid").as("vec")))).as("keeper"),
      min(when(col("cos_c") < tau, col("cos_c"))).as("min_cos_below"),
      max(when(col("cos_c") < tau, col("cos_c"))).as("max_cos_below"),
      min(when(col("cos_c") < tau, col("__vid"))).as("min_vec_below"),
      max(when(col("cos_c") < tau, col("__vid"))).as("max_vec_below"))
  }

  /** Merge of [[cellManifestStats]] frames: every column folds by
    * sum/min/max (aggregates skip nulls; struct min is lexicographic).
    */
  private def mergeCellManifestStats(u: DataFrame): DataFrame =
    u.groupBy(col("cid")).agg(
      sum(col("n_assigned")).as("n_assigned"),
      sum(col("n_dup")).as("n_dup"),
      min(col("keeper")).as("keeper"),
      min(col("min_cos_below")).as("min_cos_below"),
      max(col("max_cos_below")).as("max_cos_below"),
      min(col("min_vec_below")).as("min_vec_below"),
      max(col("max_vec_below")).as("max_vec_below"))

  /** The ann_prepare-shaped manifest from an [[annManifestMaintained]]
    * state frame. Derivations from the foldable stats: the duplicate
    * group keeps exactly one member (its keeper) when non-empty;
    * below-tau cosines are all < tau <= the keeper's cosine, so the
    * kept-cosine extremes compose by coalesce (least/greatest skip
    * nulls for the id extremes).
    */
  def annManifest(state: DataFrame): DataFrame =
    state.select(col("cid"), col("n_assigned"),
      (col("n_assigned") - col("n_dup") +
        when(col("n_dup") > 0L, 1L).otherwise(0L)).as("n_kept"),
      when(col("n_dup") > 0L, col("n_dup") - 1L).otherwise(0L).as("n_dropped"),
      coalesce(col("min_cos_below"), col("keeper.cos_c")).as("min_cos_kept"),
      coalesce(col("keeper.cos_c"), col("max_cos_below")).as("max_cos_kept"),
      least(col("min_vec_below"), col("keeper.vec")).as("min_vec_kept"),
      greatest(col("max_vec_below"), col("keeper.vec")).as("max_vec_kept"))

  /** Incremental k-NN-GRAPH maintenance (round 17 — VERDICT r16
    * task 2): arriving vectors update the degree-`degree` graph
    * [[graft.operators.Similarity.knnGraph]] builds in batch, under
    * the SAME rule (primary-cell storage, nprobe-cell probing,
    * top-degree by (cos desc, id asc), self excluded) — a real
    * deployment maintains the graph as the corpus grows, it does not
    * rebuild its 4-of-top-5-expensive-queries index per crawl.
    *
    * Why this folds exactly: a vector's CANDIDATE set — stored
    * vectors in its probed cells — only ever GROWS as the corpus
    * arrives, and its edges are the top-degree of that set under a
    * deterministic total order. So keeping the current top-degree
    * edges per vector is a sound monotone fold: a candidate once
    * dropped sits below `degree` better candidates that never leave,
    * hence can never re-enter; merging the kept edges with each
    * batch's NEW candidates and re-taking the top-degree equals the
    * batch build over everything (KnnGraphStreamSpec, interleaved +
    * order-reversed splits). No arrival-order contract — the
    * arithmetic split-invariance class.
    *
    * Per batch, two candidate passes — work is O(batch·k +
    * batch·cell-occupancy + history-scan), never O(history²):
    * (1) NEW vectors probe the stored pool (history members + this
    * batch's, cell-keyed join, batch side broadcast); (2) OLD vectors
    * whose probed cells received new members re-rank against just the
    * NEW arrivals (history streams through one cell join against the
    * broadcast batch). State is a union-schema frame (the
    * transitionCountsMaintained pattern): kind='v' member rows
    * (id, vec, cell, probes) — the graph needs vectors to rank, so
    * member rows are the inherent state — and kind='e' edge rows
    * (id, nbr_id, cos), ≤ degree per vector. The centroid frame is
    * fixed for the query's lifetime (train offline via
    * Similarity.ivfFit — the annManifestMaintained contract). Read
    * the graph back with [[knnGraphCurrent]].
    */
  def knnGraphMaintained(vecs: DataFrame, idCol: String, vecCol: String,
      centroidDf: DataFrame, stateDir: String, name: String,
      degree: Int = 3, nprobe: Int = 2, retainVersions: Int = 2)
      : org.apache.spark.sql.streaming.StreamingQuery =
    versionedStateSink(vecs, stateDir, name, retainVersions) { (prev, batch) =>
      import graft.functions.GraftFunctions.cosine_sim
      // LOUD refusal on contract breaches (round 18, ADVICE r17 —
      // the late-day-refusal discipline): a vec_id re-delivered in a
      // later micro-batch (or duplicated within one) would silently
      // accumulate duplicate member and edge rows, and the monotone
      // candidate-set argument behind the fold no longer holds (an
      // updated embedding would need history edges REMOVED).
      refuseRedelivery(
        prev.map(_.filter(col("kind") === "v").select(col("id"))),
        batch.toDF().select(col(idCol).as("id")),
        stateDir, "knnGraphMaintained", "folded",
        "re-delivery (or an embedding update) cannot fold: history " +
          "edges ranked against the OLD vector would need removal")
      val ranked = graft.operators.Similarity.cellRanked(
        batch.toDF(), idCol, vecCol, centroidDf)
      val newPrim = ranked.filter(col("crk") === 1)
        .select(col(idCol).as("id"), col(vecCol).as("vec"),
          col("cid").as("cell"))
      val newProbes = ranked.filter(col("crk") <= nprobe)
        .select(col(idCol).as("id"), col(vecCol).as("vec"),
          col("cid").as("cell"))
      val oldV = prev.map(_.filter(col("kind") === "v"))
      val oldE = prev.map(_.filter(col("kind") === "e")
        .select(col("id"), col("nbr_id"), col("cos")))
      // stored pool for the NEW vectors' probes: history members
      // stream through the cell join, the batch side broadcasts
      val pool = oldV.map(_.select(col("id"), col("vec"), col("cell"))
        .unionByName(newPrim)).getOrElse(newPrim)
      val candNew = broadcast(newProbes
          .select(col("id"), col("vec").as("qv"), col("cell")))
        .join(pool.select(col("id").as("nbr_id"), col("vec").as("nv"),
          col("cell")), "cell")
        .filter(col("id") =!= col("nbr_id"))
        .select(col("id"), col("nbr_id"),
          cosine_sim(col("qv"), col("nv")).as("cos"))
      // OLD vectors re-rank against just the NEW arrivals stored in
      // their probed cells (probes = distinct cells, a new member has
      // ONE cell — at most one match per (id, nbr), no dedup needed)
      val candOld = oldV.map(_.select(col("id"),
          col("vec").as("qv"), explode(col("probes")).as("cell"))
        .join(broadcast(newPrim.select(col("id").as("nbr_id"),
          col("vec").as("nv"), col("cell"))), "cell")
        .filter(col("id") =!= col("nbr_id"))
        .select(col("id"), col("nbr_id"),
          cosine_sim(col("qv"), col("nv")).as("cos")))
      val allCand = (oldE.toSeq ++ Seq(candNew) ++ candOld.toSeq)
        .reduce(_ unionByName _)
      val wK = org.apache.spark.sql.expressions.Window
        .partitionBy(col("id")).orderBy(col("cos").desc, col("nbr_id").asc)
      val edges = allCand.withColumn("__rk", row_number().over(wK))
        .filter(col("__rk") <= degree).drop("__rk")
      val newMembers = newPrim.join(
        newProbes.groupBy(col("id"))
          .agg(sort_array(collect_list(col("cell"))).as("probes")), "id")
      val members = oldV.map(_.select(col("id"), col("vec"), col("cell"),
          col("probes")).unionByName(newMembers)).getOrElse(newMembers)
      members.withColumn("kind", lit("v"))
        .withColumn("nbr_id", lit(null).cast("long"))
        .withColumn("cos", lit(null).cast("double"))
        .unionByName(edges.withColumn("kind", lit("e"))
          .withColumn("vec", lit(null).cast(members.schema("vec").dataType))
          .withColumn("cell", lit(null).cast("long"))
          .withColumn("probes", lit(null).cast("array<long>")))
        .select(col("kind"), col("id"), col("vec"), col("cell"),
          col("probes"), col("nbr_id"), col("cos"))
    }

  /** The (id, nbr_id, cos, rk) graph from a [[knnGraphMaintained]]
    * state frame — [[graft.operators.Similarity.knnGraph]]'s output
    * contract (rk recomputed over the ≤degree kept edges per vector).
    */
  def knnGraphCurrent(state: DataFrame): DataFrame = {
    val wK = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("cos").desc, col("nbr_id").asc)
    state.filter(col("kind") === "e")
      .select(col("id"), col("nbr_id"), col("cos"))
      .withColumn("rk", row_number().over(wK).cast("long"))
  }

  /** The (vec_id, embedding) member frame of a [[knnGraphMaintained]]
    * state — paired with [[knnGraphCurrent]]'s edges these are
    * [[graft.operators.Similarity.graphBeamSearch]] inputs: the BATCH
    * consumer of the maintained graph (round 18 — VERDICT r17 task 3).
    * A deployment searches the state the stream keeps current instead
    * of re-running the n^1.5 graph build per query session — the
    * amortized form of the 4-of-top-5-expensive build class
    * (ann_graph_search / ef_curve / hier / trained all rebuild from
    * vectors when no maintained state exists). KnnGraphStreamSpec
    * proves the walk over the maintained graph is bit-equal to the
    * walk over the batch-built graph.
    */
  def knnGraphMembers(state: DataFrame): DataFrame =
    state.filter(col("kind") === "v")
      .select(col("id").as("vec_id"), col("vec").as("embedding"))

  /** Export a [[knnGraphMaintained]] state's edges as the DURABLE
    * pinned k-NN-graph artifact (round 19 — VERDICT r18 task 1: the
    * two representations of the same index meet). The maintained fold
    * and the batch build share one rule (KnnGraphStreamSpec: edge sets
    * bit-equal), so the exported edges ARE what
    * SimilarityQueries6.buildGraph would build from `sourceDir` —
    * batch graph consumers in any LATER session hit this artifact at
    * the shared address instead of re-running the n^1.5 build.
    *
    * Contract (validated where cheap, documented where not): the
    * state must have been fed exactly the vectors of `sourceDir`'s
    * embeddings table with vec_id >= minNodeId, under the centroid
    * convention named by `centroids` (the query layer's is
    * `id_below_<k>`) and the SAME (degree, nprobe) — the member
    * count is checked against the source (a partial crawl exporting as
    * the full corpus' index refuses); the params pin carries the rest
    * ([[graft.operators.ArtifactStore.knnGraphParams]], one definition
    * with the batch build). If the artifact already exists (a batch
    * session built it first), the params validate and the existing
    * artifact stands — same data + same rule = same graph.
    */
  def exportKnnGraphArtifact(spark: SparkSession, stateDir: String,
      sourceDir: String, degree: Int, nprobe: Int, minNodeId: Long,
      centroids: String, artifactId: String = "knn_graph_d6"): String = {
    val root = graft.GraftSession.indexRoot(spark).getOrElse(
      throw new IllegalStateException(
        "exportKnnGraphArtifact needs a durable index root — set " +
          "spark.graft.indexDir (or GRAFT_INDEX_DIR)"))
    // same refusal as the batch surfaces (ADVICE r19): a root nested
    // in the fingerprinted source dir re-addresses on every commit
    graft.operators.ArtifactStore.requireDisjointRoot(spark, root, sourceDir)
    val state = latestState(spark, stateDir).getOrElse(
      throw new IllegalStateException(
        s"no committed state versions under $stateDir — nothing to export"))
    val nMembers = state.filter(col("kind") === "v").count()
    val nSource = graft.Tables.load(spark, sourceDir, "embeddings")
      .filter(col("vec_id") >= minNodeId).count()
    if (nMembers != nSource) throw new IllegalStateException(
      s"state at $stateDir holds $nMembers members but $sourceDir has " +
        s"$nSource node vectors (vec_id >= $minNodeId) — an export must " +
        "cover exactly the source corpus or batch consumers would walk " +
        "a partial index")
    val fp = graft.operators.ArtifactStore.sourceFingerprint(spark, sourceDir)
    graft.operators.ArtifactStore.pinned(spark, root, artifactId, fp,
      graft.operators.ArtifactStore.knnGraphParams(
        degree, nprobe, minNodeId, centroids) :+ ("source" -> fp)) { base =>
      knnGraphCurrent(state)
        .select(col("id").as("src"), col("nbr_id").as("dst"))
        .write.parquet(s"$base/edges")
      // explicit member list beside the edges (round 20): the
      // freshness reader consults it instead of inferring membership
      // from edge srcs (an edge-less member would read stale forever)
      state.filter(col("kind") === "v")
        .select(col("id").cast("long").as("vec_id"))
        .write.parquet(s"$base/members")
    }
  }

  /** INDEX FRESHNESS report (round 20 — VERDICT r19 task 6,
    * completing the build/maintain/serve triangle): ONE row answering
    * "is the pinned artifact stale vs the live stream state?" — the
    * question a deployment running [[knnGraphMaintained]] beside
    * batch/serve consumers of [[exportKnnGraphArtifact]]'s address
    * must ask before trusting a walk. Compares the CURRENT maintained
    * state (member count, max vec_id, latest committed batch version)
    * against the committed artifact (distinct indexed nodes, max node
    * id, pinned source fingerprint): `n_unexported` counts members the
    * artifact has no out-edges for, and `is_fresh` is the exact
    * both-ways containment (every member indexed, no indexed node
    * outside the membership — a RE-fed state and a stale export both
    * trip it). Bounded output, O(|edges|) work: one aggregate over
    * each side plus an anti-join on the degree-bounded edge frame.
    * Refuses loudly when either side is missing — an absent state dir
    * or artifact is an operations fault, not a "fresh" report.
    */
  def annIndexFreshness(spark: SparkSession, stateDir: String,
      artifactPath: String): DataFrame = {
    val versions = stateVersions(spark, stateDir)
    if (versions.isEmpty) throw new IllegalStateException(
      s"no committed state versions under $stateDir — nothing to compare")
    val artifact = StateDir(spark, artifactPath)
    if (!artifact.exists("edges"))
      throw new IllegalStateException(
        s"$artifactPath holds no edges — not a committed knn-graph " +
          "artifact (run knnindex or exportKnnGraphArtifact first)")
    val stored = graft.operators.ArtifactStore
      .storedParams(spark, artifactPath)
    val members = latestState(spark, stateDir).get
      .filter(col("kind") === "v").select(col("id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the artifact's explicit member list when present (round 20 —
    // every producer now writes it): inferring membership from edge
    // srcs would report a legitimately edge-less member as unexported
    // FOREVER (a false-stale verdict no re-export can clear). The
    // distinct-src fallback only serves pre-members-layout artifacts.
    val idxNodes = (if (artifact.exists("members"))
      spark.read.parquet(s"$artifactPath/members")
        .select(col("vec_id").as("id"))
    else spark.read.parquet(s"$artifactPath/edges")
      .select(col("src").as("id")).distinct())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = members
      .agg(count(lit(1)).as("state_members"), max(col("id")).as("state_max_id"))
      .crossJoin(idxNodes.agg(count(lit(1)).as("artifact_nodes"),
        max(col("id")).as("artifact_max_id")))
      .crossJoin(members.join(idxNodes, Seq("id"), "left_anti")
        .agg(count(lit(1)).as("n_unexported")))
      .crossJoin(idxNodes.join(members, Seq("id"), "left_anti")
        .agg(count(lit(1)).as("n_orphaned")))
      .select(lit(versions.last).as("state_version"),
        col("state_members"), col("state_max_id"),
        col("artifact_nodes"), col("artifact_max_id"),
        col("n_unexported"), col("n_orphaned"),
        (col("n_unexported") === 0L && col("n_orphaned") === 0L)
          .as("is_fresh"),
        lit(stored.getOrElse("source", "")).as("artifact_source_fp"))
    // the report is a bounded single row — materialize it before
    // releasing the shared frames (the eager-snapshot contract)
    val rows = out.collect()
    members.unpersist(); idxNodes.unpersist()
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1), out.schema)
  }

  /** Streaming DECONTAMINATION screen (round 18 — VERDICT r17 task 6):
    * benchmark sets update rarely but corpora STREAM — each arriving
    * micro-batch of documents is screened against the FIXED broadcast
    * benchmark ([[graft.operators.Contamination.screen]]: distinct
    * n-gram overlap counts) and its per-doc evidence rows
    * (id, n_hit, n_grams) append to the state. The screen is row-LOCAL
    * against a fixed bench side, so per-batch screen + union is
    * exactly the whole-history screen — like qualityAuditMaintained,
    * split-invariance is arithmetic, no arrival-order contract.
    * A doc id seen twice (re-delivery or intra-batch duplicate)
    * refuses loudly: duplicate evidence rows would double-count a doc
    * in any downstream contamination-rate rollup. The bench frame is
    * fixed for the query's lifetime (a benchmark refresh is a new
    * state dir — the centroid-frame contract). Read back with
    * [[latestState]]; ContaminationStreamSpec proves streamed state ==
    * one-pass batch screen.
    */
  def contaminationMaintained(docs: DataFrame, idCol: String,
      textCol: String, bench: DataFrame, n: Int, stateDir: String,
      name: String, retainVersions: Int = 2)
      : org.apache.spark.sql.streaming.StreamingQuery =
    versionedStateSink(docs, stateDir, name, retainVersions) { (prev, batch) =>
      val b = batch.toDF()
      refuseRedelivery(prev.map(_.select(col(idCol).as("id"))),
        b.select(col(idCol).as("id")), stateDir,
        "contaminationMaintained", "screened",
        "re-delivery would double-count evidence")
      val scr = graft.operators.Contamination.screen(
        b, bench, idCol, textCol, n)
      prev.map(_.unionByName(scr)).getOrElse(scr)
    }

  /** Streaming SEMANTIC decontamination screen (round 19 — VERDICT
    * r18 task 3, closing the ngram/semantic asymmetry): each arriving
    * micro-batch of vectors is screened against the FIXED benchmark
    * embeddings through
    * [[graft.operators.Contamination.screenSemantic]] — cell-blocked
    * broadcast cosine at `tau`, the same kernel as the batch
    * `decontaminate mode=semantic` stage — and its per-doc evidence
    * rows (id, n_hits) append to state. Like the ngram fold
    * ([[contaminationMaintained]]): the screen is row-LOCAL against
    * the fixed bench + centroid sides, so per-batch screen + union IS
    * the whole-history screen — arithmetic split-invariance, no
    * arrival-order contract; a stream cannot retroactively drop sunk
    * rows, so the state maintains EVIDENCE (threshold downstream).
    * Both the bench frame and the centroid frame are fixed for the
    * query's lifetime (a benchmark or quantizer refresh is a new
    * state dir — the centroid-frame contract); re-delivered /
    * duplicate / null ids refuse loudly (the shared guard).
    * SemContaminationStreamSpec proves streamed state == the one-pass
    * batch screenSemantic.
    */
  def semContaminationMaintained(vecs: DataFrame, idCol: String,
      vecCol: String, bench: DataFrame, centroidDf: DataFrame,
      tau: Double, stateDir: String, name: String,
      retainVersions: Int = 2): org.apache.spark.sql.streaming.StreamingQuery =
    versionedStateSink(vecs, stateDir, name, retainVersions) { (prev, batch) =>
      val b = batch.toDF()
      refuseRedelivery(prev.map(_.select(col(idCol).as("id"))),
        b.select(col(idCol).as("id")), stateDir,
        "semContaminationMaintained", "screened",
        "re-delivery would double-count evidence")
      val scr = graft.operators.Contamination.screenSemantic(
        b, bench, idCol, vecCol, centroidDf, tau)
      prev.map(_.unionByName(scr)).getOrElse(scr)
    }

  /** Shared LOUD-refusal guard for id-keyed state folds whose
    * contract is one row per id, decided on arrival (round 18
    * self-review: three folds grew copy-pasted variants — one
    * definition so the next id-keyed fold cannot fork the wording or
    * forget a check). `prevIds` is the already-folded id frame
    * (projected to a single `id` column); `batchIds` likewise for the
    * incoming micro-batch. An intra-batch duplicate or a re-delivered
    * id throws IllegalStateException ("Nothing was folded") instead
    * of silently corrupting the fold.
    */
  private def refuseRedelivery(prevIds: Option[DataFrame],
      batchIds: DataFrame, stateDir: String, fold: String,
      alreadyVerb: String, why: String): Unit = {
    // null ids first (ADVICE r18): the left_semi re-delivery check
    // below can never match a null key, so a null-id row arriving in
    // successive micro-batches would silently accumulate duplicate
    // state rows in exactly the folds this guard protects
    val nNull = batchIds.filter(col("id").isNull).count()
    if (nNull > 0) throw new IllegalStateException(
      s"$fold($stateDir): $nNull row(s) in this micro-batch have a " +
        "null id — id-keyed state cannot key them, and re-delivery " +
        "of a null id is undetectable (joins never match null). " +
        "Nothing was folded.")
    val nIntra = batchIds.groupBy(col("id")).count()
      .filter(col("count") > 1).count()
    if (nIntra > 0) throw new IllegalStateException(
      s"$fold($stateDir): $nIntra id(s) appear more than once in " +
        "this micro-batch — the fold keeps one row per id. " +
        "Nothing was folded.")
    prevIds.foreach { pv =>
      val nRe = pv
        .join(broadcast(batchIds), Seq("id"), "left_semi").count()
      if (nRe > 0) throw new IllegalStateException(
        s"$fold($stateDir): $nRe id(s) in this micro-batch were " +
          s"already $alreadyVerb — $why. Nothing was folded.")
    }
  }

  /** Streaming data-contract monitoring: folds each micro-batch's
    * [[graft.operators.Quality.audit]] into a cumulative one-row audit
    * state (total rows + per-rule violation counts over everything
    * streamed) — the ingest-gate dashboard number kept current without
    * ever re-scanning history. Only row-local rules are accepted:
    * their violation counts are ADDITIVE, so per-batch audit + sum is
    * exactly the whole-history audit (split-invariance is arithmetic
    * here, not a contract on arrival order — unlike the dedup folds,
    * ANY batch order folds to the same state). `Unique` is refused up
    * front: cross-batch uniqueness needs distinct-key state, which is
    * [[streamingDedup]]'s job. Exactly-once replay/reset guards are the
    * shared [[versionedStateSink]] harness; QualityStreamSpec proves
    * the streamed state equals the one-pass batch audit.
    */
  def qualityAuditMaintained(stream: DataFrame,
      rules: Seq[graft.operators.Quality.Rule], stateDir: String,
      name: String, retainVersions: Int = 2): org.apache.spark.sql.streaming.StreamingQuery = {
    require(rules.forall(_.rowLocal),
      "only row-local rules fold across micro-batches; " +
        "Unique needs distinct-key state (use streamingDedup)")
    versionedStateSink(stream, stateDir, name, retainVersions) { (prev, batch) =>
      auditSum(prev, graft.operators.Quality.audit(batch.toDF(), rules), rules)
    }
  }

  /** The cumulative audit after `delta`: row and violation counts are
    * additive, so the fold is a per-column sum.
    */
  private def auditSum(prev: Option[DataFrame], delta: DataFrame,
      rules: Seq[graft.operators.Quality.Rule]): DataFrame =
    prev.fold(delta) { p =>
      val cols = "n_rows" +: rules.map(_.name)
      p.unionByName(delta)
        .agg(sum(col(cols.head)).as(cols.head),
          cols.tail.map(c => sum(col(c)).as(c)): _*)
    }

  /** Streaming dead-letter routing — the streaming face of the batch
    * quality stage's `onViolation: route` (round 17, VERDICT r16
    * task 4): each micro-batch's rows split on the SAME per-row
    * predicate the batch stage uses ([[graft.operators.Quality
    * .flagRows]] — the shared kernel, so the two surfaces can never
    * disagree on what violates). Clean rows land under
    * `outDir/data/batch=<id>/`, violating rows (with their
    * `violated_rules` blame column) under `deadLetterPath/batch=<id>/`,
    * and the cumulative audit counts keep folding into the same
    * versioned state [[qualityAuditMaintained]] maintains — the
    * monitoring face rides along for free.
    *
    * Exactly-once: both row writes are idempotent per batch id
    * (staged `_staging_<id>` + atomic rename to `batch=<id>`, skipped
    * when the batch dir already exists — the scd2EnrichedTo
    * discipline) and happen INSIDE the fold, i.e. BEFORE the audit
    * state's `v=<id>` rename. A replayed batch skips the fold (its
    * version dir exists → its batch dirs exist); a crash between a
    * row write and the version rename re-runs the fold, whose row
    * writes skip their already-renamed dirs. QualityRouteStreamSpec
    * proves streamed clean/reject partitions equal the batch stage's
    * split and that re-delivered batches do not duplicate rows.
    *
    * Reading the outputs: `spark.read.parquet(s"$outDir/data")` /
    * `(deadLetterPath)` — the `batch` partition column is the
    * provenance audit trail. The micro-batch is scanned once: the
    * flagged batch persists for its three readers (rejects, clean,
    * audit delta) and is unpersisted before the fold returns. The
    * state write runs after that (the round-12 leak lesson), so the
    * one-row audit delta is collected into a local frame first.
    */
  def qualityRoutedMaintained(stream: DataFrame,
      rules: Seq[graft.operators.Quality.Rule], outDir: String,
      deadLetterPath: String, name: String, retainVersions: Int = 2)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(rules.forall(_.rowLocal),
      "only row-local rules fold across micro-batches; " +
        "Unique needs distinct-key state (use streamingDedup)")
    versionedStateSinkById(stream, outDir, name, retainVersions) {
      (prev, batch, id) =>
        val spark = batch.sparkSession
        def writeOnce(df: DataFrame, parent: String): Unit =
          StateDir(spark, parent).commit("batch", id)(
            df.write.mode("overwrite").parquet(_))
        val flagged = graft.operators.Quality.flagRows(batch.toDF(), rules)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val delta = try {
          writeOnce(flagged.filter(size(col("violated_rules")) > 0),
            deadLetterPath)
          writeOnce(flagged.filter(size(col("violated_rules")) === 0)
            .drop("violated_rules"), s"$outDir/data")
          bumpFoldCounter(name, "batches_routed", 1L)
          val audit = graft.operators.Quality.audit(flagged, rules)
          spark.createDataFrame(
            java.util.Arrays.asList(audit.collect(): _*), audit.schema)
        } finally flagged.unpersist(blocking = true)
        auditSum(prev, delta, rules)
    }
  }

  /** Incremental LINE-dedup owner state (round 17 — VERDICT r16
    * task 5, `corpus_line_dedup`'s streaming face): state is ONE row
    * per distinct line seen, `(line, f)` with f = min(struct(doc_id,
    * pos)) — the line's first occurrence across everything streamed.
    * min(struct) is idempotent AND commutative, so like the bitmap
    * fold (and unlike the id-ordered dedup folds) ANY batch split in
    * ANY order folds to the same state — split-invariance is
    * arithmetic, not an arrival contract. Per batch: one
    * [[graft.operators.SpanDedup.lineOwners]] delta (map-side partial
    * min) re-grouped with the previous owners.
    *
    * Reading survivors: [[graft.operators.SpanDedup.dedupFromOwners]]
    * over any document set the state covers reproduces the batch
    * `SpanDedup.dedupLines` output exactly (LineDedupStreamSpec). The
    * state stores the line STRING, not a hash — it IS the distinct-
    * line dictionary (the exact-grouping discipline; a 64-bit-hash
    * compaction would trade 2^-64 collision wrongness for space and
    * is deliberately not taken). State size = distinct lines, the
    * operator's inherent exact bound; duplicate-heavy corpora — the
    * ones worth line-deduping — keep it far below corpus size.
    */
  def lineOwnersMaintained(stream: DataFrame, idCol: String,
      textCol: String, stateDir: String, name: String,
      delim: String = "\n", retainVersions: Int = 2)
      : org.apache.spark.sql.streaming.StreamingQuery =
    versionedStateSink(stream, stateDir, name, retainVersions) {
      (prev, batch) =>
        val delta = graft.operators.SpanDedup.lineOwners(
          graft.operators.SpanDedup.lineOcc(batch.toDF(), idCol,
            textCol, delim))
        prev.fold(delta) { p =>
          p.unionByName(delta).groupBy(col("line"))
            .agg(min(col("f")).as("f"))
        }
    }

  /** Streaming EXACT distinct-count via bitmap segments — the
    * streaming face of q102_bitmap_distinct: state is one
    * `(seg, bits)` row per OCCUPIED 32-key segment (`seg = key DIV
    * 32`, `bits |= 1 << key mod 32`), so its size is bounded by the
    * live key space / 32, independent of how many rows streamed by —
    * the exact-distinct state bound HLL approximates away. `bit_or`
    * is idempotent AND commutative, so like qualityAuditMaintained
    * (and unlike the id-ordered dedup folds) ANY batch split in ANY
    * order folds to the same state — split-invariance is arithmetic,
    * not an arrival contract. Keys must be non-negative (DIV/% on
    * negatives truncate toward zero — the round-3 trap; the fold
    * quarantines them under seg = -1 whose `bits` is a running
    * VIOLATION-ROW COUNT, merged by sum where real segments merge by
    * bit_or — round 9: the count was previously presence-only, losing
    * how many rows violated). Read the count back with
    * [[bitmapDistinctCount]]. Exactly-once replay/reset guards are the
    * shared [[versionedStateSink]] harness; BitmapStreamSpec proves
    * streamed state == the one-pass batch distinct.
    *
    * Resuming a PRE-round-9 state dir is REFUSED (the scd2EnrichedTo
    * legacy-layout discipline): the old presence-only quarantine row
    * is exactly `(seg = -1, bits = 0)` — unambiguous, since the
    * count semantics never write a zero-count quarantine row — and
    * merging it silently would report "violations since the upgrade"
    * as the all-time count. Delete the quarantine row from the legacy
    * state (accepting the partial count) or replay from a fresh
    * stateDir to resume.
    */
  def bitmapDistinctMaintained(stream: DataFrame, keyCol: String,
      stateDir: String, name: String,
      retainVersions: Int = 2): org.apache.spark.sql.streaming.StreamingQuery = {
    // once per run, on the first batch that loads prior state: a
    // one-row scan of the (key-space/32)-bounded state frame
    @volatile var legacyChecked = false
    versionedStateSink(stream, stateDir, name, retainVersions) { (prev, batch) =>
      if (!legacyChecked) {
        prev.foreach { p =>
          if (p.filter(col("seg") === -1L && col("bits") === 0L).limit(1)
              .count() > 0)
            throw new IllegalStateException(
              s"$stateDir holds a pre-round-9 bitmapDistinctMaintained state " +
                "(presence-only quarantine row seg=-1/bits=0): resuming would " +
                "silently undercount violations. Drop the quarantine row from " +
                "the legacy state or restart from a fresh stateDir.")
        }
        legacyChecked = true
      }
      val delta = segMerge(batch.toDF().select(
        when(col(keyCol) >= 0L, expr(s"$keyCol DIV 32")).otherwise(lit(-1L))
          .as("seg"),
        when(col(keyCol) >= 0L,
          expr(s"shiftleft(CAST(1 AS BIGINT), CAST($keyCol % 32 AS INT))"))
          .otherwise(lit(1L)).as("bits")))
      prev.fold(delta)(p => segMerge(p.unionByName(delta)))
    }
  }

  /** Segment merge shared by the bitmap folds: real segments bit_or
    * their bits (idempotent/commutative), the seg = -1 quarantine row
    * SUMS them (its bits is a violation-row count, additive across
    * batches), grouped on all columns before `bits` (seg, or
    * (dayn, seg)).
    */
  private def segMerge(df: DataFrame): DataFrame = {
    val keys = df.columns.takeWhile(_ != "bits").map(col)
    df.groupBy(keys: _*)
      .agg(expr("bit_or(bits)").as("__or"), sum(col("bits")).as("__sum"))
      .select(keys :+
        when(col("seg") === -1L, col("__sum")).otherwise(col("__or"))
          .as("bits"): _*)
  }

  /** Exact distinct count from a [[bitmapDistinctMaintained]] state
    * frame (rejected-negative segments excluded).
    */
  def bitmapDistinctCount(state: DataFrame): Long =
    state.filter(col("seg") >= 0L)
      .agg(coalesce(sum(expr("bit_count(bits)")), lit(0L)).cast("long"))
      .head().getLong(0)

  /** Streaming TRAILING-WINDOW exact distinct via per-day bitmap
    * segments — the streaming face of q108_sliding_distinct: state is
    * one `(dayn, seg, bits)` row per (day, occupied segment) within
    * the trailing `windowDays` of the max day seen, so state is
    * bounded by windowDays × keyspace/32 REGARDLESS of stream length
    * — days older than the window are pruned each fold. Within the
    * retained window bit_or stays idempotent/commutative, but the
    * PRUNE makes arrival order a contract: a day arriving after the
    * window has rolled past it would resurrect pruned state, so
    * non-decreasing day arrival is required (the scd2Maintained
    * class — exactly a watermark's promise). `tsCol` must be a
    * timestamp; keys non-negative (the bitmapDistinctMaintained
    * quarantine rule: seg = -1 rows carry a per-day violation-row
    * count). Read the current-window count with
    * [[slidingDistinctCount]] — it re-merges segments ACROSS days
    * first (a user active on several days must count once).
    * SlidingBitmapStreamSpec proves split-invariance under in-order
    * days, the batch-equality of the final window, and the state
    * bound.
    */
  def slidingDistinctMaintained(stream: DataFrame, tsCol: String,
      keyCol: String, windowDays: Int, stateDir: String, name: String,
      retainVersions: Int = 2): org.apache.spark.sql.streaming.StreamingQuery =
    versionedStateSink(stream, stateDir, name, retainVersions) { (prev, batch) =>
      val delta = segMerge(batch.toDF().select(
        expr(s"CAST(datediff(to_date($tsCol), DATE '1995-01-01') AS BIGINT)")
          .as("dayn"),
        when(col(keyCol) >= 0L, expr(s"$keyCol DIV 32")).otherwise(lit(-1L))
          .as("seg"),
        when(col(keyCol) >= 0L,
          expr(s"shiftleft(CAST(1 AS BIGINT), CAST($keyCol % 32 AS INT))"))
          .otherwise(lit(1L)).as("bits")))
      val merged = prev.fold(delta)(p => segMerge(p.unionByName(delta)))
      // prune beyond the trailing window of the max day seen so far;
      // maxDayn is a 1-row frame, broadcast against the state
      val maxd = merged.agg(max(col("dayn")).as("maxd"))
      merged.crossJoin(broadcast(maxd))
        .filter(col("dayn") > col("maxd") - windowDays)
        .select(col("dayn"), col("seg"), col("bits"))
    }

  /** Current-trailing-window exact distinct from a
    * [[slidingDistinctMaintained]] state frame: segments re-merge
    * across the retained days before counting.
    */
  def slidingDistinctCount(state: DataFrame): Long =
    bitmapDistinctCount(state.filter(col("seg") >= 0L)
      .groupBy(col("seg")).agg(expr("bit_or(bits)").as("bits")))

  /** Current-day stickiness from a [[slidingDistinctMaintained]] state
    * frame — the STREAMING face of q121_stickiness' last row: (DAU of
    * the max retained day, exact distinct over the whole retained
    * window, dau/mau). Run the fold with windowDays = 28 for the
    * standard DAU/MAU(28) reading — the consumer reports over whatever
    * window the state retains (that is the fold's contract, not this
    * reader's). Both counts re-merge the SAME state rows the fold
    * already maintains (no event re-scan); mau ≥ dau ≥ 0, and an
    * empty state yields (0, 0, null-as-NaN-free) — the degenerate
    * case returns dau = mau = 0 and stickiness 0.0 by convention
    * rather than dividing by zero (the q105 guard discipline).
    */
  def stickinessCurrent(state: DataFrame): (Long, Long, Double) = {
    val live = state.filter(col("seg") >= 0L)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val maxdRow = live.agg(max(col("dayn"))).head()
      if (maxdRow.isNullAt(0)) (0L, 0L, 0.0)
      else {
        val maxd = maxdRow.getLong(0)
        val dau = bitmapDistinctCount(live.filter(col("dayn") === maxd))
        val mau = slidingDistinctCount(live)
        (dau, mau, if (mau == 0L) 0.0 else dau.toDouble / mau.toDouble)
      }
    } finally { live.unpersist(); () }
  }

  /** Streaming TRANSITION-COUNT fold — the incremental face of
    * q79_transition_matrix (and, through [[stationaryFrom]], of
    * q119_stationary): per-user event-type transition counts
    * maintained across micro-batches WITH cross-batch sequence
    * STITCHING. A transition whose two events arrive in different
    * batches exists in the batch semantics but in NEITHER batch alone,
    * so the state carries, besides the (src, dst, c) count rows, one
    * FRONTIER row per user — that user's last seen (type, us, eid) —
    * and each fold stitches prev-frontier → this-batch-first-event
    * pairs before merging counts. The two row kinds share one schema:
    * counts are (src, dst, c, user_id = null); frontiers are
    * (src = last type, dst = null, c = 0, user_id, us, eid).
    *
    * Contract: per-user (us, eid)-non-decreasing arrival across
    * batches (the scd2/sliding class — exactly a watermark's promise);
    * within a batch any order is fine (the fold sorts). Events with a
    * NULL user_id are excluded — a transition needs a sequence
    * identity, and null doubles as the state's count-vs-frontier row
    * discriminator. Under the contract, any in-order split folds to
    * the same state as one batch fold — TransitionStreamSpec proves
    * 2-batch == batch q79 counts and [[stationaryFrom]] == batch q119.
    *
    * Scale: per batch one user-keyed window (high-cardinality
    * partitions), one ≤|types|²-row count merge, and a user-keyed
    * frontier upsert — state is |types|² + one row per live user.
    */
  def transitionCountsMaintained(events: DataFrame, stateDir: String,
      name: String, retainVersions: Int = 2)
      : org.apache.spark.sql.streaming.StreamingQuery =
    versionedStateSink(events, stateDir, name, retainVersions) { (prev, b) =>
      import org.apache.spark.sql.expressions.Window
      // user_id IS NULL is the state's count-vs-frontier discriminator,
      // so a null-user event must never mint a frontier row (it would
      // be re-read as a phantom count next fold) — and semantically a
      // transition needs a sequence identity: null-user events carry
      // none and are excluded by contract (documented above)
      val batch = b.toDF().filter(col("user_id").isNotNull)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"), col("event_id").as("eid"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us").asc, col("eid").asc)
      // NOT persisted: the sink writes the returned frame AFTER this
      // fold returns, so an internal persist could only be released by
      // leaking it across micro-batches — the 3 window consumers
      // recompute one batch-local sort instead (bounded by batch size)
      val seq = batch.withColumn("nxt", lead(col("event_type"), 1).over(w))
        .withColumn("rn", row_number().over(w))
        .withColumn("rnDesc", row_number().over(
          Window.partitionBy(col("user_id"))
            .orderBy(col("us").desc, col("eid").desc)))
      val inBatch = seq.filter(col("nxt").isNotNull)
        .groupBy(col("event_type").as("src"), col("nxt").as("dst"))
        .agg(count(lit(1)).as("c"))
      val firsts = seq.filter(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("ftype"))
      val lasts = seq.filter(col("rnDesc") === 1)
        .select(col("event_type").as("src"),
          lit(null).cast("string").as("dst"), lit(0L).as("c"),
          col("user_id"), col("us"), col("eid"))
      val (prevCounts, prevFrontier) = prev match {
        case Some(p) =>
          (p.filter(col("user_id").isNull)
            .select(col("src"), col("dst"), col("c")),
            p.filter(col("user_id").isNotNull))
        case None =>
          val e = lasts.limit(0)
          (e.select(col("src"), col("dst"), col("c")), e)
      }
      // stitch: the frontier event precedes every batch event of its
      // user by the arrival contract, so (frontier.type -> batch first)
      // is exactly the boundary transition the split severed
      val boundary = prevFrontier
        .select(col("user_id"), col("src").as("ptype"))
        .join(firsts, "user_id")
        .groupBy(col("ptype").as("src"), col("ftype").as("dst"))
        .agg(count(lit(1)).as("c"))
      val counts = prevCounts.unionByName(inBatch).unionByName(boundary)
        .groupBy(col("src"), col("dst")).agg(sum(col("c")).as("c"))
        .select(col("src"), col("dst"), col("c"),
          lit(null).cast("long").as("user_id"),
          lit(null).cast("long").as("us"), lit(null).cast("long").as("eid"))
      // frontier upsert: batch users advance, absent users persist
      val frontier = lasts.unionByName(
        prevFrontier.join(firsts.select(col("user_id")), Seq("user_id"),
          "left_anti"))
      counts.unionByName(frontier)
    }

  /** Streaming QUANTILE fold — per-key KLL sketches maintained across
    * micro-batches: the p50/p99 latency-dashboard monitor kept current
    * without re-scanning history. State is one (key, sketch) row per
    * group; each fold sketches the batch (kll_sketch_agg) and MERGES
    * it into the stored sketch (kll_sketch_merge) — KLL union is the
    * mergeable-summary algebra, so like qualityAuditMaintained ANY
    * batch split in ANY order folds to the same estimator state
    * (split-invariance is sketch algebra, not an arrival contract;
    * batches must partition rows — replay dedup is the shared
    * [[versionedStateSink]] harness's job). In the exact regime
    * (k ≥ distinct values retained) the merged sketch's INCLUSIVE
    * quantiles equal quantile_disc — the committed q68/sketch_kll
    * discipline — so KllStreamSpec gates streamed == batch exactly;
    * beyond it the same state degrades to the documented ~1.7% rank
    * error at a k·log(n) footprint, which is the whole point at
    * 100 TB. Read back with [[kllQuantilesFrom]].
    */
  def kllMaintained(stream: DataFrame, keyCol: String, valCol: String,
      stateDir: String, name: String, k: Int = 4096,
      retainVersions: Int = 2): org.apache.spark.sql.streaming.StreamingQuery =
    versionedStateSink(stream, stateDir, name, retainVersions) { (prev, b) =>
      import graft.functions.GraftFunctions.{kll_sketch_agg, kll_sketch_merge}
      val delta = b.toDF()
        .groupBy(col(keyCol).as("key"))
        .agg(kll_sketch_agg(col(valCol).cast("double"), k).as("sk"))
      prev.fold(delta) { p =>
        p.select(col("key"), col("sk")).unionByName(delta)
          .groupBy(col("key"))
          .agg(kll_sketch_merge(col("sk"), k).as("sk"))
      }
    }

  /** Per-key quantiles at `ranks` from a [[kllMaintained]] state
    * frame: one row per (key, rank).
    */
  def kllQuantilesFrom(state: DataFrame,
      ranks: Seq[Double]): DataFrame = {
    import graft.functions.GraftFunctions.kll_quantiles
    val rk = array(ranks.map(lit): _*)
    state.select(col("key"),
        posexplode(kll_quantiles(col("sk"), ranks)).as(Seq("pos", "value")))
      .select(col("key"),
        element_at(rk, col("pos").cast("int") + 1).as("rank"), col("value"))
  }

  /** Streaming LIFETIME fold — q118_survival's incremental face:
    * state is ONE (user_id, f, l) row per user (first/last active
    * day), merged per batch by min(f)/max(l). Min and max are
    * idempotent AND commutative, so like qualityAuditMaintained ANY
    * row partition in ANY order folds to the same state —
    * split-invariance is arithmetic, no arrival contract (the
    * easiest class: survival needs only the lifetime ENDPOINTS, and
    * endpoints fold under min/max whatever order events arrive).
    * Null user_id groups fold as their own key exactly as the batch
    * groupBy does — no quarantine needed. Read the Kaplan-Meier
    * curve with [[survivalFrom]]; state is O(users) rows of three
    * fields (the scd2/dedup-fold bound), per-batch work one
    * user-keyed partial-agg groupBy + the state merge.
    * SurvivalStreamSpec proves an arbitrary interleaved split folds
    * to the batch q118 curve bit-for-bit.
    */
  def lifetimesMaintained(events: DataFrame, stateDir: String,
      name: String, retainVersions: Int = 2)
      : org.apache.spark.sql.streaming.StreamingQuery =
    versionedStateSink(events, stateDir, name, retainVersions) { (prev, b) =>
      val delta = b.toDF()
        .select(col("user_id"), col("ts").cast("date").as("day"))
        .groupBy(col("user_id"))
        .agg(min(col("day")).as("f"), max(col("day")).as("l"))
      prev.fold(delta) { p =>
        p.unionByName(delta).groupBy(col("user_id"))
          .agg(min(col("f")).as("f"), max(col("l")).as("l"))
      }
    }

  /** Kaplan-Meier survival curve from a [[lifetimesMaintained]] state
    * frame: lifetimes + right-censoring at the observed max day, then
    * the SHARED `operators.Survival.kmCurve` (one definition with
    * batch q118_survival — the Markov.stationaryRanks discipline).
    * Work after the user-bounded state scan is observation-days
    * bounded.
    */
  def survivalFrom(state: DataFrame): DataFrame = {
    val maxDay = state.agg(max(col("l")).as("max_day"))
    val lt = state.crossJoin(broadcast(maxDay))
      .select(col("user_id"),
        datediff(col("l"), col("f")).cast("long").as("t"),
        when(col("l") < col("max_day"), 1L).otherwise(0L).as("is_event"))
    graft.operators.Survival.kmCurve(lt)
  }

  /** Streaming DAILY-REVENUE fold — the incremental face of the
    * q124/q125/q127 trend family: state is ONE (day, y) row per order
    * day, y the exact BIGINT cent sum (the money discipline: decimal
    * cast per row BEFORE the fold, so partial sums are exact integers
    * and order-independent). Sum is commutative and associative, so
    * like [[lifetimesMaintained]] ANY row partition in ANY order folds
    * to the same state — no arrival contract. Read trend analytics
    * with [[olsTrendFrom]] / [[changepointFrom]] /
    * [[bootstrapTrendFrom]], each delegating to the SHARED
    * [[graft.operators.Trend]] kernel (one definition with the batch
    * queries — the Survival.kmCurve discipline). State is
    * observation-days bounded; per-batch work one day-keyed
    * partial-agg groupBy + the days-bounded state merge.
    * TrendStreamSpec proves an arbitrary split folds to the batch
    * q124/q125/q127 rows bit-for-bit.
    */
  def dailyCentsMaintained(orders: DataFrame, stateDir: String,
      name: String, retainVersions: Int = 2)
      : org.apache.spark.sql.streaming.StreamingQuery =
    versionedStateSink(orders, stateDir, name, retainVersions) { (prev, b) =>
      val delta = b.toDF()
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum((col("o_totalprice").cast("decimal(15,2)") * 100)
          .cast("long")).as("y"))
      prev.fold(delta) { p =>
        p.unionByName(delta).groupBy(col("day")).agg(sum(col("y")).as("y"))
      }
    }

  /** Closed-form OLS trend from a [[dailyCentsMaintained]] state frame
    * — the batch q125 row over everything streamed, via the shared
    * `operators.Trend.olsTrend`.
    */
  def olsTrendFrom(state: DataFrame): DataFrame =
    graft.operators.Trend.olsTrend(state)

  /** Top-1 mean-shift changepoint from a [[dailyCentsMaintained]]
    * state frame — the batch q124 row, via the shared
    * `operators.Trend.changepoint`.
    */
  def changepointFrom(state: DataFrame): DataFrame =
    graft.operators.Trend.changepoint(state)

  /** Deterministic pair-bootstrap slope CI from a
    * [[dailyCentsMaintained]] state frame — the batch q127 row, via
    * the shared `operators.Trend.bootstrapTrend`. persistDays = false:
    * the state frame is a cheap days-bounded parquet read and this
    * helper is called repeatedly from long-lived sessions with no
    * release() between calls — a per-call persist would leak.
    */
  def bootstrapTrendFrom(state: DataFrame, b: Int = 64): DataFrame =
    graft.operators.Trend.bootstrapTrend(state, b, persistDays = false)

  /** Streaming FUNNEL fold — q46_funnel's incremental face: state is
    * the funnel frame itself, one (user_id, t_view, t_click,
    * t_purchase) row per user who has VIEWED (epoch-micros longs,
    * nullable down the chain). The chained stage mins are NOT plain
    * min-merges — t_click = min click STRICTLY AFTER t_view — so this
    * is the frontier class, not the bitmap class: under per-user
    * NON-DECREASING event-time arrival (a watermark's promise, the
    * scd2/transition contract) each stage time is immutable once set
    * (events that could lower it would have to arrive in the past),
    * and a null stage fills from the current batch exactly when the
    * first qualifying event streams by — so the fold equals batch q46
    * over everything streamed (FunnelStreamSpec proves it on a 3-way
    * time split). Null-user events are excluded by contract (a funnel
    * needs a subject identity; the transitionCountsMaintained rule).
    * Per-batch work: three stage-filtered partial-agg groupBys joined
    * against the state — O(batch + affected users); state O(viewers).
    */
  def funnelMaintained(events: DataFrame, stateDir: String,
      name: String, retainVersions: Int = 2)
      : org.apache.spark.sql.streaming.StreamingQuery =
    versionedStateSink(events, stateDir, name, retainVersions) { (prev, b) =>
      val ev = b.toDF().filter(col("user_id").isNotNull)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val st = prev.getOrElse {
        ev.limit(0).select(col("user_id"),
          lit(null).cast("long").as("t_view"),
          lit(null).cast("long").as("t_click"),
          lit(null).cast("long").as("t_purchase"))
      }
      val bv = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("us")).as("bv"))
      // a state row always has t_view set; a bv-only row opens one
      val base = st.join(bv, Seq("user_id"), "full_outer")
        .select(col("user_id"),
          coalesce(col("t_view"), col("bv")).as("t_view"),
          col("t_click"), col("t_purchase"))
      val qc = ev.filter(col("event_type") === "click")
        .join(base.select(col("user_id"), col("t_view")), "user_id")
        .filter(col("us") > col("t_view"))
        .groupBy(col("user_id")).agg(min(col("us")).as("qc"))
      val withC = base.join(qc, Seq("user_id"), "left")
        .select(col("user_id"), col("t_view"),
          coalesce(col("t_click"), col("qc")).as("t_click"),
          col("t_purchase"))
      val qp = ev.filter(col("event_type") === "purchase")
        .join(withC.select(col("user_id"), col("t_click")), "user_id")
        .filter(col("us") > col("t_click"))
        .groupBy(col("user_id")).agg(min(col("us")).as("qp"))
      withC.join(qp, Seq("user_id"), "left")
        .select(col("user_id"), col("t_view"), col("t_click"),
          coalesce(col("t_purchase"), col("qp")).as("t_purchase"))
    }

  /** Streaming HOLT FORECAST fold — q122_holt's incremental face, and
    * the third stateful-arrival pattern beside frontier stitching
    * (transitions) and pruned windows (sliding bitmaps): OPEN-BUCKET
    * accumulation. A calendar day's event count is only final once a
    * LATER day arrives, so the state carries, per event type, the
    * folded (level, trend, last closed day) MODEL row plus the
    * still-OPEN day's partial count — a day split across micro-batches
    * merges its counts in the open bucket and folds exactly once, when
    * it closes. Model rows are x IS NULL; open rows carry x.
    *
    * The recurrence is q122's committed expanded form (α = β = 1/2:
    * l′ = 0.5x + 0.5(l+b); b′ = 0.25x − 0.25l + 0.75b), folded in day
    * order with the model row as the running init — so the streamed
    * model equals the batch fold over every CLOSED day bit-for-bit
    * (HoltStreamSpec proves it on mid-day splits).
    *
    * Contract: per-type NON-DECREASING day arrival (a watermark's
    * promise): an event for a day at or before the last CLOSED day
    * would have to re-open folded history — the fold REFUSES loudly
    * rather than fold it wrong. Read forecasts with [[holtCurrent]].
    * Scale: one (type, day) rollup per batch; the fold itself runs on
    * ≤|types| arrays of the batch's closed days.
    */
  def holtMaintained(events: DataFrame, stateDir: String, name: String,
      retainVersions: Int = 2): org.apache.spark.sql.streaming.StreamingQuery =
    versionedStateSink(events, stateDir, name, retainVersions) { (prev, b) =>
      val delta = b.toDF()
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).cast("double").as("x"))
      val (prevModel, prevOpen) = prev match {
        case Some(p) =>
          (p.filter(col("x").isNull)
            .select(col("event_type"), col("l"), col("b"), col("last_day")),
            p.filter(col("x").isNotNull)
              .select(col("event_type"), col("day"), col("x")))
        case None =>
          val e = delta.limit(0)
          (e.select(col("event_type"), lit(null).cast("double").as("l"),
            lit(null).cast("double").as("b"),
            lit(null).cast("date").as("last_day")),
            e.select(col("event_type"), col("day"), col("x")))
      }
      val (toClose, stillOpen) = closeOpenDays(prevOpen, delta,
        prevModel.select(col("event_type"), col("last_day")),
        name, "holtMaintained", stateDir)
      val foldedCols = toClose
        .groupBy(col("event_type"))
        .agg(array_sort(collect_list(struct(col("day"), col("x")))).as("sx"))
      // fold the newly-closed days onto the running model (or init
      // from the first closed day when no model exists yet) — the
      // q122 expanded recurrence, day-ordered
      val upd = "(acc, e) -> named_struct(" +
        "'l', 0.5D * e.x + 0.5D * (acc.l + acc.b), " +
        "'b', 0.25D * e.x - 0.25D * acc.l + 0.75D * acc.b)"
      val model = prevModel.join(foldedCols, Seq("event_type"), "full_outer")
        .select(col("event_type"),
          expr(s"""CASE
            WHEN sx IS NULL THEN named_struct('l', l, 'b', b)
            WHEN l IS NULL THEN aggregate(slice(sx, 2, size(sx) - 1),
              named_struct('l', element_at(sx, 1).x, 'b', CAST(0.0 AS DOUBLE)),
              $upd)
            ELSE aggregate(sx, named_struct('l', l, 'b', b), $upd)
            END""").as("st"),
          greatest(col("last_day"), expr("element_at(sx, -1).day"))
            .as("last_day"))
        .select(col("event_type"), lit(null).cast("date").as("day"),
          lit(null).cast("double").as("x"),
          col("st.l").as("l"), col("st.b").as("b"), col("last_day"))
        .filter(col("l").isNotNull) // no model until a first day closes
      model.unionByName(stillOpen
        .select(col("event_type"), col("day"), col("x"),
          lit(null).cast("double").as("l"), lit(null).cast("double").as("b"),
          lit(null).cast("date").as("last_day")))
    }

  /** The OPEN-BUCKET close/merge/guard step shared by
    * [[holtMaintained]] and [[wintersMaintained]] — the part of the
    * two folds that must stay in lockstep: merge same-day partials
    * from the previous state's day rows and the batch delta (a day
    * split across micro-batches folds exactly once, with its full
    * count), REFUSE any (type, day) bucket at or before the model's
    * last closed day (recorded on the `late_buckets` counter BEFORE
    * the throw so the reading that killed the query stays
    * observable), then split the pool into newly-CLOSED days (every
    * day a later day supersedes) and the still-open per-type max day.
    * Nothing here persists (the transitionCountsMaintained rule: the
    * sink writes after the fold returns).
    */
  private def closeOpenDays(prevDays: DataFrame, delta: DataFrame,
      lastDays: DataFrame, name: String, caller: String,
      stateDir: String): (DataFrame, DataFrame) = {
    val open = prevDays.unionByName(delta)
      .groupBy(col("event_type"), col("day")).agg(sum(col("x")).as("x"))
    val late = open.join(lastDays, Seq("event_type"))
      .filter(col("last_day").isNotNull && col("day") <= col("last_day"))
      .count()
    bumpFoldCounter(name, "late_buckets", late)
    if (late > 0) throw new IllegalStateException(
      s"$caller($stateDir): $late (event_type, day) bucket(s) " +
        "arrived at or before an already-CLOSED day — day arrival " +
        "must be per-type non-decreasing (a watermark's promise); " +
        "folding them would silently corrupt the model. Use a fresh " +
        "stateDir to rebuild from the full corpus.")
    val maxd = open.groupBy(col("event_type")).agg(max(col("day")).as("maxd"))
    val withMax = open.join(maxd, "event_type")
    (withMax.filter(col("day") < col("maxd"))
       .select(col("event_type"), col("day"), col("x")),
     withMax.filter(col("day") === col("maxd"))
       .select(col("event_type"), col("day"), col("x")))
  }

  /** Forecast table from a [[holtMaintained]] state frame: per event
    * type the closed-day model (level, trend, last_day), the h = 1/2/3
    * forecasts level + h·trend, and the still-open day's partial count
    * for forecast-vs-actual monitoring. Types whose first day has not
    * closed yet carry no model row.
    */
  def holtCurrent(state: DataFrame): DataFrame = {
    val model = state.filter(col("x").isNull)
      .select(col("event_type"), col("last_day"),
        col("l").as("level"), col("b").as("trend"),
        (col("l") + col("b")).as("forecast_1"),
        (col("l") + lit(2.0) * col("b")).as("forecast_2"),
        (col("l") + lit(3.0) * col("b")).as("forecast_3"))
    val open = state.filter(col("x").isNotNull)
      .select(col("event_type"), col("day").as("open_day"),
        col("x").as("open_x"))
    model.join(open, Seq("event_type"), "full_outer")
  }

  /** Streaming HOLT-WINTERS fold — q129_winters' incremental face:
    * [[holtMaintained]]'s open-bucket pattern extended with a 7-slot
    * season queue AND an INIT buffer. State rows per event type share
    * one union schema: a MODEL row ((l, b, s1..s7) array + last
    * closed day), the still-OPEN day's partial count, and — before 7
    * days have closed — PENDING closed-day rows the init cannot fit
    * yet, plus (round 16) one RESIDUAL row per folded day (`fc`
    * non-null: the one-step forecast recorded from the model BEFORE
    * that day folded — [[wintersResiduals]] reads these; growth is one
    * row per closed day per type; pre-fc state layouts refuse loudly).
    * Each fold merges same-day partials (a mid-day batch split
    * folds once with its full count), closes every day a later day
    * supersedes, and then: types WITH a model fold the newly-closed
    * days in day order via the SHARED
    * [[graft.operators.Trend.wintersUpd]] recurrence; types WITHOUT
    * one accumulate pending days until 7 have closed and then run the
    * SHARED [[graft.operators.Trend.wintersFoldSql]] init+fold — so
    * the streamed model equals the batch q129 fold over every closed
    * day bit-for-bit (WintersStreamSpec proves it on mid-day splits).
    *
    * Contract: a day at or before the last FOLDED day refuses loudly
    * (the holt rule; `late_buckets`/`refusals` counters record it).
    * Pre-model lateness needs NO refusal: pending days are unfolded,
    * so the day-sort at init self-heals any arrival order — the fold
    * refuses only what it cannot repair. Read forecasts with
    * [[wintersCurrent]]. Scale: one (type, day) rollup per batch; the
    * folds run on ≤|types| arrays of the batch's closed days; state
    * is ≤|types| model rows + ≤|types|·8 day rows.
    */
  def wintersMaintained(events: DataFrame, stateDir: String, name: String,
      retainVersions: Int = 2): org.apache.spark.sql.streaming.StreamingQuery =
    versionedStateSink(events, stateDir, name, retainVersions) { (prev, b) =>
      val delta = b.toDF()
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).cast("double").as("x"))
      val (prevModel, prevDays, prevResid) = prev match {
        case Some(p) =>
          // round-16 layout: residual rows (fc non-null) ride beside
          // model and open/pending day rows. A pre-fc state cannot be
          // upgraded in place (its residual history was never kept) —
          // refuse loudly instead of silently resuming without it.
          if (!p.columns.contains("fc")) throw new IllegalStateException(
            s"wintersMaintained($stateDir): legacy winters state " +
              "layout (no fc column) — residual history is absent; " +
              "rebuild from a fresh stateDir")
          (p.filter(col("st").isNotNull)
            .select(col("event_type"), col("st"), col("last_day")),
            p.filter(col("st").isNull && col("fc").isNull)
              .select(col("event_type"), col("day"), col("x")),
            p.filter(col("fc").isNotNull)
              .select(col("event_type"), col("day"), col("x"), col("fc")))
        case None =>
          val e = delta.limit(0)
          (e.select(col("event_type"),
            lit(null).cast("array<double>").as("st"),
            lit(null).cast("date").as("last_day")),
            e.select(col("event_type"), col("day"), col("x")),
            e.select(col("event_type"), col("day"), col("x"),
              lit(null).cast("double").as("fc")))
      }
      // same-day partials merge across batches (the shared open-bucket
      // step); pending pre-model days ride in the same pool
      val (toClose, stillOpen) = closeOpenDays(prevDays, delta,
        prevModel.select(col("event_type"), col("last_day")),
        name, "wintersMaintained", stateDir)
      val closedArr = toClose.groupBy(col("event_type"))
        .agg(expr("array_sort(collect_list(struct(day, x)))").as("dx"),
          max(col("day")).as("mx"))
        .select(col("event_type"),
          expr("transform(dx, r -> r.day)").as("ds"),
          expr("transform(dx, r -> r.x)").as("xs"), col("mx"))
      val joined = prevModel.join(closedArr, Seq("event_type"), "full_outer")
      // the RESIDUAL fold (Trend.wintersResidUpd): slots 1..9 are the
      // plain model — identical text, cannot drift — and the tail
      // carries one-step-ahead forecasts for each day folded THIS
      // batch (for init types, days 8..k only: the first 7 are the
      // init window and have no prediction). folded is ≤|types| rows —
      // recomputed per consumer rather than persisted (the
      // versionedStateSink no-internal-persist rule).
      val folded = joined
        .withColumn("stfc", expr(s"""CASE
            WHEN xs IS NULL THEN st
            WHEN st IS NOT NULL THEN aggregate(xs, st,
              ${graft.operators.Trend.wintersResidUpd})
            WHEN size(xs) >= 7
              THEN ${graft.operators.Trend.wintersResidSql("xs")}
            ELSE NULL END"""))
      val model = folded
        .filter(col("stfc").isNotNull)
        .select(col("event_type"), lit(null).cast("date").as("day"),
          lit(null).cast("double").as("x"),
          expr("slice(stfc, 1, 9)").as("st"),
          greatest(col("last_day"), col("mx")).as("last_day"),
          lit(null).cast("double").as("fc"))
      // newly-folded days append their residual rows: tail position j
      // aligns with xs index (size(xs) - tail length) + j
      val newResid = folded
        .filter(col("stfc").isNotNull && size(col("stfc")) > 9)
        .select(col("event_type"), col("ds"), col("xs"),
          expr("size(xs) - (size(stfc) - 9)").as("off"),
          posexplode(expr("slice(stfc, 10, CAST(size(stfc) - 9 AS INT))"))
            .as(Seq("j0", "fc")))
        .select(col("event_type"),
          expr("element_at(ds, CAST(off + j0 + 1 AS INT))").as("day"),
          expr("element_at(xs, CAST(off + j0 + 1 AS INT))").as("x"),
          col("fc"))
      // pre-model types with < 7 closed days keep them PENDING
      val pendingTypes = joined
        .filter(col("st").isNull && col("xs").isNotNull && size(col("xs")) < 7)
        .select(col("event_type"))
      val pending = toClose
        .join(pendingTypes, "event_type")
        .select(col("event_type"), col("day"), col("x"))
      model.unionByName(
        stillOpen.unionByName(pending)
          .select(col("event_type"), col("day"), col("x"),
            lit(null).cast("array<double>").as("st"),
            lit(null).cast("date").as("last_day"),
            lit(null).cast("double").as("fc")))
        .unionByName(prevResid.unionByName(newResid)
          .select(col("event_type"), col("day"), col("x"),
            lit(null).cast("array<double>").as("st"),
            lit(null).cast("date").as("last_day"), col("fc")))
    }

  /** Forecast table from a [[wintersMaintained]] state frame: per
    * (event_type, h ∈ 1..7) the h-step-ahead forecast
    * l + h·b + s_h — q129_winters' output tree over the maintained
    * model. Types whose 7th day has not closed yet carry no rows.
    */
  def wintersCurrent(state: DataFrame): DataFrame =
    state.filter(col("st").isNotNull)
      .select(col("event_type"), col("last_day"),
        explode(expr("sequence(1L, 7L)")).as("h"), col("st"))
      .select(col("event_type"), col("last_day"), col("h"),
        expr("element_at(st, 1)").as("level"),
        expr("element_at(st, 2)").as("trend"),
        expr("element_at(st, 1) + CAST(h AS DOUBLE) * element_at(st, 2)" +
          " + element_at(st, CAST(h + 2 AS INT))").as("forecast"))

  /** Residual ANOMALY table from a [[wintersMaintained]] state frame
    * (round 16 — VERDICT r13 task 4): every folded day's one-step
    * residual (recorded at fold time from the model that had not yet
    * seen the day — state rows with a non-null `fc`) flagged by the
    * shared [[graft.operators.Trend.madFlags]] rational k·MAD rule.
    * The batch twin q134_winters_resid computes the identical table
    * from the raw events (same recurrence text, same MAD tail);
    * WintersStreamSpec pins streamed fc/resid == the in-memory
    * recurrence on a mid-day-split stream.
    */
  def wintersResiduals(state: DataFrame, k: Double = 5.0): DataFrame =
    graft.operators.Trend.madFlags(
      state.filter(col("fc").isNotNull)
        .select(col("event_type"), col("day"), col("x"), col("fc"),
          (col("x") - col("fc")).as("resid")), k)

  /** Stationary distribution from a [[transitionCountsMaintained]]
    * state frame — q119_stationary's iteration run over the maintained
    * counts (same integer fixed-point rounds, same micro-units), so a
    * streamed corpus yields the SAME settled occupancy a batch run
    * would (TransitionStreamSpec proves it).
    */
  def stationaryFrom(state: DataFrame, rounds: Int = 8): DataFrame = {
    val pairs = state.filter(col("user_id").isNull)
      .select(col("src"), col("dst"), col("c"))
    val tot = pairs.groupBy(col("src")).agg(sum(col("c")).as("ctot"))
    graft.operators.Markov.stationaryRanks(
      pairs.join(broadcast(tot), "src")
        .select(col("src"), col("dst"), col("c"), col("ctot")),
      rounds)
  }

  /** AS-OF enrichment of one micro-batch against an SCD2 dimension
    * frame (the q95 point-in-time join, factored for streaming reuse):
    * each fact row resolves the version active at its timestamp — ONE
    * equi-join on the user key, interval containment as a residual
    * filter (a user's versions partition time, so ≤1 match per fact).
    */
  def scd2Enrich(facts: DataFrame, dim: DataFrame): DataFrame = {
    // containment lives IN the join condition: a post-join filter
    // would DROP facts that predate every version of their user (all
    // joined rows fail containment), where a left join with residual
    // keeps them with null dim columns
    val f = facts.withColumn("t_us", unix_micros(col("ts")))
    val d = dim.select(col("user_id").as("d_user"),
      col("event_type").as("dim_state"), col("version"),
      col("valid_from_us"), col("valid_to_us"))
    f.join(d, f("user_id") === d("d_user") &&
        col("t_us") >= col("valid_from_us") &&
        (col("valid_to_us").isNull || col("t_us") < col("valid_to_us")),
      "left")
      .drop("d_user")
  }

  /** Streaming point-in-time enrichment — the CONSUMER side of
    * [[scd2Maintained]]: each fact micro-batch joins the LATEST
    * version of the maintained dimension under `dimStateDir` (read
    * once per batch — the dimension advances between batches, exactly
    * the lookup a warehouse's streaming fact load performs) and
    * writes to `outDir/data` as parquet. Facts whose user has no
    * dimension row (or predates every version) pass through with null
    * dim columns — enrichment must not DROP facts. Exactly-once is the
    * full [[versionedStateSink]] discipline (round 9 — the marker-file
    * scheme it replaced could duplicate a batch on a crash between
    * append and marker, and a reset checkpoint restarting ids at 0
    * would hit old markers and silently DROP new batches): each batch
    * stages to `_staging_$id` and atomically renames to
    * `data/batch=$id` — the dir's existence IS the replay marker, so
    * there is no append/marker window; the outDir is bound to the
    * checkpoint query id ([[StateDir.bindQueryIdentity]]) and a batch id
    * at or below the newest written batch whose own dir is absent is
    * refused as a reset. Readers `spark.read.parquet(outDir + "/data")` — the
    * `batch` partition column carries replay provenance. Scd2EnrichSpec
    * proves the streamed output equals the batch q95 join against the
    * final dimension when the dimension is fed first.
    */
  def scd2EnrichedTo(facts: DataFrame, dimStateDir: String,
      outDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    facts.writeStream.outputMode("append")
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .foreachBatch(new ((Dataset[org.apache.spark.sql.Row], Long) => Unit) {
        @volatile private var identityChecked = false
        def apply(batch: Dataset[org.apache.spark.sql.Row], id: Long): Unit = {
          val spark = batch.sparkSession
          val data = StateDir(spark, s"$outDir/data")
          if (!identityChecked) {
            // refuse outDirs written by the pre-round-9 flat-append
            // scheme (loose part-files under data/ + _batch_N markers
            // at the root): the batch=<id> listing cannot see those
            // markers, so resuming here would re-write already-appended
            // batches (duplicating facts) and leave data/ an unreadable
            // mix of partitioned and flat children
            val out = StateDir(spark, outDir)
            val legacyMarker = out.glob("_batch_*").nonEmpty
            val flatData = data.names.exists(n => !n.startsWith("batch=") &&
              !n.startsWith("_") && !n.startsWith("."))
            if (legacyMarker || flatData)
              throw new IllegalStateException(
                s"$outDir holds output from the legacy flat-append scd2EnrichedTo " +
                  "layout (loose files under data/ or _batch_N markers): resuming " +
                  "with the batch=N layout would duplicate replayed batches. Use a " +
                  "fresh outDir, or migrate each legacy batch into data/batch=<id>/ " +
                  "and delete the _batch_* markers first.")
            out.bindQueryIdentity(data.ids("batch").nonEmpty)
            identityChecked = true
          }
          // a replayed batch is already written: skip
          if (data.isNew("batch", id)(newest =>
              s"batch $id arrived below existing output batch=$newest at " +
                s"$outDir but its own batch dir is absent: the streaming checkpoint " +
                "was reset while reusing this outDir. Use a fresh outDir (or restore " +
                "the original checkpoint) to avoid dropping or duplicating batches.")) {
            val dim = latestState(spark, dimStateDir).getOrElse(
              spark.emptyDataFrame
                .withColumn("user_id", lit(null).cast("long"))
                .withColumn("event_type", lit(null).cast("string"))
                .withColumn("version", lit(null).cast("long"))
                .withColumn("valid_from_us", lit(null).cast("long"))
                .withColumn("valid_to_us", lit(null).cast("long")))
            data.commit("batch", id)(
              scd2Enrich(batch.toDF(), dim).write.mode("overwrite").parquet(_))
          }
          ()
        }
      }).start()

  /** The versioned exactly-once foreachBatch state harness shared by
    * every streaming fold ([[materializedAggregate]], [[scd2Maintained]],
    * [[minhashDedupMaintained]] and the rest): `fold` merges the
    * previous complete state (None on the first batch, read through
    * its chain) with the current micro-batch, and the result is
    * committed as `v=<batchId>` through [[StateDir.commitFold]]'s
    * staged rename. A fold returns the whole new state and is written
    * as a base, except an `appendOnly` fold (its existing rows never
    * change: only the minhash fold so far), which returns only the
    * batch's new rows and is written as a delta, compacted into a base
    * every [[StateDir.CompactEvery]] versions. Replayed batches skip
    * their fold (the version dir already exists), a reset checkpoint
    * over reused state is refused (both the query-identity marker and
    * the batch-id-below-newest-version guards), and versions beyond the
    * newest `retainVersions` are pruned unless a retained version's
    * chain reads them.
    */
  private def versionedStateSink(stream: DataFrame, stateDir: String,
      name: String, retainVersions: Int, appendOnly: Boolean = false)(
      fold: (Option[DataFrame], Dataset[org.apache.spark.sql.Row]) => DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery =
    versionedStateSinkById(stream, stateDir, name, retainVersions,
      appendOnly)((prev, batch, _) => fold(prev, batch))

  /** [[versionedStateSink]] variant whose fold also receives the
    * micro-batch id — for folds that perform their own idempotent
    * per-batch side writes (`batch=<id>` staged dirs, the
    * scd2EnrichedTo discipline) BEFORE the state version rename:
    * a replayed batch skips the fold entirely (its `v=<id>` exists),
    * and a crash between the side write and the rename re-runs the
    * fold, whose side writes skip their already-renamed batch dirs.
    */
  private def versionedStateSinkById(stream: DataFrame, stateDir: String,
      name: String, retainVersions: Int, appendOnly: Boolean = false)(
      fold: (Option[DataFrame], Dataset[org.apache.spark.sql.Row], Long) => DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(retainVersions >= 1)
    // a resubmitted job reuses its name: stale counters from the prior
    // run would misread as this run's refusal pressure
    resetFoldCounters(name)
    stream.writeStream.queryName(name.replaceAll("\\W", "_"))
      .option("checkpointLocation", s"$stateDir/_checkpoint")
      .foreachBatch(new ((Dataset[org.apache.spark.sql.Row], Long) => Unit) {
        // the identity check is constant for a query run: do the FS
        // round-trips (checkpoint metadata + marker) once, not per batch
        @volatile private var identityChecked = false
        def apply(batch: Dataset[org.apache.spark.sql.Row], id: Long): Unit =
          try applyInner(batch, id)
          catch {
            // every loud contract refusal (late data, checkpoint reset,
            // pending reconcile, divergent params) passes through here:
            // count it so an operator watching the REST progress
            // endpoint sees refusal pressure, not just a dead query
            case e: IllegalStateException =>
              bumpFoldCounter(name, "refusals", 1L); throw e
          }
        private def applyInner(batch: Dataset[org.apache.spark.sql.Row],
            id: Long): Unit = {
        val spark = batch.sparkSession
        val dir = StateDir(spark, stateDir)
        if (!identityChecked) {
          // a reconcile pass that crashed mid-swap leaves this marker;
          // folding over it could read a below-newest version as
          // "latest" and silently lose the parked pre-image — refuse
          // until the reconcile is re-run (its entry path repairs)
          dir.refuseIf("_reconcile_pending")(
            s"state at $stateDir has an incomplete reconcile pass " +
              "(_reconcile_pending marker present — a prior " +
              "minhashDedupReconcile crashed mid-swap). Re-run the " +
              "reconcile to repair before resuming this stream.")
          // a dir built by batch SNAPSHOT folds versions by last+1,
          // not by batch id: folding a stream over it would read
          // colliding version dirs as replays and silently skip
          // micro-batches — one harness per state dir
          dir.refuseIf("_snapshot_owned")(
            s"state at $stateDir was built by minhashDedupSnapshot " +
              "(batch snapshot folds): its version numbers are not " +
              "streaming batch ids, so resuming a stream here would " +
              "silently skip micro-batches. Use a fresh stateDir " +
              "(or keep folding snapshots).")
          dir.bindQueryIdentity(dir.versions.nonEmpty)
          identityChecked = true
        }
        // a replayed batch is already folded: skip
        if (dir.isNew("v", id)(newest =>
            s"batch $id arrived below existing state version v=$newest at $stateDir " +
              "but its own version dir is absent: the streaming checkpoint was reset while " +
              "reusing this stateDir. Use a fresh stateDir (or restore the original checkpoint) " +
              "to avoid double-counting.")) {
          val parent = dir.newest(below = id)
          val prev = parent.map(dir.version(_))
          val out = fold(prev, batch, id)
          if (appendOnly) dir.commitFold(id, parent)(
            prev.fold(out)(_.unionByName(out)), Some(out))
          else dir.commitFold(id, parent)(out)
          dir.prune(retainVersions)
          bumpFoldCounter(name, "batches_folded", 1L)
        }
        ()
        }
      }).start()
  }

  /** Driver-side per-job fold counters — the operational face of the
    * folds' loud-refusal contracts: foreachBatch closures run on the
    * driver, so each fold can record lateness/refusal pressure here
    * and the REST progress endpoint (RestServer → PipelineManager)
    * surfaces it next to Spark's own batch metrics. Keys so far:
    * `batches_folded` (every versionedStateSink fold), `refusals`
    * (any IllegalStateException contract refusal), `late_buckets`
    * (holtMaintained: (type, day) buckets at or before a closed day —
    * recorded before the refusal throws, so the count that killed the
    * query is visible after it). Counters reset when a query with the
    * same name is re-constructed (restart semantics).
    */
  private val foldCountersMap = scala.collection.concurrent.TrieMap
    .empty[String, scala.collection.concurrent.TrieMap[String, Long]]

  private[graft] def bumpFoldCounter(name: String, key: String,
      by: Long): Unit = {
    val m = foldCountersMap.getOrElseUpdate(name,
      scala.collection.concurrent.TrieMap.empty[String, Long])
    m.synchronized { m.update(key, m.getOrElse(key, 0L) + by) }
  }

  /** Snapshot of a job's fold counters (empty for non-fold jobs). */
  def foldCounters(name: String): Map[String, Long] =
    foldCountersMap.get(name).map(_.toMap).getOrElse(Map.empty)

  private def resetFoldCounters(name: String): Unit =
    foldCountersMap.remove(name)

  /** Complete state versions, ascending (Hadoop FS — works on any
    * scheme).
    */
  def stateVersions(spark: SparkSession, stateDir: String): Seq[Long] =
    StateDir(spark, stateDir).versions

  /** The full state at the newest complete version (optionally only
    * versions below a batch id, for in-flight folds): one parquet scan
    * over its chain, the base and the deltas committed after it.
    */
  def latestState(spark: SparkSession, stateDir: String,
      below: Long = Long.MaxValue): Option[DataFrame] =
    StateDir(spark, stateDir).latest(below)

  /** Arbitrary per-key state via Spark 4's transformWithState — the
    * successor to [flat]mapGroupsWithState: typed state primitives
    * (value/list/map), TTL, timers, and a RocksDB-backed store whose
    * changelog checkpoints make state restore O(delta) instead of
    * O(full snapshot) — the property that matters when keyed state is
    * itself at TB scale. This op keeps a running (count, max) per user
    * and emits the updated row each micro-batch; the processor is the
    * template for richer per-entity accumulators.
    *
    * transformWithState requires the RocksDB state store provider.
    * The provider conf is read when the QUERY starts and applies
    * session-wide, so this op does not mutate it behind the caller's
    * back (that would silently flip the provider under every other
    * streaming query in the session, breaking their checkpoint
    * compatibility) — it fails fast with the setting to apply.
    */
  def runningUserStats(events: Dataset[EventRow]): Dataset[UserRunning] = {
    val spark = events.sparkSession
    val provider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass").getOrElse("")
    require(provider.contains("RocksDBStateStoreProvider"),
      "transformWithState needs the RocksDB state store: set " +
        "spark.sql.streaming.stateStore.providerClass to " +
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider " +
        "on the session before starting the query")
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningStatsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }
}

/** Running per-user (n_events, max_value) emitted on every update. */
case class UserRunning(user_id: Long, n_events: Long, max_value: Double)

/** transformWithState processor: one ValueState[UserRunning] per user
  * key, no TTL, no timers — the minimal stateful accumulator shape.
  */
class RunningStatsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, EventRow, UserRunning] {
  import org.apache.spark.sql.Encoders
  import org.apache.spark.sql.streaming.{TTLConfig, TimeMode, TimerValues, ValueState}

  @transient private var st: ValueState[UserRunning] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[UserRunning]("running",
      Encoders.product[UserRunning], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[EventRow],
      timerValues: TimerValues): Iterator[UserRunning] = {
    var cur =
      if (st.exists()) st.get()
      else UserRunning(key, 0L, Double.NegativeInfinity)
    rows.foreach { r =>
      cur = UserRunning(key, cur.n_events + 1, math.max(cur.max_value, r.value))
    }
    st.update(cur)
    Iterator.single(cur)
  }
}
