package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.sources.Sources
import graft.sinks.Sinks
import graft.operators.Transforms
import scala.collection.concurrent.TrieMap

/** Executes PipelineSpecs: source -> transformations -> sink, batch or
  * streaming — the Spark-native form of the reference's
  * PipelineBuilder.build() + PipelineService submit/cancel/status
  * lifecycle.
  */
object PipelineRunner {

  /** The pipeline's dataflow (source + transforms, no sink) — lets the
    * same spec be inspected, tested, or embedded in a larger plan.
    */
  def buildBatch(spark: SparkSession, spec: PipelineSpec): DataFrame =
    Transforms(Sources.read(spark, spec.source), spec.transformations)

  def buildStream(spark: SparkSession, spec: PipelineSpec): DataFrame =
    Transforms(Sources.readStream(spark, spec.source), spec.transformations)

  /** Batch pipelines currently inside runBatch on this JVM — gates the
    * post-pipeline block sweep (see below).
    */
  private val inFlightBatch = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Single monitor making the sweep gate ATOMIC: the entry snapshot +
    * increment, the exit decrement + sweep, and every streaming-query
    * submission all take this lock. Without it the gate is
    * check-then-act — between `decrementAndGet() == 0` /
    * `streams.active.isEmpty` and the unpersist loop, a pipeline or
    * stream started on another RestServer thread could persist or
    * localCheckpoint RDDs whose ids are not in THIS pipeline's `before`
    * snapshot, and the sweep would drop truncated-lineage checkpoint
    * blocks of live work (checkpoint-block-not-found, unrecoverable).
    * Under the lock: a sweep only runs while provably alone (no
    * in-flight batch, no active stream), and neither kind of work can
    * BEGIN mid-sweep — a new batch pipeline blocks at its entry
    * snapshot, a new stream blocks at submission. The sweep only diffs
    * the persistent-RDD map and unpersists the blocks the finished
    * pipeline made, so serializing submissions against it costs little.
    */
  private val sweepLock = new Object

  def runBatch(spark: SparkSession, spec: PipelineSpec): Unit = {
    // stages that persist internally (neardedup's signature/candidate
    // frames, connected-components checkpoints) must not outlive the
    // pipeline on a long-running session (the REST server's JVM), and
    // neither may the quality route stage's flagged frame:
    // un-released blocks accumulate as old-gen pressure — the Bench
    // release() lesson applied to the pipeline surface. The sweep must
    // NOT be the session-global GraftSession.release: RestServer runs
    // submits on a thread pool, and localCheckpointed frames (the CC
    // loop's) have TRUNCATED lineage — a global unpersist under a
    // concurrently-running pipeline or streaming fold loses blocks
    // that cannot be recomputed (checkpoint-block-not-found, a
    // correctness failure, not a perf cost). So: (a) scope the sweep
    // to RDDs that did not exist before this pipeline started, and
    // (b) skip it entirely unless this is the only in-flight batch
    // pipeline AND no streaming query is active — blocks skipped here
    // stay until an explicit GraftSession.release at a known-quiet
    // point (a later pipeline's sweep sees them in its `before`).
    val sc = spark.sparkContext
    val before = sweepLock.synchronized {
      inFlightBatch.incrementAndGet()
      sc.getPersistentRDDs.keySet
    }
    try Sinks.write(buildBatch(spark, spec), spec.sink)
    finally sweepLock.synchronized {
      val alone = inFlightBatch.decrementAndGet() == 0
      if (alone && spark.streams.active.isEmpty) {
        sc.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!before.contains(id)) rdd.unpersist(blocking = true)
        }
      }
    }
  }

  /** Stage kinds that cannot run as a plain row-stream transform and
    * need a streaming twin (or an explicit refusal).
    */
  private val StatefulKinds =
    Set("neardedup", "quality", "dedup", "semdedup", "decontaminate",
      "knnindex")

  /** Streaming submit. Plain row-local stages (filter / map / expr /
    * select / sql / aggregate) compose onto the stream as-is. The
    * STATEFUL YAML stages map to their streaming twins (round 10,
    * VERDICT r9 task 5):
    *
    *  - `neardedup` → [[graft.streaming.StreamingOps.minhashDedupMaintained]]
    *    (the minhash fold). The fold's survivor rule is "no smaller-id
    *    near-duplicate has streamed by" with batches arriving in
    *    non-decreasing id order — so the stage's `orderBy` MUST be the
    *    id column ascending; any other survivor order needs future
    *    knowledge (a later better row would retroactively change the
    *    winner) and is refused. NOTE the contract difference vs batch:
    *    on transitive chains (A~B, B~C, A≁C) the batch stage's
    *    connected components keep only A while the fold keeps A and C
    *    (C has no smaller-id NEIGHBOR) — the incremental rule is
    *    neighbor-minima, not component-minima; a fully-connected
    *    duplicate cluster (the common case the stage targets) dedups
    *    identically, and
    *    [[graft.streaming.StreamingOps.minhashDedupReconcile]] (run at
    *    a quiet point) rewrites the state to component-minima, closing
    *    the divergence. The pipeline's SINK path becomes the fold's
    *    versioned state dir (read survivors with
    *    StreamingOps.latestState, is_dup = false).
    *  - `quality` → [[graft.streaming.StreamingOps.qualityAuditMaintained]]:
    *    a stream cannot retroactively gate batches already sunk, so
    *    streaming mode maintains the running audit counts in the sink
    *    path instead of pass/fail gating; non-row-local rules (unique)
    *    are refused up front — distinct-key state does not fold.
    *    `onViolation: route` (round 17) maps to
    *    [[graft.streaming.StreamingOps.qualityRoutedMaintained]]:
    *    clean rows to `<sink path>/data/batch=<id>`, rejects (with
    *    `violated_rules`) to `deadLetterPath/batch=<id>`, both
    *    idempotent per micro-batch, audit counts still folding in the
    *    sink path.
    *  - `dedup` → refused: its keep-best-per-key survivor window needs
    *    the final winner per key, which streaming cannot know; use
    *    neardedup's id-order contract or run the pipeline in batch
    *    mode.
    *
    * A stateful stage must be the FINAL transform (its output is
    * versioned state, not a row stream) and the sink must be a
    * file/parquet path.
    */
  def runStream(spark: SparkSession, spec: PipelineSpec): StreamingQuery =
    // under sweepLock: a stream must not BECOME active between a solo
    // batch pipeline's streams.active.isEmpty check and its block sweep
    // (see the sweepLock scaladoc); query start is asynchronous and
    // cheap, so holding the monitor across submission is fine
    sweepLock.synchronized {
    val stateful = spec.transformations.zipWithIndex
      .filter { case (t, _) => StatefulKinds.contains(t.kind) }
    if (stateful.isEmpty)
      return Sinks.writeStream(buildStream(spark, spec), spec.sink, spec.name)
    require(stateful.size == 1,
      s"streaming pipeline '${spec.name}' has ${stateful.size} stateful " +
        "stages (neardedup/quality/dedup): at most one is supported — " +
        "its versioned state is the pipeline output")
    val (stage, idx) = stateful.head
    require(idx == spec.transformations.size - 1,
      s"streaming stage `${stage.kind}` must be the final transform in " +
        s"'${spec.name}': it folds into versioned state, not a row stream")
    require(Set("file", "parquet").contains(spec.sink.kind) &&
      spec.sink.properties.contains("path"),
      s"streaming `${stage.kind}` needs a file/parquet sink with a `path` " +
        "(the path becomes the fold's versioned state dir)")
    val stateDir = spec.sink.properties("path")
    val upstream = Transforms(Sources.readStream(spark, spec.source),
      spec.transformations.dropRight(1))
    stage.kind match {
      case "dedup" =>
        throw new IllegalArgumentException(
          s"the `dedup` transform has no streaming twin: its orderBy " +
            "survivor window needs the final winner per key. Use " +
            "`neardedup` with the id-ascending order contract, or run " +
            "this pipeline in batch mode")
      case "quality" =>
        val rules = Transforms.parseQualityRules(stage.properties)
        val nonLocal = rules.filterNot(_.rowLocal).map(_.name)
        require(nonLocal.isEmpty,
          s"quality rules [${nonLocal.mkString(", ")}] are not row-local " +
            "and cannot fold across micro-batches (unique needs " +
            "distinct-key state); drop them or run in batch mode")
        stage.properties.getOrElse("onViolation", "fail").toString match {
          // round 17 (ADVICE r16 medium): `route` previously degraded
          // SILENTLY to the audit-count fold — no routing, no error.
          // It now maps to the streaming dead-letter fold: clean rows
          // to `<sink path>/data/batch=<id>`, rejects to
          // `deadLetterPath/batch=<id>`, audit state in the sink path.
          case "route" =>
            val dlq = stage.properties.getOrElse("deadLetterPath",
              throw new IllegalArgumentException(
                "quality onViolation=route requires a `deadLetterPath` " +
                  "property")).toString
            graft.streaming.StreamingOps.qualityRoutedMaintained(
              upstream, rules, stateDir, dlq, spec.name)
          // a streaming gate cannot retroactively fail batches already
          // sunk — `fail` keeps the running-audit-counts fold (the
          // monitoring face); the operator alerts on the counts
          case "fail" =>
            graft.streaming.StreamingOps.qualityAuditMaintained(
              upstream, rules, stateDir, spec.name)
          case other => throw new IllegalArgumentException(
            s"quality onViolation must be `fail` or `route`, got `$other`")
        }
      case "neardedup" =>
        val cfg = Transforms.parseNearDedup(stage.properties)
        Transforms.requireAscendingIdOrder(cfg, "streaming")
        graft.streaming.StreamingOps.minhashDedupMaintained(
          upstream, cfg.idCol, cfg.textCol, stateDir, spec.name,
          mode = cfg.mode, n = cfg.ngram, bands = 128 / cfg.rowsPerBand,
          tauNum = cfg.tauNum, tauDen = cfg.tauDen)
      // round 18 (VERDICT r17 task 4): the vector stack's streaming
      // twins. `semdedup` → the SemDeDup fold (same smaller-id rule as
      // the batch stage — one kernel, two surfaces); centroidsPath is
      // REQUIRED here (fixed for the stream's lifetime — the parser
      // refuses without it).
      case "semdedup" =>
        val cfg = Transforms.parseSemDedup(stage.properties, spark,
          forStreaming = true)
        graft.streaming.StreamingOps.semanticDedupMaintained(
          upstream, cfg.idCol, cfg.vecCol, cfg.centroids.get, cfg.tau,
          stateDir, spec.name)
      // `decontaminate` → the per-doc evidence folds: a stream cannot
      // retroactively drop rows already sunk, so streaming mode
      // maintains the screen EVIDENCE in the state dir (threshold it
      // downstream), the qualityAuditMaintained monitoring shape.
      // mode=ngram → contaminationMaintained (id, n_hit, n_grams);
      // mode=semantic → semContaminationMaintained (id, n_hits) —
      // round 19, VERDICT r18 task 3: the same cell-blocked
      // screenSemantic kernel as the batch stage, with the
      // centroidsPath REQUIRED (the quantizer must stay fixed for the
      // stream's lifetime — the semdedup streaming contract).
      case "decontaminate" =>
        val cfg = Transforms.parseDecontaminate(stage.properties)
        val bench = Sources.parquet(spark)(cfg.benchPath)
        import org.apache.spark.sql.functions.{col, monotonically_increasing_id}
        cfg.mode match {
          case "ngram" =>
            require(bench.columns.contains(cfg.benchText),
              s"decontaminate benchPath ${cfg.benchPath} has no column " +
                s"`${cfg.benchText}`")
            graft.streaming.StreamingOps.contaminationMaintained(
              upstream, cfg.idCol, cfg.textCol,
              bench.select(col(cfg.benchText).as(cfg.textCol)),
              cfg.n, stateDir, spec.name)
          case "semantic" =>
            // the streaming-specific contract first: without a pinned
            // quantizer the mode cannot stream at all
            val cenPath = cfg.centroidsPath.getOrElse(
              throw new IllegalArgumentException(
                "streaming semantic decontaminate requires a " +
                  "`centroidsPath` property (a (cid, cv) parquet — the " +
                  "cell-blocking quantizer must stay FIXED for the " +
                  "stream's lifetime; train via Similarity.ivfFit)"))
            require(bench.columns.contains(cfg.benchVec),
              s"decontaminate benchPath ${cfg.benchPath} has no column " +
                s"`${cfg.benchVec}` (set `benchVector` to the " +
                "benchmark's embedding column)")
            val cen = Sources.parquet(spark)(cenPath)
            require(Set("cid", "cv").subsetOf(cen.columns.toSet),
              s"decontaminate centroidsPath $cenPath must hold " +
                s"(cid, cv) columns, got ${cen.columns.mkString(", ")}")
            // synthetic bench ids, as the batch stage: the screen's
            // output never reads them
            val benchShaped = bench
              .select(col(cfg.benchVec).as(cfg.vecCol))
              .withColumn(cfg.idCol, monotonically_increasing_id())
            graft.streaming.StreamingOps.semContaminationMaintained(
              upstream, cfg.idCol, cfg.vecCol, benchShaped,
              cen.select(col("cid"), col("cv")), cfg.tau,
              stateDir, spec.name)
        }
      // `knnindex` → knnGraphMaintained (round 19 — VERDICT r18
      // task 7): the streaming twin of the batch index-prep stage.
      // The state dir holds the maintained graph; hand it to the
      // batch consumers' pinned address with
      // StreamingOps.exportKnnGraphArtifact at a quiet point. The
      // quantizer must be PINNED (centroidsPath) — deriving id_below_k
      // per batch would reassign history's cells.
      case "knnindex" =>
        val cfg = Transforms.parseKnnIndex(stage.properties)
        val cenPath = cfg.centroidsPath.getOrElse(
          throw new IllegalArgumentException(
            "streaming knnindex requires a `centroidsPath` property: " +
              "the coarse quantizer must stay FIXED for the stream's " +
              "lifetime (train via Similarity.ivfFit); the batch stage " +
              "may derive id_below_k instead"))
        val cen = Sources.parquet(spark)(cenPath)
        require(Set("cid", "cv").subsetOf(cen.columns.toSet),
          s"knnindex centroidsPath $cenPath must hold (cid, cv) " +
            s"columns, got ${cen.columns.mkString(", ")}")
        // the batch stage excludes anchors below minNodeId from the
        // node set — the streaming twin must build the SAME graph
        // under the same YAML (round-19 self-review: feeding the raw
        // upstream indexed the anchors as members)
        val nodesOnly = upstream.filter(
          org.apache.spark.sql.functions.col(cfg.idCol) >= cfg.minNodeId)
        graft.streaming.StreamingOps.knnGraphMaintained(
          nodesOnly, cfg.idCol, cfg.vecCol,
          cen.select(org.apache.spark.sql.functions.col("cid"),
            org.apache.spark.sql.functions.col("cv")),
          stateDir, spec.name, degree = cfg.degree, nprobe = cfg.nprobe)
    }
    }
}

/** Named-job manager mirroring the reference's REST surface
  * (controller/PipelineController.java: submit/status/cancel/list) minus
  * the HTTP shell.
  */
class PipelineManager(spark: SparkSession) {
  sealed trait Status
  case object Completed extends Status
  case class Running(query: StreamingQuery) extends Status
  case class Failed(error: Throwable) extends Status

  /** Reference dto/JobInfo.java: name + status + submission time. */
  case class JobInfo(name: String, status: String, submissionTime: Long)

  /** Last micro-batch progress of a live streaming job — the numbers a
    * pipeline operator actually watches (batch id, row counts, rates).
    * Doubles may be NaN before the first complete batch; the REST layer
    * renders those as JSON null.
    */
  case class ProgressInfo(batchId: Long, numInputRows: Long,
      inputRowsPerSecond: Double, processedRowsPerSecond: Double)

  /** Structured-streaming lastProgress for a RUNNING job: None for
    * batch/completed/unknown jobs and for streams that have not yet
    * finished a micro-batch (lastProgress is null until then).
    */
  def lastProgress(name: String): Option[ProgressInfo] = jobs.get(name) match {
    case Some(Running(q)) if q.isActive =>
      Option(q.lastProgress).map { p =>
        ProgressInfo(p.batchId, p.numInputRows,
          p.inputRowsPerSecond, p.processedRowsPerSecond)
      }
    case _ => None
  }

  /** Refusal/lateness counters recorded by the job's stateful fold
    * (StreamingOps.foldCounters) — empty for batch jobs and streams
    * that are not versioned-state folds. Named jobs pass their name
    * straight through to the fold, so the keying lines up.
    */
  def foldCounters(name: String): Map[String, Long] =
    graft.streaming.StreamingOps.foldCounters(name)

  /** Serve one ad-hoc query vector against the pinned k-NN-graph
    * artifact (round 20 — VERDICT r19 task 2: the REST face of the
    * `knnsearch` stage; the SAME [[graft.operators.KnnServe]] kernel
    * resolves and walks, so the two surfaces cannot drift). `props`
    * uses the stage's property vocabulary (sourcePath required;
    * artifactId/degree/nprobe/minNodeId/centroidsPath/k/beam/steps
    * optional with the stage defaults). Read-only — every refusal the
    * stage raises (unbuilt artifact, mutated corpus, params drift)
    * surfaces here identically.
    */
  def knnSearch(props: Map[String, Any],
      vector: Array[Float]): Seq[(Long, Double)] = {
    val p = graft.operators.KnnServe.parseServe(props)
    val root = props.get("indexRoot").map(_.toString)
      .orElse(graft.GraftSession.indexRoot(spark))
      .getOrElse(throw new IllegalArgumentException(
        "knnSearch requires an `indexRoot` property (or the session's " +
          "spark.graft.indexDir / GRAFT_INDEX_DIR)"))
    // memoized per (root, artifact generation, params): a long-running
    // server answering repeated searches reuses the resolved+persisted
    // frames; the fingerprint inside the memo key keeps staleness
    // detection exact (a mutated corpus misses and refuses cold)
    val resolved = graft.operators.KnnServe.resolveCached(spark, root, p)
    import spark.implicits._
    val q = Seq((0L, vector)).toDF("q_id", "qv")
    graft.operators.KnnServe.search(spark, resolved, q, p.k, p.beam, p.steps)
      .orderBy(org.apache.spark.sql.functions.col("rank"))
      .collect()
      .map(row => (row.getAs[Number]("neighbor_id").longValue(),
        row.getAs[Double]("cos"))).toSeq
  }

  private val jobs = TrieMap.empty[String, Status]
  private val specs = TrieMap.empty[String, PipelineSpec]
  private val submittedAt = TrieMap.empty[String, Long]

  def submit(spec: PipelineSpec): Status = {
    submittedAt.put(spec.name, System.currentTimeMillis())
    val st =
      try {
        if (spec.streaming) Running(PipelineRunner.runStream(spark, spec))
        else { PipelineRunner.runBatch(spark, spec); Completed }
      } catch { case e: Throwable => Failed(e) }
    jobs.put(spec.name, st)
    specs.put(spec.name, spec)
    st
  }

  def submitAll(config: PipelineConfig): Map[String, Status] =
    config.pipelines.map(p => p.name -> submit(p)).toMap

  def status(name: String): Option[String] = jobs.get(name).map {
    case Completed => "COMPLETED"
    case Running(q) => if (q.isActive) "RUNNING" else "STOPPED"
    case Failed(e) => s"FAILED: ${e.getMessage}"
  }

  def stop(name: String): Boolean = jobs.get(name) match {
    case Some(Running(q)) if q.isActive => q.stop(); true
    case _ => false
  }

  /** Stop (if running) and resubmit the job's retained spec — the
    * reference's PipelineService.restartPipeline.
    */
  def restart(name: String): Option[Status] =
    specs.get(name).map { spec => stop(name); submit(spec) }

  def list: Map[String, String] =
    jobs.keySet.flatMap(n => status(n).map(n -> _)).toMap

  /** Number of currently-running jobs (controller's GET /count). */
  def runningCount: Int =
    jobs.values.count { case Running(q) => q.isActive; case _ => false }

  /** Whether a named job is actively running (GET /jobs/{name}/status
    * boolean form).
    */
  def isRunning(name: String): Boolean = jobs.get(name) match {
    case Some(Running(q)) => q.isActive
    case _ => false
  }

  /** Stop every running job (controller's POST /stop-all); returns the
    * names that were actually stopped.
    */
  def stopAll(): Seq[String] =
    jobs.keySet.toSeq.sorted.filter(stop)

  /** All currently-RUNNING jobs as JobInfo records — the controller's
    * GET /jobs payload (the reference only lists running jobs there).
    */
  def runningJobs: Map[String, JobInfo] =
    jobs.keySet.toSeq.sorted.iterator.flatMap { n =>
      jobs.get(n) match {
        case Some(Running(q)) if q.isActive =>
          Iterator.single(n ->
            JobInfo(n, "RUNNING", submittedAt.getOrElse(n, 0L)))
        case _ => Iterator.empty
      }
    }.toMap
}
