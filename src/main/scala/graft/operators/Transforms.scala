package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.TransformSpec
import graft.sources.Sources

/** Pipeline transformations (SURVEY.md §2.1) — the reference's
  * filter/map (pipeline/PipelineBuilder.java:36-127) plus the
  * projection ops its columnMapping implies. All are Column
  * expressions, so they stay inside whole-stage codegen and Catalyst
  * pushes filters into the scan.
  */
object Transforms {

  /** Per-JVM salt for default dead-letter run ids (see the route
    * stage): pid + a monotone sequence, so same-millisecond stages
    * never collide — within one JVM (the sequence) OR across
    * concurrently-launched runner processes sharing a deadLetterPath
    * (the pid; round-18 self-review: two JVMs both start their
    * sequence at 1).
    */
  private val routeRunSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  private lazy val jvmPid = ProcessHandle.current().pid()

  /** Eager duplicate-id gate shared by the id-keyed batch stages
    * (semdedup/decontaminate — round-18 self-review): their streaming
    * twins refuse re-delivered/duplicate ids loudly, and the two
    * surfaces must refuse identically (the round-10 rule). Costs one
    * aggregation scan — the quality-gate eagerness contract.
    */
  private def requireUniqueIds(df: DataFrame, idCol: String,
      stage: String): Unit = {
    // nulls refused explicitly (ADVICE r18, with the streaming guard):
    // the groupBy below does catch SEVERAL nulls (null is one group),
    // but a single null id would slip into an id-keyed decision where
    // joins can never match it back
    val nNull = df.filter(col(idCol).isNull).count()
    require(nNull == 0,
      s"$stage: $nNull row(s) with a null `$idCol` — an id-keyed stage " +
        "cannot key them (its streaming twin refuses the same breach)")
    val nDup = df.groupBy(col(idCol)).count()
      .filter(col("count") > 1).count()
    require(nDup == 0,
      s"$stage: $nDup duplicate `$idCol` value(s) in the input frame — " +
        "the stage decides one row per id (its streaming twin refuses " +
        "the same breach); dedup the key first")
  }

  def apply(df: DataFrame, specs: Seq[TransformSpec]): DataFrame =
    specs.foldLeft(df)(applyOne)

  def applyOne(df: DataFrame, t: TransformSpec): DataFrame = t.kind match {
    case "filter" =>
      val props = t.properties
      props.get("expression") match {
        // full SQL predicate, e.g. "o_totalprice > 1000 AND o_orderstatus = 'F'"
        case Some(e) => df.filter(expr(e.toString))
        case None =>
          // reference semantics: substring match of `condition` in `column`
          val cond = props.getOrElse("condition", "").toString
          props.get("column") match {
            case Some(c) => df.filter(col(c.toString).contains(cond))
            case None => // raw-text contains on the single value column
              df.filter(col(df.columns.head).contains(cond))
          }
      }

    case "map" =>
      val props = t.properties
      val mapped = props.get("expression") match {
        case Some(e) =>
          df.withColumn(props.getOrElse("as", "value").toString, expr(e.toString))
        case None =>
          val prefix = props.getOrElse("prefix", "").toString
          val suffix = props.getOrElse("suffix", "").toString
          val target = props.getOrElse("column", df.columns.head).toString
          if (prefix.isEmpty && suffix.isEmpty) df
          else df.withColumn(target, concat(lit(prefix), col(target), lit(suffix)))
      }
      // reference's columnMapping: rename old -> new
      props.get("columnMapping") match {
        case Some(m: Map[_, _]) =>
          m.asInstanceOf[Map[String, String]].foldLeft(mapped) {
            case (d, (from, to)) => d.withColumnRenamed(from, to)
          }
        case _ => mapped
      }

    case "select" =>
      t.properties.get("columns") match {
        case Some(cols: Seq[_]) => df.select(cols.map(c => col(c.toString)): _*)
        case _ => df
      }

    // grouped aggregation stage (beyond the reference's filter/map —
    // its Jet pipeline had no declarative aggregate): `groupBy` is a
    // comma list, `aggregations` maps output column -> SQL aggregate
    // expression ("sum(v)", "count(*)", "max(price)"). Decomposable
    // aggregates get Catalyst's map-side partials for free.
    case "aggregate" =>
      val props = t.properties
      val keys = props.getOrElse("groupBy", "").toString
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val aggs: Seq[org.apache.spark.sql.Column] =
        props.get("aggregations") match {
          case Some(m: Map[_, _]) =>
            m.asInstanceOf[Map[String, Any]].toSeq.sortBy(_._1).map {
              case (as, e) => expr(e.toString).as(as)
            }
          case _ => throw new IllegalArgumentException(
            "aggregate transform requires an `aggregations` map")
        }
      if (keys.isEmpty) df.agg(aggs.head, aggs.tail: _*)
      else df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)

    // whole-frame SQL stage (round 8, beyond the reference): the query
    // references the incoming frame as `__input` via a scoped temp view
    // — arbitrary ANSI analytics (windows, CTEs, joins against
    // catalog tables) inside a YAML pipeline without leaving the
    // declarative plan. The view name is unique per invocation so
    // concurrent pipelines on one session cannot clobber each other.
    case "sql" =>
      val q = t.properties.getOrElse("query",
        throw new IllegalArgumentException(
          "sql transform requires a `query` property")).toString
      val view = s"__graft_sql_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      df.createOrReplaceTempView(view)
      // spark.sql analyzes EAGERLY (Dataset.ofRows asserts analysis), so
      // the resolved plan no longer needs the catalog entry — drop it
      // immediately and no view leaks across pipeline stages
      val out = df.sparkSession.sql(q.replace("__input", view))
      df.sparkSession.catalog.dropTempView(view)
      out

    // declarative data-contract gate (round 8, beyond the reference):
    // `rules` is a list of {kind, column, ...} checks compiled to ONE
    // Quality.audit aggregation pass; any rule whose violation count
    // exceeds `maxViolations` (default 0) fails the pipeline with the
    // per-rule counts in the message. Deliberately EAGER — a gate must
    // decide before the sink runs; the cost is one scan however many
    // rules are attached. On success the frame passes through
    // untouched.
    case "quality" =>
      val props = t.properties
      val rules = parseQualityRules(props)
      props.getOrElse("onViolation", "fail").toString match {
        case "fail" =>
          val maxV = props.getOrElse("maxViolations", "0").toString.toLong
          val row = Quality.audit(df, rules).head()
          val breached = rules.map(r => r.name -> row.getAs[Long](r.name))
            .filter(_._2 > maxV)
          if (breached.nonEmpty) throw new IllegalStateException(
            "quality gate failed: " +
              breached.map { case (n, v) => s"$n=$v" }.mkString(", ") +
              s" (maxViolations=$maxV, rows=${row.getAs[Long]("n_rows")})")
          df
        // DEAD-LETTER ROUTING (round 16 — VERDICT r13 task 7): instead
        // of failing the whole pipeline, violating ROWS divert to
        // `deadLetterPath` with a `violated_rules` audit column naming
        // every rule each row broke (shared kernel Quality.flagRows —
        // the streaming fold uses the same one), and only clean rows
        // continue downstream. Row-local rules only: a table-level
        // rule (unique) cannot blame a row. maxViolations does not
        // apply — routing IS the policy. The dead-letter write is
        // EAGER (a gate decides before the sink runs); the flagged
        // frame is a lazy local checkpoint shared by its two consumers:
        // RDD storage with no catalog-cache entry (a cached plan would
        // serve a resubmitted run the first run's rows after a new file
        // lands), released by the pipeline's run sweep.
        //
        // Idempotent / attributable re-runs (round 17, ADVICE r16):
        // each run writes its own `run=<id>` partition subdir. A
        // `runId` property pins the id — re-running the SAME run
        // OVERWRITES its own partition (exact-replay idempotent, the
        // r13 discipline); without it the run id is the wall-clock
        // stamp, so retries never clobber earlier evidence and every
        // reject row stays attributable to the run that diverted it
        // (reading `deadLetterPath` recovers `run` as a partition
        // column). The previous bare append duplicated reject rows
        // invisibly on every retry.
        case "route" =>
          val path = props.getOrElse("deadLetterPath",
            throw new IllegalArgumentException(
              "quality onViolation=route requires a `deadLetterPath` " +
                "property")).toString
          // refuse a deadLetterPath holding the round-16 FLAT layout
          // (loose part files at the root): writing run=<id> subdirs
          // beside them leaves mixed leaf depths that break partition
          // discovery on the documented read path — the scd2EnrichedTo
          // legacy-layout discipline (migrate old rejects into a
          // run=legacy/ subdir first)
          locally {
            val fs = new org.apache.hadoop.fs.Path(path)
              .getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
            val root = new org.apache.hadoop.fs.Path(path)
            if (fs.exists(root) && fs.listStatus(root).exists(st =>
                st.isFile && !st.getPath.getName.startsWith("_") &&
                  !st.getPath.getName.startsWith(".")))
              throw new IllegalStateException(
                s"deadLetterPath $path holds flat (pre-run-partitioned) " +
                  "reject files: writing run=<id> partitions beside them " +
                  "would break partition discovery for readers. Move the " +
                  "legacy files into a run=legacy/ subdir first.")
          }
          val flagged0 = Quality.flagRows(df, rules)
            .withColumnRenamed("violated_rules", "__graft_viol")
            .localCheckpoint(eager = false)
          // default run ids salt the wall-clock stamp with a per-JVM
          // sequence (round 18, ADVICE r17): two route stages sharing
          // a deadLetterPath and starting in the same millisecond
          // would otherwise land in ONE run partition and
          // mode(overwrite) would clobber the first stage's rejects
          val runDir = props.get("runId").map(r => s"$path/run=$r")
            .getOrElse(s"$path/run=ts_${System.currentTimeMillis()}" +
              s"_p${jvmPid}_${routeRunSeq.incrementAndGet()}")
          flagged0.filter(size(col("__graft_viol")) > 0)
            .withColumnRenamed("__graft_viol", "violated_rules")
            .write.mode("overwrite").parquet(runDir)
          flagged0.filter(size(col("__graft_viol")) === 0)
            .drop("__graft_viol")
        case other => throw new IllegalArgumentException(
          s"quality onViolation must be `fail` or `route`, got `$other`")
      }

    case "identity" => df
    // deterministic exact dedup stage (round 8, beyond the reference):
    // `keys` is the duplicate-key column list, `orderBy` the SURVIVOR
    // order — the first row per key under it wins. orderBy is
    // REQUIRED: dropDuplicates keeps an arbitrary row per key (it
    // varies with partitioning and task order), which silently makes
    // a pipeline non-reproducible; callers should end the order with
    // a unique tiebreak column. Plan shape: one hash shuffle on the
    // keys, and the rank=1 filter rides Spark 4's map-side Partial
    // WindowGroupLimit — per-partition pruning before the exchange.
    case "dedup" =>
      val props = t.properties
      val keys = props.getOrElse("keys", throw new IllegalArgumentException(
          "dedup transform requires a `keys` property")).toString
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      require(keys.nonEmpty, "dedup transform requires at least one key")
      val order = props.getOrElse("orderBy", throw new IllegalArgumentException(
          "dedup transform requires an `orderBy` property (deterministic " +
            "survivor — include a unique tiebreak column)")).toString
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      require(order.nonEmpty, "dedup orderBy must name at least one column")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*).orderBy(parseSortCols(order): _*)
      df.withColumn("__graft_dedup_rn", row_number().over(w))
        .filter(col("__graft_dedup_rn") === 1)
        .drop("__graft_dedup_rn")

    // NEAR-duplicate dedup stage (round 9 — the minhash stack on the
    // YAML surface; exact `dedup` cannot catch boilerplate-perturbed
    // copies): minhash LSH candidates over `mode`/`ngram` shingles of
    // `text`, exact-Jaccard verified at the rational `threshold`
    // (num/den — the integer-compare discipline, never a float tau),
    // connected components over the verified pair graph, then ONE
    // survivor per component under the REQUIRED `orderBy` (the exact-
    // dedup determinism contract: end the order with a unique tiebreak).
    // Non-duplicate rows are singleton components and pass through.
    // Plan shape at scale: O(n·bands) banded shuffle for candidates,
    // checkpoint-bounded pointer-jumping CC, and a window on the
    // high-cardinality component key (map-side WindowGroupLimit) — the
    // corpus_prepare_fuzzy chain, declaratively.
    //
    // RECALL (round 10): candidate recall is set by the LSH banding,
    // not the exact verify — a fixed 32-band/r=4 split of the 128
    // hashes catches a true J=0.5 pair with only p = 1-(1-J^4)^32 ~
    // 0.87, silently losing ~13% of near-threshold duplicates (the
    // sign-LSH-at-cosine-0.5 class). So rows-per-band is DERIVED from
    // the rational threshold (integer compares, coarsest r in
    // {8,4,2,1} keeping per-pair recall >= ~99.9% at tau):
    //   tau >= 7/8  -> r=8 (16 bands)   tau >= 2/3 -> r=4 (32 bands)
    //   tau >= 1/3  -> r=2 (64 bands)   tau >= 1/16 -> r=1 (128 bands)
    // and tau < 1/16 is refused (the band join degenerates toward
    // all-pairs; that threshold does not mean "near-duplicate").
    // Smaller r = more false candidates for the exact verify to
    // discard — recall is bought with verify work, never lost
    // silently.
    case "neardedup" =>
      val cfg = parseNearDedup(t.properties)
      import cfg._
      require(idCol == "id" || !df.columns.contains("id"),
        "neardedup reserves the column name `id` unless it IS the id column")
      // INCREMENTAL (cross-snapshot) mode: a `stateDir` property makes
      // the batch stage fold this run's rows against the pinned state
      // prior runs (or the streaming fold) built there, and emit THIS
      // batch's survivors — the nightly-crawl shape. Same id-order
      // survivor contract as the streaming stage (and the id-order
      // check doubles as the replay guard), so orderBy must be the
      // ascending id.
      if (t.properties.contains("stateDir")) {
        requireAscendingIdOrder(cfg, "incremental")
        graft.streaming.StreamingOps.minhashDedupSnapshot(
          df, idCol, textCol, t.properties("stateDir").toString,
          mode = mode, n = ngram, bands = 128 / rowsPerBand,
          tauNum = tauNum, tauDen = tauDen)
      } else {
        val pairs = Dedup.minhashPairsText(df, idCol, textCol, mode, ngram,
            bands = 128 / rowsPerBand,
            tauNum = tauNum, tauDen = tauDen)
          .select(col("id_a"), col("id_b"))
        // rename the id back BEFORE the survivor window so orderBy can
        // reference it under the user's column name
        val comp = Dedup.connectedComponents(
            df.withColumnRenamed(idCol, "id"), pairs)
          .withColumnRenamed("id", idCol)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("component")).orderBy(parseSortCols(order): _*)
        comp.withColumn("__graft_nd_rn", row_number().over(w))
          .filter(col("__graft_nd_rn") === 1)
          .drop("__graft_nd_rn", "component")
      }

    // SEMANTIC dedup stage (round 18 — VERDICT r17 task 4: the vector
    // stack joins the YAML surface): SemDeDup as a declarative stage —
    // broadcast-centroid cell assignment (argmax cosine, ties to the
    // lowest cid), then a row is a duplicate iff some SMALLER-id
    // same-cell row has exact strict-fold cosine >= tau; survivors
    // pass through with their original columns. The survivor rule is
    // smaller-id-wins BY DESIGN (no orderBy knob): it is the one rule
    // that also folds incrementally, so batch and streaming mode share
    // semantics (Dedup.semanticDedupFold is the single kernel).
    // Centroids come from `centroidsPath` (a (cid, cv) parquet —
    // train offline via Similarity.ivfFit), or, batch-only, derive as
    // the SMALLEST-⌈√n⌉ ids via orderBy/limit. NOTE (ADVICE r18): this
    // intentionally differs from the query layer's `vec_id < k` filter
    // convention — the two are equal only on dense 0-based ids, and a
    // YAML stage must serve sparse/arbitrary integral ids too; do NOT
    // "simplify" this to the filter form (it would silently change
    // stage survivors on sparse-id corpora). Recall below the cell
    // scale is the documented embeddingPairsCells trade.
    case "semdedup" =>
      val cfg = parseSemDedup(t.properties, df.sparkSession,
        forStreaming = false)
      // the streaming twin refuses duplicate ids loudly — the two
      // surfaces must refuse identically (round-10 rule; round-18
      // self-review: the fold would otherwise collapse duplicate-id
      // rows to a nondeterministic embedding and pass BOTH through)
      requireUniqueIds(df, cfg.idCol, "semdedup")
      val cen = cfg.centroids.getOrElse {
        require(Seq("byte", "short", "integer", "long")
            .contains(df.schema(cfg.idCol).dataType.typeName),
          s"semdedup without centroidsPath derives the first-⌈√n⌉-by-id " +
            s"centroid convention, which needs an integral id column; " +
            s"got ${cfg.idCol}: ${df.schema(cfg.idCol).dataType.typeName}" +
            " — supply a centroidsPath instead")
        val k = math.ceil(math.sqrt(df.count().toDouble)).toLong
        df.select(col(cfg.idCol).cast("long").as("cid"),
            col(cfg.vecCol).as("cv"))
          .orderBy(col("cid")).limit(k.toInt)
      }
      val state = Dedup.semanticDedupFold(None, df, cfg.idCol, cfg.vecCol,
        cen, cfg.tau)
      df.join(state.filter(!col("is_dup")).select(col("id").as(cfg.idCol)),
        Seq(cfg.idCol), "left_semi")

    // DECONTAMINATION stage (round 18 — VERDICT r17 task 4): drop
    // training rows that leak a held-out benchmark, declaratively.
    // mode `ngram` (default) is the exact GPT-3/PaLM-style n-gram
    // overlap screen (Contamination.screen — rows with more than
    // `maxHits` distinct n-grams found anywhere in the benchmark are
    // dropped); mode `semantic` is the paraphrase screen
    // (Contamination.screenSemantic — cell-blocked broadcast cosine
    // vs the benchmark at `tau`, any hit drops). The benchmark side
    // reads from `benchPath` and broadcasts — the training corpus
    // never shuffles. Clean rows pass through unchanged.
    case "decontaminate" =>
      val cfg = parseDecontaminate(t.properties)
      // as semdedup: the screens aggregate per id — duplicate-id rows
      // would merge their evidence and one row's fate would ride
      // another row's text/vector; the streaming twin already refuses
      requireUniqueIds(df, cfg.idCol, "decontaminate")
      val spark = df.sparkSession
      val bench = Sources.parquet(spark)(cfg.benchPath)
      cfg.mode match {
        case "ngram" =>
          require(bench.columns.contains(cfg.benchText),
            s"decontaminate benchPath ${cfg.benchPath} has no column " +
              s"`${cfg.benchText}` (set `benchText` to the benchmark's " +
              "text column)")
          val scr = Contamination.screen(df,
            bench.select(col(cfg.benchText).as(cfg.textCol)),
            cfg.idCol, cfg.textCol, cfg.n)
          df.join(scr.filter(col("n_hit") <= cfg.maxHits)
            .select(col(cfg.idCol)), Seq(cfg.idCol), "left_semi")
        case "semantic" =>
          require(bench.columns.contains(cfg.benchVec),
            s"decontaminate benchPath ${cfg.benchPath} has no column " +
              s"`${cfg.benchVec}` (set `benchVector` to the benchmark's " +
              "embedding column)")
          val cenPath = cfg.centroidsPath.getOrElse(
            throw new IllegalArgumentException(
              "semantic decontaminate requires a `centroidsPath` property " +
                "(a (cid, cv) parquet — the cell-blocking quantizer; train " +
                "via Similarity.ivfFit)"))
          val cen = Sources.parquet(spark)(cenPath)
          require(Set("cid", "cv").subsetOf(cen.columns.toSet),
            s"decontaminate centroidsPath $cenPath must hold (cid, cv) " +
              s"columns, got ${cen.columns.mkString(", ")}")
          // the bench side needs row-distinct ids for its cell
          // assignment groupBy; a synthetic one suffices — the screen
          // output never reads bench ids, so their (partitioning-
          // dependent) values cannot affect results
          val benchShaped = bench
            .select(col(cfg.benchVec).as(cfg.vecCol))
            .withColumn(cfg.idCol, monotonically_increasing_id())
          val scr = Contamination.screenSemantic(df, benchShaped,
            cfg.idCol, cfg.vecCol, cen, cfg.tau)
          df.join(scr.filter(col("n_hits") === 0).select(col(cfg.idCol)),
            Seq(cfg.idCol), "left_semi")
      }

    // INDEX-PREP stage (round 19 — VERDICT r18 task 7): build/refresh
    // the durable pinned k-NN-graph artifact from the vector frame
    // flowing through the pipeline — the batch twin of the streaming
    // knnGraphMaintained fold, on the reference's transformations
    // schema. The frame passes through UNCHANGED (an index build is a
    // pipeline side effect with a commit discipline, like the quality
    // gate's dead-letter write); the artifact lands at the
    // ArtifactStore address (`<root>/<artifactId>/src=<fingerprint>`)
    // so every batch graph consumer — and any later pipeline run —
    // hits it instead of re-running the n^1.5 build. Params drift
    // refuses via the pinned-params validation; a changed source
    // fingerprints to a new address (build, never a stale read).
    case "knnindex" =>
      val cfg = parseKnnIndex(t.properties)
      val spark = df.sparkSession
      val root = cfg.indexRoot
        .orElse(graft.GraftSession.indexRoot(spark))
        .getOrElse(throw new IllegalArgumentException(
          "knnindex requires an `indexRoot` property (or the session's " +
            "spark.graft.indexDir / GRAFT_INDEX_DIR): an index-prep " +
            "stage exists to produce a DURABLE artifact"))
      requireUniqueIds(df, cfg.idCol, "knnindex")
      // ADVICE r19: an index root nested under sourcePath would change
      // the source fingerprint on every commit — one artifact per run,
      // and batch consumers fingerprinting the same root never hit it
      ArtifactStore.requireDisjointRoot(spark, root, cfg.sourcePath)
      // the artifact is ADDRESSED by sourcePath's fingerprint — and
      // sourcePath must be the DATASET ROOT (the dir holding
      // `<table>.parquet`), because that is what the batch graph
      // consumers fingerprint (GraftSession.pinnedArtifact passes the
      // data dir): a stage addressing by the bare table dir would land
      // at a different src=<fp> and never be hit by the queries it
      // exists to feed (round-19 self-review). The frame must cover
      // the table exactly — an upstream filter would silently publish
      // a partial index under the full corpus' name (the
      // exportKnnGraphArtifact coverage rule).
      val nSrc = graft.Tables.load(spark, cfg.sourcePath, cfg.sourceTable)
        .count()
      val nDf = df.count()
      require(nDf == nSrc,
        s"knnindex: the frame holds $nDf rows but " +
          s"${cfg.sourcePath}/${cfg.sourceTable}.parquet holds $nSrc — " +
          "the artifact is addressed by the source-dir fingerprint and " +
          "must cover the table exactly (sourcePath is the DATASET " +
          "ROOT; sourceTable names the vector table the pipeline reads)")
      val (cen, cenDesc) = cfg.centroidsPath match {
        case Some(p) =>
          val c = Sources.parquet(spark)(p)
          require(Set("cid", "cv").subsetOf(c.columns.toSet),
            s"knnindex centroidsPath $p must hold (cid, cv) columns, " +
              s"got ${c.columns.mkString(", ")}")
          (c.select(col("cid"), col("cv")), s"path:$p")
        case None =>
          // the QUERY layer's convention (id < ceil(sqrt(n)) over the
          // full frame) — deliberately the buildGraph rule, NOT the
          // semdedup stage's smallest-k-by-id, so the artifact this
          // stage builds is bit-identical to the one the graph queries
          // pin and can be shared with them
          require(Seq("byte", "short", "integer", "long")
              .contains(df.schema(cfg.idCol).dataType.typeName),
            s"knnindex without centroidsPath derives the id_below_k " +
              s"convention, which needs an integral id column; got " +
              s"${cfg.idCol}: ${df.schema(cfg.idCol).dataType.typeName}" +
              " — supply a centroidsPath instead")
          val k = math.ceil(math.sqrt(nDf.toDouble)).toLong
          (df.filter(col(cfg.idCol) < k)
            .select(col(cfg.idCol).cast("long").as("cid"),
              col(cfg.vecCol).as("cv")), s"id_below_$k")
      }
      val fp = ArtifactStore.sourceFingerprint(spark, cfg.sourcePath)
      ArtifactStore.pinned(spark, root, cfg.artifactId, fp,
        ArtifactStore.knnGraphParams(cfg.degree, cfg.nprobe,
          cfg.minNodeId, cenDesc) :+ ("source" -> fp)) { base =>
        val nodeFrame = df.filter(col(cfg.idCol) >= cfg.minNodeId)
          .select(col(cfg.idCol), col(cfg.vecCol))
        Similarity.knnGraph(nodeFrame,
            cfg.idCol, cfg.vecCol, cen, cfg.degree, cfg.nprobe)
          .select(col(cfg.idCol).cast("long").as("src"),
            col("nbr_id").cast("long").as("dst"))
          .write.parquet(s"$base/edges")
        // explicit member list beside the edges (round 20): freshness
        // audits must not infer membership from edge srcs — a member
        // with zero out-edges would read permanently stale
        nodeFrame.select(col(cfg.idCol).cast("long").as("vec_id"))
          .write.parquet(s"$base/members")
      }
      df

    // INDEX-SERVE stage (round 20 — VERDICT r19 task 2: build → serve
    // completes the vector-stack story; the reference is a SERVICE).
    // The pipeline's frame is the QUERY set — (id, vector) rows — and
    // the stage REPLACES it with the top-k graph-ANN results per query
    // (<id>, rank, neighbor_id, cos), walking the durable artifact the
    // `knnindex` stage committed. Serving is READ-ONLY: a missing
    // artifact (never built, or the corpus mutated so this source
    // fingerprints to a fresh address) REFUSES loudly instead of
    // triggering the n^1.5 build, and a params-divergent artifact
    // refuses via the stored pin — the two stale-index traps a
    // deployment actually hits, both named in the message. The REST
    // route (`POST /api/index/search`) serves single vectors through
    // the SAME kernel ([[KnnServe]]), so the two surfaces cannot
    // drift.
    case "knnsearch" =>
      val p = KnnServe.parseServe(t.properties)
      def reqP(key: String) = t.properties.getOrElse(key,
        throw new IllegalArgumentException(
          s"knnsearch requires a `$key` property")).toString
      val idCol = reqP("id")
      val vecCol = reqP("vector")
      val spark = df.sparkSession
      val root = t.properties.get("indexRoot").map(_.toString)
        .orElse(graft.GraftSession.indexRoot(spark))
        .getOrElse(throw new IllegalArgumentException(
          "knnsearch requires an `indexRoot` property (or the session's " +
            "spark.graft.indexDir / GRAFT_INDEX_DIR): serving reads the " +
            "durable artifact the knnindex stage committed"))
      requireUniqueIds(df, idCol, "knnsearch")
      // the walk broadcasts the query frame (and per-step frontiers of
      // |queries|·beam rows) — sound for a query SET, not for a corpus:
      // a million-query frame would die in a broadcast OOM instead of
      // a clear refusal. Corpus-scale all-pairs retrieval is knn_join /
      // the batch graph queries; this stage serves bounded query sets.
      val maxQ = t.properties.getOrElse("maxQueries", "10000").toString.toLong
      val nQ = df.count()
      require(nQ <= maxQ,
        s"knnsearch: $nQ query rows exceed maxQueries=$maxQ — the beam " +
          "walk broadcasts the query frame, so a corpus-scale query set " +
          "belongs on the batch knn_join/graph paths (raise `maxQueries` " +
          "only with driver memory to match)")
      val resolved = KnnServe.resolve(spark, root, p)
      KnnServe.search(spark, resolved,
          df.select(col(idCol).as("q_id"), col(vecCol).as("qv")),
          p.k, p.beam, p.steps)
        .withColumnRenamed("q_id", idCol)

    case other => throw new IllegalArgumentException(s"Unknown transformation type: $other")
  }

  /** Parsed + validated knnindex stage config — shared by the batch
    * stage and the streaming runner's knnGraphMaintained mapping.
    */
  private[graft] case class KnnIndexCfg(idCol: String, vecCol: String,
      degree: Int, nprobe: Int, minNodeId: Long, sourcePath: String,
      sourceTable: String, artifactId: String, indexRoot: Option[String],
      centroidsPath: Option[String])

  private[graft] def parseKnnIndex(props: Map[String, Any]): KnnIndexCfg = {
    def req(k: String) = props.getOrElse(k, throw new IllegalArgumentException(
      s"knnindex transform requires a `$k` property")).toString
    val degree = props.getOrElse("degree", "6").toString.toInt
    val nprobe = props.getOrElse("nprobe", "2").toString.toInt
    require(degree >= 1 && nprobe >= 1,
      s"knnindex degree/nprobe must be >= 1, got $degree/$nprobe")
    val minNodeId = props.getOrElse("minNodeId", "0").toString.toLong
    // default artifactId DERIVES from the parameterization (ADVICE
    // r19): a fixed default ("knn_graph_d6") under non-query-layer
    // params (e.g. the minNodeId=0 default vs the query layer's 5)
    // would commit an artifact at the query layer's address whose
    // params-divergence refusal then breaks every ann_graph_* /
    // ann_index_stats consumer. ONE addressing function shared with
    // the knnsearch/REST serve surfaces (ArtifactStore) — the
    // round-19 two-spellings-never-meet lesson.
    val defaultId =
      ArtifactStore.defaultKnnArtifactId(degree, nprobe, minNodeId)
    KnnIndexCfg(
      idCol = req("id"), vecCol = req("vector"),
      degree = degree, nprobe = nprobe,
      minNodeId = minNodeId,
      sourcePath = req("sourcePath"),
      sourceTable = props.getOrElse("sourceTable", "embeddings").toString,
      artifactId = props.getOrElse("artifactId", defaultId).toString,
      indexRoot = props.get("indexRoot").map(_.toString),
      centroidsPath = props.get("centroidsPath").map(_.toString))
  }

  /** Parsed + validated semdedup stage config — shared by the batch
    * stage and the streaming runner's fold mapping (the neardedup
    * two-surfaces-refuse-identically rule). `centroids` is None only
    * when batch mode may derive the first-⌈√n⌉ convention.
    */
  private[graft] case class SemDedupCfg(idCol: String, vecCol: String,
      tau: Double, centroids: Option[DataFrame])

  private[graft] def parseSemDedup(props: Map[String, Any],
      spark: org.apache.spark.sql.SparkSession,
      forStreaming: Boolean): SemDedupCfg = {
    def req(k: String) = props.getOrElse(k, throw new IllegalArgumentException(
      s"semdedup transform requires a `$k` property")).toString
    val idCol = req("id")
    val vecCol = req("vector")
    val tau = req("tau").toDouble
    require(tau > -1.0 && tau <= 1.0,
      s"semdedup tau must be a cosine threshold in (-1, 1], got $tau")
    val cen = props.get("centroidsPath").map { p =>
      val c = Sources.parquet(spark)(p.toString)
      require(Set("cid", "cv").subsetOf(c.columns.toSet),
        s"semdedup centroidsPath $p must hold (cid, cv) columns " +
          s"(got ${c.columns.mkString(", ")}) — train via Similarity.ivfFit")
      c.select(col("cid"), col("cv"))
    }
    require(cen.nonEmpty || !forStreaming,
      "streaming semdedup requires a `centroidsPath` property: the " +
        "centroid frame must stay FIXED for the stream's lifetime " +
        "(re-deriving per batch would reassign history) — train " +
        "offline via Similarity.ivfFit")
    SemDedupCfg(idCol, vecCol, tau, cen)
  }

  /** Parsed + validated decontaminate stage config (both surfaces). */
  private[graft] case class DecontaminateCfg(mode: String, idCol: String,
      textCol: String, vecCol: String, benchPath: String, benchText: String,
      benchVec: String, n: Int, maxHits: Long, tau: Double,
      centroidsPath: Option[String])

  private[graft] def parseDecontaminate(
      props: Map[String, Any]): DecontaminateCfg = {
    def req(k: String) = props.getOrElse(k, throw new IllegalArgumentException(
      s"decontaminate transform requires a `$k` property")).toString
    val mode = props.getOrElse("mode", "ngram").toString
    require(Set("ngram", "semantic").contains(mode),
      s"decontaminate mode must be ngram or semantic, got $mode")
    val idCol = req("id")
    val benchPath = req("benchPath")
    if (mode == "ngram") {
      val textCol = req("text")
      val n = props.getOrElse("ngram", "5").toString.toInt
      require(n >= 1, s"decontaminate ngram must be >= 1, got $n")
      val maxHits = props.getOrElse("maxHits", "0").toString.toLong
      require(maxHits >= 0, s"decontaminate maxHits must be >= 0")
      DecontaminateCfg(mode, idCol, textCol, null, benchPath,
        props.getOrElse("benchText", textCol).toString, null, n, maxHits,
        0.0, None)
    } else {
      val vecCol = req("vector")
      val tau = req("tau").toDouble
      require(tau > -1.0 && tau <= 1.0,
        s"decontaminate tau must be a cosine threshold in (-1, 1], got $tau")
      DecontaminateCfg(mode, idCol, null, vecCol, benchPath, null,
        props.getOrElse("benchVector", vecCol).toString, 0, 0L, tau,
        props.get("centroidsPath").map(_.toString))
    }
  }

  /** Parsed + validated neardedup stage config — shared by the batch
    * stage and the streaming runner's fold mapping (round 10: the two
    * surfaces must refuse identically).
    */
  private[graft] case class NearDedupCfg(idCol: String, textCol: String,
      mode: String, ngram: Int, tauNum: Int, tauDen: Int,
      rowsPerBand: Int, order: Seq[String])

  /** The ascending-id survivor-order contract shared by the STREAMING
    * neardedup stage and the incremental BATCH stage — one definition
    * so the two fold surfaces refuse identically (the round-10 rule).
    */
  private[graft] def requireAscendingIdOrder(cfg: NearDedupCfg,
      surface: String): Unit = {
    val orderOk = cfg.order match {
      case Seq(one) =>
        val p = one.split("\\s+")
        p.head == cfg.idCol &&
          (p.length == 1 || p.last.equalsIgnoreCase("ASC"))
      case _ => false
    }
    require(orderOk,
      s"$surface neardedup requires orderBy = `${cfg.idCol}` " +
        s"(ascending id — the fold's smaller-id-wins contract), got " +
        s"`${cfg.order.mkString(", ")}`: any other survivor order " +
        "needs future knowledge and cannot fold incrementally")
  }

  private[graft] def parseNearDedup(props: Map[String, Any]): NearDedupCfg = {
    def req(k: String) = props.getOrElse(k, throw new IllegalArgumentException(
      s"neardedup transform requires a `$k` property")).toString
    val idCol = req("id")
    val textCol = req("text")
    val mode = props.getOrElse("mode", "word").toString
    require(Set("word", "char").contains(mode),
      s"neardedup mode must be word or char, got $mode")
    val n = props.getOrElse("ngram", "3").toString.toInt
    val thr = props.getOrElse("threshold", "1/2").toString.split("/")
    require(thr.length == 2 && thr.forall(_.trim.matches("\\d+")),
      "neardedup threshold must be a rational num/den (e.g. 1/2, 19/20)")
    val (tauNum, tauDen) = (thr(0).trim.toInt, thr(1).trim.toInt)
    require(tauNum >= 1 && tauDen >= tauNum,
      s"neardedup threshold must satisfy 0 < num/den <= 1, got $tauNum/$tauDen")
    require(tauNum.toLong * 16 >= tauDen,
      s"neardedup threshold $tauNum/$tauDen < 1/16: LSH candidate " +
        "generation degenerates toward all-pairs at that similarity — " +
        "raise the threshold or use an exact pairwise method")
    val order = req("orderBy").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(order.nonEmpty, "neardedup orderBy must name at least one column " +
      "(deterministic survivor — include a unique tiebreak column)")
    NearDedupCfg(idCol, textCol, mode, n, tauNum, tauDen,
      recallBandRows(tauNum, tauDen), order)
  }

  /** Recall-preserving LSH banding derived from the Jaccard threshold:
    * the coarsest rows-per-band r keeping per-pair candidate recall
    * >= ~99.9% at tau (with 128 minhashes; r ∈ {8,4,2,1}). THE single
    * banding rule — the batch neardedup stage, the streaming fold's
    * defaults, and the YAML mapping must all derive r from tau or a
    * caller at a moderate threshold silently loses recall (a fixed
    * r=4 gives only ~87% per-pair recall at tau=1/2).
    */
  private[graft] def recallBandRows(tauNum: Long, tauDen: Long): Int =
    if (tauNum * 8 >= tauDen * 7) 8
    else if (tauNum * 3 >= tauDen * 2) 4
    else if (tauNum * 3 >= tauDen) 2
    else 1

  /** Parsed quality-stage rules — shared by the batch gate and the
    * streaming runner's audit-fold mapping.
    */
  private[graft] def parseQualityRules(props: Map[String, Any]): Seq[Quality.Rule] =
    props.get("rules") match {
      case Some(rs: Seq[_]) => rs.map {
        case rm: Map[_, _] =>
          val m = rm.asInstanceOf[Map[String, Any]]
          val c = m.getOrElse("column", throw new IllegalArgumentException(
            "quality rule requires a `column`")).toString
          m.getOrElse("kind", "").toString match {
            case "not_null" => Quality.NotNull(c)
            case "non_empty" => Quality.NonEmpty(c)
            case "in_set" => Quality.InSet(c,
              m.getOrElse("allowed", "").toString
                .split(",").map(_.trim).filter(_.nonEmpty).toSeq)
            case "bounds" => Quality.Bounds(c,
              m.getOrElse("lo", "0").toString.toDouble,
              m.getOrElse("hi", "0").toString.toDouble)
            case "unique" => Quality.Unique(c)
            case other => throw new IllegalArgumentException(
              s"Unknown quality rule kind: $other")
          }
        case other => throw new IllegalArgumentException(
          s"quality rule must be a mapping, got $other")
      }
      case _ => throw new IllegalArgumentException(
        "quality transform requires a `rules` list")
    }

  /** "col [ASC|DESC], expr [ASC|DESC], ..." -> sortable Columns (shared
    * by the dedup and neardedup survivor orders).
    */
  private def parseSortCols(order: Seq[String]): Seq[org.apache.spark.sql.Column] =
    order.map { o =>
      val parts = o.split("\\s+")
      val desc = parts.length > 1 && parts.last.equalsIgnoreCase("DESC")
      val e = expr(if (parts.length > 1 &&
        Set("ASC", "DESC").contains(parts.last.toUpperCase))
        parts.dropRight(1).mkString(" ") else o)
      if (desc) e.desc else e.asc
    }
}
