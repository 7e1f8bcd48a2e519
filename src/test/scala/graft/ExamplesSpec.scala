package graft

import java.nio.file.Files
import graft.pipeline._

/** The shipped examples/ configs are living documentation: every file
  * must PARSE against the real schema, and the curation example runs
  * end to end (paths rewritten to temp dirs) — a schema drift in the
  * YAML vocabulary fails here before a user hits it.
  */
class ExamplesSpec extends SparkSpec {

  private val dir = "examples"

  test("every shipped example parses against the real YAML schema") {
    for (f <- Seq("csv_to_parquet.yaml", "quality_gated_dedup.yaml",
      "streaming_directory_watch.yaml", "near_dedup_curation.yaml",
      "incremental_crawl_dedup.yaml", "semantic_dedup.yaml",
      "decontaminate.yaml", "knn_index.yaml", "knn_search.yaml")) {
      val cfg = ConfigParser.parseFile(s"$dir/$f")
      assert(cfg.pipelines.nonEmpty, s"$f parsed to no pipelines")
      assert(cfg.pipelines.forall(p =>
        p.name.nonEmpty && p.source.kind.nonEmpty && p.sink.kind.nonEmpty))
    }
    val cur = ConfigParser.parseFile(s"$dir/quality_gated_dedup.yaml")
      .pipelines.head
    assert(cur.transformations.map(_.kind) == Seq("quality", "dedup", "sql"))
    // neardedup round-trip: every stage property survives parsing with
    // its YAML type (the rational threshold stays a STRING — a YAML
    // engine that read 1/2 as a number would silently change semantics)
    val nd = ConfigParser.parseFile(s"$dir/near_dedup_curation.yaml")
      .pipelines.head.transformations.head
    assert(nd.kind == "neardedup")
    assert(nd.properties("id") == "doc_id" && nd.properties("text") == "text")
    assert(nd.properties("mode") == "word")
    assert(nd.properties("ngram").toString == "3")
    assert(nd.properties("threshold") == "1/2")
    assert(nd.properties("orderBy") == "length(text) DESC, doc_id")
  }

  test("the near-dedup example runs end to end and merges perturbed copies") {
    val in = Files.createTempDirectory("graft_ndin").toString
    val out = Files.createTempDirectory("graft_ndout").toString
    // docs 1/2: one word changed out of 12 (shingle Jaccard ~0.54 >= 1/2);
    // doc 2 is longer so the survivor ORDER (length desc) must pick it;
    // docs 3/4 unrelated singletons pass through
    Files.writeString(java.nio.file.Paths.get(s"$in/docs.csv"),
      "doc_id,text\n" +
        "1,alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu\n" +
        "2,alpha beta gamma delta epsilon zeta eta theta iota kappa lambda municipality\n" +
        "3,one two three four five six seven eight nine ten eleven twelve\n" +
        "4,completely different words in this document than any other here now\n")
    val base = ConfigParser.parseFile(s"$dir/near_dedup_curation.yaml")
      .pipelines.head
    val spec = base.copy(
      source = base.source.copy(properties =
        base.source.properties + ("path" -> in)),
      sink = base.sink.copy(properties =
        base.sink.properties + ("path" -> out)))
    val mgr = new PipelineManager(spark)
    assert(mgr.submit(spec) == mgr.Completed)
    val back = spark.read.parquet(out).collect()
    assert(back.map(_.getAs[String]("doc_id")).sorted.toSeq == Seq("2", "3", "4"))
    GraftSession.release(spark)
  }

  test("the incremental-crawl example folds two crawls against one state dir") {
    val in1 = Files.createTempDirectory("graft_ic1").toString
    val in2 = Files.createTempDirectory("graft_ic2").toString
    val out1 = Files.createTempDirectory("graft_ico1").toString
    val out2 = Files.createTempDirectory("graft_ico2").toString
    val state = Files.createTempDirectory("graft_ics").toString + "/state"
    // zero-padded ids keep the CSV's STRING id order == numeric order
    // (the fold's smaller-id rule compares the id column as-is).
    // crawl 1: docs 001/002 are near-copies (1 word of 12 differs);
    // crawl 2: doc 004 near-copies the crawl-1 survivor, 005 is new —
    // only 005 may survive crawl 2 (003 is a crawl-1 singleton)
    val base12 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    Files.writeString(java.nio.file.Paths.get(s"$in1/c1.csv"),
      "doc_id,text\n" +
        s"001,$base12 mu\n" +
        s"002,$base12 municipality\n" +
        "003,one two three four five six seven eight nine ten eleven twelve\n")
    Files.writeString(java.nio.file.Paths.get(s"$in2/c2.csv"),
      "doc_id,text\n" +
        s"004,$base12 mutation\n" +
        "005,completely different words in this document than any other here\n")
    val base = ConfigParser.parseFile(s"$dir/incremental_crawl_dedup.yaml")
      .pipelines.head
    def run(in: String, out: String) = {
      val spec = base.copy(
        source = base.source.copy(properties =
          base.source.properties + ("path" -> in)),
        transformations = Seq(base.transformations.head.copy(
          properties = base.transformations.head.properties +
            ("stateDir" -> state))),
        sink = base.sink.copy(properties =
          base.sink.properties + ("path" -> out)))
      val mgr = new PipelineManager(spark)
      assert(mgr.submit(spec) == mgr.Completed)
      spark.read.parquet(out).collect()
        .map(_.getAs[String]("doc_id")).sorted.toSeq
    }
    // crawl 1: the smaller id of the near-dup pair survives (the
    // fold's smaller-id-wins rule), the singleton passes
    assert(run(in1, out1) === Seq("001", "003"))
    // crawl 2: 004 matches crawl-1 history and drops WITHOUT
    // re-pairing the old corpus; only the new doc survives
    assert(run(in2, out2) === Seq("005"))
    assert(graft.streaming.StreamingOps
      .stateVersions(spark, state) === Seq(0L, 1L))
    GraftSession.release(spark)
  }

  test("the semantic-dedup example runs end to end and equals the fold kernel") {
    import org.apache.spark.sql.functions._
    val in = Files.createTempDirectory("graft_sdin").toString + "/emb"
    val cenDir = Files.createTempDirectory("graft_sdcen").toString + "/cen"
    val out = Files.createTempDirectory("graft_sdout").toString
    val emb = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    emb.write.parquet(in)
    val k = math.ceil(math.sqrt(emb.count().toDouble)).toLong
    val cen = emb.filter(col("vec_id") < k)
      .select(col("vec_id").cast("long").as("cid"), col("embedding").as("cv"))
    cen.write.parquet(cenDir)
    val base = ConfigParser.parseFile(s"$dir/semantic_dedup.yaml")
      .pipelines.head
    val spec = base.copy(
      source = base.source.copy(properties =
        base.source.properties + ("path" -> in)),
      transformations = Seq(base.transformations.head.copy(
        properties = base.transformations.head.properties +
          ("centroidsPath" -> cenDir))),
      sink = base.sink.copy(properties =
        base.sink.properties + ("path" -> out)))
    val mgr = new PipelineManager(spark)
    assert(mgr.submit(spec) == mgr.Completed)
    val got = spark.read.parquet(out).collect()
      .map(_.getAs[Long]("vec_id")).sorted.toSeq
    val want = graft.operators.Dedup.semanticDedupFold(
        None, emb, "vec_id", "embedding", cen, 0.4)
      .filter(!col("is_dup")).collect().map(_.getAs[Long]("id")).sorted.toSeq
    assert(got.nonEmpty && got.size < emb.count(),
      "semdedup dropped nothing — corpus has planted near-dups")
    assert(got == want, "YAML stage diverged from the fold kernel")
    GraftSession.release(spark)
  }

  test("the knn-index example runs end to end: pinned artifact committed at the CONSUMERS' address, frame passes through") {
    import org.apache.spark.sql.functions._
    // dataset-root layout (the Tables convention): the stage's
    // fingerprint address must be the one batch graph consumers pin
    val dataRoot = Files.createTempDirectory("graft_kids").toString
    val root = Files.createTempDirectory("graft_kiroot").toString
    val out = Files.createTempDirectory("graft_kiout").toString
    val emb = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    emb.write.parquet(s"$dataRoot/embeddings.parquet")
    val base = ConfigParser.parseFile(s"$dir/knn_index.yaml")
      .pipelines.head
    assert(base.transformations.head.kind == "knnindex")
    val spec = base.copy(
      source = base.source.copy(properties =
        base.source.properties + ("path" -> s"$dataRoot/embeddings.parquet")),
      transformations = Seq(base.transformations.head.copy(
        properties = base.transformations.head.properties ++
          Map("sourcePath" -> dataRoot, "indexRoot" -> root))),
      sink = base.sink.copy(properties =
        base.sink.properties + ("path" -> out)))
    val mgr = new PipelineManager(spark)
    assert(mgr.submit(spec) == mgr.Completed)
    // pass-through: the sink holds the corpus unchanged
    assert(spark.read.parquet(out).count() == emb.count())
    // the artifact committed at the pinned address with its params
    val fp = graft.operators.ArtifactStore.sourceFingerprint(spark, dataRoot)
    val art = s"$root/knn_graph_d6/src=$fp"
    val edges = spark.read.parquet(s"$art/edges")
    assert(edges.count() > 0 &&
      edges.columns.sorted.toSeq == Seq("dst", "src"))
    val stored = graft.operators.ArtifactStore.storedParams(spark, art)
    assert(stored("degree") == "6" && stored("kind") == "knn_graph" &&
      stored("source") == fp)
    // the round-19 self-review regression pin: a BATCH graph consumer
    // resolving the same dataset root must HIT the stage's artifact
    // (the two surfaces must share one fingerprint convention)
    val k = math.ceil(math.sqrt(emb.count().toDouble)).toLong
    spark.conf.set("spark.graft.indexDir", root)
    try {
      GraftSession.invalidateModels()
      val hit = GraftSession.pinnedArtifact(spark, "knn_graph_d6", dataRoot,
        graft.operators.ArtifactStore.knnGraphParams(
          6, 2, 5L, s"id_below_$k")) { _ =>
        fail("the batch consumer must hit the stage's artifact")
      }
      assert(hit == art)
    } finally {
      spark.conf.unset("spark.graft.indexDir")
      GraftSession.invalidateModels()
    }
    // a re-run is a no-op refresh (same fingerprint, same params)
    assert(mgr.submit(spec.copy(name = "knn-index-prep-2")) == mgr.Completed)
    assert(spark.read.parquet(s"$art/edges").count() == edges.count())
    GraftSession.release(spark)
  }

  test("build → serve: the knn-search example walks the knn-index artifact, rank-1 bit-equal to the batch ann_graph_search walk on the same artifact") {
    import org.apache.spark.sql.functions._
    val dataRoot = Files.createTempDirectory("graft_ksds").toString
    val root = Files.createTempDirectory("graft_ksroot").toString
    val outIdx = Files.createTempDirectory("graft_ksoi").toString
    val qDir = Files.createTempDirectory("graft_ksq").toString
    val outRes = Files.createTempDirectory("graft_ksor").toString
    val emb = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    emb.write.parquet(s"$dataRoot/embeddings.parquet")
    val mgr = new PipelineManager(spark)
    // 1. BUILD via the knn-index example
    val idxBase = ConfigParser.parseFile(s"$dir/knn_index.yaml").pipelines.head
    val idxSpec = idxBase.copy(
      source = idxBase.source.copy(properties =
        idxBase.source.properties + ("path" -> s"$dataRoot/embeddings.parquet")),
      transformations = Seq(idxBase.transformations.head.copy(
        properties = idxBase.transformations.head.properties ++
          Map("sourcePath" -> dataRoot, "indexRoot" -> root))),
      sink = idxBase.sink.copy(properties =
        idxBase.sink.properties + ("path" -> outIdx)))
    assert(mgr.submit(idxSpec) == mgr.Completed)
    // 2. SERVE via the knn-search example: queries = the 5 anchors
    emb.filter(col("vec_id") < 5)
      .select(col("vec_id").cast("long").as("q_id"),
        col("embedding").as("qv"))
      .write.parquet(s"$qDir/queries.parquet")
    val srBase = ConfigParser.parseFile(s"$dir/knn_search.yaml").pipelines.head
    assert(srBase.transformations.head.kind == "knnsearch")
    val srSpec = srBase.copy(
      source = srBase.source.copy(properties =
        srBase.source.properties + ("path" -> s"$qDir/queries.parquet")),
      transformations = Seq(srBase.transformations.head.copy(
        properties = srBase.transformations.head.properties ++
          Map("sourcePath" -> dataRoot, "indexRoot" -> root))),
      sink = srBase.sink.copy(properties =
        srBase.sink.properties + ("path" -> outRes)))
    assert(mgr.submit(srSpec) == mgr.Completed)
    val got = spark.read.parquet(outRes)
    assert(got.columns.sorted.toSeq == Seq("cos", "neighbor_id", "q_id", "rank"))
    assert(got.filter(col("rank") === 1).count() == 5)
    // 3. CROSS-SURFACE pin: the batch ann_graph_search plan resolving
    // the SAME dataset root must hit the SAME artifact (no rebuild) and
    // its final top-1 must equal the stage's rank-1 rows bit-for-bit
    spark.conf.set("spark.graft.indexDir", root)
    try {
      GraftSession.invalidateModels()
      val batch = SparkEntry.queries("ann_graph_search")(spark, dataRoot)
        .select(col("q_id").cast("long").as("q_id"),
          col("final_id").cast("long").as("nid"), col("final_cos").as("c"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
        .toMap
      val served = got.filter(col("rank") === 1)
        .select(col("q_id").cast("long"), col("neighbor_id").cast("long"),
          col("cos"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
        .toMap
      assert(served == batch,
        s"serve rank-1 diverged from the batch walk: $served vs $batch")
    } finally {
      spark.conf.unset("spark.graft.indexDir")
      GraftSession.invalidateModels()
    }
    GraftSession.release(spark)
  }

  test("the decontaminate example runs end to end and drops leaked rows") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val in = Files.createTempDirectory("graft_dcin").toString + "/docs"
    val bdir = Files.createTempDirectory("graft_dcb").toString + "/bench"
    val out = Files.createTempDirectory("graft_dcout").toString
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "completely different training text with no benchmark overlap"),
      (3L, "short doc"))
      .toDF("doc_id", "text").write.parquet(in)
    // the benchmark holds doc 1's opening 5-grams
    Seq("alpha beta gamma delta epsilon zeta")
      .toDF("text").write.parquet(bdir)
    val base = ConfigParser.parseFile(s"$dir/decontaminate.yaml")
      .pipelines.head
    val spec = base.copy(
      source = base.source.copy(properties =
        base.source.properties + ("path" -> in)),
      transformations = Seq(base.transformations.head.copy(
        properties = base.transformations.head.properties +
          ("benchPath" -> bdir))),
      sink = base.sink.copy(properties =
        base.sink.properties + ("path" -> out)))
    val mgr = new PipelineManager(spark)
    assert(mgr.submit(spec) == mgr.Completed)
    val got = spark.read.parquet(out).collect()
      .map(_.getAs[Long]("doc_id")).sorted.toSeq
    // doc 1 leaks the benchmark (shared 5-grams) and drops; doc 3 is
    // shorter than the window (0 n-grams, 0 hits) and must PASS
    assert(got == Seq(2L, 3L), s"expected docs 2,3 to survive, got $got")
    GraftSession.release(spark)
  }

  test("the dead-letter example routes a quoted empty text as empty_text") {
    val in = Files.createTempDirectory("graft_dlin").toString
    val out = Files.createTempDirectory("graft_dlout").toString
    Files.writeString(java.nio.file.Paths.get(s"$in/docs.csv"),
      "doc_id,text,n_tokens\n1,\"a fine document\",50\n2,\"\",50\n")
    val base = ConfigParser.parseFile(s"$dir/quality_dead_letter.yaml")
      .pipelines.head
    val q = base.transformations.head
    val spec = base.copy(
      source = base.source.copy(properties =
        base.source.properties + ("path" -> in)),
      transformations = Seq(q.copy(properties =
        q.properties + ("deadLetterPath" -> s"$out/rejects"))),
      sink = base.sink.copy(properties =
        base.sink.properties + ("path" -> s"$out/clean")))
    val mgr = new PipelineManager(spark)
    assert(mgr.submit(spec) == mgr.Completed)
    val dead = spark.read.parquet(s"$out/rejects").collect()
      .map(r => (r.getAs[String]("doc_id"),
        r.getAs[Seq[String]]("violated_rules"))).toSeq
    assert(dead == Seq(("2", Seq("empty_text"))))
    assert(spark.read.parquet(s"$out/clean").collect()
      .map(_.getAs[String]("doc_id")).toSeq == Seq("1"))
    GraftSession.release(spark)
  }

  test("the curation example runs end to end on real data") {
    val in = Files.createTempDirectory("graft_exin").toString
    val out = Files.createTempDirectory("graft_exout").toString
    Files.writeString(java.nio.file.Paths.get(s"$in/docs.csv"),
      "doc_id,text\n1,the quick brown fox jumps\n" +
        "2,the quick brown fox jumps\n3,short\n4,another long document here\n")
    val base = ConfigParser.parseFile(s"$dir/quality_gated_dedup.yaml")
      .pipelines.head
    val spec = base.copy(
      source = base.source.copy(properties =
        base.source.properties + ("path" -> in)),
      sink = base.sink.copy(properties =
        base.sink.properties + ("path" -> out)))
    val mgr = new PipelineManager(spark)
    assert(mgr.submit(spec) == mgr.Completed)
    val back = spark.read.parquet(out).collect()
    // doc 2 deduped away (same text, doc 1 survives by orderBy),
    // doc 3 dropped by the sql stage's length filter
    assert(back.map(_.getAs[String]("doc_id")).sorted.toSeq == Seq("1", "4"))
    assert(back.forall(_.getAs[Int]("n_chars") >= 10))
    GraftSession.release(spark)
  }
}
