package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.cosine_sim
import graft.sources.Sources

/** SERVE the pinned k-NN-graph artifact (round 20 — VERDICT r19
  * task 2: `knnindex` builds the durable index, nothing executed a
  * search against it; the reference is a *service*, so build → serve
  * is the missing half of the vector-stack story).
  *
  * One kernel, two surfaces (the knnindex/knnGraphMaintained twin
  * discipline): the YAML `knnsearch` stage hands the pipeline's frame
  * through as the QUERY set, and the REST route
  * (`POST /api/index/search`) serves a single ad-hoc vector — both
  * resolve the artifact through [[resolve]] and walk it through
  * [[search]], so they can never drift.
  *
  * Serving is READ-ONLY by contract: [[resolve]] REFUSES when no
  * committed artifact sits at the address — building is the
  * `knnindex` stage's job (with its commit/staging discipline), and a
  * serve path that silently triggered an n^1.5 build would turn a
  * mis-addressed query into an hour of cluster work. The refusal
  * message distinguishes the two miss causes a user can hit: no
  * generation at all for the artifact id, vs generations exist but
  * none at THIS source fingerprint (the corpus mutated — stale-index
  * protection working as designed: rebuild via knnindex). Params
  * divergence on a hit refuses via the stored-params pin
  * (ArtifactStore.validate — the `_minhash_params` discipline).
  *
  * Entry convention mirrors the build's pinned `centroids` param:
  * `id_below_<k>` uses the centroid VECTORS as entry nodes directly
  * (they are corpus vectors — the query layer's convention);
  * `path:<p>` (a trained quantizer) enters through per-cell MEDOID
  * nodes (argmax cosine to the centroid among the cell's stored
  * nodes — the ann_graph_trained entry shape), computed in one
  * cell-assignment pass over the node frame. A deployment serving a
  * trained index at scale pins the medoid frame as its own artifact;
  * here it rides the session model cache.
  */
object KnnServe {

  /** Everything a search needs, resolved + validated once. */
  final case class Resolved(artifactPath: String, edges: DataFrame,
      nodes: DataFrame, entry: DataFrame)

  /** The serve-side parameterization — exactly the build stage's
    * address-relevant subset ([[Transforms.parseKnnIndex]] defaults
    * mirrored, including the derived default artifactId, so a stage
    * and a route with the same properties meet the same address).
    */
  final case class ServeParams(degree: Int, nprobe: Int, minNodeId: Long,
      sourcePath: String, sourceTable: String, artifactId: String,
      centroidsPath: Option[String], k: Int, beam: Int, steps: Int)

  def parseServe(props: Map[String, Any]): ServeParams = {
    def req(key: String) = props.getOrElse(key,
      throw new IllegalArgumentException(
        s"knnsearch requires a `$key` property")).toString
    val degree = props.getOrElse("degree", "6").toString.toInt
    val nprobe = props.getOrElse("nprobe", "2").toString.toInt
    val minNodeId = props.getOrElse("minNodeId", "0").toString.toLong
    // the shared addressing function (one spelling with the build
    // stage — the round-19 two-surfaces-never-meet lesson)
    val defaultId = ArtifactStore.defaultKnnArtifactId(degree, nprobe, minNodeId)
    val k = props.getOrElse("k", "5").toString.toInt
    val beam = props.getOrElse("beam", "8").toString.toInt
    val steps = props.getOrElse("steps", "6").toString.toInt
    require(k >= 1 && beam >= k && steps >= 1,
      s"knnsearch needs k >= 1, beam >= k, steps >= 1 (the frontier " +
        s"can hold at most `beam` candidates, so top-k past it would " +
        s"silently truncate); got k=$k beam=$beam steps=$steps")
    ServeParams(degree, nprobe, minNodeId, req("sourcePath"),
      props.getOrElse("sourceTable", "embeddings").toString,
      props.getOrElse("artifactId", defaultId).toString,
      props.get("centroidsPath").map(_.toString), k, beam, steps)
  }

  /** Resolve the committed artifact for `p` under `root` — refusing
    * (never building) on any miss, validating the params pin on a hit.
    * Returns the edge/node/entry frames the walk consumes; node and
    * entry frames persist (both are re-consumed per beam step) and are
    * released by the session's clearCache-between-queries contract.
    */
  def resolve(spark: SparkSession, root: String, p: ServeParams): Resolved =
    resolveWithFp(spark, root, p,
      ArtifactStore.sourceFingerprint(spark, p.sourcePath))

  /** [[resolve]] memoized per (root, artifactId, fingerprint, params)
    * through the session model cache — the LONG-RUNNING-SERVER shape
    * (the REST route): repeated identical requests reuse the resolved
    * (and persisted) frames instead of re-reading params and
    * re-persisting per request. The source FINGERPRINT is recomputed
    * per call and is part of the memo key, so a mutated corpus misses
    * the memo and refuses exactly like a cold resolve — memoization
    * never trades away staleness detection. The cache holds one entry
    * per served artifact generation (bounded by what the deployment
    * actually serves); `GraftSession.invalidateModels()` drops it, and
    * a `release()` merely unpersists the frames (later searches
    * recompute lazily — correct, just colder).
    */
  def resolveCached(spark: SparkSession, root: String,
      p: ServeParams): Resolved = {
    val fp = ArtifactStore.sourceFingerprint(spark, p.sourcePath)
    graft.GraftSession.cachedModel[Resolved](
      s"knnserve:$root/${p.artifactId}/src=$fp/" +
        s"${p.degree},${p.nprobe},${p.minNodeId}," +
        s"${p.centroidsPath.getOrElse("id_below")}",
      p.sourcePath) { resolveWithFp(spark, root, p, fp) }
  }

  private def resolveWithFp(spark: SparkSession, root: String,
      p: ServeParams, fp: String): Resolved = {
    val src = graft.Tables.load(spark, p.sourcePath, p.sourceTable)
    require(Set("vec_id", "embedding").subsetOf(src.columns.toSet),
      s"knnsearch source table ${p.sourcePath}/${p.sourceTable}.parquet " +
        s"must hold (vec_id, embedding) columns, got ${src.columns.mkString(", ")}")
    val (cen, cenDesc) = p.centroidsPath match {
      case Some(cp) =>
        val c = Sources.parquet(spark)(cp)
        require(Set("cid", "cv").subsetOf(c.columns.toSet),
          s"knnsearch centroidsPath $cp must hold (cid, cv) columns, " +
            s"got ${c.columns.mkString(", ")}")
        (c.select(col("cid"), col("cv")), s"path:$cp")
      case None =>
        val k = math.ceil(math.sqrt(
          graft.Tables.rowCount(spark, p.sourcePath, p.sourceTable)
            .toDouble)).toLong
        (src.filter(col("vec_id") < k)
          .select(col("vec_id").cast("long").as("cid"),
            col("embedding").as("cv")), s"id_below_$k")
    }
    val artDir = s"$root/${p.artifactId}/src=$fp"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(artDir))) {
      val others = ArtifactStore.generations(spark, root, p.artifactId)
      val why =
        if (others.isEmpty)
          s"no committed generation of artifact `${p.artifactId}` under " +
            s"$root — run the knnindex stage (or exportKnnGraphArtifact) first"
        else
          s"artifact `${p.artifactId}` has ${others.size} committed " +
            s"generation(s) under $root but NONE at this source's " +
            s"fingerprint src=$fp — the corpus at ${p.sourcePath} changed " +
            "since the index was built (stale-index refusal working as " +
            "designed), or the fingerprint rule changed across library " +
            "versions; refresh via the knnindex stage " +
            s"(existing: ${others.map(_.fingerprint).mkString(", ")})"
      throw new IllegalStateException(s"knnsearch: $why. Serving is " +
        "read-only and never builds.")
    }
    // params pin: divergence between the request and the stored build
    // refuses with the diff named — the SAME validation the build
    // surface runs (ArtifactStore.validateStored), so the two
    // refusal semantics cannot drift
    ArtifactStore.validateStored(spark, artDir,
      (ArtifactStore.knnGraphParams(p.degree, p.nprobe,
        p.minNodeId, cenDesc) :+ ("source" -> fp)).toMap,
      p.artifactId)
    val nodes = src.filter(col("vec_id") >= p.minNodeId)
      .select(col("vec_id"), col("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val edges = Sources.parquet(spark)(s"$artDir/edges")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val entry = (p.centroidsPath match {
      case None =>
        // id_below_<k>: centroid vectors ARE corpus vectors — those at
        // or above the node floor enter directly (the query layer's
        // centroidEntry convention)
        cen.filter(col("cid") >= p.minNodeId)
          .select(col("cid").as("node"), col("cv").as("nv"))
      case Some(_) =>
        // trained quantizer: centroids are not nodes — enter through
        // each cell's MEDOID node (argmax cosine to the centroid among
        // the cell's primary-stored nodes, ties to the smallest id)
        // the struct max decides on (cosine desc, smallest id) before
        // ever comparing the rider embedding field — (cc, negid) is
        // unique per row, so the carried vector is deterministic
        Similarity.cellRanked(nodes, "vec_id", "embedding", cen)
          .filter(col("crk") === 1)
          .select(col("cid"),
            struct(col("cc").as("c"), (lit(0L) - col("vec_id")).as("negid"),
              col("embedding").as("v")).as("m"))
          .groupBy(col("cid")).agg(max(col("m")).as("m"))
          .select((lit(0L) - col("m.negid")).as("node"), col("m.v").as("nv"))
    }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Resolved(artDir, edges, nodes, entry)
  }

  /** Walk the resolved artifact for a (q_id, qv) query frame: entry =
    * the query's `beam` nearest entry nodes, then the shared
    * [[Similarity.graphBeamSearch]] kernel for `steps` rounds, top-`k`
    * of the final frontier per query. Returns
    * (q_id, rank, neighbor_id, cos) — rank 1-based by
    * (cos desc, id asc), engine-deterministic.
    */
  def search(spark: SparkSession, r: Resolved, queries: DataFrame,
      k: Int, beam: Int, steps: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wE = Window.partitionBy(col("q_id"))
      .orderBy(col("ncos").desc, col("node").asc)
    val frontier0 = broadcast(queries)
      .crossJoin(broadcast(r.entry))
      .select(col("q_id"), col("node"),
        cosine_sim(col("qv"), col("nv")).as("ncos"))
      .withColumn("__rn", row_number().over(wE))
      .filter(col("__rn") <= beam)
      .select(col("q_id"), col("node"), col("ncos"))
    val frontier = Similarity.graphBeamSearch(r.nodes, r.edges, queries,
      frontier0, Seq("q_id"), lit(beam), steps)
    frontier.withColumn("rank", row_number().over(wE))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("node").as("neighbor_id"), col("ncos").as("cos"))
  }
}
