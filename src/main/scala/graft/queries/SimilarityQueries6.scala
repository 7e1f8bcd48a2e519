package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GraftFunctions.cosine_sim

/** Round-9 similarity additions.
  *
  * `ann_graph_search` — BEAM GRAPH SEARCH, the query-time primitive of
  * every graph-ANN index (the HNSW ef-search loop): keep a width-Beam
  * frontier of best-so-far nodes, expand all their out-neighbors in
  * the k-NN graph that `ann_knn_graph` builds, keep the top-Beam of
  * frontier ∪ expansions, repeat. Completes the graph story: build
  * (ann_knn_graph) → search (this). Everything is deterministic and
  * oracle-replayable: the graph is the corpus-derived-k build
  * restricted to non-anchor nodes; the initial frontier is the query's
  * Beam nearest centroid vectors (the coarse-quantizer hop real
  * IVF+graph systems take — probed: a fixed single entry strands every
  * anchor in a far local optimum 0/5, and width-1 greedy even from the
  * right cell still converged short 0/5 on this weakly-clustered
  * corpus — BEAM WIDTH is the recall knob, exactly as in HNSW);
  * ranking is (cosine DESC, node ASC) so the frontier SET is
  * engine-identical; candidates always include the previous frontier,
  * so the running top-1 never worsens and a stabilized frontier is a
  * fixed point — the FIXED 6-step unroll equals run-to-convergence
  * whenever it converges within 6 (probed: converged by 4). The
  * output compares each query's
  * final top-1 against the exact top-1 among graph nodes (`hit`) —
  * beam search on a sparse graph is APPROXIMATE by construction and
  * the eval says by how much.
  *
  * Scale shape: each step joins the anchors×Beam frontier (broadcast)
  * against the edge list — frontier-bounded like q107's random walks;
  * the exact-top-1 side is the anchors × nodes eval harness (anchor
  * SAMPLES at scale, the ann_recall class); the graph build is the
  * audited ann_knn_graph plan.
  *
  * `ann_auc` — EXACT tie-aware AUC (Mann-Whitney rank-sum) of the
  * cosine score as a same-label classifier, per anchor: the eval every
  * embedding-quality report leads with (retrieval recall tells you
  * about the top-k; AUC tells you about the whole ranking). All
  * arithmetic integer until one final division: rank() min-ranks +
  * per-tie-group counts give 2·average-rank = 2r + cnt − 1 (integral),
  * positives sum it, and AUC = (2R⁺ − n⁺(n⁺+1)) / (2 n⁺ n⁻) — exact
  * rationals into one IEEE division; degenerate anchors (no positives
  * or no negatives) emit null rather than tripping ANSI division.
  */
object SimilarityQueries6 extends QueryModule {

  private[queries] val NAnchors = 5
  // probed at sf0.01: convergence by step 4; 6 keeps margin without
  // paying 8 rounds of fixed per-step scheduling latency
  private[queries] val Steps = 6
  private[queries] val Beam = 8
  private[queries] val Degree = 6

  /** The shared graph-ANN pieces: node set, the ann_knn_graph edge
    * build restricted to nodes, anchors, coarse centroids — ONE
    * definition for ann_graph_search and the round-13 hierarchical
    * entry (ann_hier_search): nodes and edges persisted (both are
    * re-consumed per beam step), released by the caller's
    * clearCache-between-queries contract.
    */
  private[queries] case class GraphParts(nodes: DataFrame, edges: DataFrame,
    anchors: DataFrame, centroids: DataFrame)

  private[queries] def buildGraph(s: SparkSession, dir: String): GraphParts = {
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val k = math.ceil(math.sqrt(
      Tables.rowCount(s, dir, "embeddings").toDouble)).toLong
    val centroids = emb.filter($"vec_id" < k)
      .select($"vec_id".cast("long").as("cid"), $"embedding".as("cv"))
    val nodes = emb.filter($"vec_id" >= NAnchors)
      .select($"vec_id", $"embedding")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the ann_knn_graph edge build, restricted to the node set — built
    // ONCE per (dir) per session (round 18, VERDICT r17 task 5: the
    // graph-search/ef_curve/hier trio each re-ran this n^1.5 cross
    // join, 27.9-34.8 s EACH at 100×; the artifact is a deterministic
    // pure function of the embeddings table and (src, dst) longs
    // round-trip parquet bit-exactly). At 100 TB this IS the persisted
    // index; its incremental maintenance is knnGraphMaintained. Round
    // 19 (VERDICT r18 task 1): with an index root configured
    // (spark.graft.indexDir / GRAFT_INDEX_DIR) the artifact is DURABLE
    // and params-pinned — a cold new session re-reads it (no rebuild),
    // and a knnGraphMaintained state exports to the SAME address
    // (StreamingOps.exportKnnGraphArtifact), so the stream-maintained
    // index is these consumers' index across sessions.
    val edgesPath = graft.GraftSession.pinnedArtifact(s, "knn_graph_d6",
      dir, graft.operators.ArtifactStore.knnGraphParams(
        Degree, 2, NAnchors.toLong, s"id_below_$k")) {
      base =>
        val wA = Window.partitionBy($"vec_id").orderBy($"cc".desc, $"cid".asc)
        val ranked = nodes.crossJoin(broadcast(centroids))
          .select($"vec_id", $"embedding", $"cid",
            cosine_sim($"embedding", $"cv").as("cc"))
          .withColumn("crk", row_number().over(wA))
        val stored = ranked.filter($"crk" === 1)
          .select($"vec_id".as("nbr_id"), $"embedding".as("nv"), $"cid")
        val probes = ranked.filter($"crk" <= 2)
          .select($"vec_id", $"embedding".as("pv"), $"cid")
        val wK = Window.partitionBy($"vec_id")
          .orderBy($"ecos".desc, $"nbr_id".asc)
        probes.join(stored, "cid")
          .filter($"vec_id" =!= $"nbr_id")
          .select($"vec_id", $"nbr_id", cosine_sim($"pv", $"nv").as("ecos"))
          .withColumn("rk", row_number().over(wK))
          .filter($"rk" <= Degree)
          .select($"vec_id".as("src"), $"nbr_id".as("dst"))
          .write.parquet(s"$base/edges")
        // the explicit MEMBER list (round 20): an edge frame cannot
        // represent a member with zero out-edges, so freshness audits
        // inferring membership from edge srcs would false-stale
        // forever on one — every producer of this address writes
        // members beside edges
        nodes.select($"vec_id".cast("long").as("vec_id"))
          .write.parquet(s"$base/members")
    }
    val edges = s.read.parquet(s"$edgesPath/edges")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val anchors = emb.filter($"vec_id" < NAnchors)
      .select($"vec_id".as("q_id"), $"embedding".as("qv"))
    GraphParts(nodes, edges, anchors, centroids)
  }

  /** The width-Beam, Steps-step beam loop over a GraphParts graph from
    * an initial (q_id, node, ncos) frontier — returns the final
    * frontier. Checkpointed-loop discipline inside (constraints off,
    * eager localCheckpoint per step: the frontier is referenced twice
    * per step — self-union + probe. A coalesce(1) before the
    * checkpoint measured SLOWER, 2.70 → 3.14 s: coalesce fuses into
    * the stage and runs the whole window + rank on one task — AQE
    * already coalesces the tiny shuffle).
    */
  private[queries] def beamLoop(s: SparkSession, g: GraphParts,
      frontier0: DataFrame, keys: Seq[String] = Seq("q_id"),
      width: org.apache.spark.sql.Column = null): DataFrame =
    // round 18: the loop body moved to the operator layer
    // (Similarity.graphBeamSearch — VERDICT r17 task 3) so the SAME
    // audited kernel walks a maintained knnGraphCurrent state; the
    // query surface keeps its Steps/Beam constants and GraphParts
    // plumbing. Extra key columns (a variant tag) ride through the
    // loop so several independent beams share ONE set of iterative
    // rounds (ann_hier_search: 6.65 → ~4 s at 10×); `width` may be an
    // expression over the keys (ann_ef_curve).
    graft.operators.Similarity.graphBeamSearch(g.nodes, g.edges,
      g.anchors, frontier0, keys, Option(width).getOrElse(lit(Beam)), Steps)

  /** Exact per-anchor top-1 among graph nodes — the eval side shared
    * by the graph-search queries.
    */
  private[queries] def exactTop1(s: SparkSession, g: GraphParts): DataFrame = {
    import s.implicits._
    val wE = Window.partitionBy($"q_id").orderBy($"xcos".desc, $"vec_id".asc)
    g.nodes.crossJoin(broadcast(g.anchors))
      .select($"q_id", $"vec_id", cosine_sim($"embedding", $"qv").as("xcos"))
      .withColumn("rn", row_number().over(wE)).filter($"rn" === 1)
      .select($"q_id", $"vec_id".as("exact_id"), $"xcos".as("exact_cos"))
  }

  /** Centroid (coarse-quantizer) entry: the Beam nearest centroid
    * vectors that are themselves graph nodes — the IVF+graph hop
    * (probed round 9: a fixed single entry strands every anchor).
    */
  private[queries] def centroidEntry(s: SparkSession, g: GraphParts): DataFrame = {
    import s.implicits._
    val wEntry = Window.partitionBy($"q_id").orderBy($"ec".desc, $"cid".asc)
    g.anchors.crossJoin(broadcast(g.centroids.filter($"cid" >= NAnchors)))
      .select($"q_id", $"cid", cosine_sim($"qv", $"cv").as("ec"))
      .withColumn("__rn", row_number().over(wEntry))
      .filter($"__rn" <= Beam)
      .select($"q_id", $"cid".as("node"), $"ec".as("ncos"))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_graph_search" -> { (s, dir) =>
      import s.implicits._
      val g = buildGraph(s, dir)
      val frontier = beamLoop(s, g, centroidEntry(s, g))
      val wB = Window.partitionBy($"q_id").orderBy($"ncos".desc, $"node".asc)
      frontier.withColumn("__rn", row_number().over(wB))
        .filter($"__rn" === 1)
        .join(exactTop1(s, g), "q_id")
        .select($"q_id", $"node".as("final_id"), $"ncos".as("final_cos"),
          $"exact_id", $"exact_cos",
          ($"node" === $"exact_id").as("hit"))
    },

    "ann_auc" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings")
      val anchors = emb.filter($"vec_id" < NAnchors)
        .select($"vec_id".as("q_id"), $"embedding".as("qv"),
          $"label".as("ql"))
      val scored = emb.filter($"vec_id" >= NAnchors)
        .crossJoin(broadcast(anchors))
        .select($"q_id", $"vec_id",
          cosine_sim($"embedding", $"qv").as("cos"),
          ($"label" === $"ql").as("pos"))
      val wR = Window.partitionBy($"q_id").orderBy($"cos".asc)
      val ranked = scored
        .withColumn("r", rank().over(wR).cast("long"))
        .withColumn("cnt",
          count(lit(1)).over(Window.partitionBy($"q_id", $"cos")).cast("long"))
        .withColumn("avg2", lit(2L) * $"r" + $"cnt" - lit(1L))
      ranked.groupBy($"q_id")
        .agg(sum(when($"pos", 1L).otherwise(0L)).as("n_pos"),
          sum(when($"pos", 0L).otherwise(1L)).as("n_neg"),
          sum(when($"pos", $"avg2")).as("r2_pos"))
        .select($"q_id", $"n_pos", $"n_neg",
          when($"n_pos" > 0 && $"n_neg" > 0,
            ($"r2_pos" - $"n_pos" * ($"n_pos" + lit(1L))).cast("double") /
              (lit(2.0) * ($"n_pos" * $"n_neg").cast("double"))).as("auc"))
    }
  )

  private[queries] def dot(x: String, y: String) =
    s"""list_reduce(list_transform(range(1, len($x) + 1),
       | gi -> CAST($x[CAST(gi AS INT)] AS DOUBLE) * CAST($y[CAST(gi AS INT)] AS DOUBLE)),
       | (gx, gy) -> gx + gy)""".stripMargin
  private[queries] def cos(a: String, b: String): String =
    s"(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"

  /** The shared graph-build CTE block (cen/nodes/cc/rkd/stored/
    * probes/edges/a) — ONE definition for the three graph-search
    * oracles (ann_graph_search / ann_hier_search / ann_ef_curve), the
    * SQL face of [[buildGraph]]. `materialized` marks the
    * multi-referenced CTEs AS MATERIALIZED — required when several
    * walk chains would otherwise inline ~20 parquet scans and exhaust
    * DuckDB 1.0's file handles (the round-13 lesson).
    */
  private[queries] def graphCtes(materialized: Boolean): String = {
    val m = if (materialized) " MATERIALIZED" else ""
    s"""cen AS$m (SELECT CAST(vec_id AS BIGINT) AS cid, embedding AS cv
       |  FROM embeddings
       |  WHERE vec_id < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT)
       |                  FROM embeddings)),
       |nodes AS$m (SELECT vec_id, embedding FROM embeddings
       |          WHERE vec_id >= $NAnchors),
       |cc AS (SELECT n.vec_id, n.embedding, c.cid,
       |    ${cos("n.embedding", "c.cv")} AS csim
       |  FROM nodes n CROSS JOIN cen c),
       |rkd AS (SELECT vec_id, embedding, cid,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY csim DESC, cid) AS crk
       |  FROM cc),
       |stored AS (SELECT vec_id AS nbr_id, embedding AS nv, cid
       |  FROM rkd WHERE crk = 1),
       |probes AS (SELECT vec_id, embedding AS pv, cid
       |  FROM rkd WHERE crk <= 2),
       |edges AS$m (SELECT src, dst FROM (
       |    SELECT p.vec_id AS src, s.nbr_id AS dst,
       |      row_number() OVER (PARTITION BY p.vec_id
       |        ORDER BY ${cos("p.pv", "s.nv")} DESC, s.nbr_id) AS rk
       |    FROM probes p JOIN stored s USING (cid)
       |    WHERE p.vec_id != s.nbr_id)
       |  WHERE rk <= $Degree),
       |a AS$m (SELECT vec_id AS q_id, embedding AS qv FROM embeddings
       |      WHERE vec_id < $NAnchors)""".stripMargin
  }

  /** The beam unrolled: <prefix>_i keeps the top-Beam of frontier ∪
    * scored out-neighbors (row_number: cos DESC, node ASC — the
    * lowest-id tie rule; DISTINCT collapses bit-equal re-reached
    * nodes), and a stabilized frontier is a fixed point. Reads the
    * `edges` / `a` / `embeddings` CTE names; the prefix parameterizes
    * the chain so one oracle can run two entry variants
    * (ann_hier_search).
    */
  private[queries] def walkCtes(prefix: String, width: Int = Beam,
      edgesRel: String = "edges"): String = (1 to Steps).map { i =>
    s"""$prefix$i AS (SELECT q_id, node, c FROM (
       |    SELECT q_id, node, c,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY c DESC, node ASC) AS rn
       |    FROM (
       |      SELECT DISTINCT q_id, node, c FROM (
       |        SELECT q_id, node, c FROM $prefix${i - 1}
       |        UNION ALL
       |        SELECT f.q_id, e.dst AS node,
       |          ${cos("a.qv", "v.embedding")} AS c
       |        FROM $prefix${i - 1} f
       |        JOIN $edgesRel e ON e.src = f.node
       |        JOIN nodes v ON v.vec_id = e.dst
       |        JOIN a ON a.q_id = f.q_id)))
       |  WHERE rn <= $width)""".stripMargin
  }.mkString(",\n")

  val oracles: Map[String, String] = Map(
    "ann_graph_search" ->
      s"""WITH ${graphCtes(materialized = false)},
         |w0 AS (SELECT q_id, cid AS node, ec AS c
         |  FROM (SELECT a.q_id, c.cid,
         |      ${cos("a.qv", "c.cv")} AS ec,
         |      row_number() OVER (PARTITION BY a.q_id
         |        ORDER BY ${cos("a.qv", "c.cv")} DESC, c.cid) AS rn
         |    FROM a CROSS JOIN cen c WHERE c.cid >= $NAnchors)
         |  WHERE rn <= $Beam),
         |${walkCtes("w")},
         |fin AS (SELECT q_id, node, c FROM (
         |    SELECT q_id, node, c, row_number() OVER (PARTITION BY q_id
         |      ORDER BY c DESC, node ASC) AS rn FROM w$Steps)
         |  WHERE rn = 1),
         |exact AS (SELECT q_id, vec_id AS exact_id, xcos AS exact_cos FROM (
         |    SELECT a.q_id, n.vec_id,
         |      ${cos("n.embedding", "a.qv")} AS xcos,
         |      row_number() OVER (PARTITION BY a.q_id
         |        ORDER BY ${cos("n.embedding", "a.qv")} DESC, n.vec_id) AS rn
         |    FROM nodes n CROSS JOIN a)
         |  WHERE rn = 1)
         |SELECT w.q_id, w.node AS final_id, w.c AS final_cos,
         |  x.exact_id, x.exact_cos,
         |  (w.node = x.exact_id) AS hit
         |FROM fin w JOIN exact x ON w.q_id = x.q_id""".stripMargin,

    "ann_auc" ->
      s"""WITH a AS (SELECT vec_id AS q_id, embedding AS qv,
         |    CAST(label AS BIGINT) AS ql
         |  FROM embeddings WHERE vec_id < $NAnchors),
         |s AS (SELECT a.q_id, e.vec_id,
         |    ${cos("e.embedding", "a.qv")} AS cosq,
         |    (CAST(e.label AS BIGINT) = a.ql) AS pos
         |  FROM embeddings e CROSS JOIN a
         |  WHERE e.vec_id >= $NAnchors),
         |rk AS (SELECT q_id, pos,
         |    CAST(rank() OVER (PARTITION BY q_id ORDER BY cosq ASC)
         |      AS BIGINT) AS r,
         |    CAST(count(*) OVER (PARTITION BY q_id, cosq) AS BIGINT) AS cnt
         |  FROM s),
         |g AS (SELECT q_id,
         |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg,
         |    CAST(sum(CASE WHEN pos THEN 2 * r + cnt - 1 END) AS BIGINT)
         |      AS r2_pos
         |  FROM rk GROUP BY q_id)
         |SELECT q_id, n_pos, n_neg,
         |  CASE WHEN n_pos > 0 AND n_neg > 0
         |    THEN CAST(r2_pos - n_pos * (n_pos + 1) AS DOUBLE)
         |      / (2.0 * CAST(n_pos * n_neg AS DOUBLE))
         |  END AS auc
         |FROM g""".stripMargin
  )
}
