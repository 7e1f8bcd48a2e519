package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GraftFunctions.cosine_sim

/** Round-8 similarity additions, wave 2.
  *
  * `ann_nprobe_curve` — the nprobe/recall TRADEOFF CURVE, the tuning
  * report every IVF deployment reads before picking its operating
  * point: for nprobe ∈ {1..4}, recall@10 of cell-restricted search vs
  * the exact top-10, per anchor query. One cosine kernel pass scores
  * all (anchor, vector) pairs; each vector carries its cell (argmax
  * centroid cosine, ties to the lowest cell id) and each anchor its
  * centroid probe ORDER, so "candidate under nprobe = p" is just
  * `cell_rank <= p` — all four curve points come from the SAME scored
  * frame, no re-scan per p. Centroids are the deterministic
  * lowest-id-per-label rows (the ann_ivf convention) so the oracle
  * replays assignment bit-for-bit; every cosine is the strict
  * left-fold (CosineSim == list_reduce). The output grid is TOTAL
  * (4 probes × anchors, zero-hit rows kept via the grid left join) —
  * a curve with silently missing points misleads tuning.
  *
  * Scale shape: this is the eval harness pattern (ann_recall /
  * dedup_eval class) — exact truth costs anchors × corpus and runs on
  * anchor SAMPLES at scale; the per-q windows are anchor-bounded by
  * construction. The production search path this curve tunes is
  * ann_ivf/ann_ivfpq, which never brute-forces.
  */
object SimilarityQueries5 extends QueryModule {

  private val NAnchors = 5
  private val TopK = 10
  private val Probes = Seq(1, 2, 3, 4)

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // `ann_centroid_balance` (round 18) — IVF CELL-OCCUPANCY audit,
    // the health number every IVF deployment watches: a skewed
    // quantizer makes nprobe recall and latency lopsided (hot cells
    // scan big, empty cells waste the codebook). Every vector assigns
    // to its argmax-cosine cell (the shared Similarity.assignCells
    // map-side partial max(struct), ties to the lowest cid) over the
    // deterministic first-⌈√n⌉ centroids; the report is one row —
    // cell count, vector count, empty cells, min/max occupancy, exact
    // p50/p90 occupancy (the quantile_disc ceil(q·k) 1-based rank
    // rule over (occupancy, cid)-ordered cells — the q68 discipline),
    // and imbalance = max/mean as exact integers into ONE double
    // division. Scale: one broadcast fan-out + a k-row rollup — the
    // occupancy frame is ⌈√n⌉ rows (10⁶ at n = 10¹²), so the global
    // rank window is k-bounded, never corpus-bounded.
    "ann_centroid_balance" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.load(s, dir, "embeddings")
      val n = Tables.rowCount(s, dir, "embeddings")
      val k = math.ceil(math.sqrt(n.toDouble)).toLong
      val cen = emb.filter($"vec_id" < k)
        .select($"vec_id".cast("long").as("cid"), $"embedding".as("cv"))
      val occ = cen.select($"cid")
        .join(graft.operators.Similarity.assignCells(
            emb.select($"vec_id", $"embedding"), "vec_id", "embedding", cen)
          .groupBy($"__cell".as("cid")).agg(count(lit(1)).as("ni")),
          Seq("cid"), "left")
        .select($"cid", coalesce($"ni", lit(0L)).as("ni"))
      val wR = Window.orderBy($"ni".asc, $"cid".asc)
      val p50r = (k * 5 + 9) / 10 // ceil(0.5·k), 1-based
      val p90r = (k * 9 + 9) / 10 // ceil(0.9·k)
      val ranked = occ.withColumn("r", row_number().over(wR))
      val quants = ranked.filter($"r" === p50r)
        .select($"ni".as("occ_p50"))
        .crossJoin(ranked.filter($"r" === p90r).select($"ni".as("occ_p90")))
      occ.agg(count(lit(1)).as("n_cells"), sum($"ni").as("n_vectors"),
          count(when($"ni" === 0, 1)).as("n_empty"),
          min($"ni").as("occ_min"), max($"ni").as("occ_max"))
        .crossJoin(quants)
        .select($"n_cells", $"n_vectors", $"n_empty", $"occ_min",
          $"occ_max", $"occ_p50", $"occ_p90",
          ($"occ_max".cast("double") * $"n_cells".cast("double") /
            $"n_vectors".cast("double")).as("imbalance"))
    },

    // `ann_knn_graph` — k-NN GRAPH CONSTRUCTION (round 8), the build
    // primitive under graph-ANN indexes (HNSW/NSG layers, SemDeDup's
    // neighborhood graphs, label-propagation over embeddings): each
    // vector's top-3 neighbors among candidates sharing a probed IVF
    // cell. Storage-vs-probe asymmetry is the real IVF discipline:
    // vectors are STORED in their primary cell only, queries PROBE
    // their nprobe=2 nearest cells — candidate volume 2n²/k, never
    // all-pairs. Round 9: k is DERIVED from the corpus —
    // k = ceil(sqrt(n)) sample-init centroids (lowest-vec_id vectors),
    // so candidate volume is 2n^1.5 and the committed query IS the
    // deployment shape (at 100 TB the centroids come from
    // Similarity.ivfFit, same contract). The per-vector top-3 window
    // partitions on the high-cardinality vector id (map-side
    // WindowGroupLimit); deterministic centroids + strict-fold cosines
    // + (cos desc, id) total order make the graph oracle-replayable
    // edge for edge.
    // round 17: the build now lives in the shared
    // operators.Similarity.knnGraph kernel — the streaming fold
    // (StreamingOps.knnGraphMaintained) maintains the SAME graph
    // incrementally, and sharing the kernel pins the two rules equal.
    "ann_knn_graph" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings")
      val k = math.ceil(math.sqrt(
        Tables.rowCount(s, dir, "embeddings").toDouble)).toLong
      val centroids = emb.filter($"vec_id" < k)
        .select($"vec_id".cast("long").as("cid"), $"embedding".as("cv"))
      graft.operators.Similarity.knnGraph(
        emb, "vec_id", "embedding", centroids, degree = 3, nprobe = 2)
    },

    // `ann_quant_ablation` — the QUANTIZATION ablation (round 8, the
    // sibling of ann_nprobe_curve on the compression axis): recall@10
    // of int8 scalar quantization (8 bytes/dim→1) and binary sign
    // quantization (64 dims→ONE long) against the exact ranking, side
    // by side per anchor — the memory/recall tradeoff table a vector
    // store's capacity planning reads. ONE kernel pass scores every
    // (anchor, vector) pair with all three signals (exact cosine,
    // int8 dot, packed-sign hamming); each arm is a window over the
    // SAME persisted frame. Distinct sign bits sum without carries so
    // the packed hamming is exact; the int8 dot is the ann_recall
    // fold; output grid is TOTAL (zero-hit arms kept).
    "ann_quant_ablation" -> { (s, dir) =>
      import s.implicits._
      val qz = expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0D) AS BIGINT))")
      val bq = expr("aggregate(sequence(0, 63), 0L, (acc, i) -> " +
        "acc + CASE WHEN embedding[i] > 0 THEN shiftleft(1L, i) ELSE 0L END)")
      val emb = Tables.load(s, dir, "embeddings")
        .withColumn("qz", qz).withColumn("bq", bq)
      val anchors = emb.filter($"vec_id" < NAnchors)
        .select($"vec_id".as("q_id"), $"embedding".as("qv"),
          $"qz".as("qqz"), $"bq".as("qbq"))
      val scored = emb.filter($"vec_id" >= NAnchors)
        .crossJoin(broadcast(anchors))
        .select($"q_id", $"vec_id",
          cosine_sim($"embedding", $"qv").as("cos"),
          expr("aggregate(zip_with(qz, qqz, (a, b) -> a * b), " +
            "CAST(0 AS BIGINT), (acc, x) -> acc + x)").as("dotq"),
          expr("bit_count(bq ^ qbq)").cast("long").as("ham"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val wE = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id".asc)
      val wS = Window.partitionBy($"q_id").orderBy($"dotq".desc, $"vec_id".asc)
      val wB = Window.partitionBy($"q_id").orderBy($"ham".asc, $"vec_id".asc)
      def top(w: org.apache.spark.sql.expressions.WindowSpec) =
        scored.withColumn("rk", row_number().over(w))
          .filter($"rk" <= TopK).select($"q_id", $"vec_id")
      val exact = top(wE)
      val arms = Seq("sq8" -> top(wS), "bq" -> top(wB)).map {
        case (m, f) => f.select(lit(m).as("method"), $"q_id", $"vec_id")
      }.reduce(_ unionByName _)
      val hits = arms.join(exact, Seq("q_id", "vec_id"), "left_semi")
        .groupBy($"method", $"q_id").agg(count(lit(1)).as("hits"))
      val grid = Seq("sq8", "bq").toDF("method")
        .crossJoin(anchors.select($"q_id"))
      grid.join(hits, Seq("method", "q_id"), "left_outer")
        .select($"method", $"q_id",
          coalesce($"hits", lit(0L)).as("hits"),
          (coalesce($"hits", lit(0L)).cast("double") / lit(TopK.toDouble))
            .as("recall"))
    },

    "ann_nprobe_curve" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings")
      val wc = Window.partitionBy($"label").orderBy($"vec_id".asc)
      val centroids = emb.withColumn("__rn", row_number().over(wc))
        .filter($"__rn" === 1)
        .select($"label".cast("long").as("cid"), $"embedding".as("cv"))
      val anchors = emb.filter($"vec_id" < NAnchors)
        .select($"vec_id".as("q_id"), $"embedding".as("qv"))
      // vector -> cell: argmax centroid cosine, ties to lowest cid
      val wA = Window.partitionBy($"vec_id")
        .orderBy($"cc".desc, $"cid".asc)
      val asg = emb.filter($"vec_id" >= NAnchors)
        .crossJoin(broadcast(centroids))
        .select($"vec_id", $"cid", cosine_sim($"embedding", $"cv").as("cc"))
        .withColumn("__rn", row_number().over(wA)).filter($"__rn" === 1)
        .select($"vec_id", $"cid")
      // anchor -> centroid probe order
      val wQ = Window.partitionBy($"q_id").orderBy($"cc".desc, $"cid".asc)
      val qc = anchors.crossJoin(broadcast(centroids))
        .select($"q_id", $"cid", cosine_sim($"qv", $"cv").as("cc"))
        .withColumn("cell_rank", row_number().over(wQ).cast("long"))
        .select($"q_id", $"cid", $"cell_rank")
      // ONE kernel pass feeds the exact ranking and all 4 curve points
      val scored = emb.filter($"vec_id" >= NAnchors)
        .crossJoin(broadcast(anchors))
        .select($"q_id", $"vec_id", cosine_sim($"embedding", $"qv").as("cos"))
        .join(asg, "vec_id")
        .join(broadcast(qc), Seq("q_id", "cid"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val wR = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id".asc)
      val exact = scored.withColumn("rk", row_number().over(wR))
        .filter($"rk" <= TopK).select($"q_id", $"vec_id")
      val approx = Probes.map { p =>
        scored.filter($"cell_rank" <= p)
          .withColumn("rk", row_number().over(wR)).filter($"rk" <= TopK)
          .select(lit(p.toLong).as("nprobe"), $"q_id", $"vec_id")
      }.reduce(_ unionByName _)
      val hits = approx
        .join(exact, Seq("q_id", "vec_id"), "left_semi")
        .groupBy($"nprobe", $"q_id").agg(count(lit(1)).as("hits"))
      // total grid: zero-hit curve points must exist
      val grid = Probes.toDF("nprobe").select($"nprobe".cast("long"))
        .crossJoin(anchors.select($"q_id"))
      grid.join(hits, Seq("nprobe", "q_id"), "left_outer")
        .select($"nprobe", $"q_id",
          coalesce($"hits", lit(0L)).as("hits"),
          (coalesce($"hits", lit(0L)).cast("double") / lit(TopK.toDouble))
            .as("recall"))
    }
  )

  private def dot(x: String, y: String) =
    s"""list_reduce(list_transform(range(1, len($x) + 1),
       | gi -> CAST($x[CAST(gi AS INT)] AS DOUBLE) * CAST($y[CAST(gi AS INT)] AS DOUBLE)),
       | (gx, gy) -> gx + gy)""".stripMargin
  private def cos(a: String, b: String): String =
    s"(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"

  val oracles: Map[String, String] = Map(
    // the argmax-cell rank window replays assignCells (same total
    // order); quantile_disc == the committed ceil(q·k) 1-based rank
    // rule; imbalance is the identical double tree on both engines
    "ann_centroid_balance" ->
      s"""WITH cen AS MATERIALIZED (
         |  SELECT CAST(vec_id AS BIGINT) AS cid, embedding AS cv
         |  FROM embeddings
         |  WHERE vec_id < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT)
         |                  FROM embeddings)),
         |asg AS (SELECT vec_id, cell FROM (
         |    SELECT e.vec_id, c.cid AS cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cos("e.embedding", "c.cv")} DESC, c.cid ASC)
         |        AS rn
         |    FROM embeddings e CROSS JOIN cen c)
         |  WHERE rn = 1),
         |occ AS (SELECT c.cid, CAST(count(a.vec_id) AS BIGINT) AS ni
         |  FROM cen c LEFT JOIN asg a ON a.cell = c.cid
         |  GROUP BY c.cid)
         |SELECT CAST(count(*) AS BIGINT) AS n_cells,
         |  CAST(sum(ni) AS BIGINT) AS n_vectors,
         |  CAST(count(*) FILTER (WHERE ni = 0) AS BIGINT) AS n_empty,
         |  min(ni) AS occ_min, max(ni) AS occ_max,
         |  quantile_disc(ni, 0.5) AS occ_p50,
         |  quantile_disc(ni, 0.9) AS occ_p90,
         |  CAST(max(ni) AS DOUBLE) * CAST(count(*) AS DOUBLE)
         |    / CAST(sum(ni) AS DOUBLE) AS imbalance
         |FROM occ""".stripMargin,

    // int8 dot = the ann_recall fold; packed-sign hamming replays as
    // per-dim sign-disagreement counts (no packing needed — distinct
    // bits sum without carries, so the counts are identical)
    "ann_quant_ablation" ->
      s"""WITH a AS (SELECT vec_id AS q_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < $NAnchors),
         |s AS (SELECT a.q_id, e.vec_id,
         |    ${cos("e.embedding", "a.qv")} AS cosq,
         |    list_reduce(list_transform(range(1, len(e.embedding) + 1),
         |      gi -> CAST(floor(CAST(e.embedding[CAST(gi AS INT)] AS DOUBLE) * 127.0) AS BIGINT)
         |          * CAST(floor(CAST(a.qv[CAST(gi AS INT)] AS DOUBLE) * 127.0) AS BIGINT)),
         |      (gx, gy) -> gx + gy) AS dotq,
         |    CAST(len(list_filter(range(1, len(e.embedding) + 1),
         |      gi -> (e.embedding[CAST(gi AS INT)] > 0)
         |         != (a.qv[CAST(gi AS INT)] > 0))) AS BIGINT) AS ham
         |  FROM embeddings e CROSS JOIN a
         |  WHERE e.vec_id >= $NAnchors),
         |exact AS (SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cosq DESC, vec_id) AS rk FROM s) WHERE rk <= $TopK),
         |arm_sq AS (SELECT 'sq8' AS method, q_id, vec_id FROM (
         |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY dotq DESC, vec_id) AS rk FROM s) WHERE rk <= $TopK),
         |arm_bq AS (SELECT 'bq' AS method, q_id, vec_id FROM (
         |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY ham ASC, vec_id) AS rk FROM s) WHERE rk <= $TopK),
         |arms AS (SELECT * FROM arm_sq UNION ALL SELECT * FROM arm_bq),
         |h AS (SELECT method, q_id, CAST(count(*) AS BIGINT) AS hits
         |  FROM arms JOIN exact USING (q_id, vec_id) GROUP BY 1, 2),
         |grid AS (SELECT method, q_id FROM
         |  (SELECT unnest(['sq8', 'bq']) AS method)
         |  CROSS JOIN (SELECT q_id FROM a))
         |SELECT grid.method, grid.q_id, coalesce(h.hits, 0) AS hits,
         |  CAST(coalesce(h.hits, 0) AS DOUBLE) / $TopK.0 AS recall
         |FROM grid LEFT JOIN h
         |  ON grid.method = h.method AND grid.q_id = h.q_id""".stripMargin,

    "ann_knn_graph" ->
      s"""WITH cen AS (SELECT CAST(vec_id AS BIGINT) AS cid, embedding AS cv
         |  FROM embeddings
         |  WHERE vec_id < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT)
         |                  FROM embeddings)),
         |cc AS (SELECT e.vec_id, e.embedding, c.cid,
         |    ${cos("e.embedding", "c.cv")} AS csim
         |  FROM embeddings e CROSS JOIN cen c),
         |rkd AS (SELECT vec_id, embedding, cid,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY csim DESC, cid) AS crk
         |  FROM cc),
         |stored AS (SELECT vec_id AS nbr_id, embedding AS nv, cid
         |  FROM rkd WHERE crk = 1),
         |probes AS (SELECT vec_id, embedding AS qv, cid
         |  FROM rkd WHERE crk <= 2),
         |cand AS (SELECT p.vec_id, s.nbr_id,
         |    ${cos("p.qv", "s.nv")} AS cosn
         |  FROM probes p JOIN stored s USING (cid)
         |  WHERE p.vec_id != s.nbr_id)
         |SELECT vec_id, nbr_id, cosn AS cos, CAST(rk AS BIGINT) AS rk
         |FROM (SELECT vec_id, nbr_id, cosn,
         |        row_number() OVER (PARTITION BY vec_id
         |          ORDER BY cosn DESC, nbr_id) AS rk
         |      FROM cand)
         |WHERE rk <= 3""".stripMargin,

    "ann_nprobe_curve" ->
      s"""WITH cen AS (SELECT CAST(label AS BIGINT) AS cid, embedding AS cv
         |  FROM (SELECT label, embedding,
         |          row_number() OVER (PARTITION BY label ORDER BY vec_id)
         |            AS rn FROM embeddings)
         |  WHERE rn = 1),
         |a AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings
         |      WHERE vec_id < $NAnchors),
         |asg AS (SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cos("e.embedding", "c.cv")} DESC, c.cid) AS rn
         |    FROM embeddings e CROSS JOIN cen c
         |    WHERE e.vec_id >= $NAnchors)
         |  WHERE rn = 1),
         |qc AS (SELECT q_id, cid,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY ${cos("a.qv", "c.cv")} DESC, c.cid) AS BIGINT)
         |      AS cell_rank
         |  FROM a CROSS JOIN cen c),
         |s AS (SELECT a.q_id, e.vec_id,
         |    ${cos("e.embedding", "a.qv")} AS cosq, asg.cid
         |  FROM embeddings e JOIN asg ON e.vec_id = asg.vec_id
         |  CROSS JOIN a
         |  WHERE e.vec_id >= $NAnchors),
         |j AS (SELECT s.q_id, s.vec_id, s.cosq, qc.cell_rank
         |  FROM s JOIN qc ON s.q_id = qc.q_id AND s.cid = qc.cid),
         |exact AS (SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY cosq DESC, vec_id) AS rk FROM j)
         |  WHERE rk <= $TopK),
         |pr AS (SELECT nprobe, q_id, vec_id FROM (
         |    SELECT pp.nprobe, j.q_id, j.vec_id,
         |      row_number() OVER (PARTITION BY pp.nprobe, j.q_id
         |        ORDER BY j.cosq DESC, j.vec_id) AS rk
         |    FROM j CROSS JOIN
         |      (SELECT CAST(unnest([1,2,3,4]) AS BIGINT) AS nprobe) pp
         |    WHERE j.cell_rank <= pp.nprobe)
         |  WHERE rk <= $TopK),
         |h AS (SELECT nprobe, q_id, CAST(count(*) AS BIGINT) AS hits
         |  FROM pr JOIN exact USING (q_id, vec_id) GROUP BY 1, 2),
         |grid AS (SELECT nprobe, q_id FROM
         |  (SELECT CAST(unnest([1,2,3,4]) AS BIGINT) AS nprobe) pp
         |  CROSS JOIN (SELECT q_id FROM a) qq)
         |SELECT grid.nprobe, grid.q_id,
         |  coalesce(h.hits, 0) AS hits,
         |  CAST(coalesce(h.hits, 0) AS DOUBLE) / $TopK.0 AS recall
         |FROM grid LEFT JOIN h
         |  ON grid.nprobe = h.nprobe AND grid.q_id = h.q_id""".stripMargin
  )
}
