package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.GraftFunctions.cosine_sim
import graft.operators.Dedup

/** Semantic deduplication (SURVEY.md §2.2, round 6) — the SemDeDup
  * recipe (Abbas et al. 2023): cluster the embedding space, call
  * everything sufficiently close to its cluster centroid a semantic
  * duplicate group, and keep the member FARTHEST from the centroid
  * (the paper's keep-worst rule: it preserves the most diversity).
  *
  * Deterministic stand-ins for the paper's k-means, so the oracle
  * replays every decision: centroids are the lowest-vec_id member of
  * each label (the ann_ivf convention); assignment is exact-cosine
  * argmax with ties to the lowest centroid id (the ann_pq argmin
  * discipline, mirrored); the dup threshold is a plain double compare
  * on bit-identical strict-fold cosines.
  *
  * Scale shape: centroids broadcast (k rows); assignment is a
  * row-local cosine fan-out combined by a map-side partial
  * max(struct) — the ONE keyed shuffle carries n pre-combined rows,
  * not n·k; the per-cluster keeper is a tiny groupBy whose k-row
  * result broadcasts back. No window over the low-cardinality cluster
  * key anywhere (the round-3 single-task-cliff lesson).
  */
object DedupQueries2 extends QueryModule {

  /** Cosine-to-centroid at or above this marks a semantic duplicate
    * (sf0.01 nearest-centroid quantiles: p50 0.19, p90 0.30 — 0.25
    * splits the corpus meaningfully).
    */
  private val Tau = 0.25

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_semantic" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings")
      val wc = Window.partitionBy($"label").orderBy($"vec_id".asc)
      val centroids = emb.withColumn("__rn", row_number().over(wc))
        .filter($"__rn" === 1)
        .select($"label".cast("long").as("cid"), $"embedding".as("cv"))
      // argmax assignment: max over struct(cos, -cid) == highest
      // cosine, ties to the LOWEST cid; partial-aggregates map-side so
      // the exchange sees one row per vector, not one per (vector,
      // centroid)
      val assigned = emb.crossJoin(broadcast(centroids))
        .select($"vec_id",
          struct(cosine_sim($"embedding", $"cv").as("cos_c"),
            (lit(0L) - $"cid").as("negcid")).as("m"))
        .groupBy($"vec_id").agg(max($"m").as("m"))
        .select($"vec_id", (lit(0L) - $"m.negcid").as("cid"),
          $"m.cos_c".as("cos_c"))
      // keep-worst: per cluster, the duplicate-group survivor is the
      // member with the LOWEST cosine at-or-above Tau (vec_id breaks
      // exact-double ties); k-row result broadcasts back
      val keepers = assigned.filter($"cos_c" >= Tau)
        .groupBy($"cid")
        .agg(min(struct($"cos_c", $"vec_id")).as("k"))
        .select($"cid", $"k.vec_id".as("keep_vec"))
      assigned.join(broadcast(keepers), Seq("cid"), "left")
        .select($"vec_id", $"cid", $"cos_c",
          ($"cos_c" < Tau || $"vec_id" === $"keep_vec").as("keep"))
    },

    // `ann_prepare` — the ANN index-build CAPSTONE (round 8, the
    // corpus_prepare discipline for the vector stack): ONE query
    // producing the index manifest — semantic dedup (the SemDeDup
    // keep-worst chain above, decisions identical) → survivors
    // assigned to their cells → per-cell manifest (assigned/kept/
    // dropped counts, kept-member cosine and id extremes). Proves the
    // separately-gated vector stages CHAIN. All aggregates are
    // order-independent (integer counts, min/max — never a float
    // SUM over a cluster, whose order would not replay); the k-row
    // manifest is the frame a vector store's capacity planner reads.
    "ann_prepare" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings")
      val wc = Window.partitionBy($"label").orderBy($"vec_id".asc)
      val centroids = emb.withColumn("__rn", row_number().over(wc))
        .filter($"__rn" === 1)
        .select($"label".cast("long").as("cid"), $"embedding".as("cv"))
      val assigned = emb.crossJoin(broadcast(centroids))
        .select($"vec_id",
          struct(cosine_sim($"embedding", $"cv").as("cos_c"),
            (lit(0L) - $"cid").as("negcid")).as("m"))
        .groupBy($"vec_id").agg(max($"m").as("m"))
        .select($"vec_id", (lit(0L) - $"m.negcid").as("cid"),
          $"m.cos_c".as("cos_c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val keepers = assigned.filter($"cos_c" >= Tau)
        .groupBy($"cid")
        .agg(min(struct($"cos_c", $"vec_id")).as("k"))
        .select($"cid", $"k.vec_id".as("keep_vec"))
      val flagged = assigned.join(broadcast(keepers), Seq("cid"), "left")
        .withColumn("keep", $"cos_c" < Tau || $"vec_id" === $"keep_vec")
      flagged.groupBy($"cid")
        .agg(count(lit(1)).as("n_assigned"),
          sum(when($"keep", 1L).otherwise(0L)).as("n_kept"),
          sum(when($"keep", 0L).otherwise(1L)).as("n_dropped"),
          min(when($"keep", $"cos_c")).as("min_cos_kept"),
          max(when($"keep", $"cos_c")).as("max_cos_kept"),
          min(when($"keep", $"vec_id")).as("min_vec_kept"),
          max(when($"keep", $"vec_id")).as("max_vec_kept"))
    },

    // the bucketed form of dedup_embedding: same tau=0.5 pair semantics,
    // but candidates come from shared IVF cells instead of an all-pairs
    // block join. Round 9: the cell count is DERIVED from the corpus —
    // k = ceil(sqrt(n)) sample-init centroids (the k lowest-vec_id
    // vectors, the classic IVF sample init; any deterministic k is
    // oracle-replayable) — so the committed query IS the scale shape:
    // candidate volume O(nprobe²·n²/k) = O(n^1.5), not O(n²/k_const).
    // nprobe=3 is the probed recall point at this k (sqrt-n cells sit
    // below the tau=0.5 cluster scale; nprobe=2 misses the 1 true
    // sf0.01 pair, nprobe=3 captures 1/1 — each +1 probe recovers a
    // boundary band, see embeddingPairsCells' recall bound). At 100 TB
    // the centroid frame comes from Similarity.ivfFit, same operator.
    "dedup_embedding_cells" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings")
      val k = math.ceil(math.sqrt(
        Tables.rowCount(s, dir, "embeddings").toDouble)).toLong
      val centroids = emb.filter($"vec_id" < k)
        .select($"vec_id".cast("long").as("cid"), $"embedding".as("cv"))
      Dedup.embeddingPairsCells(emb, "vec_id", "embedding",
        centroids, tau = 0.5, nprobe = 3)
    }
  )

  /** cosine as a strict left fold — bit-identical to CosineSim. */
  private def cos(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"""list_reduce(list_transform(range(1, len($x) + 1),
         | gi -> CAST($x[CAST(gi AS INT)] AS DOUBLE) * CAST($y[CAST(gi AS INT)] AS DOUBLE)),
         | (gx, gy) -> gx + gy)""".stripMargin
    s"(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"
  }

  val oracles: Map[String, String] = Map(
    "dedup_semantic" ->
      s"""WITH c AS (
         |  SELECT CAST(label AS BIGINT) AS cid, embedding AS cv FROM (
         |    SELECT label, embedding, row_number() OVER (
         |      PARTITION BY label ORDER BY vec_id ASC) AS rn
         |    FROM embeddings) WHERE rn = 1),
         |pairs AS (
         |  SELECT e.vec_id, c.cid, ${cos("e.embedding", "c.cv")} AS cos_c
         |  FROM embeddings e, c),
         |assigned AS (
         |  SELECT vec_id, cid, cos_c FROM (
         |    SELECT vec_id, cid, cos_c, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY cos_c DESC, cid ASC) AS rn
         |    FROM pairs) WHERE rn = 1),
         |keepers AS (
         |  SELECT cid, vec_id AS keep_vec FROM (
         |    SELECT cid, vec_id, row_number() OVER (
         |      PARTITION BY cid ORDER BY cos_c ASC, vec_id ASC) AS rn
         |    FROM assigned WHERE cos_c >= $Tau) WHERE rn = 1)
         |SELECT a.vec_id, a.cid, a.cos_c,
         |  (a.cos_c < $Tau OR a.vec_id = k.keep_vec) AS keep
         |FROM assigned a LEFT JOIN keepers k ON a.cid = k.cid""".stripMargin,

    // the dedup_semantic chain verbatim + the manifest rollup
    "ann_prepare" ->
      s"""WITH c AS (
         |  SELECT CAST(label AS BIGINT) AS cid, embedding AS cv FROM (
         |    SELECT label, embedding, row_number() OVER (
         |      PARTITION BY label ORDER BY vec_id ASC) AS rn
         |    FROM embeddings) WHERE rn = 1),
         |pairs AS (
         |  SELECT e.vec_id, c.cid, ${cos("e.embedding", "c.cv")} AS cos_c
         |  FROM embeddings e, c),
         |assigned AS (
         |  SELECT vec_id, cid, cos_c FROM (
         |    SELECT vec_id, cid, cos_c, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY cos_c DESC, cid ASC) AS rn
         |    FROM pairs) WHERE rn = 1),
         |keepers AS (
         |  SELECT cid, vec_id AS keep_vec FROM (
         |    SELECT cid, vec_id, row_number() OVER (
         |      PARTITION BY cid ORDER BY cos_c ASC, vec_id ASC) AS rn
         |    FROM assigned WHERE cos_c >= $Tau) WHERE rn = 1),
         |flagged AS (
         |  SELECT a.vec_id, a.cid, a.cos_c,
         |    (a.cos_c < $Tau OR a.vec_id = k.keep_vec) AS keep
         |  FROM assigned a LEFT JOIN keepers k ON a.cid = k.cid)
         |SELECT cid,
         |  CAST(count(*) AS BIGINT) AS n_assigned,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
         |    AS n_dropped,
         |  min(CASE WHEN keep THEN cos_c END) AS min_cos_kept,
         |  max(CASE WHEN keep THEN cos_c END) AS max_cos_kept,
         |  CAST(min(CASE WHEN keep THEN vec_id END) AS BIGINT)
         |    AS min_vec_kept,
         |  CAST(max(CASE WHEN keep THEN vec_id END) AS BIGINT)
         |    AS max_vec_kept
         |FROM flagged GROUP BY cid""".stripMargin,

    // replays the cell-restricted candidate generation exactly: same
    // corpus-derived k = ceil(sqrt(n)) sample-init centroids (scalar
    // subquery — both engines count the same table), same nprobe=3
    // ranking (strict-fold cosines -> identical tie sets, cid ASC
    // tie-break), DISTINCT pairs sharing a cell, exact cosine verify.
    // NOT the all-pairs truth — that is dedup_embedding's oracle; this
    // gate proves the bucketed path computes its declared semantics
    // bit-exactly.
    "dedup_embedding_cells" ->
      s"""WITH c AS (
         |  SELECT CAST(vec_id AS BIGINT) AS cid, embedding AS cv
         |  FROM embeddings
         |  WHERE vec_id < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT)
         |                  FROM embeddings)),
         |cells AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT e.vec_id, c.cid, row_number() OVER (
         |      PARTITION BY e.vec_id
         |      ORDER BY ${cos("e.embedding", "c.cv")} DESC, c.cid ASC) AS rn
         |    FROM embeddings e, c) WHERE rn <= 3),
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
         |  FROM cells x JOIN cells y
         |    ON x.cid = y.cid AND x.vec_id < y.vec_id),
         |scored AS (
         |  SELECT p.id_a, p.id_b,
         |    ${cos("a.embedding", "b.embedding")} AS cos
         |  FROM cand p
         |  JOIN embeddings a ON a.vec_id = p.id_a
         |  JOIN embeddings b ON b.vec_id = p.id_b)
         |SELECT id_a, id_b, cos FROM scored WHERE cos >= 0.5""".stripMargin
  )
}
