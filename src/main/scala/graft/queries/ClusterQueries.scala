package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Clustering

/** Embedding-space clustering (SURVEY.md §2.4, round 6): integer
  * fixed-point Lloyd k-means over the embeddings table — k = 8 seeds
  * (the first 8 vectors, the deterministic-seed convention of
  * ann_ivf/dedup_semantic), 2 Lloyd rounds, then the final assignment
  * summarized per cluster (size, integer inertia, centroid checksum).
  *
  * Why this is oracle-gateable at all: see [[graft.operators.Clustering]]
  * — quantized non-negative integer coordinates make every distance,
  * every argmin, every `sum div count` centroid coordinate and the
  * inertia bit-exact between Spark and DuckDB (float k-means is not
  * replayable: centroid sums depend on addition order). The oracle
  * unrolls both Lloyd rounds as CTE pairs (assign_j, update_j).
  */
object ClusterQueries extends QueryModule {

  private val K = 8
  private val Dim = 64
  private val Iters = 2

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_kmeans" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings")
      val pts = emb.select($"vec_id",
        Clustering.quantize($"embedding").as("qv")).persist()
      val seeds = pts.filter($"vec_id" < K).orderBy($"vec_id").collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toSeq
      val res = Clustering.kmeansFixedPoint(pts, "vec_id", "qv", seeds, Iters)
      val centSums = res.centroids
        .map { case (cid, cv) => (cid, cv.sum) }.toDF("cid", "c_sum")
      res.assigned.groupBy($"cid")
        .agg(count(lit(1)).as("n"), sum($"d2").as("inertia"))
        .join(broadcast(centSums), Seq("cid"))
        .select($"cid", $"n", $"inertia", $"c_sum")
        .orderBy($"cid")
    }
  )

  /** Integer squared-L2 over 1-based list indices, strict left fold
    * (order is irrelevant for integers — the fold shape just mirrors
    * the repo's cosine discipline).
    */
  private def d2(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, ${Dim + 1}),
       | gi -> ($a[CAST(gi AS INT)] - $b[CAST(gi AS INT)])
       |   * ($a[CAST(gi AS INT)] - $b[CAST(gi AS INT)])),
       | (gx, gy) -> gx + gy)""".stripMargin

  /** One Lloyd round: argmin assignment vs c{j-1}, per-(cid, pos)
    * truncating-mean update, empty clusters keep the prior centroid.
    */
  private def iterSql(j: Int): String =
    s"""a$j AS (
       |  SELECT vec_id, qv, cid, d2 FROM (
       |    SELECT vec_id, qv, cid, d2, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
       |    FROM (SELECT p.vec_id, p.qv, c.cid,
       |            ${d2("p.qv", "c.cv")} AS d2
       |          FROM pts p, c${j - 1} c)) WHERE rn = 1),
       |u$j AS (
       |  SELECT cid, gi AS pos,
       |    CAST(CAST(sum(qv[CAST(gi AS INT)]) AS BIGINT) // count(*) AS BIGINT) AS nq
       |  FROM a$j, range(1, ${Dim + 1}) t(gi) GROUP BY cid, gi),
       |c$j AS (
       |  SELECT s.cid, coalesce(u.cv, s.cv) AS cv
       |  FROM c${j - 1} s LEFT JOIN (
       |    SELECT cid, list(nq ORDER BY pos) AS cv FROM u$j GROUP BY cid) u
       |  ON s.cid = u.cid)""".stripMargin

  val oracles: Map[String, String] = Map(
    "ann_kmeans" ->
      s"""WITH pts AS (
         |  SELECT vec_id, list_transform(embedding,
         |    gx -> CAST(floor((CAST(gx AS DOUBLE) + 1.0) * 1000000.0) AS BIGINT)) AS qv
         |  FROM embeddings),
         |c0 AS (SELECT vec_id AS cid, qv AS cv FROM pts WHERE vec_id < $K),
         |${(1 to Iters).map(iterSql).mkString(",\n")},
         |af AS (
         |  SELECT vec_id, cid, d2 FROM (
         |    SELECT vec_id, cid, d2, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
         |    FROM (SELECT p.vec_id, c.cid, ${d2("p.qv", "c.cv")} AS d2
         |          FROM pts p, c$Iters c)) WHERE rn = 1),
         |cs AS (
         |  SELECT cid, CAST(list_reduce(cv, (gx, gy) -> gx + gy) AS BIGINT) AS c_sum
         |  FROM c$Iters)
         |SELECT a.cid, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(a.d2) AS BIGINT) AS inertia, cs.c_sum
         |FROM af a JOIN cs ON a.cid = cs.cid
         |GROUP BY a.cid, cs.c_sum ORDER BY a.cid""".stripMargin
  )
}
