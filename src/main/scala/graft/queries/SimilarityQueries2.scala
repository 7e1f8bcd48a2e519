package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Similarity

/** Second similarity wave (SURVEY.md §2.4, round 4): radius (range)
  * queries and k-NN classification — the two retrieval shapes beyond
  * plain top-k that an embedding-indexed corpus serves. Same float
  * discipline as [[SimilarityQueries]]: cosines are strict left folds,
  * bit-identical across engines, so thresholds and vote rankings are
  * exact.
  */
object SimilarityQueries2 extends QueryModule {

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // radius query: everything within cosine >= 0.2 of vector 0 — a
    // shuffle-free scan+filter (the dedup/near-match primitive when the
    // neighbor count, not k, is the unknown)
    "ann_range" -> { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Similarity.rangeSearch(emb, "vec_id", "embedding", q, tau = 0.2)
        .select(col("vec_id"), col("label"), col("cos"))
    },

    // k-NN classification: labels of the 25 nearest neighbors vote for
    // each query vector (every 100th vector queries the rest); majority
    // wins, vote ties break to the smaller label. The per-query work is
    // the knnJoin's map-side-pruned ranking plus one tiny re-aggregation
    // of k rows per query.
    "knn_classify" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings")
      val q = emb.filter($"vec_id" % 100 === 0)
        .select($"vec_id".as("qid"), $"embedding".as("qv"))
      val nn = Similarity.knnJoin(emb, "vec_id", "embedding", q, k = 25)
        .join(emb.select($"vec_id", $"label"), "vec_id")
      val votes = nn.groupBy($"qid", $"label")
        .agg(count(lit(1)).as("votes"))
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"qid")
        .orderBy($"votes".desc, $"label".asc)
      votes.withColumn("__rn", row_number().over(w))
        .filter($"__rn" === 1)
        .select($"qid", $"label".as("pred_label"), $"votes")
    },

    // per-label centroids (the IVF/clustering training primitive) with
    // ORACLE-EXACT arithmetic: per (label, dim) the member values fold
    // in vec_id order (strict left fold — float sums are otherwise
    // order-ambiguous across engines) and divide by the member count.
    // At 100 TB the unordered tree-aggregate (ivfFit) is the throughput
    // path; this is the bit-reproducible one.
    "ann_centroids" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "embeddings")
        .select($"label", $"vec_id", posexplode($"embedding").as(Seq("dim", "x")))
        .groupBy($"label", $"dim")
        .agg(sort_array(collect_list(struct($"vec_id",
          $"x".cast("double").as("xd")))).as("xs"),
          count(lit(1)).as("n"))
        .select($"label", $"dim",
          (expr("aggregate(slice(transform(xs, r -> r.xd), 2, size(xs) - 1)," +
            " transform(xs, r -> r.xd)[0], (s, y) -> s + y)") /
            $"n".cast("double")).as("c"))
    },

    // binary-quantization ANN: each 64-dim vector collapses to ONE
    // long of sign bits (8 bytes/vector — the modern BQ memory story),
    // hamming distance shortlists 40 candidates (TakeOrdered, no
    // global window), exact cosine reranks to top-10. Distinct bits
    // sum without carries, so the packed representation is exact; the
    // oracle counts sign disagreements per dimension — mathematically
    // the same hamming distance without the packing.
    "ann_bq" -> { (s, dir) =>
      import s.implicits._
      import graft.functions.GraftFunctions.{cosine_sim, hamming64}
      val bq = expr("aggregate(sequence(0, 63), 0L, (acc, i) -> " +
        "acc + CASE WHEN embedding[i] > 0 THEN shiftleft(1L, i) ELSE 0L END)")
      val emb = Tables.load(s, dir, "embeddings").withColumn("bq", bq)
      val q = emb.filter($"vec_id" === 0)
        .select($"embedding".as("qv"), $"bq".as("qbq"))
      emb.filter($"vec_id" =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("ham", hamming64($"bq", $"qbq"))
        .orderBy($"ham".asc, $"vec_id".asc).limit(40)
        .withColumn("cos", cosine_sim($"embedding", $"qv"))
        .orderBy($"cos".desc, $"vec_id".asc).limit(10)
        .select($"vec_id", $"label", $"ham", $"cos")
    },

    // late-interaction (ColBERT MaxSim) retrieval: each label group is
    // a multi-vector "document", label 0's vectors are the query
    // tokens; score(doc) = sum over query tokens of the max cosine to
    // any doc vector. The per-(doc, token) max is a decomposable agg
    // (map-side partials); the final sum folds in qid order via the
    // same strict-left-fold discipline as the EWMA, so DuckDB
    // list_reduce replays the IEEE sequence exactly.
    "ann_maxsim" -> { (s, dir) =>
      import s.implicits._
      import graft.functions.GraftFunctions.cosine_sim
      val emb = Tables.load(s, dir, "embeddings")
      val q = emb.filter($"label" === 0)
        .select($"vec_id".as("qid"), $"embedding".as("qv"))
      emb.filter($"label" =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("cos", cosine_sim($"embedding", $"qv"))
        .groupBy($"label", $"qid").agg(max($"cos").as("m"))
        .groupBy($"label")
        .agg(sort_array(collect_list(struct($"qid", $"m"))).as("ms"))
        .select($"label",
          expr("aggregate(slice(transform(ms, r -> r.m), 2, size(ms) - 1)," +
            " transform(ms, r -> r.m)[0], (s, x) -> s + x)").as("maxsim"))
        .orderBy($"maxsim".desc, $"label".asc)
        .limit(3)
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
    "ann_range" ->
      s"""SELECT e.vec_id, e.label, ${cos("e.embedding", "q.qv")} AS cos
         |FROM embeddings e,
         |  (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
         |WHERE e.vec_id != 0
         |  AND ${cos("e.embedding", "q.qv")} >= 0.2""".stripMargin,

    "knn_classify" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv
         |  FROM embeddings WHERE vec_id % 100 = 0),
         |p AS (SELECT q.qid, e.vec_id, e.label,
         |    ${cos("e.embedding", "q.qv")} AS cos
         |  FROM embeddings e, q WHERE e.vec_id != q.qid),
         |r AS (SELECT qid, vec_id, label, row_number() OVER (
         |    PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rnk
         |  FROM p),
         |v AS (SELECT qid, label, CAST(count(*) AS BIGINT) AS votes
         |  FROM r WHERE rnk <= 25 GROUP BY qid, label),
         |w AS (SELECT qid, label, votes, row_number() OVER (
         |    PARTITION BY qid ORDER BY votes DESC, label ASC) AS rn
         |  FROM v)
         |SELECT qid, label AS pred_label, votes FROM w WHERE rn = 1""".stripMargin,

    "ann_bq" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |h AS (
         |  SELECT e.vec_id, e.label, e.embedding, q.qv,
         |    CAST(len(list_filter(range(1, 65), gi ->
         |      (e.embedding[CAST(gi AS INT)] > 0)
         |        <> (q.qv[CAST(gi AS INT)] > 0))) AS INT) AS ham
         |  FROM embeddings e, q WHERE e.vec_id <> 0),
         |cand AS (
         |  SELECT vec_id, label, embedding, qv, ham
         |  FROM h ORDER BY ham ASC, vec_id ASC LIMIT 40)
         |SELECT vec_id, label, ham, ${cos("embedding", "qv")} AS cos
         |FROM cand
         |ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin,

    "ann_centroids" ->
      """WITH x AS (
        |  SELECT label, vec_id, CAST(gi - 1 AS INT) AS dim,
        |    CAST(embedding[CAST(gi AS INT)] AS DOUBLE) AS xd
        |  FROM embeddings,
        |    (SELECT unnest(range(1, 65)) AS gi) g)
        |SELECT label, dim,
        |  list_reduce(list(xd ORDER BY vec_id), (gs, gy) -> gs + gy)
        |    / CAST(count(*) AS DOUBLE) AS c
        |FROM x GROUP BY label, dim""".stripMargin,

    "ann_maxsim" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv
         |  FROM embeddings WHERE label = 0),
         |m AS (SELECT e.label, q.qid,
         |    max(${cos("e.embedding", "q.qv")}) AS m
         |  FROM embeddings e, q WHERE e.label <> 0
         |  GROUP BY e.label, q.qid),
         |sc AS (SELECT label,
         |    list_reduce(list(m ORDER BY qid), (gs, gx) -> gs + gx) AS maxsim
         |  FROM m GROUP BY label)
         |SELECT label, maxsim FROM sc
         |ORDER BY maxsim DESC, label ASC LIMIT 3""".stripMargin
  )
}
