package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.GraftFunctions.cosine_sim

/** Hybrid retrieval (SURVEY.md §2.4, round 6): lexical + vector
  * search fused by reciprocal-rank fusion (RRF, Cormack et al. 2009:
  * score = Σ 1/(k0 + rank), k0 = 60).
  *
  * Scale shape: each side produces a BOUNDED top-N shortlist first —
  * `orderBy(...).limit(N)` plans as TakeOrderedAndProject (per-
  * partition partial top-N + driver merge of N·partitions rows), NO
  * global sort shuffle — and ranking/fusion then run on ≤2N rows.
  * This is how production RRF works at any corpus size: the fused
  * candidate set is bounded by the per-retriever depth, never the
  * corpus.
  *
  * Oracle discipline: ranks are integers from a deterministic total
  * order (bit-identical cosines per the strict-fold contract of
  * [[graft.functions.catalyst.CosineSim]], integer term counts, id
  * tie-breaks), and the RRF score is built with one fixed expression
  * shape — `coalesce(1.0/(60+rv), 0.0) + coalesce(1.0/(60+rl), 0.0)`
  * — so DuckDB reproduces every double bit-for-bit.
  */
object SimilarityQueries3 extends QueryModule {

  private val Depth = 100 // per-retriever shortlist depth
  private val K0 = 60     // standard RRF dampening constant
  private val TopK = 20
  private val terms = Seq("query", "join", "data")

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_rrf" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
      val emb = Tables.load(s, dir, "embeddings")
      val qv = emb.filter($"vec_id" === 0).select($"embedding".as("qv"))

      // vector retriever: exact cosine vs query vec 0, top-Depth
      val vecTop = emb.filter($"vec_id" =!= 0)
        .crossJoin(broadcast(qv))
        .select($"vec_id".as("id"), cosine_sim($"embedding", $"qv").as("cos"))
        .orderBy($"cos".desc, $"id".asc).limit(Depth)
      // lexical retriever: query-term occurrence count, top-Depth
      // (row-local token filter; ties broken by id so the shortlist
      // boundary is deterministic on both engines)
      val lexTop = docs.filter($"doc_id" =!= 0)
        .select($"doc_id".as("id"),
          size(filter(split($"text", " "), t => t.isin(terms: _*)))
            .cast("long").as("hits"))
        .filter($"hits" > 0)
        .orderBy($"hits".desc, $"id".asc).limit(Depth)

      // ranks within each (tiny) shortlist, then full-outer RRF fusion:
      // a doc missing from one list contributes 0 from that retriever
      val wv = Window.orderBy($"cos".desc, $"id".asc)
      val wl = Window.orderBy($"hits".desc, $"id".asc)
      val rv = vecTop.select($"id", row_number().over(wv).cast("long").as("r_vec"))
      val rl = lexTop.select($"id", row_number().over(wl).cast("long").as("r_lex"))
      rv.join(rl, Seq("id"), "full_outer")
        .select($"id", $"r_vec", $"r_lex",
          (coalesce(lit(1.0) / (lit(K0) + $"r_vec"), lit(0.0)) +
            coalesce(lit(1.0) / (lit(K0) + $"r_lex"), lit(0.0))).as("rrf"))
        .orderBy($"rrf".desc, $"id".asc).limit(TopK)
    },

    // Hard-negative mining for contrastive / embedding training: for
    // each of the first 5 vectors (the "anchors"), the top-10 most
    // cosine-similar embeddings whose LABEL DIFFERS — similar-but-wrong
    // examples, the classic in-batch-negatives upgrade. Scale shape:
    // the anchor set is broadcast (5 rows), candidates stream through a
    // row-local cosine, and the rank<=10 filter plans a map-side
    // partial WindowGroupLimit so the single final window shuffle
    // carries at most 10·partitions·anchors rows, never the corpus.
    "ann_negatives" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings")
      val anchors = emb.filter($"vec_id" < 5)
        .select($"vec_id".as("q_id"), $"label".as("q_label"),
          $"embedding".as("qv"))
      val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"neg_id".asc)
      emb.filter($"vec_id" >= 5)
        .crossJoin(broadcast(anchors))
        .filter($"label" =!= $"q_label")
        .select($"q_id", $"vec_id".as("neg_id"),
          $"label".cast("long").as("neg_label"),
          cosine_sim($"embedding", $"qv").as("cos"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter($"rk" <= 10)
    },

    // int8 scalar quantization (the faiss-SQ8 memory/bandwidth play):
    // the embedding space lives in (-1,1), so the trained uniform
    // range is global and each coordinate quantizes to floor(x·127) ∈
    // [-127,127] — one byte of information per dim, a 4× scan-size cut
    // vs float32, which is what SQ8 buys at 100 TB. Shortlist = top-40
    // by the pure-INTEGER quantized dot product (TakeOrdered partial
    // top-N, no global sort), exact cosine reranks to top-10. Parity
    // is bulletproof by construction: floor of an IEEE double product
    // is exact on both engines and the dot is an order-independent
    // integer sum — no float accumulation anywhere in the shortlist.
    "ann_sq8" -> { (s, dir) =>
      import s.implicits._
      val qz = expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0D) AS BIGINT))")
      val emb = Tables.load(s, dir, "embeddings").withColumn("qz", qz)
      val q = emb.filter($"vec_id" === 0)
        .select($"embedding".as("qv"), $"qz".as("qqz"))
      emb.filter($"vec_id" =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("dotq", expr(
          "aggregate(zip_with(qz, qqz, (a, b) -> a * b), " +
            "CAST(0 AS BIGINT), (acc, x) -> acc + x)"))
        .orderBy($"dotq".desc, $"vec_id".asc).limit(40)
        .withColumn("cos", cosine_sim($"embedding", $"qv"))
        .orderBy($"cos".desc, $"vec_id".asc).limit(10)
        .select($"vec_id", $"label", $"dotq", $"cos")
    }
  )

  // dot/cos replicated from SimilarityQueries.cos (strict left fold)
  private def dot(x: String, y: String) =
    s"""list_reduce(list_transform(range(1, len($x) + 1),
       | gi -> CAST($x[CAST(gi AS INT)] AS DOUBLE) * CAST($y[CAST(gi AS INT)] AS DOUBLE)),
       | (gx, gy) -> gx + gy)""".stripMargin
  private def cos(a: String, b: String): String =
    s"(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"

  val oracles: Map[String, String] = Map(
    "ann_rrf" ->
      s"""WITH vt AS (
         |  SELECT e.vec_id AS id, ${cos("e.embedding", "q.qv")} AS cos
         |  FROM embeddings e,
         |    (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
         |  WHERE e.vec_id != 0
         |  ORDER BY cos DESC, id ASC LIMIT $Depth),
         |lt AS (
         |  SELECT doc_id AS id,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      gw -> gw IN (${terms.map(t => s"'$t'").mkString(", ")}))) AS BIGINT)
         |      AS hits
         |  FROM documents WHERE doc_id != 0
         |    AND len(list_filter(string_split(text, ' '),
         |      gw -> gw IN (${terms.map(t => s"'$t'").mkString(", ")}))) > 0
         |  ORDER BY hits DESC, id ASC LIMIT $Depth),
         |rv AS (
         |  SELECT id, CAST(row_number() OVER (ORDER BY cos DESC, id ASC) AS BIGINT)
         |    AS r_vec FROM vt),
         |rl AS (
         |  SELECT id, CAST(row_number() OVER (ORDER BY hits DESC, id ASC) AS BIGINT)
         |    AS r_lex FROM lt)
         |SELECT coalesce(rv.id, rl.id) AS id, rv.r_vec, rl.r_lex,
         |  coalesce(CAST(1 AS DOUBLE) / ($K0 + rv.r_vec), CAST(0 AS DOUBLE))
         |    + coalesce(CAST(1 AS DOUBLE) / ($K0 + rl.r_lex), CAST(0 AS DOUBLE))
         |    AS rrf
         |FROM rv FULL OUTER JOIN rl ON rv.id = rl.id
         |ORDER BY rrf DESC, id ASC LIMIT $TopK""".stripMargin,

    "ann_negatives" ->
      s"""WITH a AS (
         |  SELECT vec_id AS q_id, label AS q_label, embedding AS qv
         |  FROM embeddings WHERE vec_id < 5),
         |c AS (
         |  SELECT a.q_id, e.vec_id AS neg_id,
         |    CAST(e.label AS BIGINT) AS neg_label,
         |    ${cos("e.embedding", "a.qv")} AS cos
         |  FROM embeddings e, a
         |  WHERE e.vec_id >= 5 AND e.label != a.q_label),
         |r AS (
         |  SELECT q_id, neg_id, neg_label, cos,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, neg_id ASC) AS BIGINT) AS rk
         |  FROM c)
         |SELECT q_id, neg_id, neg_label, cos, rk FROM r WHERE rk <= 10""".stripMargin,

    "ann_sq8" ->
      s"""WITH z AS (
         |  SELECT vec_id, label, embedding,
         |    list_transform(embedding,
         |      gx -> CAST(floor(CAST(gx AS DOUBLE) * 127.0) AS BIGINT)) AS qz
         |  FROM embeddings),
         |q AS (SELECT embedding AS qv, qz AS qqz FROM z WHERE vec_id = 0),
         |d AS (
         |  SELECT z.vec_id, z.label, z.embedding, q.qv,
         |    CAST(list_reduce(list_transform(range(1, len(z.qz) + 1),
         |      gi -> z.qz[CAST(gi AS INT)] * q.qqz[CAST(gi AS INT)]),
         |      (ga, gx) -> ga + gx) AS BIGINT) AS dotq
         |  FROM z, q WHERE z.vec_id != 0),
         |cand AS (SELECT vec_id, label, embedding, qv, dotq FROM d
         |         ORDER BY dotq DESC, vec_id ASC LIMIT 40)
         |SELECT vec_id, label, dotq, ${cos("embedding", "qv")} AS cos
         |FROM cand ORDER BY cos DESC, vec_id ASC LIMIT 10""".stripMargin
  )
}
