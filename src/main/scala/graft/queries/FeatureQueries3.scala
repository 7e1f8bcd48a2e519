package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Third feature-engineering wave (round 8).
  *
  * `feat_random_proj` — Johnson-Lindenstrauss dimensionality reduction
  * with database-friendly ±1 projections (Achlioptas 2003): out_j =
  * Σ_i sign(i,j)·emb_i / √k for k = 8 output dims. The sign matrix is
  * never materialized — sign(i,j) = parity of ((A_j·i + B_j) mod P)
  * with the committed per-dim constants (A_j ~1e6 primes, P a 30-bit
  * prime; every product < 2^26, so DuckDB's throwing-overflow BIGINT
  * arithmetic replays it verbatim — the minhash-family discipline).
  * Embeddings shrink 4× (32 float dims → 8) while inner products are
  * preserved in expectation — the cheap first stage before ANN
  * indexing when the raw dimension is large.
  *
  * Float discipline: each output dim is a STRICT left-to-right fold
  * with element-1 init on BOTH engines (Spark `aggregate(slice(t, 2,
  * …), t[1], +)` == DuckDB's elem-1-init `list_reduce` — exactly the
  * corpus_bpe identity, avoiding the 0.0-init −0.0 edge), then ONE
  * division by the correctly-rounded-everywhere sqrt(8.0).
  *
  * Scale shape: row-local map at scan parallelism — zero shuffles,
  * whole-stage codegen'd built-in higher-order functions, output
  * 4× smaller than the input it replaces.
  */
object FeatureQueries3 extends QueryModule {

  private val P = 1073741789L
  private val As = Seq(1000003L, 1000033L, 1000037L, 1000039L,
    1000081L, 1000099L, 1000117L, 1000121L)
  private def bOf(j: Int): Long = 31L * j + 7L

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "feat_random_proj" -> { (s, dir) =>
      import s.implicits._
      val signed = (0 until 8).foldLeft(
        Tables.load(s, dir, "embeddings").select($"vec_id", $"embedding")) {
        (df, j) =>
          df.withColumn(s"__t$j", expr(
            s"""transform(sequence(1, size(embedding)), gi ->
               |  (CASE WHEN ((${As(j)} * gi + ${bOf(j)}) % $P) % 2 = 0
               |        THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE)
               |   END) * CAST(element_at(embedding, gi) AS DOUBLE))"""
              .stripMargin))
      }
      signed.select($"vec_id" +: (0 until 8).map(j => expr(
        s"""aggregate(slice(__t$j, 2, size(embedding) - 1),
           |  element_at(__t$j, 1), (ga, gx) -> ga + gx) / sqrt(8.0D)"""
          .stripMargin).as(s"proj_$j")): _*)
    }
  )

  val oracles: Map[String, String] = Map(
    "feat_random_proj" -> {
      val cols = (0 until 8).map { j =>
        s"""  list_reduce(list_transform(range(1, len(embedding) + 1), gi ->
           |    (CASE WHEN ((${As(j)} * gi + ${bOf(j)}) % $P) % 2 = 0
           |          THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE)
           |     END) * CAST(embedding[gi] AS DOUBLE)),
           |    (ga, gx) -> ga + gx) / sqrt(8.0) AS proj_$j""".stripMargin
      }.mkString(",\n")
      s"SELECT vec_id,\n$cols\nFROM embeddings"
    }
  )
}
