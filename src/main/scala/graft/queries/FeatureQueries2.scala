package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GraftFunctions.poly_hash

/** Second feature-engineering wave (SURVEY.md §2.5, round 4): robust
  * (median/IQR) scaling and smoothed target encoding. Same cross-engine
  * float discipline as [[FeatureQueries]]: exact integer/decimal
  * statistics, identical double expression trees on both sides.
  */
object FeatureQueries2 extends QueryModule {

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // robust scaling: (x - median) / IQR — outlier-insensitive
    // standardization. The three discrete quantiles come from ONE
    // RankSelect range-shuffle pass (exact ceil(qn) rule == DuckDB
    // quantile_disc), stay exact decimals through the subtraction, and
    // broadcast back over the fact table; one double division per row.
    "feat_robust_scale" -> { (s, dir) =>
      import s.implicits._
      import graft.operators.RankSelect
      val o = Tables.load(s, dir, "orders")
        .select($"o_orderkey",
          $"o_totalprice".cast("decimal(15,2)").as("p"))
        .withColumn("g", lit(1))
      val qs = RankSelect.discreteQuantilesCapped(o, Seq("g"),
          Seq(("q1", 1L, 4L), ("q2", 1L, 2L), ("q3", 3L, 4L)),
          "q", "n", 10000, $"p", $"o_orderkey")
        .groupBy($"g")
        .agg(max(when($"q" === "q1", $"p")).as("q1"),
          max(when($"q" === "q2", $"p")).as("q2"),
          max(when($"q" === "q3", $"p")).as("q3"))
      o.join(broadcast(qs), "g")
        .select($"o_orderkey",
          (($"p" - $"q2").cast("double") /
            ($"q3" - $"q1").cast("double")).as("scaled"))
    },

    // smoothed mean target encoding of order priority against the
    // binary "order fulfilled" target: enc = (k_pos + m*prior)/(k_n + m)
    // with m = 10. Two tiny aggregates (per-category and global),
    // integer sums, one identical double expression tree at the end.
    "feat_target_encode" -> { (s, dir) =>
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
        .select($"o_orderpriority",
          when($"o_orderstatus" === "F", 1L).otherwise(0L).as("y"))
      val g = o.agg(sum($"y").as("gf"), count(lit(1)).as("gn"))
      o.groupBy($"o_orderpriority")
        .agg(sum($"y").as("kf"), count(lit(1)).as("kn"))
        .crossJoin(broadcast(g))
        .select($"o_orderpriority", $"kn".as("n"),
          (($"kf".cast("double") +
            lit(10.0) * ($"gf".cast("double") / $"gn".cast("double"))) /
            ($"kn".cast("double") + lit(10.0))).as("enc"))
    },

    // the hashing trick (Weinberger et al. 2009): sparse signed
    // bag-of-words into B = 32 buckets. Bucket index is the base-31
    // rolling hash mod B; the SIGN comes from an independent base-37
    // hash's parity (the ± trick that makes collisions cancel in
    // expectation). All-integer and replayable: poly_hash lands in
    // [0, 1e9+7) so % is non-negative on both engines. Scale shape:
    // explode is row-local; the ONE shuffle is groupBy(doc_id, bucket)
    // with map-side partials, bounded by docs·B rows — the classic
    // sparse-featurizer plan at any corpus size.
    "feat_hashing" -> { (s, dir) =>
      import s.implicits._
      val B = 32
      Tables.load(s, dir, "documents")
        .select($"doc_id", explode(split($"text", " ")).as("tok"))
        .filter(length($"tok") > 0)
        .select($"doc_id", (poly_hash($"tok") % B).as("bucket"),
          when(poly_hash($"tok", 37) % 2 === 0, 1L).otherwise(-1L).as("sgn"))
        .groupBy($"doc_id", $"bucket")
        .agg(sum($"sgn").as("w"))
    }
  )

  val oracles: Map[String, String] = Map(
    "feat_robust_scale" ->
      """WITH o AS (
        |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(15,2)) AS p
        |  FROM orders),
        |qs AS (
        |  SELECT quantile_disc(p, 0.25) AS q1, quantile_disc(p, 0.5) AS q2,
        |    quantile_disc(p, 0.75) AS q3
        |  FROM o)
        |SELECT o_orderkey,
        |  CAST(p - q2 AS DOUBLE) / CAST(q3 - q1 AS DOUBLE) AS scaled
        |FROM o, qs""".stripMargin,

    "feat_target_encode" ->
      """WITH o AS (
        |  SELECT o_orderpriority,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        |  FROM orders),
        |g AS (SELECT CAST(sum(y) AS BIGINT) AS gf,
        |  CAST(count(*) AS BIGINT) AS gn FROM o),
        |k AS (SELECT o_orderpriority, CAST(sum(y) AS BIGINT) AS kf,
        |  CAST(count(*) AS BIGINT) AS kn FROM o GROUP BY o_orderpriority)
        |SELECT o_orderpriority, kn AS n,
        |  (CAST(kf AS DOUBLE)
        |    + 10.0 * (CAST(gf AS DOUBLE) / CAST(gn AS DOUBLE)))
        |  / (CAST(kn AS DOUBLE) + 10.0) AS enc
        |FROM k, g""".stripMargin,

    "feat_hashing" -> {
      def ph(base: Int) =
        s"""list_reduce(list_transform(range(1, length(tok) + 1),
           | gi -> CAST(ord(substr(tok, CAST(gi AS INT), 1)) AS BIGINT)),
           | (ga, gc) -> (ga * $base + gc) % 1000000007)""".stripMargin
      s"""WITH t AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |h AS (
         |  SELECT doc_id, ${ph(31)} AS h31, ${ph(37)} AS h37
         |  FROM t WHERE length(tok) > 0)
         |SELECT doc_id, h31 % 32 AS bucket,
         |  CAST(sum(CASE WHEN h37 % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS w
         |FROM h GROUP BY doc_id, bucket""".stripMargin
    }
  )
}
