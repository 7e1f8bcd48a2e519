package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Feature-engineering queries (SURVEY.md §2.5): the normalization /
  * encoding steps an ML training pipeline runs after cleaning and
  * before packing.
  *
  * Cross-engine float discipline (see CLAUDE.md): every double is
  * derived from integer or decimal aggregates whose exact value fits
  * in 2^53, so the int->double conversions are EXACT in both engines
  * and the remaining ops (-, /, sqrt) are single correctly-rounded
  * IEEE operations with identical expression trees on both sides —
  * bit-for-bit reproducible, not merely "close".
  *
  * Scale notes: group statistics are tiny (one row per group) and
  * broadcast back to the fact table — no window over a 3-partition
  * key (which would serialize 100 TB through 3 tasks). The z-score
  * moment products n*s2 stay under 2^53 through sf0.1 benches;
  * quantities are bounded (<=50) so s2 grows linearly with rows —
  * ~9e16 at sf1 is the first scale where a two-pass centered moment
  * would be needed instead.
  */
object FeatureQueries extends QueryModule {

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // z-score standardization of l_quantity within each returnflag
    // group: mean and variance from exact integer sums (n*s2 - s1^2
    // stays a bit-exact BIGINT), one conversion to double at the end
    "feat_zscore" -> { (s, dir) =>
      import s.implicits._
      val li = Tables.load(s, dir, "lineitem")
        .select($"l_orderkey", $"l_linenumber", $"l_returnflag",
          $"l_quantity".cast("long").as("q"))
      val st = li.groupBy($"l_returnflag").agg(
        count(lit(1)).as("n"), sum($"q").as("s1"),
        sum($"q" * $"q").as("s2"))
      val mean = $"s1".cast("double") / $"n".cast("double")
      val variance = ($"n" * $"s2" - $"s1" * $"s1").cast("double") /
        ($"n" * $"n").cast("double")
      li.join(broadcast(st), "l_returnflag")
        .select($"l_orderkey", $"l_linenumber",
          (($"q".cast("double") - mean) / sqrt(variance)).as("z"))
    },

    // min-max scaling of o_totalprice within each order priority:
    // exact decimal min/max (single values, exact-in-double), scale
    // in double with the canonical (x - min) / (max - min) tree
    "feat_minmax" -> { (s, dir) =>
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
        .select($"o_orderkey", $"o_orderpriority",
          $"o_totalprice".cast("decimal(15,2)").as("p"))
      val st = o.groupBy($"o_orderpriority")
        .agg(min($"p").as("mn"), max($"p").as("mx"))
      o.join(broadcast(st), "o_orderpriority")
        .select($"o_orderkey",
          (($"p".cast("double") - $"mn".cast("double")) /
            ($"mx".cast("double") - $"mn".cast("double"))).as("x"))
    },

    // one-hot encoding of the two categorical lineitem columns — the
    // row-local encode step before a model ingests the table (pure
    // projection: no shuffle, fully codegen'd)
    "feat_onehot" -> { (s, dir) =>
      import s.implicits._
      def flag(c: String, v: String) =
        when(col(c) === v, 1).otherwise(0)
      Tables.load(s, dir, "lineitem")
        .select($"l_orderkey", $"l_linenumber",
          flag("l_returnflag", "A").as("rf_a"),
          flag("l_returnflag", "N").as("rf_n"),
          flag("l_returnflag", "R").as("rf_r"),
          flag("l_linestatus", "O").as("ls_o"),
          flag("l_linestatus", "F").as("ls_f"))
    }
  )

  val oracles: Map[String, String] = Map(
    "feat_zscore" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_linenumber, l_returnflag,
        |    CAST(l_quantity AS BIGINT) AS q FROM lineitem),
        |st AS (
        |  SELECT l_returnflag, count(*) AS n, sum(q) AS s1,
        |    sum(q*q) AS s2
        |  FROM li GROUP BY l_returnflag)
        |SELECT l_orderkey, l_linenumber,
        |  (CAST(q AS DOUBLE) - CAST(s1 AS DOUBLE)/CAST(n AS DOUBLE))
        |    / sqrt(CAST(n*s2 - s1*s1 AS DOUBLE)/CAST(n*n AS DOUBLE))
        |    AS z
        |FROM li JOIN st USING (l_returnflag)""".stripMargin,

    "feat_minmax" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    CAST(o_totalprice AS DECIMAL(15,2)) AS p FROM orders),
        |st AS (
        |  SELECT o_orderpriority, min(p) AS mn, max(p) AS mx
        |  FROM o GROUP BY o_orderpriority)
        |SELECT o_orderkey,
        |  (CAST(p AS DOUBLE) - CAST(mn AS DOUBLE)) /
        |    (CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE)) AS x
        |FROM o JOIN st USING (o_orderpriority)""".stripMargin,

    "feat_onehot" ->
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END AS rf_a,
        |  CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END AS rf_n,
        |  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS rf_r,
        |  CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END AS ls_o,
        |  CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END AS ls_f
        |FROM lineitem""".stripMargin
  )
}
