package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-13 relational additions: whole-table profiling and
  * forecast backtesting.
  *
  * `dq_profile` — the per-COLUMN data-quality profile every ETL
  * landing zone runs first (completeness, cardinality, range): one
  * row per orders column with null count, exact distinct count and
  * typed min/max (numerics as double — stored values, no arithmetic,
  * so bit-exact; strings/dates in the text slots, dates rendered
  * ISO). One COLUMN-PRUNED scan per column: columnar parquet reads
  * the same total bytes as a single full scan, and each column's
  * distinct agg shuffles only that column's narrow 2-way expand —
  * the all-in-one-agg form's 7-projection Expand shuffled n·7
  * full-width rows and measured 4× slower at 10×. This is the
  * COLUMNAR-TABLE face of profiling; `operators.Profile`
  * (corpus_profile) keeps the single-pass shape because it profiles
  * ARBITRARY frames — a non-rescannable source (JDBC cursor, a
  * derived frame worth one materialization) must profile in one
  * pass, and only a columnar table makes per-column scans free.
  *
  * `q128_backtest` — ROLLING-ORIGIN forecast backtest of the q122
  * Holt recurrence on daily order revenue: for each of the last 8
  * days t, fold the model over days 1..t−1 (the committed α=β=1/2
  * expanded recurrence, day-ordered — q122's list fold re-run per
  * cutoff on the days-bounded array), emit the one-step forecast
  * vs the actual and vs the NAIVE carry-forward baseline. Per-cutoff
  * rows, no cross-row error summation — every error is one IEEE
  * |subtraction| (deterministic), the naive error exact BIGINT cents.
  * This is the eval harness that tells a pipeline owner whether the
  * trend model beats persistence BEFORE trusting its forecasts.
  * Scale: one fact-table rollup to days; the 8 folds run on the
  * collected ≤days array (the q122 shape).
  */
object RelationalQueries20 extends QueryModule {

  private def centsCol = (col("o_totalprice").cast("decimal(15,2)") * 100)
    .cast("long")
  private val centsSql =
    "CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT)"

  /** (name, kind) per orders column; kind picks the min/max slot. */
  private val ProfileCols = Seq(
    "o_orderkey" -> "num", "o_custkey" -> "num", "o_orderstatus" -> "str",
    "o_totalprice" -> "num", "o_orderdate" -> "date",
    "o_orderpriority" -> "str")

  private val Cutoffs = 8 // backtest horizon: the last 8 days

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dq_profile" -> { (s, dir) =>
      import s.implicits._
      val t = Tables.load(s, dir, "orders")
      // ONE column-pruned scan per column: a single 7-projection
      // Expand (all 6 distincts in one agg) measured 3.8 s at 10× —
      // it shuffles n·7 FULL-WIDTH rows; six single-column scans read
      // the same parquet bytes in total (columnar pruning) and each
      // shuffles only its own column's 2-way expand. 0.9 s at 10×.
      ProfileCols.map { case (c, kind) =>
        val mmAggs = kind match {
          case "num" => Seq(min(col(c).cast("double")).as("min_num"),
            max(col(c).cast("double")).as("max_num"),
            lit(null).cast("string").as("min_str"),
            lit(null).cast("string").as("max_str"))
          case "str" => Seq(lit(null).cast("double").as("min_num"),
            lit(null).cast("double").as("max_num"),
            min(col(c)).as("min_str"), max(col(c)).as("max_str"))
          case _ => Seq(lit(null).cast("double").as("min_num"),
            lit(null).cast("double").as("max_num"),
            min(col(c).cast("date")).cast("string").as("min_str"),
            max(col(c).cast("date")).cast("string").as("max_str"))
        }
        val aggs = Seq(count(lit(1)).as("n_rows"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
          countDistinct(col(c)).as("n_distinct")) ++ mmAggs
        t.select(col(c)).agg(aggs.head, aggs.tail: _*)
          .select(lit(c).as("column"), $"n_rows", $"n_nulls", $"n_distinct",
            $"min_num", $"max_num", $"min_str", $"max_str")
      }.reduce(_ unionByName _)
    },

    "q128_backtest" -> { (s, dir) =>
      import s.implicits._
      // the committed q122 recurrence over exact-cent elements (cast
      // to double inside the fold — the same two expression trees as
      // the oracle's [l, b] list fold)
      val upd = "named_struct(" +
        "'l', 0.5D * CAST(e.y AS DOUBLE) + 0.5D * (acc.l + acc.b), " +
        "'b', 0.25D * CAST(e.y AS DOUBLE) - 0.25D * acc.l + 0.75D * acc.b)"
      Tables.load(s, dir, "orders")
        .groupBy($"o_orderdate".cast("date").as("day"))
        .agg(sum(centsCol).as("y"))
        .agg(array_sort(collect_list(struct($"day", $"y"))).as("a"))
        .select($"a", size($"a").cast("long").as("n"))
        .filter($"n" >= 2) // a 1-day series has no (t-1) naive baseline
        .select($"a",
          explode(expr(s"sequence(greatest(n - ${Cutoffs - 1}, 2L), n)"))
            .as("t"))
        .select(
          expr("element_at(a, CAST(t AS INT)).day").as("day"),
          expr("element_at(a, CAST(t AS INT)).y").as("actual_cents"),
          expr("element_at(a, CAST(t - 1 AS INT)).y").as("f_naive"),
          expr(s"""aggregate(slice(a, 2, CAST(t - 2 AS INT)),
            named_struct('l', CAST(element_at(a, 1).y AS DOUBLE),
                         'b', CAST(0.0 AS DOUBLE)),
            (acc, e) -> $upd)""").as("st"))
        .select($"day", $"actual_cents",
          ($"st.l" + $"st.b").as("f_holt"), $"f_naive",
          abs($"st.l" + $"st.b" - $"actual_cents".cast("double"))
            .as("err_holt"),
          abs($"f_naive" - $"actual_cents").as("err_naive"))
    }
  )

  /** One profile row per column (mirrors the Spark unpivot). */
  private def profileRowSql(c: String, kind: String): String = {
    val mn = kind match {
      case "num" => s"CAST(min($c) AS DOUBLE)"
      case "str" => "CAST(NULL AS DOUBLE)"
      case _ => "CAST(NULL AS DOUBLE)"
    }
    val mx = kind match {
      case "num" => s"CAST(max($c) AS DOUBLE)"
      case _ => "CAST(NULL AS DOUBLE)"
    }
    val smn = kind match {
      case "num" => "CAST(NULL AS VARCHAR)"
      case "str" => s"min($c)"
      case _ => s"CAST(min(CAST($c AS DATE)) AS VARCHAR)"
    }
    val smx = kind match {
      case "num" => "CAST(NULL AS VARCHAR)"
      case "str" => s"max($c)"
      case _ => s"CAST(max(CAST($c AS DATE)) AS VARCHAR)"
    }
    s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_nulls,
       |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
       |  $mn AS min_num, $mx AS max_num,
       |  $smn AS min_str, $smx AS max_str
       |FROM orders""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "dq_profile" -> ProfileCols
      .map { case (c, k) => profileRowSql(c, k) }
      .mkString("", "\nUNION ALL\n", ""),

    "q128_backtest" ->
      s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
         |    CAST(sum($centsSql) AS BIGINT) AS y
         |  FROM orders GROUP BY 1),
         |arr AS (SELECT list({'day': day, 'y': y} ORDER BY day) AS a,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM daily),
         |cut AS (SELECT a, n,
         |    unnest(range(greatest(n - ${Cutoffs - 1}, 2), n + 1)) AS t
         |  FROM arr WHERE n >= 2),
         |per AS (SELECT
         |    a[CAST(t AS INT)].day AS day,
         |    a[CAST(t AS INT)].y AS actual_cents,
         |    a[CAST(t - 1 AS INT)].y AS f_naive,
         |    list_reduce(
         |      list_transform(a[1:CAST(t - 1 AS INT)],
         |        ge -> [CAST(ge.y AS DOUBLE), CAST(0.0 AS DOUBLE)]),
         |      (acc, e) -> [
         |        CAST(0.5 AS DOUBLE) * e[1]
         |          + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2]),
         |        CAST(0.25 AS DOUBLE) * e[1]
         |          - CAST(0.25 AS DOUBLE) * acc[1]
         |          + CAST(0.75 AS DOUBLE) * acc[2]]) AS st
         |  FROM cut)
         |SELECT day, actual_cents, st[1] + st[2] AS f_holt, f_naive,
         |  abs(st[1] + st[2] - CAST(actual_cents AS DOUBLE)) AS err_holt,
         |  CAST(abs(f_naive - actual_cents) AS BIGINT) AS err_naive
         |FROM per""".stripMargin
  )
}
