package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-12 session-3 relational additions: trend-break detection and
  * closed-form trend estimation over the daily revenue series.
  *
  * `q124_changepoint` — single mean-shift changepoint on daily order
  * revenue (binary-segmentation step 1, the CUSUM sibling q101 only
  * monitors): pick the split t maximizing the between-segment variance
  * reduction G(t) = n1·n2/n · (m1 − m2)². Money discipline: daily
  * revenue folds as exact DECIMAL(15,2) cents → BIGINT (sums are
  * order-independent integers), and G's tree is FIXED double
  * arithmetic over those exact integers (the χ² rule: exact-integer
  * SUMS, deterministic IEEE trees for the derived score — identical
  * textual tree on both engines, so argmax ties are bit-ties broken
  * by the explicit `t ASC`). Scale shape: ONE partial-agg groupBy to
  * the days-bounded frame (~thousands of rows at any corpus size);
  * the prefix-sum window and the argmax run on that tiny frame, and
  * the top-1 is orderBy+limit (TakeOrderedAndProject, no global sort
  * of anything unbounded).
  *
  * `q125_ols_trend` — closed-form OLS of daily revenue cents on the
  * day index (slope/intercept/R²): the "is revenue actually growing"
  * number with no iterative fitting. All five moment sums are EXACT:
  * Σx, Σx², Σxy, Σy in BIGINT (x ≤ days, products bounded), Σy² in
  * DECIMAL(38,0) (y² in cents² can pass 2^63 at corpus scale; Spark
  * decimal sum == DuckDB HUGEINT sum exactly). The normal equations
  * are then ONE fixed double tree per output (slope = Sxy/Sxx,
  * intercept, R² = Sxy²/(Sxx·Syy)) with the degenerate denominators
  * guarded to null on BOTH engines (the q105 DIVIDE_BY_ZERO class).
  * Scale: one groupBy to days, one tiny-frame aggregate — nothing
  * else touches the fact table.
  */
object RelationalQueries18 extends QueryModule {

  /** Per-row exact cents from the double price column (the money
    * discipline: decimal cast BEFORE any arithmetic, cents as long).
    */
  private def centsCol = (col("o_totalprice").cast("decimal(15,2)") * 100)
    .cast("long")

  private val centsSql =
    "CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT)"

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q124_changepoint" -> { (s, dir) =>
      import s.implicits._
      val daily = Tables.load(s, dir, "orders")
        .groupBy($"o_orderdate".cast("date").as("day"))
        .agg(sum(centsCol).as("y"))
      // everything after the rollup runs on the days-bounded frame via
      // the SHARED operators.Trend kernel (one definition with the
      // streaming StreamingOps.dailyCentsMaintained consumer — the
      // Survival.kmCurve discipline)
      graft.operators.Trend.changepoint(daily)
    },

    "q125_ols_trend" -> { (s, dir) =>
      import s.implicits._
      val daily = Tables.load(s, dir, "orders")
        .groupBy($"o_orderdate".cast("date").as("day"))
        .agg(sum(centsCol).as("y"))
      graft.operators.Trend.olsTrend(daily)
    }
  )

  val oracles: Map[String, String] = Map(
    "q124_changepoint" ->
      s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
         |    CAST(sum($centsSql) AS BIGINT) AS y
         |  FROM orders GROUP BY 1),
         |idx AS (SELECT day, y,
         |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
         |    CAST(sum(y) OVER (ORDER BY day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS s1
         |  FROM daily),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(y) AS BIGINT) AS s FROM daily),
         |g AS (SELECT day, i AS t, i AS n_left, tot.n - i AS n_right,
         |    CAST(s1 AS DOUBLE) / CAST(i AS DOUBLE) AS mean_left,
         |    CAST(tot.s - s1 AS DOUBLE) / CAST(tot.n - i AS DOUBLE)
         |      AS mean_right
         |  FROM idx CROSS JOIN tot WHERE i < tot.n),
         |g2 AS (SELECT day, t, n_left, n_right, mean_left, mean_right,
         |    (CAST(n_left AS DOUBLE) * CAST(n_right AS DOUBLE)
         |      / CAST(n_left + n_right AS DOUBLE))
         |      * ((mean_left - mean_right) * (mean_left - mean_right))
         |      AS gain
         |  FROM g)
         |SELECT day AS split_day, t, n_left, n_right, mean_left,
         |  mean_right, gain
         |FROM g2 ORDER BY gain DESC, t ASC LIMIT 1""".stripMargin,

    "q125_ols_trend" ->
      s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
         |    CAST(sum($centsSql) AS BIGINT) AS y
         |  FROM orders GROUP BY 1),
         |idx AS (SELECT y,
         |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i
         |  FROM daily),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(i) AS BIGINT) AS sx,
         |    CAST(sum(i * i) AS BIGINT) AS sx2,
         |    CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(i * y) AS BIGINT) AS sxy,
         |    sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS sy2
         |  FROM idx),
         |d AS (SELECT n, CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE)
         |      AS sxd, CAST(sy AS DOUBLE) AS syd,
         |    CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS sxx,
         |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS sxyc,
         |    CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE)
         |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS syy
         |  FROM m),
         |sl AS (SELECT *, CASE WHEN sxx > 0.0 THEN sxyc / sxx
         |    ELSE NULL END AS slope FROM d)
         |SELECT n AS n_days, slope AS slope_cents_per_day,
         |  CASE WHEN sxx > 0.0 THEN (syd - slope * sxd) / nd
         |    ELSE NULL END AS intercept_cents,
         |  CASE WHEN sxx > 0.0 AND syy > 0.0
         |    THEN (sxyc * sxyc) / (sxx * syy) ELSE NULL END AS r2
         |FROM sl""".stripMargin
  )
}
