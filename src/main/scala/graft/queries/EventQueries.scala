package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.operators.{AsOfJoin, RangeJoin}

/** Event-time operators over the `events` stream table (SURVEY.md §2.2).
  *
  * Timestamp discipline: the raw data is nanosecond-precision; Spark's
  * engine is microsecond. All comparisons and outputs go through
  * `unix_micros` (Spark) / `epoch_us` (DuckDB) — both truncate ns→us the
  * same way — so oracle parity is exact. Raw timestamps are never emitted
  * (us-vs-ns output precision would differ).
  */
object EventQueries extends QueryModule {

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q15_asof_join" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.events(s, dir)
      AsOfJoin.lastEventAsOf(
        left = ev.filter($"event_type" === "purchase"),
        right = ev.filter($"event_type" === "click"),
        partitionCol = "user_id", tsCol = "ts", idCol = "event_id")
        .select(
          $"event_id".as("purchase_id"), $"user_id",
          unix_micros($"ts").as("purchase_us"),
          $"asof_id".as("last_click_id"),
          $"asof_us".as("click_us"))
    },

    "q16_range_join" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.events(s, dir)
      RangeJoin.countInPrecedingWindow(
        left = ev.filter($"event_type" === "purchase"),
        right = ev.filter($"event_type" === "click"),
        keyCol = "user_id", tsCol = "ts", windowMicros = 3600L * 1000000L)
        .select($"event_id".as("purchase_id"), $"user_id", $"n_in_window".as("n_clicks"))
    },

    "q19_time_window" -> { (s, dir) =>
      import s.implicits._
      Tables.events(s, dir)
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"),
          min($"value").as("min_val"), max($"value").as("max_val"))
        .select(unix_timestamp($"window.start").as("win_start"),
          $"event_type", $"n", $"min_val", $"max_val")
    },

    // strict ordered funnel view -> click -> purchase: each stage's
    // timestamp is the first qualifying event strictly after the
    // previous stage. Three small per-user aggregates chained by joins —
    // each shuffles O(users), never O(events) twice.
    "q46_funnel" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.events(s, dir).withColumn("us", unix_micros($"ts"))
      val v = ev.filter($"event_type" === "view")
        .groupBy($"user_id").agg(min($"us").as("t_view"))
      val c = ev.filter($"event_type" === "click").join(v, "user_id")
        .filter($"us" > $"t_view")
        .groupBy($"user_id").agg(min($"us").as("t_click"))
      val p = ev.filter($"event_type" === "purchase").join(c, "user_id")
        .filter($"us" > $"t_click")
        .groupBy($"user_id").agg(min($"us").as("t_purchase"))
      v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
        .select($"user_id", $"t_view", $"t_click", $"t_purchase")
    },

    // retention cohorts: users grouped by first-active date; distinct
    // active users per (cohort, day offset)
    "q47_retention" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.events(s, dir).withColumn("d", $"ts".cast("date"))
      val first = ev.groupBy($"user_id").agg(min($"d").as("cohort_date"))
      ev.join(first, "user_id")
        .withColumn("day_offset", datediff($"d", $"cohort_date"))
        .groupBy($"cohort_date", $"day_offset")
        .agg(countDistinct($"user_id").as("n_users"))
    },

    // mergeable-sketch distinct counting: daily partial HLL sketches of
    // user_id, unioned to a global estimate. In the sketch's exact
    // (coupon) range the estimate equals count(DISTINCT), so the oracle
    // is exact SQL; beyond it the same plan degrades to ~0.5% error
    // without ever reshuffling raw keys.
    "sketch_hll_union" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.events(s, dir).withColumn("d", $"ts".cast("date"))
      val daily = graft.operators.Sketches.hllPartial(ev, Seq("d"), "user_id")
      graft.operators.Sketches.hllMergeEstimate(daily, Seq.empty, "distinct_users")
    },

    "q20_sessionize" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.events(s, dir)
      val byUser = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
      val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("prev_us", lag(unix_micros($"ts"), 1).over(byUser))
        .withColumn("new_sess",
          when($"prev_us".isNull || unix_micros($"ts") - $"prev_us" > 1800L * 1000000L, 1)
            .otherwise(0))
        .withColumn("sess_no", sum($"new_sess").over(run))
        .groupBy($"user_id", $"sess_no")
        .agg(count(lit(1)).as("n_events"),
          min(unix_micros($"ts")).as("start_us"),
          max(unix_micros($"ts")).as("end_us"))
    }
  )

  val oracles: Map[String, String] = Map(
    "q15_asof_join" ->
      """SELECT p.event_id AS purchase_id, p.user_id,
        |  CAST(epoch_us(p.ts) AS BIGINT) AS purchase_us,
        |  c.last_click_id, c.click_us
        |FROM events p
        |LEFT JOIN LATERAL (
        |  SELECT event_id AS last_click_id,
        |    CAST(epoch_us(ts) AS BIGINT) AS click_us
        |  FROM events c
        |  WHERE c.user_id = p.user_id AND c.event_type = 'click'
        |    AND epoch_us(c.ts) <= epoch_us(p.ts)
        |  ORDER BY epoch_us(c.ts) DESC, event_id DESC LIMIT 1) c ON TRUE
        |WHERE p.event_type = 'purchase'""".stripMargin,

    "q16_range_join" ->
      """SELECT p.event_id AS purchase_id, p.user_id,
        |  count(c.event_id) AS n_clicks
        |FROM events p
        |LEFT JOIN events c
        |  ON c.user_id = p.user_id AND c.event_type = 'click'
        |  AND epoch_us(c.ts) BETWEEN epoch_us(p.ts) - 3600000000 AND epoch_us(p.ts)
        |WHERE p.event_type = 'purchase'
        |GROUP BY p.event_id, p.user_id""".stripMargin,

    "q19_time_window" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS win_start,
        |  event_type, count(*) AS n,
        |  min(value) AS min_val, max(value) AS max_val
        |FROM events GROUP BY 1, 2""".stripMargin,

    "sketch_hll_union" ->
      """SELECT count(DISTINCT user_id) AS distinct_users FROM events""",

    "q46_funnel" ->
      """WITH e AS (SELECT user_id, event_type,
        |    CAST(epoch_us(ts) AS BIGINT) AS us FROM events),
        |v AS (SELECT user_id, min(us) AS t_view FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(us) AS t_click FROM e JOIN v USING (user_id)
        |  WHERE event_type = 'click' AND us > t_view GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(us) AS t_purchase FROM e JOIN c USING (user_id)
        |  WHERE event_type = 'purchase' AND us > t_click GROUP BY e.user_id)
        |SELECT v.user_id, t_view, t_click, t_purchase
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)""".stripMargin,

    "q47_retention" ->
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        |f AS (SELECT user_id, min(d) AS cohort_date FROM e GROUP BY user_id)
        |SELECT cohort_date, datediff('day', cohort_date, d) AS day_offset,
        |  count(DISTINCT e.user_id) AS n_users
        |FROM e JOIN f USING (user_id)
        |GROUP BY cohort_date, day_offset""".stripMargin,

    "q20_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS prev_us
        |  FROM events),
        |g AS (
        |  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
        |    THEN 1 ELSE 0 END AS new_sess FROM e),
        |s AS (
        |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
        |  FROM g)
        |SELECT user_id, CAST(sess_no AS BIGINT) AS sess_no,
        |  count(*) AS n_events,
        |  CAST(min(us) AS BIGINT) AS start_us,
        |  CAST(max(us) AS BIGINT) AS end_us
        |FROM s GROUP BY user_id, sess_no""".stripMargin
  )
}
