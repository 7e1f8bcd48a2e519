package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-13 relational additions (2): seasonal forecasting and causal
  * lift estimation.
  *
  * `q129_winters` — additive HOLT-WINTERS (level + trend + weekly
  * season, α = β = γ = 1/2) per event type, the q122 fold extended
  * with a 7-slot season queue: state is a 9-element double ARRAY
  * [l, b, s1..s7] (s1 = the incoming day's season), initialized from
  * the first 7 days (l₀ = their strict-fold mean, sᵢ = xᵢ − l₀,
  * b₀ = 0) and folded over days 8..n in day order. Every recurrence
  * is committed in EXPANDED per-slot form (the round-12 DuckDB
  * struct-mutation rule, applied to arrays: no slot's expression
  * references another slot's RESULT):
  *   l′ = 0.5(x − s1) + 0.5(l + b)
  *   b′ = 0.25(x − s1) − 0.25 l + 0.75 b
  *   s′ = 0.25 x + 0.75 s1 − 0.25 l − 0.25 b
  * and the queue rotates [l′, b′, s2..s7, s′]. DuckDB folds the SAME
  * trees with list_reduce over [init-state] ++ per-day [x,0,...]
  * elements (elem-1 init carries the derived init state — the q122
  * idiom generalized past element-1-as-first-observation). Output:
  * one row per (event_type, h ∈ 1..7) with the h-step-ahead forecast
  * l + h·b + s_h — the table a capacity planner reads. Types with
  * < 8 days exit (no season to fit). Scale: one (type, day) rollup;
  * folds run on ≤|types| day-bounded arrays.
  *
  * `q130_did` — DIFFERENCE-IN-DIFFERENCES revenue lift: treated =
  * BUILDING-segment customers, post = order date after the corpus
  * midpoint day (corpus-derived epoch-day (min+max) DIV 2 — the
  * round-9 rule: driver-side here, scalar subquery in SQL). ONE
  * conditional aggregate over the broadcast-joined fact table — 4
  * exact BIGINT cent sums + 4 counts, then per-cell means and
  * DiD = (m_t_post − m_t_pre) − (m_c_post − m_c_pre) as fixed double
  * trees (the q105 family; empty cells → null, both engines). No
  * groupBy at all: the single-row aggregate partial-combines
  * map-side and the plan never shuffles more than 8 numbers.
  */
object RelationalQueries21 extends QueryModule {

  private def centsCol = (col("o_totalprice").cast("decimal(15,2)") * 100)
    .cast("long")
  private val centsSql =
    "CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT)"

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q129_winters" -> { (s, dir) =>
      import s.implicits._
      // the SHARED operators.Trend Winters kernel (one definition
      // with the streaming wintersMaintained fold)
      Tables.events(s, dir)
        .groupBy($"event_type", $"ts".cast("date").as("day"))
        .agg(count(lit(1)).cast("double").as("x"))
        .groupBy($"event_type")
        .agg(expr("transform(array_sort(collect_list(struct(day, x))), " +
          "r -> r.x)").as("xs"))
        .select($"event_type", size($"xs").cast("long").as("n_days"), $"xs")
        .filter($"n_days" >= 8)
        .withColumn("st",
          expr(graft.operators.Trend.wintersFoldSql("xs")))
        .select($"event_type", $"n_days",
          explode(expr("sequence(1L, 7L)")).as("h"), $"st")
        .select($"event_type", $"n_days", $"h",
          expr("element_at(st, 1)").as("level"),
          expr("element_at(st, 2)").as("trend"),
          expr("element_at(st, CAST(h + 2 AS INT))").as("s_h"),
          expr("element_at(st, 1) + CAST(h AS DOUBLE) * element_at(st, 2)" +
            " + element_at(st, CAST(h + 2 AS INT))").as("forecast"))
    },

    // `q134_winters_resid` — WINTERS RESIDUAL ANOMALIES (round 16 —
    // VERDICT r13 task 4's batch twin): per (event_type, day 8..n) the
    // one-step-ahead residual x − (l + b + s1 read BEFORE folding the
    // day — Trend.wintersResidUpd shares q129's recurrence text with a
    // forecast tail, so model slots cannot drift), flagged by the
    // rational k·MAD rule (Trend.madFlags: MAD = ceil(m/2)-th smallest
    // |resid| from one sorted array — bit-stable, no libm). The
    // streaming face is StreamingOps.wintersResiduals over the fc rows
    // wintersMaintained accumulates. Scale: one (type, day) rollup,
    // folds on ≤|types| day-bounded arrays, MAD join broadcasts.
    "q134_winters_resid" -> { (s, dir) =>
      import s.implicits._
      val base = Tables.events(s, dir)
        .groupBy($"event_type", $"ts".cast("date").as("day"))
        .agg(count(lit(1)).cast("double").as("x"))
        .groupBy($"event_type")
        .agg(expr("array_sort(collect_list(struct(day, x)))").as("dx"))
        .select($"event_type",
          expr("transform(dx, r -> r.day)").as("ds"),
          expr("transform(dx, r -> r.x)").as("xs"))
        .filter(size($"xs") >= 8)
        .withColumn("stfc",
          expr(graft.operators.Trend.wintersResidSql("xs")))
        .select($"event_type", $"ds", $"xs",
          posexplode(expr("slice(stfc, 10, CAST(size(stfc) - 9 AS INT))"))
            .as(Seq("j0", "fc")))
        .select($"event_type",
          expr("element_at(ds, CAST(j0 + 8 AS INT))").as("day"),
          expr("element_at(xs, CAST(j0 + 8 AS INT))").as("x"), $"fc")
        .withColumn("resid", $"x" - $"fc")
      graft.operators.Trend.madFlags(base)
    },

    // `q133_changepoints` — BINARY SEGMENTATION depth 2: q124 finds
    // the single best mean-shift split; this recurses once — split
    // the daily-revenue series at the best t₁, then take the better
    // of the two within-segment best splits as t₂ (the standard
    // multi-changepoint greedy). All candidate gains are the q124
    // fixed double tree over EXACT integer slice sums (cents fold as
    // BIGINT; the per-candidate sums come from one strict aggregate
    // over the collected days-bounded array — join-free like
    // q128_backtest); argmaxes are rank-1 windows with (gain DESC,
    // t ASC) bit-tie rules. Output: one row per changepoint with its
    // segment bounds and gain. Scale: one fact rollup; the candidate
    // grid is ≤2·#days rows of array folds.
    "q133_changepoints" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.load(s, dir, "orders")
        .groupBy($"o_orderdate".cast("date").as("day"))
        .agg(sum(centsCol).as("y"))
        .agg(array_sort(collect_list(struct($"day", $"y"))).as("a"))
        .select($"a", size($"a").cast("long").as("n"))
        .filter($"n" >= 4) // two splits need >= 2 points per side
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // candidate gain for splitting [lo, hi] at t (all 1-based,
      // inclusive): the q124 tree over exact slice sums
      def gainCols(df: DataFrame) = df
        .withColumn("s1", expr("aggregate(slice(a, CAST(lo AS INT), " +
          "CAST(t - lo + 1 AS INT)), 0L, (acc, e) -> acc + e.y)"))
        .withColumn("s2", expr("aggregate(slice(a, CAST(t + 1 AS INT), " +
          "CAST(hi - t AS INT)), 0L, (acc, e) -> acc + e.y)"))
        .withColumn("n1", $"t" - $"lo" + 1L)
        .withColumn("n2", $"hi" - $"t")
        .withColumn("mean_left", $"s1".cast("double") / $"n1".cast("double"))
        .withColumn("mean_right", $"s2".cast("double") / $"n2".cast("double"))
        .withColumn("diff", $"mean_left" - $"mean_right")
        .withColumn("gain",
          ($"n1".cast("double") * $"n2".cast("double")
            / ($"n1" + $"n2").cast("double")) * ($"diff" * $"diff"))
      val w = Window.partitionBy($"lo", $"hi").orderBy($"gain".desc, $"t".asc)
      // pass 1: best split of the whole series
      val c1 = gainCols(daily
          .select($"a", $"n", lit(1L).as("lo"), $"n".as("hi"),
            explode(expr("sequence(1L, n - 1)")).as("t")))
        .withColumn("__rn", row_number().over(w)).filter($"__rn" === 1)
        .select($"a", $"n", $"t".as("t1"), $"gain".as("g1"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // pass 2: best split within each side of t1 (a side with < 2
      // points offers no split and contributes no candidates)
      val sides = c1.select($"a", $"n", $"t1", $"g1",
          lit(1L).as("lo"), $"t1".as("hi"))
        .unionByName(c1.select($"a", $"n", $"t1", $"g1",
          ($"t1" + 1L).as("lo"), $"n".as("hi")))
        .filter($"hi" - $"lo" >= 1L)
        .select($"a", $"n", $"t1", $"g1", $"lo", $"hi",
          explode(expr("sequence(lo, hi - 1)")).as("t"))
      val c2 = gainCols(sides)
        .withColumn("__rn", row_number().over(
          Window.orderBy($"gain".desc, $"t".asc)))
        .filter($"__rn" === 1)
      // emit both changepoints with their segment bounds
      c1.select(lit(1L).as("rank"), lit(1L).as("seg_lo"), $"n".as("seg_hi"),
          $"t1".as("t"), expr("element_at(a, CAST(t1 AS INT)).day")
            .as("split_day"), $"g1".as("gain"))
        .unionByName(c2.select(lit(2L).as("rank"), $"lo".as("seg_lo"),
          $"hi".as("seg_hi"), $"t",
          expr("element_at(a, CAST(t AS INT)).day").as("split_day"),
          $"gain"))
    },

    // `q132_cohort_km` — STRATIFIED Kaplan-Meier: the q118 survival
    // curve per acquisition cohort (first-seen WEEK — the q117
    // epoch-anchored 7-day grain), the standard "is retention
    // improving across signup cohorts" read. Lifetimes/censoring are
    // q118's rules per user; the curve is the shared
    // operators.Survival.kmCurveBy — kmCurve with the cohort key on
    // every join/rollup, per-cohort strict t-ordered ratio products
    // (the 1.0·x IEEE identity), one row per (cohort_week, t). Scale:
    // subject-level aggregation once over the fact table; everything
    // after is (cohort, lifetime)-bounded; the per-cohort totals
    // broadcast.
    "q132_cohort_km" -> { (s, dir) =>
      import s.implicits._
      val epoch = lit("1995-01-01").cast("date")
      val ev = Tables.events(s, dir)
        .select($"user_id", to_date($"ts").as("day"))
      val life = ev.groupBy($"user_id")
        .agg(min($"day").as("f"), max($"day").as("l"))
      val mx = ev.agg(max($"day").as("max_day"))
      val lt = life.crossJoin(broadcast(mx))
        .select(
          date_add(epoch,
            (expr("CAST(datediff(f, DATE '1995-01-01') DIV 7 AS BIGINT)")
              * 7).cast("int")).as("cohort_week"),
          datediff($"l", $"f").cast("long").as("t"),
          when($"l" < $"max_day", 1L).otherwise(0L).as("is_event"))
      graft.operators.Survival.kmCurveBy(lt, "cohort_week")
    },

    // `q131_mwu` — exact tie-aware MANN-WHITNEY U: do BUILDING-segment
    // orders rank higher in value than the rest? The rank-based
    // two-sample test next to q105's mean z-test and q106's KS —
    // robust to the revenue distribution's shape. All arithmetic
    // integer until the final z: min-ranks + per-tie-group counts give
    // integral 2·avg-rank = 2r + cnt − 1 (the ann_auc idiom), 2U₁ =
    // Σ(2·avgrank) − n₁(n₁+1) exact BIGINT; the tie-corrected variance
    // term Σ(t³ − t) is an exact BIGINT sum (t³ < 2^63 is an asserted
    // invariant — DuckDB THROWS on overflow, the minhash-constants
    // rule); z is ONE fixed double tree (sqrt is correctly-rounded
    // IEEE), degenerate variance → null on both engines. Scale
    // (round 14 — VERDICT r13 task 2): NO global rank window. Every
    // per-row quantity is constant within its tie group, so one
    // groupBy(y) rollup carries (n_y, n1_y) and the min-rank is
    // 1 + the EXCLUSIVE prefix sum of n_y over y order —
    // operators.PrefixSum's range-exchange + per-partition-offset
    // scan (O(partitions) driver state), identical arithmetic:
    // Σ_group1(2r + cnt − 1) = Σ_y n1_y·(2(1 + C(<y)) + n_y − 1).
    // The tie term folds in the SAME rollup, so the fact table is
    // scanned once; the customer join broadcasts. (PrefixSum itself
    // persists its bucketed frame internally — two passes over it —
    // released by the caller-releases sweep, not by this query.)
    "q131_mwu" -> { (s, dir) =>
      import s.implicits._
      val cust = Tables.load(s, dir, "customer")
        .select($"c_custkey", ($"c_mktsegment" === "BUILDING").as("grp1"))
      val g = Tables.load(s, dir, "orders")
        .select($"o_custkey", centsCol.as("y"))
        .join(broadcast(cust), $"o_custkey" === $"c_custkey")
        .groupBy($"y")
        .agg(count(lit(1)).as("ny"),
          sum(when($"grp1", 1L).otherwise(0L)).as("n1y"))
      graft.operators.PrefixSum.exclusive(g, "ny", "cless", $"y".asc)
        .agg(
          sum($"n1y").as("n1"),
          sum($"ny" - $"n1y").as("n2"),
          sum($"n1y" * (lit(2L) * (lit(1L) + $"cless") + $"ny" - lit(1L)))
            .as("r2_1"),
          sum($"ny" * $"ny" * $"ny" - $"ny").as("tsum"))
        // guard the empty-group case: the oracle's conditional sum is
        // NULL over zero group-1 rows where Spark's sum-of-zeros is 0 —
        // null out r2_1 (hence u1_x2) when n1 = 0 so both engines emit
        // NULL on degenerate data
        .select($"n1", $"n2",
          (when($"n1" > 0, $"r2_1") - $"n1" * ($"n1" + lit(1L)))
            .as("u1_x2"), $"tsum")
        // tie-corrected Var = n1·n2/12·((n+1) − T/(n(n−1))) as ONE
        // committed tree; all-tied data drives it to 0 — null z
        // rather than an ANSI double DIVIDE_BY_ZERO (the q105 class)
        .withColumn("var12",
          when($"n1" > 0 && $"n2" > 0 && ($"n1" + $"n2") > 1,
            ($"n1".cast("double") * $"n2".cast("double") / lit(12.0)) *
              (($"n1" + $"n2" + lit(1L)).cast("double") -
                $"tsum".cast("double") /
                  (($"n1" + $"n2").cast("double") *
                    ($"n1" + $"n2" - lit(1L)).cast("double")))))
        .select($"n1", $"n2", $"u1_x2", $"tsum",
          when($"var12" > 0.0,
            ($"u1_x2" - $"n1" * $"n2").cast("double") /
              (lit(2.0) * sqrt($"var12"))).as("z"))
    },

    "q130_did" -> { (s, dir) =>
      import s.implicits._
      val cust = Tables.load(s, dir, "customer")
        .select($"c_custkey", ($"c_mktsegment" === "BUILDING").as("treated"))
      val o = Tables.load(s, dir, "orders")
        .select($"o_custkey", $"o_orderdate".cast("date").as("day"), centsCol.as("y"))
        .withColumn("d", datediff($"day", lit("1970-01-01").cast("date")))
      val cut = o.agg(expr("(min(d) + max(d)) DIV 2")).head().getLong(0)
      val j = o.join(broadcast(cust), $"o_custkey" === $"c_custkey")
        .select($"treated", ($"d" > cut).as("post"), $"y")
      def cell(t: Boolean, p: Boolean, f: String) = {
        val m = $"treated" === t && $"post" === p
        if (f == "n") sum(when(m, 1L).otherwise(0L))
        else sum(when(m, $"y").otherwise(0L))
      }
      j.agg(
          cell(true, false, "n").as("n_t_pre"),
          cell(true, true, "n").as("n_t_post"),
          cell(false, false, "n").as("n_c_pre"),
          cell(false, true, "n").as("n_c_post"),
          cell(true, false, "s").as("s_t_pre"),
          cell(true, true, "s").as("s_t_post"),
          cell(false, false, "s").as("s_c_pre"),
          cell(false, true, "s").as("s_c_post"))
        .select($"n_t_pre", $"n_t_post", $"n_c_pre", $"n_c_post",
          mean("s_t_pre", "n_t_pre").as("m_t_pre"),
          mean("s_t_post", "n_t_post").as("m_t_post"),
          mean("s_c_pre", "n_c_pre").as("m_c_pre"),
          mean("s_c_post", "n_c_post").as("m_c_post"),
          (mean("s_t_post", "n_t_post") - mean("s_t_pre", "n_t_pre")
            - (mean("s_c_post", "n_c_post") - mean("s_c_pre", "n_c_pre")))
            .as("did_cents"))
    }
  )

  /** Null-guarded cell mean (the q105 degenerate-denominator class):
    * exact BIGINT cent sum, ONE double division.
    */
  private def mean(sc: String, nc: String) =
    when(col(nc) > 0L, col(sc).cast("double") / col(nc).cast("double"))

  val oracles: Map[String, String] = Map(
    "q129_winters" -> {
      val zeros = Seq.fill(8)("CAST(0.0 AS DOUBLE)").mkString(", ")
      s"""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
         |    CAST(count(*) AS DOUBLE) AS x
         |  FROM events GROUP BY 1, 2),
         |sx AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
         |    list(x ORDER BY day) AS xs
         |  FROM daily GROUP BY event_type),
         |ini AS (SELECT event_type, n_days, xs,
         |    list_reduce(xs[1:7], (ga, gx) -> ga + gx)
         |      / CAST(7.0 AS DOUBLE) AS l0
         |  FROM sx WHERE n_days >= 8),
         |st AS (SELECT event_type, n_days,
         |    list_reduce(
         |      list_concat(
         |        [[l0, CAST(0.0 AS DOUBLE),
         |          xs[1] - l0, xs[2] - l0, xs[3] - l0, xs[4] - l0,
         |          xs[5] - l0, xs[6] - l0, xs[7] - l0]],
         |        list_transform(xs[8:CAST(n_days AS INT)],
         |          gx -> [gx, $zeros])),
         |      (acc, e) -> [
         |        CAST(0.5 AS DOUBLE) * (e[1] - acc[3])
         |          + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2]),
         |        CAST(0.25 AS DOUBLE) * (e[1] - acc[3])
         |          - CAST(0.25 AS DOUBLE) * acc[1]
         |          + CAST(0.75 AS DOUBLE) * acc[2],
         |        acc[4], acc[5], acc[6], acc[7], acc[8], acc[9],
         |        CAST(0.25 AS DOUBLE) * e[1]
         |          + CAST(0.75 AS DOUBLE) * acc[3]
         |          - CAST(0.25 AS DOUBLE) * acc[1]
         |          - CAST(0.25 AS DOUBLE) * acc[2]]) AS st
         |  FROM ini)
         |SELECT event_type, n_days, h,
         |  st[1] AS level, st[2] AS trend,
         |  st[CAST(h + 2 AS INT)] AS s_h,
         |  st[1] + CAST(h AS DOUBLE) * st[2] + st[CAST(h + 2 AS INT)]
         |    AS forecast
         |FROM st CROSS JOIN
         |  (SELECT CAST(unnest(range(1, 8)) AS BIGINT) AS h)""".stripMargin
    },

    // q129's list_reduce fold with the forecast-tail accumulator: each
    // step appends acc[1]+acc[2]+acc[3] (the pre-fold one-step
    // forecast) after the 9 updated slots — all reads from the
    // incoming acc (the round-12 LIST-accumulator rule). Tail index gi
    // aligns with xs position 7+gi and stfc position 9+gi.
    "q134_winters_resid" -> {
      val zeros = Seq.fill(8)("CAST(0.0 AS DOUBLE)").mkString(", ")
      s"""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
         |    CAST(count(*) AS DOUBLE) AS x
         |  FROM events GROUP BY 1, 2),
         |sx AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
         |    list(x ORDER BY day) AS xs, list(day ORDER BY day) AS ds
         |  FROM daily GROUP BY event_type),
         |ini AS (SELECT event_type, n_days, ds, xs,
         |    list_reduce(xs[1:7], (ga, gx) -> ga + gx)
         |      / CAST(7.0 AS DOUBLE) AS l0
         |  FROM sx WHERE n_days >= 8),
         |st AS (SELECT event_type, n_days, ds, xs,
         |    list_reduce(
         |      list_concat(
         |        [[l0, CAST(0.0 AS DOUBLE),
         |          xs[1] - l0, xs[2] - l0, xs[3] - l0, xs[4] - l0,
         |          xs[5] - l0, xs[6] - l0, xs[7] - l0]],
         |        list_transform(xs[8:CAST(n_days AS INT)],
         |          gx -> [gx, $zeros])),
         |      (acc, e) -> list_concat(list_concat([
         |        CAST(0.5 AS DOUBLE) * (e[1] - acc[3])
         |          + CAST(0.5 AS DOUBLE) * (acc[1] + acc[2]),
         |        CAST(0.25 AS DOUBLE) * (e[1] - acc[3])
         |          - CAST(0.25 AS DOUBLE) * acc[1]
         |          + CAST(0.75 AS DOUBLE) * acc[2],
         |        acc[4], acc[5], acc[6], acc[7], acc[8], acc[9],
         |        CAST(0.25 AS DOUBLE) * e[1]
         |          + CAST(0.75 AS DOUBLE) * acc[3]
         |          - CAST(0.25 AS DOUBLE) * acc[1]
         |          - CAST(0.25 AS DOUBLE) * acc[2]],
         |        acc[10:len(acc)]),
         |        [acc[1] + acc[2] + acc[3]])) AS stfc
         |  FROM ini),
         |r AS (SELECT event_type,
         |    ds[CAST(gi + 7 AS INT)] AS day,
         |    xs[CAST(gi + 7 AS INT)] AS x,
         |    stfc[CAST(gi + 9 AS INT)] AS fc,
         |    xs[CAST(gi + 7 AS INT)] - stfc[CAST(gi + 9 AS INT)] AS resid
         |  FROM st, unnest(range(1, CAST(n_days - 6 AS BIGINT))) AS t(gi)),
         |md AS (SELECT event_type,
         |    list_sort(list(abs(resid)))[CAST((count(*) + 1) // 2 AS INT)]
         |      AS mad
         |  FROM r GROUP BY event_type)
         |SELECT r.event_type, r.day, r.x, r.fc, r.resid, md.mad,
         |  CAST(CASE WHEN abs(r.resid) > CAST(5.0 AS DOUBLE) * md.mad
         |    THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
         |FROM r JOIN md USING (event_type)""".stripMargin
    },

    // the same candidate-gain tree evaluated over list slices; both
    // argmaxes are (gain DESC, t ASC) LIMIT 1
    "q133_changepoints" -> {
      // exact integer slice sum + the q124 fixed double tree — ONE
      // Scala fragment interpolated into both passes so the candidate
      // arithmetic cannot drift between them
      val gains =
        """list_reduce(list_transform(
          |      a[CAST(lo AS INT):CAST(t AS INT)], ge -> ge.y),
          |      (gx, gy) -> gx + gy) AS s1,
          |    list_reduce(list_transform(
          |      a[CAST(t + 1 AS INT):CAST(hi AS INT)], ge -> ge.y),
          |      (gx, gy) -> gx + gy) AS s2,
          |    t - lo + 1 AS n1, hi - t AS n2""".stripMargin
      val tree =
        """(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
          |      / CAST(n1 + n2 AS DOUBLE))
          |      * ((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
          |          - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
          |        * (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
          |          - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)))
          |      AS gain""".stripMargin
      s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
         |    CAST(sum($centsSql) AS BIGINT) AS y
         |  FROM orders GROUP BY 1),
         |arr AS (SELECT list({'day': day, 'y': y} ORDER BY day) AS a,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM daily),
         |base AS (SELECT a, n FROM arr WHERE n >= 4),
         |cand1 AS (SELECT a, n, CAST(1 AS BIGINT) AS lo, n AS hi, t
         |  FROM base, unnest(range(1, n)) AS s(t)),
         |g1 AS (SELECT a, n, lo, hi, t, s1, s2, n1, n2,
         |    $tree
         |  FROM (SELECT *, $gains FROM cand1)),
         |b1 AS (SELECT * FROM g1 ORDER BY gain DESC, t ASC LIMIT 1),
         |sides AS (
         |  SELECT a, n, CAST(1 AS BIGINT) AS lo, t AS hi FROM b1
         |  UNION ALL SELECT a, n, t + 1, n FROM b1),
         |cand2 AS (SELECT a, n, lo, hi, u AS t
         |  FROM (SELECT * FROM sides WHERE hi - lo >= 1),
         |    unnest(range(lo, hi)) AS s(u)),
         |g2 AS (SELECT a, n, lo, hi, t, s1, s2, n1, n2,
         |    $tree
         |  FROM (SELECT *, $gains FROM cand2)),
         |b2 AS (SELECT * FROM g2 ORDER BY gain DESC, t ASC LIMIT 1)
         |SELECT CAST(1 AS BIGINT) AS rank, CAST(1 AS BIGINT) AS seg_lo,
         |  n AS seg_hi, t, a[CAST(t AS INT)].day AS split_day, gain
         |FROM b1
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), lo, hi, t,
         |  a[CAST(t AS INT)].day, gain
         |FROM b2""".stripMargin
    },

    // q118's oracle with the cohort key on every CTE; per-cohort
    // ratio products fold in t order (elem-1 init == 1.0·x). Cohort
    // joins are null-safe (IS NOT DISTINCT FROM) to match kmCurveBy's
    // <=> group joins — cohort_week is non-null here (derived from
    // min(day) per user), but a null stratum must not silently get
    // removed=0 / drop from the curve if a future fixture mints one.
    "q132_cohort_km" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |life AS (SELECT user_id, min(day) AS f, max(day) AS l
        |  FROM ev GROUP BY user_id),
        |mx AS (SELECT max(day) AS max_day FROM ev),
        |lt AS (SELECT
        |    DATE '1995-01-01' + CAST(
        |      (datediff('day', DATE '1995-01-01', f) // 7) * 7 AS INT)
        |      AS cohort_week,
        |    CAST(datediff('day', f, l) AS BIGINT) AS t,
        |    CASE WHEN l < (SELECT max_day FROM mx) THEN 1 ELSE 0 END
        |      AS is_event
        |  FROM life),
        |byt AS (SELECT cohort_week, t,
        |    CAST(sum(is_event) AS BIGINT) AS d,
        |    CAST(sum(1 - is_event) AS BIGINT) AS c
        |  FROM lt GROUP BY cohort_week, t),
        |tot AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_total
        |  FROM lt GROUP BY cohort_week),
        |rm AS (SELECT a.cohort_week, a.t,
        |    CAST(coalesce(sum(b.d + b.c), 0) AS BIGINT) AS removed
        |  FROM byt a LEFT JOIN byt b
        |    ON b.cohort_week IS NOT DISTINCT FROM a.cohort_week
        |      AND b.t < a.t
        |  GROUP BY a.cohort_week, a.t),
        |km AS (SELECT byt.cohort_week, byt.t, byt.d, byt.c,
        |    tot.n_total - rm.removed AS n_risk,
        |    CAST(1 AS DOUBLE) - CAST(byt.d AS DOUBLE)
        |      / CAST(tot.n_total - rm.removed AS DOUBLE) AS ratio
        |  FROM byt
        |  JOIN rm ON byt.cohort_week IS NOT DISTINCT FROM rm.cohort_week
        |    AND byt.t = rm.t
        |  JOIN tot
        |    ON byt.cohort_week IS NOT DISTINCT FROM tot.cohort_week)
        |SELECT a.cohort_week, a.t, a.n_risk, a.d, a.c,
        |  list_reduce(list(b.ratio ORDER BY b.t), (ga, gb) -> ga * gb)
        |    AS surv
        |FROM km a JOIN km b
        |  ON b.cohort_week IS NOT DISTINCT FROM a.cohort_week
        |    AND b.t <= a.t
        |GROUP BY a.cohort_week, a.t, a.n_risk, a.d, a.c""".stripMargin,

    "q131_mwu" ->
      s"""WITH j AS (SELECT (c.c_mktsegment = 'BUILDING') AS grp1,
         |    $centsSql AS y
         |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
         |rk AS (SELECT grp1,
         |    CAST(rank() OVER (ORDER BY y ASC) AS BIGINT) AS r,
         |    CAST(count(*) OVER (PARTITION BY y) AS BIGINT) AS cnt
         |  FROM j),
         |ties AS (SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tsum
         |  FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM j GROUP BY y)),
         |g AS (SELECT
         |    CAST(sum(CASE WHEN grp1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    CAST(sum(CASE WHEN grp1 THEN 0 ELSE 1 END) AS BIGINT) AS n2,
         |    CAST(sum(CASE WHEN grp1 THEN 2 * r + cnt - 1 END) AS BIGINT)
         |      AS r2_1
         |  FROM rk),
         |u AS (SELECT n1, n2, r2_1 - n1 * (n1 + 1) AS u1_x2, tsum
         |  FROM g CROSS JOIN ties),
         |v AS (SELECT n1, n2, u1_x2, tsum,
         |    CASE WHEN n1 > 0 AND n2 > 0 AND (n1 + n2) > 1 THEN
         |      (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0) *
         |        (CAST(n1 + n2 + 1 AS DOUBLE) -
         |          CAST(tsum AS DOUBLE) /
         |            (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE)))
         |      END AS var12
         |  FROM u)
         |SELECT n1, n2, u1_x2, tsum,
         |  CASE WHEN var12 > 0.0
         |    THEN CAST(u1_x2 - n1 * n2 AS DOUBLE) / (2.0 * sqrt(var12))
         |    END AS z
         |FROM v""".stripMargin,

    "q130_did" ->
      s"""WITH o AS (SELECT o_custkey, $centsSql AS y,
         |    datediff('day', DATE '1970-01-01',
         |      CAST(o_orderdate AS DATE)) AS d
         |  FROM orders),
         |cut AS (SELECT (min(d) + max(d)) // 2 AS cut FROM o),
         |j AS (SELECT (c.c_mktsegment = 'BUILDING') AS treated,
         |    (o.d > (SELECT cut FROM cut)) AS post, o.y
         |  FROM o JOIN customer c ON o.o_custkey = c.c_custkey),
         |g AS (SELECT
         |  CAST(sum(CASE WHEN treated AND NOT post THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_t_pre,
         |  CAST(sum(CASE WHEN treated AND post THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_t_post,
         |  CAST(sum(CASE WHEN NOT treated AND NOT post THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_c_pre,
         |  CAST(sum(CASE WHEN NOT treated AND post THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_c_post,
         |  CAST(sum(CASE WHEN treated AND NOT post THEN y ELSE 0 END)
         |    AS BIGINT) AS s_t_pre,
         |  CAST(sum(CASE WHEN treated AND post THEN y ELSE 0 END)
         |    AS BIGINT) AS s_t_post,
         |  CAST(sum(CASE WHEN NOT treated AND NOT post THEN y ELSE 0 END)
         |    AS BIGINT) AS s_c_pre,
         |  CAST(sum(CASE WHEN NOT treated AND post THEN y ELSE 0 END)
         |    AS BIGINT) AS s_c_post
         |  FROM j)
         |SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
         |  CASE WHEN n_t_pre > 0
         |    THEN CAST(s_t_pre AS DOUBLE) / CAST(n_t_pre AS DOUBLE)
         |    END AS m_t_pre,
         |  CASE WHEN n_t_post > 0
         |    THEN CAST(s_t_post AS DOUBLE) / CAST(n_t_post AS DOUBLE)
         |    END AS m_t_post,
         |  CASE WHEN n_c_pre > 0
         |    THEN CAST(s_c_pre AS DOUBLE) / CAST(n_c_pre AS DOUBLE)
         |    END AS m_c_pre,
         |  CASE WHEN n_c_post > 0
         |    THEN CAST(s_c_post AS DOUBLE) / CAST(n_c_post AS DOUBLE)
         |    END AS m_c_post,
         |  (CASE WHEN n_t_post > 0
         |    THEN CAST(s_t_post AS DOUBLE) / CAST(n_t_post AS DOUBLE) END
         |   - CASE WHEN n_t_pre > 0
         |    THEN CAST(s_t_pre AS DOUBLE) / CAST(n_t_pre AS DOUBLE) END)
         |  - (CASE WHEN n_c_post > 0
         |    THEN CAST(s_c_post AS DOUBLE) / CAST(n_c_post AS DOUBLE) END
         |   - CASE WHEN n_c_pre > 0
         |    THEN CAST(s_c_pre AS DOUBLE) / CAST(n_c_pre AS DOUBLE) END)
         |    AS did_cents
         |FROM g""".stripMargin
  )
}
