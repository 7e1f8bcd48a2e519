package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Seventh relational wave (SURVEY.md §2.2): sequence analytics
  * (gaps-and-islands, gap-filled resampling, cumulative distinct,
  * interval-sweep concurrency), deterministic mode, discrete-median
  * MAD, edit distance, and triangle counting. Every query keeps the
  * cross-engine discipline: integer arithmetic or exact decimals,
  * DATE/`unix_micros` (never raw timestamps), explicit tie-breaks in
  * every window order.
  */
object RelationalQueries7 extends QueryModule {

  private val epoch = to_date(lit("1970-01-01"))

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // gaps and islands: runs of consecutive active DAYS per user.
    // dayno - row_number() is constant within a run — the classic
    // O(1)-window island key; per-user island stats are exact ints.
    "q56_gaps_islands" -> { (s, dir) =>
      import s.implicits._
      val days = Tables.events(s, dir)
        .select($"user_id", datediff(to_date($"ts"), epoch).as("dayno"))
        .distinct()
      val w = Window.partitionBy($"user_id").orderBy($"dayno")
      val islands = days
        .withColumn("grp", $"dayno" - row_number().over(w))
        .groupBy($"user_id", $"grp")
        .agg(count(lit(1)).as("len"))
      islands.groupBy($"user_id")
        .agg(count(lit(1)).as("n_islands"), max($"len").as("longest"),
          sum($"len").as("active_days"))
    },

    // deterministic per-group mode: most frequent event_type per user,
    // ties broken by event_type ascending (count+rank, no engine mode()
    // whose tie behavior is unspecified)
    "q57_mode" -> { (s, dir) =>
      import s.implicits._
      val cnt = Tables.events(s, dir)
        .groupBy($"user_id", $"event_type")
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy($"user_id")
        .orderBy($"n".desc, $"event_type".asc)
      cnt.withColumn("rk", row_number().over(w))
        .filter($"rk" === 1)
        .select($"user_id", $"event_type".as("mode_type"), $"n")
    },

    // median absolute deviation per order priority from DISCRETE
    // medians (percentile_disc semantics: the value at rank
    // ceil(n/2) = (n+1) div 2) — value selection by integer rank, abs
    // deviation in exact decimals, doubles only on output
    // MAD from DISCRETE medians (value at integer rank (n+1) div 2 —
    // percentile_disc semantics; exact decimals until the final double
    // cast). o_orderpriority has 5 values, so the window idiom the
    // oracle uses would serialize everything through 5 tasks;
    // operators.RankSelect computes the IDENTICAL rank selection from a
    // range repartition at full parallelism (see its scaladoc).
    "q58_mad" -> { (s, dir) =>
      import s.implicits._
      import graft.operators.RankSelect
      val v = Tables.load(s, dir, "orders")
        .select($"o_orderpriority", $"o_orderkey",
          $"o_totalprice".cast("decimal(15,2)").as("v"))
      val med = RankSelect
        .discreteMedianCapped(v, Seq("o_orderpriority"), "n", 10000, $"v", $"o_orderkey")
        .select($"o_orderpriority".as("__p"), $"v".as("median"))
      val dev = v.join(broadcast(med), $"o_orderpriority" === $"__p")
        .withColumn("d", abs($"v" - $"median"))
      RankSelect
        .discreteMedianCapped(dev, Seq("o_orderpriority"), "n2", 10000, $"d", $"o_orderkey")
        .select($"o_orderpriority", $"median".cast("double").as("median"),
          $"d".cast("double").as("mad"))
    },

    // classic dynamic-programming edit distance (codegen'd built-in)
    // between consecutive part names — exact integer per pair
    "q59_edit_distance" -> { (s, dir) =>
      import s.implicits._
      val p = Tables.load(s, dir, "part").select($"p_partkey", $"p_name")
      p.as("a").join(p.as("b"),
          col("a.p_partkey") + 1 === col("b.p_partkey"))
        .select(col("a.p_partkey").as("p_partkey"),
          levenshtein(col("a.p_name"), col("b.p_name")).as("edit_dist"))
    },

    // time-series gap fill: resample each user's event stream to a
    // dense daily grid (sequence + explode), missing days as 0 — the
    // shape every feature/metrics pipeline needs before windowed models
    "q60_gap_fill" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.events(s, dir)
        .filter($"user_id" % 5 === 0)
        .select($"user_id", datediff(to_date($"ts"), epoch).as("dayno"))
      val grid = ev.groupBy($"user_id")
        .agg(min($"dayno").as("dmin"), max($"dayno").as("dmax"))
        .select($"user_id", explode(sequence($"dmin", $"dmax")).as("dayno"))
      val cnt = ev.groupBy($"user_id", $"dayno").agg(count(lit(1)).as("n"))
      grid.join(cnt, Seq("user_id", "dayno"), "left")
        .select($"user_id", $"dayno".cast("long").as("dayno"),
          coalesce($"n", lit(0L)).as("n_events"))
    },

    // cumulative distinct count per user over event time: first-seen
    // flag (row_number = 1 per (user, type)) + running sum — the
    // incremental-cardinality shape that avoids O(n) state per row
    "q61_cumulative_distinct" -> { (s, dir) =>
      import s.implicits._
      val ev = Tables.events(s, dir)
        .filter($"user_id" % 5 === 3)
        .select($"user_id", $"event_id", $"event_type",
          unix_micros($"ts").as("us"))
      val firstW = Window.partitionBy($"user_id", $"event_type")
        .orderBy($"us", $"event_id")
      val runW = Window.partitionBy($"user_id")
        .orderBy($"us", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("flag",
          when(row_number().over(firstW) === 1, 1L).otherwise(0L))
        .withColumn("n_types_seen", sum($"flag").over(runW))
        .select($"user_id", $"event_id", $"us", $"n_types_seen")
    },

    // peak concurrency via interval sweep: each view opens a half-open
    // 5-minute interval; +1/-1 endpoint marks, running sum ordered by
    // (t, delta, event_id) — delta ascending closes intervals before
    // opening at the same instant. Partitioned by the interval's start
    // day, so the sweep parallelizes (no global single-task window).
    // SEMANTICS: the per-day partition also resets the sweep at
    // midnight — a view opened before 00:00 does NOT carry into the
    // next day's concurrency count (both interval endpoints are
    // attributed to the start day). The oracle computes the same
    // per-day-truncated definition, so parity is exact; a carry-over
    // definition would need day-spanning segment splitting instead.
    "q62_max_concurrency" -> { (s, dir) =>
      import s.implicits._
      val v = Tables.events(s, dir)
        .filter($"event_type" === "view")
        .select(to_date($"ts").as("day"), unix_micros($"ts").as("us"),
          $"event_id")
      val marks = v.select($"day", $"us".as("t"), lit(1L).as("delta"), $"event_id")
        .unionAll(v.select($"day", ($"us" + 300000000L).as("t"),
          lit(-1L).as("delta"), $"event_id"))
      val sweep = Window.partitionBy($"day")
        .orderBy($"t", $"delta", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      marks.withColumn("run", sum($"delta").over(sweep))
        .groupBy($"day")
        .agg(max($"run").as("max_concurrent"))
    },

    // triangle counting on the co-purchase graph (parts sharing an
    // order, high-quantity lines): id-oriented edges (u < v) count each
    // triangle exactly once via the two-path + closing-edge join.
    // The edge frame is persisted for the three self-joins, both counts
    // are materialized eagerly, and the persist is released before
    // returning — repeated invocations leak no cache (the returned
    // one-row frame is a literal, independent of the unpersisted plan).
    "q63_triangles" -> { (s, dir) =>
      import s.implicits._
      // edge scan shared via the pinned artifact (round 20 — VERDICT
      // r19 task 5): the filtered co-purchase self-join builds once
      // per session instead of once per invocation
      val e = GraphEdges.copurchasePairs(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val nTri = e.as("e1")
          .join(e.as("e2"), col("e1.v") === col("e2.u"))
          .join(e.as("e3"), col("e1.u") === col("e3.u") &&
            col("e2.v") === col("e3.v"))
          .count()
        val nEdges = e.count()
        Seq((nTri, nEdges)).toDF("n_triangles", "n_edges")
      } finally e.unpersist()
    }
  )

  val oracles: Map[String, String] = Map(
    "q56_gaps_islands" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id,
        |    CAST(ts AS DATE) - DATE '1970-01-01' AS dayno FROM events),
        |isl AS (
        |  SELECT user_id, dayno,
        |    dayno - row_number() OVER (PARTITION BY user_id ORDER BY dayno)
        |      AS grp
        |  FROM days),
        |runs AS (
        |  SELECT user_id, grp, count(*) AS len
        |  FROM isl GROUP BY user_id, grp)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
        |  CAST(max(len) AS BIGINT) AS longest,
        |  CAST(sum(len) AS BIGINT) AS active_days
        |FROM runs GROUP BY user_id""".stripMargin,

    "q57_mode" ->
      """SELECT user_id, event_type AS mode_type, n FROM (
        |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY count(*) DESC, event_type ASC) AS rk
        |  FROM events GROUP BY user_id, event_type)
        |WHERE rk = 1""".stripMargin,

    "q58_mad" ->
      """WITH ranked AS (
        |  SELECT o_orderpriority, o_orderkey,
        |    CAST(o_totalprice AS DECIMAL(15,2)) AS v,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY CAST(o_totalprice AS DECIMAL(15,2)), o_orderkey) AS rn,
        |    count(*) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM orders),
        |med AS (
        |  SELECT o_orderpriority, v AS median FROM ranked
        |  WHERE rn = (n + 1) // 2),
        |dev AS (
        |  SELECT r.o_orderpriority, r.o_orderkey, m.median,
        |    abs(r.v - m.median) AS d
        |  FROM ranked r JOIN med m USING (o_orderpriority)),
        |ranked2 AS (
        |  SELECT o_orderpriority, median, d,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY d, o_orderkey) AS rn2,
        |    count(*) OVER (PARTITION BY o_orderpriority) AS n2
        |  FROM dev)
        |SELECT o_orderpriority, CAST(median AS DOUBLE) AS median,
        |  CAST(d AS DOUBLE) AS mad
        |FROM ranked2 WHERE rn2 = (n2 + 1) // 2""".stripMargin,

    "q59_edit_distance" ->
      """SELECT a.p_partkey AS p_partkey,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
        |FROM part a JOIN part b ON a.p_partkey + 1 = b.p_partkey""".stripMargin,

    "q60_gap_fill" ->
      """WITH ev AS (
        |  SELECT user_id,
        |    CAST(ts AS DATE) - DATE '1970-01-01' AS dayno
        |  FROM events WHERE user_id % 5 = 0),
        |grid AS (
        |  SELECT user_id, unnest(generate_series(min(dayno), max(dayno)))
        |    AS dayno
        |  FROM ev GROUP BY user_id),
        |cnt AS (
        |  SELECT user_id, dayno, count(*) AS n
        |  FROM ev GROUP BY user_id, dayno)
        |SELECT g.user_id, CAST(g.dayno AS BIGINT) AS dayno,
        |  CAST(coalesce(c.n, 0) AS BIGINT) AS n_events
        |FROM grid g LEFT JOIN cnt c
        |  ON g.user_id = c.user_id AND g.dayno = c.dayno""".stripMargin,

    "q61_cumulative_distinct" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type,
        |    CAST(epoch_us(ts) AS BIGINT) AS us
        |  FROM events WHERE user_id % 5 = 3),
        |flagged AS (
        |  SELECT user_id, event_id, us,
        |    CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY us, event_id) = 1 THEN 1 ELSE 0 END AS flag
        |  FROM ev)
        |SELECT user_id, event_id, us,
        |  CAST(sum(flag) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS n_types_seen
        |FROM flagged""".stripMargin,

    "q62_max_concurrency" ->
      """WITH v AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(epoch_us(ts) AS BIGINT) AS us, event_id
        |  FROM events WHERE event_type = 'view'),
        |marks AS (
        |  SELECT day, us AS t, CAST(1 AS BIGINT) AS delta, event_id FROM v
        |  UNION ALL
        |  SELECT day, us + 300000000 AS t, CAST(-1 AS BIGINT) AS delta,
        |    event_id FROM v),
        |sweep AS (
        |  SELECT day, sum(delta) OVER (PARTITION BY day
        |    ORDER BY t, delta, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM marks)
        |SELECT day, CAST(max(run) AS BIGINT) AS max_concurrent
        |FROM sweep GROUP BY day""".stripMargin,

    "q63_triangles" ->
      """WITH el AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_quantity >= 48),
        |e AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM el a JOIN el b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
        |SELECT
        |  CAST((SELECT count(*) FROM e e1
        |    JOIN e e2 ON e1.v = e2.u
        |    JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v) AS BIGINT)
        |    AS n_triangles,
        |  CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges""".stripMargin
  )
}
