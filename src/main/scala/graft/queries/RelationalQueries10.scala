package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Tenth relational wave (SURVEY.md §2.2, round 4): event-sequence
  * transition analysis and the modern conditional-aggregate family.
  */
object RelationalQueries10 extends QueryModule {

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Markov transition matrix over user event sequences: P(next event
    // type | current) from lead() over each user's time-ordered stream.
    // The window partitions by the HIGH-cardinality user key; counts
    // are exact integers and the row-share is one double division
    // against the broadcast per-type totals.
    "q79_transition_matrix" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"user_id")
        .orderBy($"us".asc, $"event_id".asc)
      val pairs = Tables.events(s, dir)
        .select($"user_id", $"event_type",
          unix_micros($"ts").as("us"), $"event_id")
        .withColumn("next_type", lead($"event_type", 1).over(w))
        .filter($"next_type".isNotNull)
        .groupBy($"event_type".as("cur"), $"next_type".as("nxt"))
        .agg(count(lit(1)).as("n"))
      val totals = pairs.groupBy($"cur").agg(sum($"n").as("row_total"))
      pairs.join(broadcast(totals), "cur")
        .select($"cur", $"nxt", $"n",
          ($"n".cast("double") / $"row_total".cast("double")).as("p"))
    },

    // exact weighted median per group (operators.WeightedMedian): the
    // price at which half the shipped QUANTITY sits below — RankSelect's
    // range-ladder extended to cumulative weights; no per-group window,
    // integer weight arithmetic end to end
    "q83_weighted_median" -> { (s, dir) =>
      import s.implicits._
      import graft.operators.WeightedMedian
      val li = Tables.load(s, dir, "lineitem")
        .select($"l_returnflag",
          $"l_extendedprice".cast("decimal(15,2)").as("v"),
          $"l_quantity".cast("long").as("w"),
          $"l_orderkey", $"l_linenumber")
      WeightedMedian.weightedMedianCapped(li, Seq("l_returnflag"), "w",
          "total_w", 10000, $"v".asc, $"l_orderkey".asc, $"l_linenumber".asc)
        .select($"l_returnflag", $"v".cast("double").as("wmedian"),
          $"total_w")
    },

    // hopping (sliding) time windows: 1-hour windows every 15 minutes —
    // window() explodes each event into its 4 overlapping windows
    // row-locally, then one partial-agg shuffle on (window, type); the
    // oracle derives the same 4 aligned starts with integer micros
    "q82_hopping_window" -> { (s, dir) =>
      import s.implicits._
      Tables.events(s, dir)
        .groupBy(window($"ts", "1 hour", "15 minutes"), $"event_type")
        .agg(count(lit(1)).as("n"))
        .select(unix_micros($"window.start").as("win_start_us"),
          $"event_type", $"n")
    },

    // interval-point join via GRID BUCKETING: each purchase opens a
    // 30-minute window; count every click landing inside it. The naive
    // formulation is a theta join (start <= t < end) — a cartesian
    // nested loop at scale. With a grid equal to the window length,
    // each interval covers at most 2 grid cells: explode intervals to
    // their cells, equi-join points on the cell, then filter exact
    // containment — a hash join whose volume is O(intervals*2 +
    // points), never the cross product. Each point matches an interval
    // through exactly one cell, so no dedup is needed.
    "q81_interval_point_join" -> { (s, dir) =>
      import s.implicits._
      val grid = 1800L * 1000000L
      val ev = Tables.events(s, dir)
        .select($"event_id", $"event_type", $"user_id",
          unix_micros($"ts").as("us"))
      val intervals = ev.filter($"event_type" === "purchase")
        .select($"event_id".as("iid"), $"us".as("w0"),
          ($"us" + lit(grid)).as("w1"))
        // integer div, and dedup cells BEFORE exploding (row-local)
        .withColumn("cell", explode(array_distinct(array(
          expr(s"w0 div $grid"), expr(s"(w1 - 1) div $grid")))))
      val points = ev.filter($"event_type" === "click")
        .select($"event_id".as("pid"), expr(s"us div $grid").as("cell"),
          $"us".as("pt"))
      intervals.join(points, "cell")
        .filter($"pt" >= $"w0" && $"pt" < $"w1")
        .groupBy($"iid")
        .agg(count(lit(1)).as("n_clicks"), min($"pt").as("first_click_us"))
    },

    // bag-semantics set operations: INTERSECT ALL / EXCEPT ALL keep
    // MULTIPLICITIES (min / difference of per-value counts) where
    // q38/q39's distinct variants collapse them — Spark plans both as
    // count-annotated joins + generate, no row-by-row matching
    "q89_setops_all" -> { (s, dir) =>
      import s.implicits._
      val cust = Tables.load(s, dir, "customer")
        .select($"c_nationkey".as("nationkey"))
      val supp = Tables.load(s, dir, "supplier")
        .select($"s_nationkey".as("nationkey"))
      val ia = cust.intersectAll(supp)
        .groupBy($"nationkey").agg(count(lit(1)).as("n"))
        .withColumn("op", lit("intersect_all"))
      val ea = cust.exceptAll(supp)
        .groupBy($"nationkey").agg(count(lit(1)).as("n"))
        .withColumn("op", lit("except_all"))
      ia.unionByName(ea)
    },

    // grouping() / grouping_id() flags under CUBE: distinguish "NULL
    // because subtotal" from "NULL in the data" — the standard way BI
    // layers label rollup rows (q13 is the plain cube; this pins the
    // flag semantics)
    "q87_grouping_id" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "orders")
        .cube($"o_orderpriority", $"o_orderstatus")
        .agg(count(lit(1)).as("n"),
          grouping($"o_orderpriority").as("g_pri"),
          grouping($"o_orderstatus").as("g_st"),
          grouping_id().as("gid"))
    },

    // IGNORE NULLS window navigation: last non-null measurement seen so
    // far and the 2nd value of each user's stream — the gap-carrying
    // idiom time-series consumers use (nulls injected on a
    // deterministic rule so both engines skip the same rows)
    "q88_ignore_nulls" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"user_id")
        .orderBy($"us".asc, $"event_id".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .select($"event_id", $"user_id", unix_micros($"ts").as("us"),
          when($"event_id" % 3 === 0, $"value").as("v"))
        .withColumn("last_seen",
          last($"v", ignoreNulls = true).over(w))
        .withColumn("second_ev",
          nth_value($"event_id", 2).over(w))
        .select($"event_id", $"user_id", $"last_seen", $"second_ev")
    },

    // NOT IN with a NULLABLE subquery column — the classic three-valued
    // -logic trap: one NULL in the subquery empties the result, and a
    // NULL probe value never qualifies. Spark plans the null-aware
    // anti join; the probe side nulls come from a conditional
    // projection so both hazards are exercised. Semantics, not just
    // shape: the oracle is the same NOT IN text.
    "q85_not_in_nulls" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT c_custkey, c_nationkey
          |FROM (SELECT c_custkey,
          |        CASE WHEN c_custkey % 7 = 0 THEN NULL
          |             ELSE c_nationkey END AS c_nationkey
          |      FROM customer)
          |WHERE c_nationkey NOT IN
          |  (SELECT n_nationkey FROM nation WHERE n_regionkey = 0)
          |ORDER BY c_custkey""".stripMargin)
    },

    // dynamic pivot: the pivot columns come from a driver-collected
    // DISTINCT scan (sorted for determinism) instead of a hard-coded
    // list — the two-phase shape every BI layer uses; the per-cell
    // aggregate stays decomposable. The collected set is unioned with
    // the oracle's pinned domain (F/O/P — the static SQL can't follow
    // the data) so a filtered subset missing a status keeps column
    // parity: an absent status pivots to NULL on BOTH engines. A
    // dataset minting statuses OUTSIDE the domain still grows extra
    // columns the static oracle lacks — inherent to any static oracle
    // over a dynamic pivot.
    "q86_dynamic_pivot" -> { (s, dir) =>
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
        .select($"o_orderpriority", $"o_orderstatus",
          $"o_totalprice".cast("decimal(15,2)").as("p"))
      // driver-collect contract (same family as the maxGroups ladders):
      // the pivot domain is order-status codes — single chars, ≤ a few
      // dozen values by schema design — so the distinct scan collects
      // O(|domain|) rows, never O(facts). This is the standard two-phase
      // BI dynamic-pivot shape; a high-cardinality pivot column would
      // need an explicit cap + unpivoted (key,value) output instead.
      val statuses = (o.select($"o_orderstatus").distinct()
        .collect().map(_.getString(0)) ++ Seq("F", "O", "P"))
        .distinct.sorted.toSeq
      o.groupBy($"o_orderpriority")
        .pivot("o_orderstatus", statuses)
        .agg(sum($"p").cast("double"))
        .select($"o_orderpriority" +: statuses.map(st =>
          col(s"`$st`").as(s"sum_$st")): _*)
    },

    // running-max drawdown per customer: the largest peak-to-current
    // drop over each customer's time-ordered order totals — prefix max
    // via a window over the HIGH-cardinality customer key, exact
    // decimal subtraction, one double conversion at the end
    "q84_drawdown" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.load(s, dir, "orders")
        .select($"o_custkey", $"o_orderdate", $"o_orderkey",
          $"o_totalprice".cast("decimal(15,2)").as("p"))
        .withColumn("peak", max($"p").over(w))
        .groupBy($"o_custkey")
        .agg(max($"peak" - $"p").cast("double").as("max_drawdown"),
          count(lit(1)).as("n_orders"))
    },

    // inverted-index AND search: documents containing BOTH query
    // tokens, via the distinct (token, doc) posting table self-joined
    // on doc — postings stay distributed (no materialized lists), the
    // query is two posting-list semi-joins
    "text_search_and" -> { (s, dir) =>
      import s.implicits._
      val postings = Tables.load(s, dir, "documents")
        .select($"doc_id", explode(split($"text", " ")).as("tok"))
        .distinct()
      val a = postings.filter($"tok" === "spark").select($"doc_id")
      val b = postings.filter($"tok" === "window").select($"doc_id")
      a.join(b, "doc_id")
        .join(Tables.load(s, dir, "documents")
          .select($"doc_id", $"lang", $"n_chars"), "doc_id")
        .select($"doc_id", $"lang", $"n_chars")
    },

    // the modern conditional-aggregate family — count_if / bool_and /
    // bool_or — per order priority, decomposable so the exchange
    // carries one boolean/long per group
    "q80_cond_aggs" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "orders")
        .groupBy($"o_orderpriority")
        .agg(count_if($"o_orderstatus" === "F").as("n_f"),
          count_if($"o_totalprice".cast("decimal(15,2)") > 100000).as("n_big"),
          bool_and($"o_totalprice" > 0).as("all_positive"),
          bool_or($"o_orderstatus" === "P").as("any_pending"),
          count(lit(1)).as("n"))
    }
  )

  val oracles: Map[String, String] = Map(
    "q79_transition_matrix" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) ASC, event_id ASC) AS next_type
        |  FROM events),
        |p AS (
        |  SELECT event_type AS cur, next_type AS nxt,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM seq WHERE next_type IS NOT NULL
        |  GROUP BY cur, nxt),
        |t AS (SELECT cur, CAST(sum(n) AS BIGINT) AS row_total
        |  FROM p GROUP BY cur)
        |SELECT p.cur, p.nxt, p.n,
        |  CAST(p.n AS DOUBLE) / CAST(t.row_total AS DOUBLE) AS p
        |FROM p JOIN t ON p.cur = t.cur""".stripMargin,

    // window cumulative-weight formulation of the same lower weighted
    // median: the crossing row has 2*cumw >= total and 2*(cumw-w) < total
    "q83_weighted_median" ->
      """WITH li AS (
        |  SELECT l_returnflag AS g,
        |    CAST(l_extendedprice AS DECIMAL(15,2)) AS v,
        |    CAST(l_quantity AS BIGINT) AS w, l_orderkey AS k,
        |    l_linenumber AS ln
        |  FROM lineitem),
        |c AS (
        |  SELECT g, v, w,
        |    sum(w) OVER (PARTITION BY g ORDER BY v, k, ln
        |      ROWS UNBOUNDED PRECEDING) AS cw,
        |    sum(w) OVER (PARTITION BY g) AS tw
        |  FROM li)
        |SELECT g AS l_returnflag, CAST(v AS DOUBLE) AS wmedian,
        |  CAST(tw AS BIGINT) AS total_w
        |FROM c WHERE 2 * cw >= tw AND 2 * (cw - w) < tw""".stripMargin,

    "q82_hopping_window" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) AS us FROM events),
        |x AS (
        |  SELECT event_type,
        |    (us // 900000000) * 900000000 - k * 900000000 AS ws
        |  FROM e CROSS JOIN (SELECT unnest(range(0, 4)) AS k) g)
        |SELECT ws AS win_start_us, event_type,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM x GROUP BY ws, event_type""".stripMargin,

    // declarative theta-join spec the grid equi-join must reproduce
    // (DuckDB plans this as an IEJoin; the grid path is the Spark-scale
    // formulation of the same semantics)
    "q81_interval_point_join" ->
      """WITH ev AS (
        |  SELECT event_id, event_type, epoch_us(ts) AS us FROM events),
        |iv AS (
        |  SELECT event_id AS iid, us AS w0, us + 1800000000 AS w1
        |  FROM ev WHERE event_type = 'purchase'),
        |pt AS (
        |  SELECT event_id AS pid, us AS pt FROM ev
        |  WHERE event_type = 'click')
        |SELECT iid, CAST(count(*) AS BIGINT) AS n_clicks,
        |  min(pt) AS first_click_us
        |FROM iv JOIN pt ON pt.pt >= iv.w0 AND pt.pt < iv.w1
        |GROUP BY iid""".stripMargin,

    "q89_setops_all" ->
      """WITH ia AS (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  INTERSECT ALL
        |  SELECT s_nationkey FROM supplier),
        |ea AS (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  EXCEPT ALL
        |  SELECT s_nationkey FROM supplier)
        |SELECT nationkey, CAST(count(*) AS BIGINT) AS n,
        |  'intersect_all' AS op FROM ia GROUP BY nationkey
        |UNION ALL
        |SELECT nationkey, CAST(count(*) AS BIGINT) AS n,
        |  'except_all' AS op FROM ea GROUP BY nationkey""".stripMargin,

    "q87_grouping_id" ->
      """SELECT o_orderpriority, o_orderstatus,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(grouping(o_orderpriority) AS TINYINT) AS g_pri,
        |  CAST(grouping(o_orderstatus) AS TINYINT) AS g_st,
        |  CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus)
        |    AS BIGINT) AS gid
        |FROM orders
        |GROUP BY CUBE (o_orderpriority, o_orderstatus)""".stripMargin,

    "q88_ignore_nulls" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS us,
        |    CASE WHEN event_id % 3 = 0 THEN value END AS v
        |  FROM events)
        |SELECT event_id, user_id,
        |  last_value(v IGNORE NULLS) OVER w AS last_seen,
        |  nth_value(event_id, 2) OVER w AS second_ev
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY us ASC, event_id ASC
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,

    "q85_not_in_nulls" ->
      """SELECT c_custkey, c_nationkey
        |FROM (SELECT c_custkey,
        |        CASE WHEN c_custkey % 7 = 0 THEN NULL
        |             ELSE c_nationkey END AS c_nationkey
        |      FROM customer)
        |WHERE c_nationkey NOT IN
        |  (SELECT n_nationkey FROM nation WHERE n_regionkey = 0)
        |ORDER BY c_custkey""".stripMargin,

    "q86_dynamic_pivot" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F'
        |    THEN CAST(o_totalprice AS DECIMAL(15,2)) END) AS DOUBLE) AS sum_F,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O'
        |    THEN CAST(o_totalprice AS DECIMAL(15,2)) END) AS DOUBLE) AS sum_O,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P'
        |    THEN CAST(o_totalprice AS DECIMAL(15,2)) END) AS DOUBLE) AS sum_P
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    "q84_drawdown" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderdate, o_orderkey,
        |    CAST(o_totalprice AS DECIMAL(15,2)) AS p
        |  FROM orders),
        |r AS (
        |  SELECT o_custkey, p,
        |    max(p) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate ASC, o_orderkey ASC
        |      ROWS UNBOUNDED PRECEDING) AS peak
        |  FROM o)
        |SELECT o_custkey, CAST(max(peak - p) AS DOUBLE) AS max_drawdown,
        |  CAST(count(*) AS BIGINT) AS n_orders
        |FROM r GROUP BY o_custkey""".stripMargin,

    "text_search_and" ->
      """WITH p AS (
        |  SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM documents))
        |SELECT d.doc_id, d.lang, d.n_chars
        |FROM documents d
        |JOIN p a ON a.doc_id = d.doc_id AND a.tok = 'spark'
        |JOIN p b ON b.doc_id = d.doc_id AND b.tok = 'window'""".stripMargin,

    "q80_cond_aggs" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_f,
        |  CAST(sum(CASE WHEN CAST(o_totalprice AS DECIMAL(15,2)) > 100000
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
        |  bool_and(o_totalprice > 0) AS all_positive,
        |  bool_or(o_orderstatus = 'P') AS any_pending,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM orders GROUP BY o_orderpriority""".stripMargin
  )
}
