package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-8 relational additions, wave 2.
  *
  * `q101_cusum` — CUSUM changepoint detection (Page 1954) over the
  * daily order-count series. The textbook recursion
  * S_t = max(0, S_{t-1} + dev_t) is not window-expressible, but its
  * CLOSED FORM is: S_t = P_t − min(0, min_{j<=t} P_j) where P is the
  * running sum of deviations — two windows over the DAY-DOWNSAMPLED
  * series (the q84/q99 discipline: window length grows with the time
  * span, never with order volume; the orders→days rollup partial-
  * aggregates at full parallelism). Deviations stay INTEGER
  * (dev = N·x_t − T, the mean subtraction cross-multiplied by the day
  * count) so every prefix sum is order-independent and bit-exact —
  * no float mean ever forms. Both one-sided statistics (upward and
  * downward shift) emit per day.
  *
  * `q102_bitmap_distinct` — distinct-count via BITMAP SEGMENTS, the
  * roaring-bitmap rollup OLAP engines use at scale: distinct
  * l_partkey per return flag where each (flag, key DIV 32) segment
  * aggregates `bit_or(1 << key mod 32)` and cardinality is
  * `sum(bit_count(segment))`. Unlike a raw count(distinct), segment
  * bitmaps are ASSOCIATIVELY RE-MERGEABLE — partial aggregation
  * collapses each segment map-side, the second rollup moves one
  * 8-byte word per (flag, segment), and pre-computed segment tables
  * can serve any flag-combination union/intersection without
  * touching the fact table again. 32-bit segments keep `1 << bit`
  * < 2^31 — inside the asserted-invariant bound on both engines
  * (DuckDB throws on BIGINT overflow rather than wrapping).
  *
  * `q104_basket_rules` — market-basket association rules (Agrawal
  * 1993): support / confidence / lift for part pairs co-purchased in
  * an order. The pair join is keyed on the HIGH-cardinality order key
  * with fan-out bounded by basket size (a few lineitems per order) —
  * the co-occurrence cost is Σ basket², linear in orders, never
  * item² — and the (order, part) frame persists because three
  * consumers reuse it. Confidence and lift are single IEEE divisions
  * of exact integer products (supp·N < 2^63 — the asserted-invariant
  * bound); ranking and ties are integer-first (supp desc, item ids).
  */
object RelationalQueries14 extends QueryModule {

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q101_cusum" -> { (s, dir) =>
      import s.implicits._
      val daily = Tables.load(s, dir, "orders")
        .groupBy($"o_orderdate".cast("date").as("day"))
        .agg(count(lit(1)).as("x"))
      val tot = daily.agg(count(lit(1)).as("n_days"), sum($"x").as("total"))
      // dev is exact integer; the two running windows run over the
      // ~2.4k-row day series (single ordered partition — sanctioned
      // by the downsample-then-window rule, see scaladoc)
      val w = Window.orderBy($"day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.crossJoin(broadcast(tot))
        .withColumn("dev", $"n_days" * $"x" - $"total")
        .withColumn("p", sum($"dev").over(w))
        .withColumn("s_pos", $"p" - least(min($"p").over(w), lit(0L)))
        .withColumn("s_neg",
          (-$"p") - least(min(-$"p").over(w), lit(0L)))
        .select($"day", $"x", $"dev", $"s_pos", $"s_neg")
    },

    // MAD-based volume anomaly detection (round 8): flag days whose
    // order count deviates from the series median by more than 3x the
    // median absolute deviation — the robust ops-monitoring rule
    // (mean/stddev break on the very outliers being hunted). EVERY
    // quantity is an exact integer: median and MAD come from explicit
    // sorted-list indexing at ceil(n/2) (the probed q68 rank rule, so
    // DuckDB's quantile_disc replays it), the flag is the integer
    // compare ad > 3*mad — no float forms anywhere. Scale shape: the
    // orders->days rollup partial-aggregates at full parallelism; the
    // collected day series is TIME-bounded (~365 rows/year regardless
    // of order volume — the q84/q99 downsample contract), so the
    // 1-row median agg is driver-safe by construction.
    "dq_anomaly" -> { (s, dir) =>
      import s.implicits._
      val daily = Tables.load(s, dir, "orders")
        .groupBy($"o_orderdate".cast("date").as("day"))
        .agg(count(lit(1)).as("x"))
      def disc(c: String) = expr(
        s"element_at(sort_array(collect_list($c)), " +
          s"CAST(ceil(count($c) * 0.5) AS INT))")
      val med = daily.agg(disc("x").as("med"))
      val dev = daily.crossJoin(broadcast(med))
        .withColumn("ad", abs($"x" - $"med"))
      val mad = dev.agg(disc("ad").as("mad"))
      dev.crossJoin(broadcast(mad))
        .filter($"ad" > lit(3L) * $"mad")
        .select($"day", $"x", $"med", $"ad", $"mad")
    },

    "q104_basket_rules" -> { (s, dir) =>
      import s.implicits._
      // one row per (order, part) — persisted: both sides of the pair
      // self-join AND the item-frequency rollup reuse it, otherwise
      // the distinct runs three times
      // pre-partition the persisted frame on the JOIN key: hash
      // (l_orderkey) satisfies both sides of the pair self-join, so
      // AQE elides both join-side exchanges once the cache
      // materializes (the q90/q93 round-7 lesson)
      // round 20 batch 6: the distinct (order, part) scan is the pinned
      // order_part_pairs artifact (GraphEdges) — the self-join + support
      // rollup below stay per-pass
      val op = GraphEdges.orderPartPairs(s, dir)
        .repartition($"l_orderkey")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val itemN = op.groupBy($"l_partkey").agg(count(lit(1)).as("n_item"))
      val totN = op.agg(count_distinct($"l_orderkey").as("n_orders"))
      // SHUFFLE_HASH: the persisted frame arrives unsorted; a sort-merge
      // self-join would sort both sides on the order key for nothing
      // (the round-7 edge-build lesson, 1.8x there)
      val rules = op.as("x").hint("SHUFFLE_HASH")
        .join(op.as("y").hint("SHUFFLE_HASH"), "l_orderkey")
        .filter($"x.l_partkey" < $"y.l_partkey")
        .groupBy($"x.l_partkey".as("item_a"), $"y.l_partkey".as("item_b"))
        .agg(count(lit(1)).as("supp"))
        .filter($"supp" >= 3L)
      rules
        .join(broadcast(itemN.select($"l_partkey".as("item_a"),
          $"n_item".as("n_a"))), "item_a")
        .join(broadcast(itemN.select($"l_partkey".as("item_b"),
          $"n_item".as("n_b"))), "item_b")
        .crossJoin(broadcast(totN))
        .select($"item_a", $"item_b", $"supp", $"n_a", $"n_b",
          ($"supp".cast("double") / $"n_a".cast("double")).as("confidence"),
          (($"supp" * $"n_orders").cast("double") /
            ($"n_a" * $"n_b").cast("double")).as("lift"))
        .orderBy($"supp".desc, $"item_a".asc, $"item_b".asc).limit(20)
    },

    "q102_bitmap_distinct" -> { (s, dir) =>
      import s.implicits._
      val segs = Tables.load(s, dir, "lineitem")
        .select($"l_returnflag",
          expr("l_partkey DIV 32").as("seg"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(l_partkey % 32 AS INT))")
            .as("bitval"))
        .groupBy($"l_returnflag", $"seg")
        .agg(expr("bit_or(bitval)").as("bits"))
      segs.groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n_segments"),
          sum(expr("bit_count(bits)")).cast("long").as("n_distinct"))
    }
  )

  val oracles: Map[String, String] = Map(
    "q101_cusum" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |         CAST(count(*) AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
        |               CAST(sum(x) AS BIGINT) AS total FROM daily),
        |dev AS (SELECT day, x, n_days * x - total AS dev
        |        FROM daily CROSS JOIN tot),
        |run AS (SELECT day, x, dev,
        |  CAST(sum(dev) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW) AS BIGINT) AS p
        |  FROM dev)
        |SELECT day, x, dev,
        |  p - least(CAST(min(p) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND CURRENT ROW) AS BIGINT), 0) AS s_pos,
        |  (-p) - least(CAST(min(-p) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND CURRENT ROW) AS BIGINT), 0) AS s_neg
        |FROM run""".stripMargin,

    // quantile_disc's ceil(q*n) 1-based rank rule (probed, q68) ==
    // the Spark side's explicit sorted-list ceil(n/2) indexing
    "dq_anomaly" ->
      """WITH d AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |                  CAST(count(*) AS BIGINT) AS x
        |           FROM orders GROUP BY 1),
        |m AS (SELECT CAST(quantile_disc(x, 0.5) AS BIGINT) AS med FROM d),
        |dev AS (SELECT day, x, med, abs(x - med) AS ad
        |        FROM d CROSS JOIN m),
        |md AS (SELECT CAST(quantile_disc(ad, 0.5) AS BIGINT) AS mad
        |       FROM dev)
        |SELECT day, x, med, ad, mad
        |FROM dev CROSS JOIN md WHERE ad > 3 * mad""".stripMargin,

    "q104_basket_rules" ->
      """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |n AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item
        |      FROM op GROUP BY 1),
        |tot AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT)
        |        AS n_orders FROM op),
        |r AS (SELECT x.l_partkey AS item_a, y.l_partkey AS item_b,
        |             CAST(count(*) AS BIGINT) AS supp
        |      FROM op x JOIN op y
        |        ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        |      GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT item_a, item_b, supp, na.n_item AS n_a, nb.n_item AS n_b,
        |  CAST(supp AS DOUBLE) / CAST(na.n_item AS DOUBLE) AS confidence,
        |  CAST(supp * n_orders AS DOUBLE) /
        |    CAST(na.n_item * nb.n_item AS DOUBLE) AS lift
        |FROM r JOIN n na ON r.item_a = na.l_partkey
        |       JOIN n nb ON r.item_b = nb.l_partkey
        |       CROSS JOIN tot
        |ORDER BY supp DESC, item_a, item_b LIMIT 20""".stripMargin,

    "q102_bitmap_distinct" ->
      """WITH segs AS (
        |  SELECT l_returnflag, l_partkey // 32 AS seg,
        |         bit_or(CAST(1 AS BIGINT) << CAST(l_partkey % 32 AS INT))
        |           AS bits
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_segments,
        |       CAST(sum(bit_count(bits)) AS BIGINT) AS n_distinct
        |FROM segs GROUP BY 1""".stripMargin
  )
}
