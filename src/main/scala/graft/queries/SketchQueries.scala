package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GraftFunctions._

/** Mergeable-sketch analytics (SURVEY.md §2.2): heavy hitters and
  * quantiles computed as per-shard partial sketches merged to the
  * final grain — the 100 TB pattern where the exchange carries a
  * few-KB sketch per (shard × group) instead of raw rows, and
  * persisted partials re-aggregate to any coarser grain without a
  * second scan.
  *
  * Both queries run the sketches inside their exact regime at the
  * verify scale (distinct items < 0.75·maxMapSize; n ≤ KLL k), where
  * the DataSketches estimates provably equal the exact answers — so
  * the DuckDB oracles are plain exact SQL. At larger scale the same
  * plans degrade gracefully to the sketches' published error bounds
  * without any change in shape.
  */
object SketchQueries extends QueryModule {

  private val kllRanks = Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99)

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // heavy hitters: per-shard frequent-items sketches of p_brand,
    // unioned globally, top-10 by (est desc, item asc). 25 distinct
    // brands < 0.75·128 keeps the sketch (and every merge) exact.
    "sketch_freq_topk" -> { (s, dir) =>
      val part = Tables.load(s, dir, "part")
      val shards = part
        .groupBy(pmod(col("p_partkey"), lit(16)).as("shard"))
        .agg(freq_sketch_agg(col("p_brand"), 128).as("sk"))
      shards.agg(freq_sketch_merge(col("sk"), 128).as("sk"))
        .select(explode(freq_sketch_topk(col("sk"), 10)).as("t"))
        .select(col("t.item").as("brand"), col("t.est").as("n_parts"))
    },

    // distinct-count set algebra: per-day theta sketches of user_id per
    // event segment (Spark 4.1 built-in theta_* — lg nominal entries 16
    // = 65536, exact well past this corpus), unioned, then intersect /
    // difference / union ON THE SKETCHES — "users who viewed but never
    // purchased" without ever shuffling raw user ids, and persisted
    // per-day partials answer any boolean combination later rescan-free.
    "sketch_theta_setops" -> { (s, dir) =>
      val lgK = 16
      val ev = Tables.events(s, dir).withColumn("d", col("ts").cast("date"))
      def seg(t: String) =
        theta_sketch_agg(when(col("event_type") === t, col("user_id")), lgK)
      val daily = ev.groupBy(col("d")).agg(
        seg("view").as("v"), seg("click").as("c"), seg("purchase").as("p"))
      daily.agg(
        theta_union_agg(col("v"), lgK).as("v"),
        theta_union_agg(col("c"), lgK).as("c"),
        theta_union_agg(col("p"), lgK).as("p"))
        .select(
          theta_sketch_estimate(col("v")).cast("long").as("n_view"),
          theta_sketch_estimate(col("p")).cast("long").as("n_purchase"),
          theta_sketch_estimate(theta_intersection(col("v"), col("p")))
            .cast("long").as("n_view_and_purchase"),
          theta_sketch_estimate(theta_difference(col("v"), col("p")))
            .cast("long").as("n_view_not_purchase"),
          theta_sketch_estimate(theta_union(col("c"), col("p"), lgK))
            .cast("long").as("n_click_or_purchase"))
    },

    // global quantiles without a global sort: per-priority partial KLL
    // sketches of o_totalprice, merged once. k=32768 ≥ n at sf0.01 so
    // the sketch never compacts → INCLUSIVE quantiles == quantile_disc.
    "sketch_kll_quantiles" -> { (s, dir) =>
      val orders = Tables.load(s, dir, "orders")
      val rk = array(kllRanks.map(lit): _*)
      val partial = orders
        .groupBy(col("o_orderpriority"))
        .agg(kll_sketch_agg(col("o_totalprice"), 32768).as("sk"))
      partial.agg(kll_sketch_merge(col("sk"), 32768).as("sk"))
        .select(posexplode(kll_quantiles(col("sk"), kllRanks)).as(Seq("pos", "price")))
        .select(element_at(rk, col("pos").cast("int") + 1).as("rank"), col("price"))
    }
  )

  val oracles: Map[String, String] = Map(
    "sketch_freq_topk" ->
      """SELECT p_brand AS brand, CAST(count(*) AS BIGINT) AS n_parts
        |FROM part GROUP BY 1
        |ORDER BY n_parts DESC, brand ASC LIMIT 10""".stripMargin,

    "sketch_theta_setops" ->
      """SELECT
        |  CAST(count(DISTINCT CASE WHEN event_type = 'view' THEN user_id END) AS BIGINT) AS n_view,
        |  CAST(count(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS BIGINT) AS n_purchase,
        |  (SELECT CAST(count(*) AS BIGINT) FROM (
        |     SELECT user_id FROM events WHERE event_type = 'view'
        |     INTERSECT
        |     SELECT user_id FROM events WHERE event_type = 'purchase') t)
        |    AS n_view_and_purchase,
        |  (SELECT CAST(count(*) AS BIGINT) FROM (
        |     SELECT user_id FROM events WHERE event_type = 'view'
        |     EXCEPT
        |     SELECT user_id FROM events WHERE event_type = 'purchase') t)
        |    AS n_view_not_purchase,
        |  CAST(count(DISTINCT CASE WHEN event_type IN ('click', 'purchase')
        |    THEN user_id END) AS BIGINT) AS n_click_or_purchase
        |FROM events""".stripMargin,

    "sketch_kll_quantiles" -> kllRanks.map(r =>
      s"SELECT CAST($r AS DOUBLE) AS rank, " +
        s"quantile_disc(o_totalprice, $r) AS price FROM orders")
      .mkString("\nUNION ALL\n")
  )
}
