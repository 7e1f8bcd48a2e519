package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Fourth relational wave (SURVEY.md §2.2): pagination, lead/lag,
  * rank-family window functions. Total orderings everywhere so results
  * are deterministic.
  */
object RelationalQueries4 extends QueryModule {

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q35_pagination" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "customer")
        .orderBy($"c_acctbal".desc, $"c_custkey".asc)
        .select($"c_custkey", $"c_name", $"c_acctbal")
        .offset(20)
        .limit(10)
    },

    "q36_lead_lag" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
      Tables.load(s, dir, "orders")
        .withColumn("prev_price", lag($"o_totalprice", 1).over(w))
        .withColumn("next_key", lead($"o_orderkey", 1).over(w))
        .filter($"o_custkey" <= 100)
        .select($"o_custkey", $"o_orderkey", $"o_totalprice",
          $"prev_price", $"next_key")
    },

    "q37_rank_family" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"o_orderstatus")
        .orderBy($"o_totalprice".asc, $"o_orderkey".asc)
      Tables.load(s, dir, "orders")
        .filter($"o_orderkey" % 50 === 0)
        .withColumn("rnk", rank().over(w))
        .withColumn("drnk", dense_rank().over(w))
        .withColumn("quartile", ntile(4).over(w))
        .select($"o_orderstatus", $"o_orderkey", $"rnk", $"drnk", $"quartile")
    }
  )

  val oracles: Map[String, String] = Map(
    "q35_pagination" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |ORDER BY c_acctbal DESC, c_custkey ASC
        |LIMIT 10 OFFSET 20""".stripMargin,

    "q36_lead_lag" ->
      """SELECT * FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    lag(o_totalprice, 1) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate ASC, o_orderkey ASC) AS prev_price,
        |    lead(o_orderkey, 1) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate ASC, o_orderkey ASC) AS next_key
        |  FROM orders)
        |WHERE o_custkey <= 100""".stripMargin,

    "q37_rank_family" ->
      """SELECT o_orderstatus, o_orderkey,
        |  rank() OVER w AS rnk, dense_rank() OVER w AS drnk,
        |  ntile(4) OVER w AS quartile
        |FROM orders WHERE o_orderkey % 50 = 0
        |WINDOW w AS (PARTITION BY o_orderstatus
        |  ORDER BY o_totalprice ASC, o_orderkey ASC)""".stripMargin
  )
}
