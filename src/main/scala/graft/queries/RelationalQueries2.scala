package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.operators.Skew

/** Second wave of relational coverage (SURVEY.md §2.2): skew-salted
  * join, full outer join, string/date function surface, conditional
  * aggregation, scalar subquery. Same parity discipline as
  * RelationalQueries.
  */
object RelationalQueries2 extends QueryModule {

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // salted join must be row-identical to the plain join (the oracle)
    "q21_skew_join" -> { (s, dir) =>
      import s.implicits._
      val li = Tables.load(s, dir, "lineitem")
        .select($"l_orderkey", $"l_quantity")
      val ord = Tables.load(s, dir, "orders")
        .filter($"o_orderpriority" === "1-URGENT")
        .select($"o_orderkey", $"o_custkey")
      Skew.saltedJoin(li, ord, "l_orderkey", "o_orderkey", saltParts = 8)
        .groupBy($"o_custkey")
        .agg(sum($"l_quantity").as("sum_qty"), count(lit(1)).as("n"))
    },

    "q22_full_outer" -> { (s, dir) =>
      import s.implicits._
      val nat = Tables.load(s, dir, "nation")
      val bigSupp = Tables.load(s, dir, "supplier")
        .filter($"s_acctbal" > 5000.0)
        .groupBy($"s_nationkey").agg(count(lit(1)).as("n_rich_supp"))
      nat.join(bigSupp, $"n_nationkey" === $"s_nationkey", "full_outer")
        .select($"n_name", $"n_nationkey", $"n_rich_supp")
    },

    "q23_string_funcs" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "part")
        .filter($"p_name".like("%a%"))
        .select(
          $"p_partkey",
          upper($"p_name").as("uname"),
          lower($"p_type").as("ltype"),
          substring($"p_name", 1, 5).as("name5"),
          regexp_replace($"p_brand", "Brand#", "B").as("brand_short"),
          length($"p_name").as("name_len"),
          concat_ws("/", $"p_brand", $"p_type").as("brand_type"))
    },

    "q24_date_funcs" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "orders")
        .filter($"o_orderkey" % 100 === 0)
        .select(
          $"o_orderkey",
          year($"o_orderdate").as("y"),
          month($"o_orderdate").as("m"),
          dayofmonth($"o_orderdate").as("d"),
          date_add($"o_orderdate".cast("date"), 30).as("plus30"),
          last_day($"o_orderdate".cast("date")).as("eom"),
          datediff(lit("1998-01-01").cast("date"), $"o_orderdate".cast("date"))
            .as("days_to_98"))
    },

    "q25_conditional_agg" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "lineitem")
        .groupBy($"l_linestatus")
        .agg(
          sum(when($"l_returnflag" === "R", $"l_quantity").otherwise(0.0)).as("qty_returned"),
          count(when($"l_discount" > 0.05, lit(1))).as("n_discounted"),
          sum(when($"l_tax" > 0.04, lit(1)).otherwise(lit(0))).as("n_taxed"),
          count(lit(1)).as("n"))
    },

    "q26_scalar_subquery" -> { (s, dir) =>
      import s.implicits._
      val ord = Tables.load(s, dir, "orders")
      val med = ord.agg(
        expr("percentile(o_totalprice, 0.5)").as("med_price"))
      ord.crossJoin(broadcast(med))
        .filter($"o_totalprice" > $"med_price")
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n_above_median"),
          min($"o_totalprice").as("min_price"),
          max($"o_totalprice").as("max_price"))
    }
  )

  val oracles: Map[String, String] = Map(
    "q21_skew_join" ->
      """SELECT o_custkey, sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_custkey""".stripMargin,

    "q22_full_outer" ->
      """SELECT n_name, n_nationkey, n_rich_supp
        |FROM nation FULL OUTER JOIN (
        |  SELECT s_nationkey, count(*) AS n_rich_supp FROM supplier
        |  WHERE s_acctbal > 5000.0 GROUP BY s_nationkey) b
        |ON n_nationkey = s_nationkey""".stripMargin,

    "q23_string_funcs" ->
      """SELECT p_partkey, upper(p_name) AS uname, lower(p_type) AS ltype,
        |  substr(p_name, 1, 5) AS name5,
        |  regexp_replace(p_brand, 'Brand#', 'B', 'g') AS brand_short,
        |  length(p_name) AS name_len,
        |  p_brand || '/' || p_type AS brand_type
        |FROM part WHERE p_name LIKE '%a%'""".stripMargin,

    "q24_date_funcs" ->
      """SELECT o_orderkey,
        |  year(o_orderdate) AS y, month(o_orderdate) AS m,
        |  day(o_orderdate) AS d,
        |  CAST(o_orderdate AS DATE) + 30 AS plus30,
        |  last_day(CAST(o_orderdate AS DATE)) AS eom,
        |  datediff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01')
        |    AS days_to_98
        |FROM orders WHERE o_orderkey % 100 = 0""".stripMargin,

    "q25_conditional_agg" ->
      """SELECT l_linestatus,
        |  sum(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0.0 END) AS qty_returned,
        |  count(CASE WHEN l_discount > 0.05 THEN 1 END) AS n_discounted,
        |  CAST(sum(CASE WHEN l_tax > 0.04 THEN 1 ELSE 0 END) AS BIGINT) AS n_taxed,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_linestatus""".stripMargin,

    "q26_scalar_subquery" ->
      """SELECT o_orderstatus, count(*) AS n_above_median,
        |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
        |FROM orders
        |WHERE o_totalprice > (SELECT quantile_cont(o_totalprice, 0.5) FROM orders)
        |GROUP BY o_orderstatus""".stripMargin
  )
}
