package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Third relational wave (SURVEY.md §2.2): RANGE window frames,
  * GROUPING SETS, ordered array aggregation, JSON extraction.
  */
object RelationalQueries3 extends QueryModule {

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // value-range window frame: orders within a 10k price band below
    // each order, per customer (peers included -> tie-order independent)
    "q27_range_frame" -> { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice")
        .rangeBetween(-10000L, Window.currentRow)
      Tables.load(s, dir, "orders")
        .withColumn("n_in_band", count(lit(1)).over(w))
        .select($"o_custkey", $"o_orderkey", $"o_totalprice", $"n_in_band")
    },

    "q28_grouping_sets" -> { (s, dir) =>
      Tables.load(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(
        """SELECT l_returnflag, l_linestatus,
          |  CAST(grouping(l_returnflag) AS INT) AS gf,
          |  CAST(grouping(l_linestatus) AS INT) AS gs,
          |  sum(l_quantity) AS sum_qty, count(*) AS n
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
          |  (l_returnflag, l_linestatus))""".stripMargin)
    },

    "q29_array_agg" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "orders")
        .groupBy($"o_orderstatus")
        .agg(
          array_join(sort_array(collect_set($"o_orderpriority")), ",")
            .as("priorities"),
          count(lit(1)).as("n"))
    },

    "q30_json" -> { (s, dir) =>
      import s.implicits._
      Tables.events(s, dir)
        .withColumn("k", get_json_object($"props", "$.k").cast("int"))
        .groupBy($"event_type")
        .agg(sum($"k").as("sum_k"), min($"k").as("min_k"),
          max($"k").as("max_k"), count($"k").as("n_k"))
    },

    // correlated per-group threshold (TPC-H Q17 pattern): lineitems with
    // quantity below 50% of their part's average — expressed as a window
    // (one shuffle) instead of a correlated subquery per row
    "q31_correlated" -> { (s, dir) =>
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window.partitionBy($"l_partkey")
      Tables.load(s, dir, "lineitem")
        .withColumn("part_avg",
          sum($"l_quantity").over(w) / count(lit(1)).over(w))
        .filter($"l_quantity" < $"part_avg" * 0.5)
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n_small"), sum($"l_quantity").as("qty_small"))
    },

    "q32_having" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "orders")
        .groupBy($"o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum($"o_totalprice".cast(org.apache.spark.sql.types.DecimalType(15, 2)))
            .cast("double").as("total_spent"))
        .filter($"n_orders" >= 15)
    },

    // fixed-width histogram: integer bucket arithmetic, engine-portable
    "q33_histogram" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "orders")
        .withColumn("bucket", floor($"o_totalprice" / 50000.0))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n"),
          min($"o_totalprice").as("lo"), max($"o_totalprice").as("hi"))
    },

    // correlation from exact decimal moments: sums are exact and
    // order-independent; they are rounded to integers BEFORE the double
    // cast because a 20-digit decimal exceeds double precision and the
    // two engines round that cast differently in the last ulp. Integer
    // moments < 2^53 cast exactly, so the final formula is bit-identical.
    // Valid while sum(price^2) < 9e15, i.e. up to ~sf1 of this corpus;
    // beyond that, shift the scale down (divide rows by a constant).
    "q34_corr" -> { (s, dir) =>
      import s.implicits._
      val d = org.apache.spark.sql.types.DecimalType(18, 4)
      def m(c: org.apache.spark.sql.Column) = round(sum(c), 0).cast("double")
      Tables.load(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(
          count(lit(1)).cast("double").as("n"),
          m($"l_quantity".cast(d)).as("sx"),
          m($"l_extendedprice".cast(d)).as("sy"),
          m($"l_quantity".cast(d) * $"l_quantity".cast(d)).as("sxx"),
          m($"l_extendedprice".cast(d) * $"l_extendedprice".cast(d)).as("syy"),
          m($"l_quantity".cast(d) * $"l_extendedprice".cast(d)).as("sxy"))
        .withColumn("corr_qty_price",
          (col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
           sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
        .select($"l_returnflag", $"n", $"corr_qty_price")
    }
  )

  val oracles: Map[String, String] = Map(
    "q27_range_frame" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
        |    RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS n_in_band
        |FROM orders""".stripMargin,

    "q28_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag) AS INT) AS gf,
        |  CAST(grouping(l_linestatus) AS INT) AS gs,
        |  sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
        |  (l_returnflag, l_linestatus))""".stripMargin,

    "q29_array_agg" ->
      """SELECT o_orderstatus,
        |  string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority)
        |    AS priorities,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    "q30_json" ->
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        |  min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k,
        |  count(CAST(json_extract_string(props, '$.k') AS INT)) AS n_k
        |FROM events GROUP BY event_type""".stripMargin,

    "q31_correlated" ->
      """WITH a AS (SELECT l_returnflag, l_quantity,
        |  sum(l_quantity) OVER (PARTITION BY l_partkey)
        |    / count(*) OVER (PARTITION BY l_partkey) AS part_avg
        |  FROM lineitem)
        |SELECT l_returnflag, count(*) AS n_small,
        |  sum(l_quantity) AS qty_small
        |FROM a WHERE l_quantity < part_avg * 0.5
        |GROUP BY l_returnflag""".stripMargin,

    "q32_having" ->
      """SELECT o_custkey, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS total_spent
        |FROM orders GROUP BY o_custkey HAVING count(*) >= 15""".stripMargin,

    "q33_histogram" ->
      """SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket,
        |  count(*) AS n, min(o_totalprice) AS lo, max(o_totalprice) AS hi
        |FROM orders GROUP BY 1""".stripMargin,

    "q34_corr" ->
      // oracle uses DECIMAL(19,4): >18 digits forces DuckDB onto int128
      // storage for the products (int64 sums overflow); both engines stay
      // exact, so the derived doubles are identical
      """WITH m AS (SELECT l_returnflag,
        |  CAST(count(*) AS DOUBLE) AS n,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(19,4))), 0) AS DOUBLE) AS sx,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(19,4))), 0) AS DOUBLE) AS sy,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_quantity AS DECIMAL(19,4))), 0) AS DOUBLE) AS sxx,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))), 0) AS DOUBLE) AS syy,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))), 0) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  (n * sxy - sx * sy) /
        |  (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_qty_price
        |FROM m""".stripMargin
  )
}
