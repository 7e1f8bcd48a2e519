package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-19 relational additions.
  *
  * `q136_assortativity` — DEGREE ASSORTATIVITY of the co-trade graph
  * (Newman's r: the Pearson correlation of endpoint degrees over
  * edges): the one-number answer to "do hubs trade with hubs or with
  * the periphery?" — disassortative graphs (r < 0) bottleneck flow
  * through hub–leaf stars, which is what decides whether the q90/q126
  * broadcast-round plans see balanced or skewed frontiers. Exact
  * discipline (the q34/q125 family): per-edge endpoint degrees are
  * exact BIGINTs from one degree rollup of the SHARED
  * GraphEdges.cotradePairs artifact; the five moment sums fold as
  * exact integers (Σd_src, Σd_dst, Σd_src·d_dst, Σd_src², Σd_dst² —
  * the committed envelope is Σdeg² over edges < 2^63, loud overflow
  * on both engines past it); r is ONE fixed double tree over the
  * CASTS of those exact sums — n·sxx would overflow BIGINT (the χ²
  * rule: exact-integer SUMS, double for the fixed arithmetic tree) —
  * with the degenerate-variance guard nulling instead of tripping
  * ANSI division (the q105 class). Output also carries n_edges
  * (directed: both orientations — the standard convention, making r
  * symmetric) and the two mean degrees.
  *
  * Scale shape: degrees = one partial-agg groupBy on the
  * degree-bounded edge artifact; the per-edge degree attach is two
  * broadcast-able |V|-row joins against the |E|-row frame; one global
  * aggregate — scan-linear in |E|, and |E| is scale-invariant under
  * replication (the graph-family fact), so this rides the artifact
  * for free.
  */
object RelationalQueries23 extends QueryModule {

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q136_assortativity" -> { (s, dir) =>
      import s.implicits._
      val cs = GraphEdges.cotradePairs(s, dir).select($"src", $"dst")
      // directed edge list = both orientations (r symmetric)
      val edges = cs.union(cs.select($"dst".as("src"), $"src".as("dst")))
      val deg = edges.groupBy($"src".as("node"))
        .agg(count(lit(1)).as("deg"))
      val withDeg = edges
        .join(deg.select($"node".as("src"), $"deg".as("ds")), "src")
        .join(deg.select($"node".as("dst"), $"deg".as("dt")), "dst")
      withDeg.agg(
          count(lit(1)).as("n_edges"),
          sum($"ds").as("sx"), sum($"dt").as("sy"),
          sum($"ds" * $"dt").as("sxy"),
          sum($"ds" * $"ds").as("sxx"),
          sum($"dt" * $"dt").as("syy"))
        .select($"n_edges", $"sx", $"sy", $"sxy", $"sxx", $"syy",
          $"n_edges".cast("double").as("nd"),
          $"sx".cast("double").as("sxd"), $"sy".cast("double").as("syd"),
          $"sxy".cast("double").as("sxyd"),
          $"sxx".cast("double").as("sxxd"),
          $"syy".cast("double").as("syyd"))
        .select($"n_edges",
          ($"sxd" / $"nd").as("mean_deg_src"),
          ($"syd" / $"nd").as("mean_deg_dst"),
          when(($"nd" * $"sxxd" - $"sxd" * $"sxd") > 0.0 &&
               ($"nd" * $"syyd" - $"syd" * $"syd") > 0.0,
            ($"nd" * $"sxyd" - $"sxd" * $"syd") /
              (sqrt($"nd" * $"sxxd" - $"sxd" * $"sxd") *
               sqrt($"nd" * $"syyd" - $"syd" * $"syd")))
            .as("assortativity"))
    }
  )

  val oracles: Map[String, String] = Map(
    // the same exact-integer moment sums over the same directed edge
    // list; r's double tree is textually identical (sqrt is
    // correctly-rounded IEEE on both engines)
    "q136_assortativity" ->
      """WITH cs AS (SELECT CAST(o_custkey * 2 AS BIGINT) AS src,
        |    CAST(l_suppkey * 2 + 1 AS BIGINT) AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  GROUP BY 1, 2),
        |e AS (SELECT src, dst FROM cs
        |      UNION ALL SELECT dst AS src, src AS dst FROM cs),
        |d AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
        |  FROM e GROUP BY src),
        |wd AS (SELECT ds.deg AS ds, dt.deg AS dt
        |  FROM e JOIN d ds ON e.src = ds.node
        |         JOIN d dt ON e.dst = dt.node),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n_edges,
        |    CAST(sum(ds) AS BIGINT) AS sx, CAST(sum(dt) AS BIGINT) AS sy,
        |    CAST(sum(ds * dt) AS BIGINT) AS sxy,
        |    CAST(sum(ds * ds) AS BIGINT) AS sxx,
        |    CAST(sum(dt * dt) AS BIGINT) AS syy
        |  FROM wd),
        |md AS (SELECT n_edges,
        |    CAST(n_edges AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
        |    CAST(sy AS DOUBLE) AS syd, CAST(sxy AS DOUBLE) AS sxyd,
        |    CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd
        |  FROM m)
        |SELECT n_edges,
        |  sxd / nd AS mean_deg_src,
        |  syd / nd AS mean_deg_dst,
        |  CASE WHEN (nd * sxxd - sxd * sxd) > 0.0
        |        AND (nd * syyd - syd * syd) > 0.0
        |    THEN (nd * sxyd - sxd * syd)
        |      / (sqrt(nd * sxxd - sxd * sxd)
        |         * sqrt(nd * syyd - syd * syd))
        |  END AS assortativity
        |FROM md""".stripMargin
  )
}
