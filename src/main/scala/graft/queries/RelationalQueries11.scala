package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.GraphRounds.{Keep, loop, undirected}

/** Graph centrality (SURVEY.md §2.1, round 6): PageRank over the
  * customer↔supplier interaction graph (an edge per distinct
  * (customer, supplier) trading pair via orders⋈lineitem, both
  * directions), 3 unrolled iterations, damping 0.85.
  *
  * The whole computation is INTEGER FIXED-POINT: ranks live in
  * micro-units (start 1,000,000), each edge contributes `rank div
  * out_degree` (BIGINT truncating division — identical to DuckDB `//`
  * on non-negative operands), and damping is `150000 + (85·s) div
  * 100`. Float PageRank is NOT cross-engine reproducible (the
  * per-node contribution sum order differs between engines and float
  * addition is non-associative); integer sums are order-independent,
  * so every rank is bit-exact by construction — the same trick as the
  * repo's integer-priority sampling.
  *
  * Scale shape: the edge list is built once, PRE-PARTITIONED on src,
  * and persisted; the degree rides inside the rank frame (node, deg,
  * rank — persisted once as `nd`), so each iteration is: a row-local
  * `rank div deg` projection, an exchange-free equi-join against the
  * co-partitioned edges (the rank frame arrives hash(node)-partitioned
  * from the previous round's join and node==src here, so Spark reuses
  * the layout), and ONE shuffle — the partial-aggregated groupBy on
  * dst. The naive form (separate deg/nodes frames re-derived and
  * re-joined per round) measured 5.4s at sf0.1 vs 2.5s for this one,
  * and the 10× probe reads 3.3s — the round cost is scheduling, not
  * data, exactly as an iterative plan should look at small scale.
  * No driver-side graph, no windows. 3 iterations is the fixed-depth
  * contract (the latency knob on cyclic plans — see q70's scaladoc).
  */
object RelationalQueries11 extends QueryModule {

  /** q92's 4-round k-core peel of an edge frame (both orientations
    * present): each round recomputes degrees, keeps nodes with
    * deg >= k, and semi-joins the edges down to surviving endpoints.
    * The |V|-bounded survivor set (≤20k longs ≪ |E|) is a broadcast
    * round side ([[graft.operators.GraphRounds]]): the semi joins
    * preserve the edge frame's src partitioning so no round
    * re-exchanges it. Survivors persist (two
    * sides read them) but are NOT checkpointed: a persist costs no plan
    * compile. Constraint propagation is off while the rounds build
    * (checkpointed constraints go stale — the Dedup CC loop rule).
    * Returns the surviving edges.
    */
  def kcore(edges: DataFrame, k: Int): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val cpKey = "spark.sql.constraintPropagation.enabled"
    val cpPrev = s.conf.get(cpKey)
    s.conf.set(cpKey, "false")
    try {
      val e0 = edges.repartition($"src").localCheckpoint(eager = false)
      loop(e0, 4, Keep.TruncateEveryOther) { (e, _) =>
        val keep = e.groupBy($"src").agg(count(lit(1)).as("deg"))
          .filter($"deg" >= k).select($"src".as("node")).persist()
        def survivors(c: String) = broadcast(keep.select($"node".as(c)))
        e.join(survivors("src"), Seq("src"), "left_semi")
          .join(survivors("dst"), Seq("dst"), "left_semi")
      }.last
    } finally s.conf.set(cpKey, cpPrev)
  }

  /** q90's 3 PageRank rounds over a one-orientation pair frame:
    * (node, deg, rank) for every node. The edge list is persisted
    * partitioned on DST (the q93 shape): each round takes the
    * |V|-bounded rank frame as a broadcast round side
    * ([[graft.operators.GraphRounds]]; broadcast preserves the dst
    * partitioning), so the round's dst-keyed contribution sum runs
    * exchange-free against the cached layout at runtime (AQE re-checks
    * requirements per stage once the cache materializes) — no per-round
    * exchange of the edge list at all. The round-6 SHUFFLE_HASH form
    * (src-partitioned edges, shuffled node sides) measured 2.5s at
    * sf0.1; this one 1.85s.
    */
  def pagerank(pairs: DataFrame): DataFrame = {
    val edges = undirected(pairs, "dst").persist()
    val nd = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg"))
      .persist() // one row per node; the join-back target each round
    val r0 = nd.select(col("node"), col("deg"), lit(1000000L).as("rank"))
    // the join back onto nd takes the |V|-bounded contributions as a
    // round side too
    (1 to 3).foldLeft(r0) { (rank, _) =>
      val contrib = edges.join(broadcast(rank.select(col("node").as("src"),
          expr("rank div deg").as("c"))), "src")
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      nd.join(broadcast(contrib.withColumnRenamed("dst", "node")),
          Seq("node"), "left")
        .select(col("node"), col("deg"), (lit(150000L) +
          expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100")).as("rank"))
    }
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q90_pagerank" -> { (s, dir) =>
      import s.implicits._
      // node ids: customers on even, suppliers on odd — one BIGINT
      // namespace, no string tags to shuffle; the distinct-pair scan
      // is the shared GraphEdges.cotradePairs artifact (round 19)
      pagerank(GraphEdges.cotradePairs(s, dir).select($"src", $"dst"))
        .select($"node", ($"node" % 2).as("ntype"), $"rank")
        .orderBy($"rank".desc, $"node".asc).limit(50)
    },

    // Single-source shortest path (weighted) — 4 unrolled Bellman-Ford
    // relaxations from customer 1 (node 2) over the same even/odd
    // trade graph, edge length 1000000 div (pair trade count + 1):
    // heavily-trading pairs are "close". All-integer: lengths are
    // BIGINT micro-units (non-negative truncating div == DuckDB //),
    // and each round's `min` is order-independent, so the distance
    // frontier is bit-exact replayable. Scale shape mirrors q90: the
    // edge relation is built once, partitioned on DST (the min's
    // grouping key) and persisted; a round joins the |V|-bounded
    // frontier as a broadcast round side + one partial-aggregated
    // min-groupBy — the frontier frame never exceeds |V| rows, and 4
    // rounds is the fixed-depth contract (BFS diameter knob, same as
    // q70/q90). Broadcasting the frontier against src-partitioned
    // edges ran 19 Spark jobs a pass at sf0.1 against 16 for the old
    // SHUFFLE_HASH form; dst partitioning brings it back to 16.
    //
    // Unlike q90, each round consumes the previous frontier TWICE
    // (the keep-current union branch and the relax-join branch) — a
    // Bellman-Ford structural fact, not a plan choice: the loop keeps
    // each frontier persisted (GraphRounds.Keep.ReadTwice).
    "q91_shortest_path" -> { (s, dir) =>
      import s.implicits._
      // shared co-trade scan (round 19); the weight derives from the
      // artifact's exact trade count
      val cs = GraphEdges.cotradePairs(s, dir)
        .select($"src", $"dst", expr("1000000 div (cnt + 1)").as("w"))
      val edges = undirected(cs, "dst").persist()
      val d0 = Seq((2L, 0L)).toDF("node", "dist")
      val dFinal = loop(d0, 4, Keep.ReadTwice) { (d, _) =>
        val relaxed = edges
          .join(broadcast(d.select($"node".as("src"), $"dist")), "src")
          .select($"dst".as("node"), ($"dist" + $"w").as("dist"))
        d.union(relaxed)
          .groupBy($"node").agg(min($"dist").as("dist"))
      }.last
      dFinal
        .select($"node", ($"node" % 2).as("ntype"), $"dist")
        .orderBy($"dist".asc, $"node".asc).limit(100)
    },

    // k-core decomposition (4 unrolled peeling rounds, K = 90) over
    // the part co-order graph — parts sharing an order connect; the
    // dense-subgraph / community-detection primitive. The threshold
    // sits at the graph's cascade point (probed: survivor counts
    // 2000 → 1745 → 1534 → 1221 → 527 at sf0.01), so every round does
    // real peeling — each removal lowers neighbors' degrees below K in
    // turn. All-integer (degrees and counts), so parity is exact by
    // construction. Scale shape, iterated to the fast form (11.8s →
    // 3.3s at sf0.1):
    //  - edge build: per-order collect_set (ONE partial-agg shuffle of
    //    orders, never an O(rows²) self-join sort) + row-local ordered
    //    pair explode (orders hold ≤17 parts), repartition(src), then
    //    an EXCHANGE-FREE (src,dst) dedup — hash partitioning on src
    //    alone satisfies clustering on (src,dst);
    //  - a round = one degree partial-agg + two LEFT SEMI joins against
    //    the |V|-bounded survivor set, a round side (kcore; the
    //    SHUFFLE_HASH form re-shuffled the edge frame three times per
    //    round: 11.8s);
    //  - lineage: a lazy localCheckpoint every OTHER round
    //    (GraphRounds.Keep.TruncateEveryOther) keeps the plan
    //    constant-size.
    // The bipartite customer-supplier graph was probed and REJECTED
    // for this query: its 100 never-peeling high-degree suppliers pin
    // every customer degree, so peeling converges after one round at
    // any threshold.
    "q92_kcore" -> { (s, dir) =>
      import s.implicits._
      // edge build: the shared co-order scan artifact (round 19 —
      // GraphEdges.coorderPairs, which keeps the round-7 SHUFFLE_HASH
      // self-join + exchange-free dedup inside the build); the peel
      // loop starts from the parquet leaf laid out on src
      kcore(GraphEdges.coorderPairs(s, dir), k = 90)
        .groupBy($"src").agg(count(lit(1)).as("deg"))
        .select($"src".as("node"), $"deg")
        .orderBy($"deg".desc, $"node".asc).limit(100)
    }
  )

  val oracles: Map[String, String] = Map(
    "q90_pagerank" -> {
      def iter(prev: String, cur: String) =
        s"""c$cur AS (
           |  SELECT e.dst AS node, CAST(sum(r.rank // d.deg) AS BIGINT) AS s
           |  FROM e JOIN $prev r ON e.src = r.node
           |  JOIN deg d ON e.src = d.src GROUP BY e.dst),
           |r$cur AS (
           |  SELECT n.node,
           |    CAST(150000 + (85 * coalesce(c.s, 0)) // 100 AS BIGINT) AS rank
           |  FROM n LEFT JOIN c$cur c ON n.node = c.node)""".stripMargin
      s"""WITH e0 AS (
         |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e AS (SELECT src, dst FROM e0
         |      UNION ALL SELECT dst AS src, src AS dst FROM e0),
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
         |        FROM e GROUP BY src),
         |n AS (SELECT DISTINCT src AS node FROM e),
         |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM n),
         |${iter("r0", "1")},
         |${iter("r1", "2")},
         |${iter("r2", "3")}
         |SELECT node, node % 2 AS ntype, rank FROM r3
         |ORDER BY rank DESC, node ASC LIMIT 50""".stripMargin
    },

    "q91_shortest_path" -> {
      def relax(j: Int) =
        s"""d$j AS (
           |  SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
           |    SELECT node, dist FROM d${j - 1}
           |    UNION ALL
           |    SELECT e.dst AS node, d.dist + e.w AS dist
           |    FROM d${j - 1} d JOIN e ON d.node = e.src) GROUP BY node)""".stripMargin
      s"""WITH e0 AS (
         |  SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  GROUP BY src, dst),
         |ew AS (SELECT src, dst, CAST(1000000 // (cnt + 1) AS BIGINT) AS w FROM e0),
         |e AS (SELECT src, dst, w FROM ew
         |      UNION ALL SELECT dst AS src, src AS dst, w FROM ew),
         |d0 AS (SELECT CAST(2 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist),
         |${(1 to 4).map(relax).mkString(",\n")}
         |SELECT node, node % 2 AS ntype, dist FROM d4
         |ORDER BY dist ASC, node ASC LIMIT 100""".stripMargin
    },

    "q92_kcore" -> {
      def peel(j: Int) =
        s"""k$j AS (SELECT src AS node FROM e${j - 1}
           |  GROUP BY src HAVING count(*) >= 90),
           |e$j AS (SELECT e.src, e.dst FROM e${j - 1} e
           |  JOIN k$j a ON e.src = a.node
           |  JOIN k$j b ON e.dst = b.node)""".stripMargin
      s"""WITH e0x AS (
         |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
         |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
         |  WHERE a.l_partkey < b.l_partkey),
         |e0 AS (SELECT src, dst FROM e0x
         |       UNION ALL SELECT dst AS src, src AS dst FROM e0x),
         |${(1 to 4).map(peel).mkString(",\n")},
         |f AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
         |      FROM e4 GROUP BY src)
         |SELECT node, deg FROM f
         |ORDER BY deg DESC, node ASC LIMIT 100""".stripMargin
    }
  )
}
