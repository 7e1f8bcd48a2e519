package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GraftFunctions.cosine_sim

/** Round-13 similarity addition.
  *
  * `ann_hier_search` — HIERARCHICAL ENTRY for beam graph search, the
  * HNSW upper-layer idea completing ann_graph_search: a degree-bounded
  * UPPER graph over the deterministic subsample `vec_id % m = 0`
  * (m = ⌈√n⌉ — corpus-derived like the centroid count, so the layer
  * holds ~√n nodes at any scale), a GREEDY walk from the fixed min-id
  * upper node to a query-local entry point, then the existing
  * width-8/6-step base beam seeded from that entry point and its base
  * out-neighbors. The eval output compares the hierarchical entry
  * against the centroid (coarse-quantizer) entry baseline at the same
  * base-beam budget: one row per variant with n_hits/recall and the
  * ENTRY cost in cosine evaluations. Probed on the sf0.01 grid before
  * committing constants (the round-9 rule): upper degree 4 / 4 greedy
  * steps hits 5/5 — recall equal to the centroid baseline — at a
  * FIXED entry cost (1 + 4·4 + 6 = 23 cosines) where the centroid
  * entry pays ⌈√n⌉ − 5 (18 at the gate but 118 at 10×, 395 at 100×):
  * the upper layer is what keeps entry cost constant as the corpus
  * grows. Degree 6/8 upper graphs measured WORSE (3/5) — denser upper
  * layers detour the greedy walk on this weakly-clustered corpus;
  * measured, not assumed.
  *
  * Everything replays in the oracle: the shared graph build, the
  * unrolled greedy chain (rn = 1 per step — argmax among the current
  * node ∪ its upper neighbors, ties to the lowest id; a stalled walk
  * is a fixed point so the fixed 4-step unroll equals
  * run-to-convergence), two walkCtes beam chains (prefixes w/h), and
  * integer hit counts into one division.
  *
  * Scale shape: the upper build is |U|² = n cosines (linear), the
  * greedy frame is anchors×1 rows per step, the beams are the audited
  * ann_graph_search loop; localCheckpoint per iterated step (the
  * beam-frontier double-consume discipline).
  */
object SimilarityQueries9 extends QueryModule {

  import SimilarityQueries6.{NAnchors, Beam, Degree, cos, walkCtes}

  private val UpperDeg = 4
  private val GreedySteps = 4

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_hier_search" -> { (s, dir) =>
      import s.implicits._
      val g = SimilarityQueries6.buildGraph(s, dir)
      val mu = math.ceil(math.sqrt(
        Tables.rowCount(s, dir, "embeddings").toDouble)).toLong
      // upper layer: ~√n nodes; consumed by both sides of the upper
      // edge build, the fixed entry and every greedy step
      val upper = g.nodes.filter($"vec_id" % mu === 0)
        .select($"vec_id".as("uid"), $"embedding".as("uv"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val wU = Window.partitionBy($"src").orderBy($"uc".desc, $"dst".asc)
      val uedges = upper.as("x")
        .join(broadcast(upper.select($"uid".as("dst"), $"uv".as("dv"))),
          $"uid" =!= $"dst")
        .select($"uid".as("src"), $"dst", cosine_sim($"uv", $"dv").as("uc"))
        .withColumn("rk", row_number().over(wU))
        .filter($"rk" <= UpperDeg)
        .select($"src", $"dst")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // the greedy walk is a DRIVER LADDER (the ann_diversify
      // contract): inherently sequential (each hop depends on the
      // last), over a BOUNDED working set — upper vectors are ~√n
      // rows (~10⁵ at n=10¹⁰, a few MB) and upper edges |U|·deg rows;
      // a 4-round DataFrame loop measured ~2 s of pure per-step
      // scheduling at 10× for 5-row frames. Arithmetic matches the
      // oracle exactly: strict left-fold cosines (the CosineSim
      // contract), argmax ties to the lowest node id.
      val upperRows = upper.orderBy($"uid").collect()
      val uIds = upperRows.map(_.getLong(0))
      val uVecs = upperRows.map(_.getSeq[Float](1))
      val uIdx = uIds.zipWithIndex.toMap
      val uNbr: Map[Long, Array[Long]] = uedges.collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (srcId, a) => srcId -> a.map(_._2) }
      def strictCos(a: Seq[Float], b: Seq[Float]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) {
          d += a(i).toDouble * b(i).toDouble
          na += a(i).toDouble * a(i).toDouble
          nb += b(i).toDouble * b(i).toDouble
          i += 1
        }
        d / (math.sqrt(na) * math.sqrt(nb))
      }
      val entryId = uIds.head // min uid: collected in ascending order
      val walkEnds = g.anchors.collect().map { r =>
        val qId = r.getLong(0); val qv = r.getSeq[Float](1)
        var node = entryId
        var c = strictCos(qv, uVecs(uIdx(node)))
        for (_ <- 1 to GreedySteps) {
          // argmax of {current} ∪ upper out-neighbors, ties to the
          // LOWEST id (ascending scan with strict >) — a stalled walk
          // is a fixed point
          uNbr.getOrElse(node, Array.empty[Long]).sorted.foreach { nb =>
            val cn = strictCos(qv, uVecs(uIdx(nb)))
            if (cn > c || (cn == c && nb < node)) { c = cn; node = nb }
          }
        }
        (qId, node, c)
      }.toSeq
      val cur = s.createDataFrame(walkEnds).toDF("q_id", "node", "c")
      val wG = Window.partitionBy($"q_id").orderBy($"c".desc, $"node".asc)
      // seed the base beam from the walk's end point + its base
      // out-neighbors (upper ⊆ base nodes, so both are valid)
      val seedNbrs = broadcast(cur).as("f")
        .join(g.edges.as("e"), $"f.node" === $"e.src")
        .join(g.nodes.as("n"), $"e.dst" === $"n.vec_id")
        .join(broadcast(g.anchors).as("a"), $"f.q_id" === $"a.q_id")
        .select($"f.q_id".as("q_id"), $"n.vec_id".as("node"),
          cosine_sim($"a.qv", $"n.embedding").as("c"))
      val seed = cur.unionByName(seedNbrs).distinct()
        .withColumn("__rn", row_number().over(wG))
        .filter($"__rn" <= Beam)
        .select($"q_id", $"node", $"c".as("ncos"))
      // BOTH variants ride one tagged beam loop (the variant key
      // partitions every window), paying the 6 iterative rounds once
      val fin = SimilarityQueries6.beamLoop(s, g,
        seed.select(lit("hier").as("variant"), $"q_id", $"node", $"ncos")
          .unionByName(SimilarityQueries6.centroidEntry(s, g)
            .select(lit("centroid").as("variant"), $"q_id", $"node",
              $"ncos")),
        keys = Seq("variant", "q_id"))
      val exact = exactOf(s, g)
      val centroidCost = g.centroids.filter($"cid" >= NAnchors).count()
      val hierCost = 1L + GreedySteps.toLong * UpperDeg + Degree
      evalRow(s, "centroid",
          fin.filter($"variant" === "centroid"), exact, centroidCost)
        .unionByName(evalRow(s, "hier",
          fin.filter($"variant" === "hier"), exact, hierCost))
    },

    // `ann_ef_curve` — the BEAM-WIDTH recall curve (HNSW's ef-search
    // knob, measured): recall@1 of the ann_graph_search walk at
    // ef ∈ {1, 2, 4, 8} — both the centroid-entry width and the beam
    // width — against the exact top-1, on the same degree-6 graph.
    // Completes the eval family (nprobe_curve = the IVF knob,
    // banding_curve = the LSH knob, hamming_curve = the phash knob;
    // this is the graph knob): a pipeline owner reads it to pick the
    // cheapest ef whose recall is acceptable (this corpus: 2/5, 3/5,
    // 4/5, 5/5 — the textbook monotone trade). All four widths ride
    // ONE tagged beam loop — the per-variant width is an expression
    // over the variant key, so four curves cost one set of iterative
    // rounds; oracle = four width-parameterized walkCtes chains.
    "ann_ef_curve" -> { (s, dir) =>
      import s.implicits._
      val g = SimilarityQueries6.buildGraph(s, dir)
      val wEntry = Window.partitionBy($"q_id").orderBy($"ec".desc, $"cid".asc)
      val ce = g.anchors.crossJoin(broadcast(
          g.centroids.filter($"cid" >= NAnchors)))
        .select($"q_id", $"cid", cosine_sim($"qv", $"cv").as("ec"))
        .withColumn("__rn", row_number().over(wEntry))
        .filter($"__rn" <= Beam)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val frontier0 = Efs.map { ef =>
        ce.filter($"__rn" <= ef)
          .select(lit(ef.toLong).as("ef"), $"q_id",
            $"cid".as("node"), $"ec".as("ncos"))
      }.reduce(_ unionByName _)
      val fin = SimilarityQueries6.beamLoop(s, g, frontier0,
        keys = Seq("ef", "q_id"), width = col("ef"))
      val exact = exactOf(s, g)
      val wB = Window.partitionBy($"ef", $"q_id")
        .orderBy($"ncos".desc, $"node".asc)
      fin.withColumn("__rn", row_number().over(wB)).filter($"__rn" === 1)
        .join(exact, "q_id")
        .groupBy($"ef")
        .agg(count(lit(1)).as("n_queries"),
          sum(when($"node" === $"exact_id", 1L).otherwise(0L)).as("n_hits"))
        .select($"ef", $"n_queries", $"n_hits",
          ($"n_hits".cast("double") / $"n_queries".cast("double"))
            .as("recall"))
    }
  )

  private val Efs = Seq(1, 2, 4, 8)

  /** Exact per-anchor top-1 (shared SimilarityQueries6 kernel),
    * persisted: both variant evals consume it.
    */
  private def exactOf(s: SparkSession,
      g: SimilarityQueries6.GraphParts): DataFrame =
    SimilarityQueries6.exactTop1(s, g)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** One eval row: hits of the final frontier's top-1 against the
    * exact top-1, plus the variant's entry cost in cosine evals.
    */
  private def evalRow(s: SparkSession, name: String, fin: DataFrame,
      exact: DataFrame, entryCost: Long): DataFrame = {
    import s.implicits._
    val wB = Window.partitionBy($"q_id").orderBy($"ncos".desc, $"node".asc)
    fin.withColumn("__rn", row_number().over(wB)).filter($"__rn" === 1)
      .join(exact, "q_id")
      .agg(count(lit(1)).as("n_queries"),
        sum(when($"node" === $"exact_id", 1L).otherwise(0L)).as("n_hits"))
      .select(lit(name).as("entry"), $"n_queries", $"n_hits",
        ($"n_hits".cast("double") / $"n_queries".cast("double")).as("recall"),
        lit(entryCost).as("entry_cost"))
  }

  /** The unrolled greedy walk: g_i = argmax of g_{i-1} ∪ its upper
    * out-neighbors (rn = 1 — the width-1 beam). Each step reads the
    * previous one twice, so every step (and h0 over the last) is
    * MATERIALIZED: DuckDB would otherwise inline the chain and repeat
    * the work 2^steps times, which runs the oracle out of memory.
    */
  private def greedyCtes: String = (1 to GreedySteps).map { i =>
    s"""g$i AS MATERIALIZED (SELECT q_id, node, c FROM (
       |    SELECT q_id, node, c,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY c DESC, node ASC) AS rn
       |    FROM (
       |      SELECT DISTINCT q_id, node, c FROM (
       |        SELECT q_id, node, c FROM g${i - 1}
       |        UNION ALL
       |        SELECT f.q_id, u.uid AS node,
       |          ${cos("a.qv", "u.uv")} AS c
       |        FROM g${i - 1} f
       |        JOIN uedges e ON e.src = f.node
       |        JOIN upper u ON u.uid = e.dst
       |        JOIN a ON a.q_id = f.q_id)))
       |  WHERE rn = 1)""".stripMargin
  }.mkString(",\n")

  val oracles: Map[String, String] = Map(
    "ann_hier_search" ->
      s"""WITH ${SimilarityQueries6.graphCtes(materialized = true)},
         |upper AS MATERIALIZED (SELECT CAST(vec_id AS BIGINT) AS uid, embedding AS uv
         |  FROM nodes
         |  WHERE vec_id % (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT)
         |                  FROM embeddings) = 0),
         |uedges AS MATERIALIZED (SELECT src, dst FROM (
         |    SELECT x.uid AS src, y.uid AS dst,
         |      row_number() OVER (PARTITION BY x.uid
         |        ORDER BY ${cos("x.uv", "y.uv")} DESC, y.uid) AS rk
         |    FROM upper x JOIN upper y ON x.uid != y.uid)
         |  WHERE rk <= $UpperDeg),
         |g0 AS (SELECT a.q_id, u.uid AS node, ${cos("a.qv", "u.uv")} AS c
         |  FROM a CROSS JOIN
         |    (SELECT uid, uv FROM upper
         |     WHERE uid = (SELECT min(uid) FROM upper)) u),
         |$greedyCtes,
         |h0 AS MATERIALIZED (SELECT q_id, node, c FROM (
         |    SELECT q_id, node, c,
         |      row_number() OVER (PARTITION BY q_id
         |        ORDER BY c DESC, node ASC) AS rn
         |    FROM (
         |      SELECT DISTINCT q_id, node, c FROM (
         |        SELECT q_id, node, c FROM g$GreedySteps
         |        UNION ALL
         |        SELECT f.q_id, e.dst AS node,
         |          ${cos("a.qv", "v.embedding")} AS c
         |        FROM g$GreedySteps f
         |        JOIN edges e ON e.src = f.node
         |        JOIN nodes v ON v.vec_id = e.dst
         |        JOIN a ON a.q_id = f.q_id)))
         |  WHERE rn <= $Beam),
         |${walkCtes("h")},
         |w0 AS (SELECT q_id, cid AS node, ec AS c
         |  FROM (SELECT a.q_id, c.cid,
         |      ${cos("a.qv", "c.cv")} AS ec,
         |      row_number() OVER (PARTITION BY a.q_id
         |        ORDER BY ${cos("a.qv", "c.cv")} DESC, c.cid) AS rn
         |    FROM a CROSS JOIN cen c WHERE c.cid >= $NAnchors)
         |  WHERE rn <= $Beam),
         |${walkCtes("w")},
         |exact AS (SELECT q_id, vec_id AS exact_id FROM (
         |    SELECT a.q_id, n.vec_id,
         |      row_number() OVER (PARTITION BY a.q_id
         |        ORDER BY ${cos("n.embedding", "a.qv")} DESC, n.vec_id) AS rn
         |    FROM nodes n CROSS JOIN a)
         |  WHERE rn = 1),
         |finw AS (SELECT q_id, node FROM (
         |    SELECT q_id, node, row_number() OVER (PARTITION BY q_id
         |      ORDER BY c DESC, node ASC) AS rn FROM w${SimilarityQueries6.Steps})
         |  WHERE rn = 1),
         |finh AS (SELECT q_id, node FROM (
         |    SELECT q_id, node, row_number() OVER (PARTITION BY q_id
         |      ORDER BY c DESC, node ASC) AS rn FROM h${SimilarityQueries6.Steps})
         |  WHERE rn = 1)
         |SELECT 'centroid' AS entry,
         |  CAST(count(*) AS BIGINT) AS n_queries,
         |  CAST(sum(CASE WHEN w.node = x.exact_id THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hits,
         |  CAST(sum(CASE WHEN w.node = x.exact_id THEN 1 ELSE 0 END)
         |    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall,
         |  (SELECT CAST(count(*) AS BIGINT) FROM cen
         |   WHERE cid >= $NAnchors) AS entry_cost
         |FROM finw w JOIN exact x ON w.q_id = x.q_id
         |UNION ALL
         |SELECT 'hier' AS entry,
         |  CAST(count(*) AS BIGINT) AS n_queries,
         |  CAST(sum(CASE WHEN h.node = x.exact_id THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hits,
         |  CAST(sum(CASE WHEN h.node = x.exact_id THEN 1 ELSE 0 END)
         |    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall,
         |  CAST(${1 + GreedySteps * UpperDeg + Degree} AS BIGINT)
         |    AS entry_cost
         |FROM finh h JOIN exact x ON h.q_id = x.q_id""".stripMargin,

    // the shared graph CTEs + one ranked-entry CTE + four
    // width-parameterized walk chains
    "ann_ef_curve" -> {
      val chains = Efs.map { ef =>
        s"""e${ef}_0 AS (SELECT q_id, cid AS node, ec AS c FROM ce
           |  WHERE rn <= $ef),
           |${walkCtes(s"e${ef}_", ef)}""".stripMargin
      }.mkString(",\n")
      val evals = Efs.map { ef =>
        s"""SELECT CAST($ef AS BIGINT) AS ef,
           |  CAST(count(*) AS BIGINT) AS n_queries,
           |  CAST(sum(CASE WHEN w.node = x.exact_id THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_hits,
           |  CAST(sum(CASE WHEN w.node = x.exact_id THEN 1 ELSE 0 END)
           |    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
           |FROM (SELECT q_id, node FROM (
           |    SELECT q_id, node, row_number() OVER (PARTITION BY q_id
           |      ORDER BY c DESC, node ASC) AS rn
           |    FROM e${ef}_${SimilarityQueries6.Steps})
           |  WHERE rn = 1) w
           |JOIN exact x ON w.q_id = x.q_id""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH ${SimilarityQueries6.graphCtes(materialized = true)},
         |ce AS MATERIALIZED (SELECT q_id, cid, ec, rn FROM (
         |    SELECT a.q_id, c.cid, ${cos("a.qv", "c.cv")} AS ec,
         |      row_number() OVER (PARTITION BY a.q_id
         |        ORDER BY ${cos("a.qv", "c.cv")} DESC, c.cid) AS rn
         |    FROM a CROSS JOIN cen c WHERE c.cid >= $NAnchors)
         |  WHERE rn <= ${SimilarityQueries6.Beam}),
         |$chains,
         |exact AS (SELECT q_id, vec_id AS exact_id FROM (
         |    SELECT a.q_id, n.vec_id,
         |      row_number() OVER (PARTITION BY a.q_id
         |        ORDER BY ${cos("n.embedding", "a.qv")} DESC, n.vec_id) AS rn
         |    FROM nodes n CROSS JOIN a)
         |  WHERE rn = 1)
         |$evals""".stripMargin
    }
  )
}
