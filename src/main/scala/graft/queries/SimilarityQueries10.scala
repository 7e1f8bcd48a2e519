package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GraftFunctions._
import graft.operators.Clustering

/** `ann_graph_trained` (round 16 — VERDICT r13 task 3, carried twice):
  * does TRAINING the coarse quantizer buy graph-search recall? The
  * committed graph family builds its k-NN graph from DETERMINISTIC
  * seed centroids (the first ⌈√n⌉ corpus vectors); at 100 TB the
  * documented swap is Similarity.ivfFit (k-means). This query GATES
  * that swap: two graphs built by the identical rule — cells from
  * integer squared-L2 to ⌈√n⌉ centroids (store 1 / probe 2), top-6
  * cosine edges among cell-mates — differing ONLY in centroid
  * positions (SEED = the raw first-⌈√n⌉ vectors; TRAINED = 3
  * deterministic Lloyd rounds from those same seeds, the
  * ann_ivfpq_trained round count), then ONE variant-tagged beam loop
  * at equal budget (width 8 × 6 steps, identical entry rule: top-8
  * cells by anchor d2, entry node = each cell's MEDOID — the stored
  * member nearest its centroid; min-id entry measured 1-2 recall
  * points worse for both variants) and recall@1 against the exact
  * cosine top-1, side by side — the ann_ivfpq_trained reporting shape
  * applied to the graph build.
  *
  * MEASURED VERDICT (sf0.1, 5 anchors): seed 5/5, trained 3/5 — both
  * variants occupy every cell at full degree; Lloyd repositioning
  * does NOT improve beam recall on this corpus, so the committed
  * graph family KEEPS the deterministic seed build (the swap is now
  * gated evidence, not an open question; re-run the ablation before
  * swapping on a different corpus).
  *
  * Replay discipline (the ann_ivfpq_trained fixed-point contract):
  * coordinates quantize to non-negative integers floor((x+1)·10⁶);
  * every cell assignment is an exact integer Σ(a−b)² with argmin ties
  * to the lowest cid; centroid updates are truncating integer means
  * (sum DIV count — non-negative, Spark DIV == DuckDB //); empty
  * cells keep their prior centroid; both Lloyd rounds unroll as CTE
  * blocks. Edge scores, entry cosines and the walk are the committed
  * strict-fold cosine machinery (graphCtes/walkCtes' discipline) —
  * bit-identical on both engines. Overflow: d2 ≤ 64·(2·10⁶)² ≈
  * 2.6·10¹⁴ ≪ 2⁶³; per-dim sums ≤ 2·10⁶·n (asserted by both engines
  * throwing on overflow).
  *
  * Scale shape — the n^1.5 build capstone, explicitly: each Lloyd
  * round and each graph build is one n×⌈√n⌉ broadcast cross join
  * (candidate volume 2n^1.5 — the ann_knn_graph shape; at 100 TB the
  * TRAINING pass runs on a sample per the FAISS practice, while
  * assignment stays n^1.5 by construction). Both variants share one
  * beam loop (variant-keyed edges — the r13 tagged-loop discipline),
  * so the iterative rounds' scheduling latency is paid once.
  */
object SimilarityQueries10 extends QueryModule {

  import SimilarityQueries6.{NAnchors, Beam, Steps, Degree}

  private val Iters = 3
  private val Dim = 64

  private def d2sql(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, ${Dim + 1}),
       | gi -> ($a[CAST(gi AS INT)] - $b[CAST(gi AS INT)])
       |   * ($a[CAST(gi AS INT)] - $b[CAST(gi AS INT)])),
       | (gx, gy) -> gx + gy)""".stripMargin

  private def lloydSql(j: Int): String =
    s"""ag$j AS (SELECT vec_id, cid FROM (
       |    SELECT n.vec_id, c.cid, row_number() OVER (PARTITION BY n.vec_id
       |      ORDER BY ${d2sql("n.qv", "c.cv")} ASC, c.cid ASC) AS rn
       |    FROM nodes n CROSS JOIN cen${j - 1} c) WHERE rn = 1),
       |up$j AS (SELECT g.cid, t.gd AS d,
       |    CAST(CAST(sum(n.qv[CAST(t.gd AS INT)]) AS BIGINT) // count(*)
       |      AS BIGINT) AS m
       |  FROM ag$j g JOIN nodes n USING (vec_id), range(1, ${Dim + 1}) t(gd)
       |  GROUP BY g.cid, t.gd),
       |cen$j AS MATERIALIZED (SELECT s.cid, coalesce(u.ucv, s.cv) AS cv
       |  FROM cen${j - 1} s LEFT JOIN (SELECT cid, list(m ORDER BY d) AS ucv
       |    FROM up$j GROUP BY cid) u USING (cid))""".stripMargin

  /** Graph build + entry frontier for one centroid set, SQL face. */
  private def variantSql(tag: String, cen: String): String = {
    val cosq = SimilarityQueries6.cos("p.pv", "s.nv")
    val cose = SimilarityQueries6.cos("aa.qv", "v.embedding")
    s"""rk$tag AS (SELECT vec_id, embedding, cid, d2,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY d2 ASC, cid ASC) AS crk
       |  FROM (SELECT n.vec_id, n.embedding, c.cid,
       |      ${d2sql("n.qv", "c.cv")} AS d2
       |    FROM nodes n CROSS JOIN $cen c)),
       |st$tag AS MATERIALIZED (SELECT vec_id AS nbr_id, embedding AS nv,
       |    cid, d2
       |  FROM rk$tag WHERE crk = 1),
       |md$tag AS (SELECT cid, nbr_id AS node FROM (
       |    SELECT cid, nbr_id, row_number() OVER (PARTITION BY cid
       |      ORDER BY d2 ASC, nbr_id ASC) AS mrk FROM st$tag)
       |  WHERE mrk = 1),
       |ed$tag AS MATERIALIZED (SELECT src, dst FROM (
       |    SELECT p.vec_id AS src, s.nbr_id AS dst,
       |      row_number() OVER (PARTITION BY p.vec_id
       |        ORDER BY $cosq DESC, s.nbr_id) AS rk
       |    FROM (SELECT vec_id, embedding AS pv, cid
       |          FROM rk$tag WHERE crk <= 2) p
       |    JOIN st$tag s USING (cid)
       |    WHERE p.vec_id != s.nbr_id)
       |  WHERE rk <= $Degree),
       |w${tag}0 AS (SELECT DISTINCT q_id, node, c FROM (
       |    SELECT ce.q_id, m.node, $cose AS c
       |    FROM (SELECT q_id, cid FROM (
       |        SELECT a.q_id, c.cid, row_number() OVER (PARTITION BY a.q_id
       |          ORDER BY ${d2sql("a.aq", "c.cv")} ASC, c.cid ASC) AS rn
       |        FROM a CROSS JOIN $cen c) WHERE rn <= $Beam) ce
       |    JOIN md$tag m USING (cid)
       |    JOIN nodes v ON v.vec_id = m.node
       |    JOIN a aa ON aa.q_id = ce.q_id))""".stripMargin
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_graph_trained" -> { (s, dir) =>
      import s.implicits._
      val kc = math.ceil(math.sqrt(
        Tables.rowCount(s, dir, "embeddings").toDouble)).toLong
      val pts = Tables.load(s, dir, "embeddings")
        .select($"vec_id", $"embedding",
          Clustering.quantize($"embedding").as("qv"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nodes = pts.filter($"vec_id" >= NAnchors)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val anchors = pts.filter($"vec_id" < NAnchors)
        .select($"vec_id".as("q_id"), $"embedding".as("qv"),
          $"qv".as("aq"))
      val seedCen = pts.filter($"vec_id" < kc)
        .select($"vec_id".cast("long").as("cid"), $"qv".as("cv"))
      // The whole index build (Lloyd training + both variant graphs +
      // per-cell medoids) is a deterministic pure function of the
      // embeddings table with exact-typed outputs (longs, strings,
      // bigint arrays — parquet round-trips bit-exactly), so it lands
      // in a session artifact (round 18, VERDICT r17 task 5): the
      // 62.1 s 100× build runs once per (dir) per session; re-runs
      // pay the walk + eval only.
      val partsPath = graft.GraftSession.pinnedArtifact(
        s, "graph_trained_parts", dir, Seq(
          "kind" -> "graph_trained_parts",
          "degree" -> Degree.toString, "nprobe" -> "2",
          "minNodeId" -> NAnchors.toString,
          "lloydIters" -> Iters.toString, "quantDim" -> Dim.toString,
          "centroidsSeed" -> s"first_${kc}_by_id")) { base =>
      // 3 Lloyd rounds over the node set: primary-cell assignment by
      // integer d2 (ties to lowest cid), truncating-integer-mean
      // update, empty cells keep their centroid. kc-bounded result is
      // checkpointed once (it feeds the rank join, the entry and the
      // oracle-equivalent reuse below).
      val trainedCen = (1 to Iters).foldLeft(seedCen) { (prev, _) =>
        // argmin as a map-side partial min(struct(d2, cid)) — the
        // n×⌈√n⌉ cross join pre-combines BEFORE the exchange, so the
        // shuffle carries one narrow row per vector instead of every
        // candidate with its 512-byte qv payload (the semanticDedupFold
        // narrow-group-key discipline); qv joins back by id for the
        // mean only
        val asg = nodes.crossJoin(broadcast(prev))
          .select($"vec_id", $"cid", Clustering.sqDist($"qv", $"cv").as("d2"))
          .groupBy($"vec_id").agg(min(struct($"d2", $"cid")).as("m"))
          .select($"vec_id", $"m.cid".as("cid"))
          .join(nodes.select($"vec_id", $"qv"), "vec_id")
        val sums = asg.groupBy($"cid").agg(
          expr("CAST(sum(element_at(qv, 1)) DIV count(1) AS BIGINT)")
            .as("q1"),
          (2 to Dim).map(i =>
            expr(s"CAST(sum(element_at(qv, $i)) DIV count(1) AS BIGINT)")
              .as(s"q$i")): _*)
        val upd = sums.select($"cid",
          array((1 to Dim).map(i => col(s"q$i")): _*).as("ucv"))
        // eager per-round checkpoint: round k's broadcast otherwise
        // nests every prior round's plan and re-runs their cross
        // joins (1+2+3 scans for 3 rounds); the frame is kc-bounded.
        // Fixed-stats form (the round-14 pinned rule): `prev` is
        // joined twice per round (assignment cross join + update left
        // join), the exact inherited-stats squaring shape
        // freshStatsCheckpoint exists for — harmless at 3 rounds with
        // explicit broadcast hints, but the discipline is unconditional
        org.apache.spark.sql.graftshim.Shim.freshStatsCheckpoint(
          prev.join(upd, Seq("cid"), "left")
            .select($"cid", coalesce($"ucv", $"cv").as("cv")))
      }
      // identical build rule for both variants — only centroid
      // POSITIONS differ, so the ablation isolates training
      // BOTH variants build through ONE tagged chain (the r13
      // tagged-loop discipline applied to the build: union the two
      // centroid sets under a variant key, partition every window by
      // (variant, ...) — one cross join, one top-2 window, one edge
      // window instead of two full chains; two chains measured 13 s
      // at sf0.1, pure stage-count floor). The crk window runs NARROW
      // — (variant, vec_id, cid, d2) only, so the n×2⌈√n⌉ candidate
      // exchange carries ~32 bytes/row instead of the 768-byte
      // embedding+qv payload (the r8 hoist lesson: at 100× this
      // window otherwise shuffles tens of GB); embeddings join back
      // by id on the 4n surviving rows. top2 persists: it feeds
      // stored, probes and the medoid.
      val cents = seedCen.withColumn("variant", lit("seed"))
        .unionByName(trainedCen.withColumn("variant", lit("trained")))
      cents.write.parquet(s"$base/cents")
      val wC = Window.partitionBy($"variant", $"vec_id")
        .orderBy($"d2".asc, $"cid".asc)
      val top2 = nodes.crossJoin(broadcast(cents))
        .select($"variant", $"vec_id", $"cid",
          Clustering.sqDist($"qv", $"cv").as("d2"))
        .withColumn("crk", row_number().over(wC)).filter($"crk" <= 2)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val stored = top2.filter($"crk" === 1)
        .select($"variant", $"vec_id".as("nbr_id"), $"cid", $"d2")
        .join(nodes.select($"vec_id".as("nbr_id"),
          $"embedding".as("nv")), "nbr_id")
      val probes = top2.select($"variant", $"vec_id", $"cid")
        .join(nodes.select($"vec_id", $"embedding".as("pv")), "vec_id")
      val wK = Window.partitionBy($"variant", $"vec_id")
        .orderBy($"ecos".desc, $"nbr_id".asc)
      // ecos projects BEFORE the rank window, so that exchange is
      // narrow too (the candidate pair volume 2n²/k is inherent)
      probes.join(stored, Seq("variant", "cid"))
        .filter($"vec_id" =!= $"nbr_id")
        .select($"variant", $"vec_id", $"nbr_id",
          cosine_sim($"pv", $"nv").as("ecos"))
        .withColumn("rk", row_number().over(wK)).filter($"rk" <= Degree)
        .select($"variant", $"vec_id".as("src"), $"nbr_id".as("dst"))
        .write.parquet(s"$base/edges")
      // per-cell MEDOID (stored member nearest its own centroid, ties
      // to the lowest id) — the walk's entry nodes, derived from top2
      // so it rides the artifact
      val wM = Window.partitionBy($"variant", $"cid")
        .orderBy($"d2".asc, $"vec_id".asc)
      top2.filter($"crk" === 1)
        .withColumn("mrk", row_number().over(wM))
        .filter($"mrk" === 1)
        .select($"variant", $"cid", $"vec_id".as("node"))
        .write.parquet(s"$base/medoid")
      top2.unpersist(false)
      }
      val cents = s.read.parquet(s"$partsPath/cents")
      val edges = s.read.parquet(s"$partsPath/edges")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val medoid = s.read.parquet(s"$partsPath/medoid")
      // entry: top-Beam cells per (variant, anchor) by integer d2; the
      // entry node is the cell medoid — for seed cells whose centroid
      // is itself a corpus vector this recovers the centroid-as-node
      // entry; min-id entry measured 1-2 recall points worse for BOTH
      // variants
      val wE = Window.partitionBy($"variant", $"q_id")
        .orderBy($"d2".asc, $"cid".asc)
      val cells = anchors.crossJoin(broadcast(cents))
        .select($"variant", $"q_id", $"cid",
          Clustering.sqDist($"aq", $"cv").as("d2"))
        .withColumn("rn", row_number().over(wE)).filter($"rn" <= Beam)
        .select($"variant", $"q_id", $"cid")
      val frontier0 = cells
        .join(medoid, Seq("variant", "cid"))
        .join(nodes.select($"vec_id".as("node"),
          $"embedding".as("nv")), "node")
        .join(broadcast(anchors.select($"q_id", $"qv")), "q_id")
        .select($"variant", $"q_id", $"node",
          cosine_sim($"qv", $"nv").as("ncos"))
        .distinct()
      val g = SimilarityQueries6.GraphParts(
        nodes.select($"vec_id", $"embedding"), edges,
        anchors.select($"q_id", $"qv"), seedCen)
      val fin = SimilarityQueries6.beamLoop(s, g, frontier0,
        keys = Seq("variant", "q_id"))
      val wF = Window.partitionBy($"variant", $"q_id")
        .orderBy($"ncos".desc, $"node".asc)
      val top = fin.withColumn("rn", row_number().over(wF))
        .filter($"rn" === 1)
        .select($"variant", $"q_id", $"node".as("final_id"),
          $"ncos".as("final_cos"))
      top.join(SimilarityQueries6.exactTop1(s, g), "q_id")
        .select($"variant", $"q_id", $"final_id", $"final_cos",
          $"exact_id", $"exact_cos", ($"final_id" === $"exact_id").as("hit"))
    }
  )

  val oracles: Map[String, String] = Map(
    // the full chain replayed: quantize → 2 CTE-unrolled Lloyd rounds
    // (k = ⌈√n⌉ scalar-subquery-derived) → per-variant graph + entry →
    // two walk chains (shared walkCtes, equal width) → recall@1
    "ann_graph_trained" ->
      s"""WITH q AS MATERIALIZED (SELECT vec_id, embedding,
         |    list_transform(embedding,
         |      gx -> CAST(floor((CAST(gx AS DOUBLE) + 1.0) * 1000000.0)
         |        AS BIGINT)) AS qv
         |  FROM embeddings),
         |nodes AS MATERIALIZED (SELECT vec_id, embedding, qv FROM q
         |  WHERE vec_id >= $NAnchors),
         |a AS MATERIALIZED (SELECT vec_id AS q_id, embedding AS qv,
         |    q.qv AS aq
         |  FROM q WHERE vec_id < $NAnchors),
         |cen0 AS MATERIALIZED (SELECT CAST(vec_id AS BIGINT) AS cid,
         |    qv AS cv
         |  FROM q WHERE vec_id < (SELECT CAST(ceil(sqrt(count(*)))
         |    AS BIGINT) FROM embeddings)),
         |${(1 to Iters).map(lloydSql).mkString(",\n")},
         |${variantSql("seed", "cen0")},
         |${variantSql("tr", s"cen$Iters")},
         |${SimilarityQueries6.walkCtes("wseed", Beam, "edseed")},
         |${SimilarityQueries6.walkCtes("wtr", Beam, "edtr")},
         |finseed AS (SELECT q_id, node, c FROM (
         |    SELECT q_id, node, c, row_number() OVER (PARTITION BY q_id
         |      ORDER BY c DESC, node ASC) AS rn FROM wseed$Steps)
         |  WHERE rn = 1),
         |fintr AS (SELECT q_id, node, c FROM (
         |    SELECT q_id, node, c, row_number() OVER (PARTITION BY q_id
         |      ORDER BY c DESC, node ASC) AS rn FROM wtr$Steps)
         |  WHERE rn = 1),
         |exact AS (SELECT q_id, vec_id AS exact_id, xcos AS exact_cos FROM (
         |    SELECT a.q_id, n.vec_id,
         |      ${SimilarityQueries6.cos("n.embedding", "a.qv")} AS xcos,
         |      row_number() OVER (PARTITION BY a.q_id
         |        ORDER BY ${SimilarityQueries6.cos("n.embedding", "a.qv")}
         |          DESC, n.vec_id) AS rn
         |    FROM nodes n CROSS JOIN a)
         |  WHERE rn = 1)
         |SELECT v.variant, v.q_id, v.final_id, v.final_cos,
         |  x.exact_id, x.exact_cos, (v.final_id = x.exact_id) AS hit
         |FROM (SELECT 'seed' AS variant, q_id, node AS final_id,
         |        c AS final_cos FROM finseed
         |      UNION ALL
         |      SELECT 'trained' AS variant, q_id, node AS final_id,
         |        c AS final_cos FROM fintr) v
         |JOIN exact x USING (q_id)""".stripMargin
  )
}
