package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GraftFunctions._

/** Round-11 dedup additions.
  *
  * `dedup_banding_curve` — the BANDING TUNER: dedup_eval generalized
  * over the rows-per-band axis. Round 11 made τ-derived banding the
  * single rule everywhere (Transforms.recallBandRows — the fold's
  * default, the YAML stage, the reconcile pass); this query is the
  * number that rule is derived FROM, measured in-engine on the
  * committed corpus: for r ∈ {8, 4, 2, 1} (bands = 128/r), the
  * candidate-pair count and candidate recall against the exact Jaccard
  * ≥ 1/2 truth, on the dedup_eval fixed-size stratum. The operating
  * pattern: a pipeline owner reads this table to pick the coarsest r
  * whose recall is acceptable — candidates (cost) fall as r grows,
  * recall falls with them; the committed recallBandRows table is the
  * curve's knee points. Everything about exactness is inherited from
  * dedup_eval (DedupQueries3 scaladoc): VALUE-banded string keys so the
  * candidate SET replays bit-exactly (mixed hash keys can collide),
  * postings-generated truth (J > 0 ⇒ shared shingle), integer 2I ≥ U
  * verify, and the full minhash family replayed in DuckDB SQL; the
  * per-r band membership replays as a LIST-SLICE equality
  * (siga[g·r+1 : g·r+r] = sigb[...]) which is exactly the value-key
  * join. One signature pass and one truth pass shared across all four
  * r values; per-r work is one banded self-join over the ~2000-doc
  * stratum.
  *
  * `corpus_dedup_rate` — the per-source NEAR-duplicate rate, the first
  * line of any corpus-health report (which sources are scraping-loop
  * duplicates?). Exact-dup rate is vacuous on this corpus (zero md5
  * collisions at sf0.01), so the rate is over the simhash near-dup
  * components — the audited dedup_clusters chain (clique-collapsed
  * pair graph, Dedup.scala:190; `source` rides THROUGH the components
  * operator as a pass-through vertex column, the corpus_prepare_fuzzy
  * discipline), survivor = component min id, dup rate = non-survivors
  * / docs as ONE double division per source row. Oracle = the shared
  * recursive-closure machinery + a source rollup.
  */
object DedupQueries6 extends QueryModule {

  /** The probed rows-per-band ladder (mirrors
    * Transforms.recallBandRows' codomain).
    */
  private val RValues = Seq(8, 4, 2, 1)

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_banding_curve" -> { (s, dir) =>
      import s.implicits._
      // ONE aggregate over the shared eval-pair evidence artifact
      // (round 20 — see DedupQueries3.evalPairs): the four banded
      // self-joins + twelve count jobs the query previously ran per
      // bench pass collapse to per-r flag sums in a single pass (flag
      // membership == the value-banded join, the slice-equality
      // argument the oracle already encodes), then the four curve rows
      // inline from the 1-row aggregate.
      val aggCols =
        coalesce(sum(when($"is_true", 1L).otherwise(0L)), lit(0L))
          .as("n_true") +:
          RValues.flatMap { r => Seq(
            coalesce(sum(when(col(s"c$r"), 1L).otherwise(0L)), lit(0L))
              .as(s"n_cand_$r"),
            coalesce(sum(when($"is_true" && col(s"c$r"), 1L).otherwise(0L)),
              lit(0L)).as(s"n_hit_$r"))
          }
      val agg = DedupQueries3.evalPairs(s, dir)
        .agg(aggCols.head, aggCols.tail: _*)
      val rows = RValues.map { r =>
        struct(lit(r.toLong).as("r"), lit((128 / r).toLong).as("bands"),
          $"n_true", col(s"n_cand_$r").as("n_cand"),
          col(s"n_hit_$r").as("n_hit"),
          // a stratum with zero true pairs must yield null, not an
          // ANSI DIVIDE_BY_ZERO (the q105 degenerate-denominator
          // class — DuckDB would quietly emit NaN instead)
          when($"n_true" > 0,
            col(s"n_hit_$r").cast("double") / $"n_true".cast("double"))
            .otherwise(lit(null).cast("double")).as("recall"))
      }
      agg.select(explode(array(rows: _*)).as("row")).select($"row.*")
    },

    "corpus_dedup_rate" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
      // shared pinned component labeling (round 20 batch 3); `source`
      // re-attaches by doc_id equi-join — exact on the key, rows
      // unchanged vs the old pass-through vertex column
      val comp = GraphEdges.simhashComponents(s, dir)
        .join(docs.select($"doc_id".as("id"), $"source"), "id")
      comp.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"component" =!= $"id", 1L).otherwise(0L)).as("n_dup"))
        .select($"source", $"n_docs", $"n_dup",
          ($"n_dup".cast("double") / $"n_docs".cast("double"))
            .as("dup_rate"))
    }
  )

  /** Per-r candidate predicate: some band's r-value slice agrees —
    * identical membership to the value-banded join key.
    */
  private def isCandSql(r: Int): String = {
    val bands = 128 / r
    s"""len(list_filter(range(0, $bands), gg ->
       |      siga[CAST(gg * $r + 1 AS INT):CAST(gg * $r + $r AS INT)] =
       |      sigb[CAST(gg * $r + 1 AS INT):CAST(gg * $r + $r AS INT)])) > 0"""
      .stripMargin
  }

  private def curveRowSql(r: Int): String =
    s"""SELECT CAST($r AS BIGINT) AS r, CAST(${128 / r} AS BIGINT) AS bands,
       |  CAST(sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       |  CAST(sum(CASE WHEN ${isCandSql(r)} THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_cand,
       |  CAST(sum(CASE WHEN is_true AND ${isCandSql(r)} THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_hit,
       |  CASE WHEN sum(CASE WHEN is_true THEN 1 ELSE 0 END) = 0 THEN NULL
       |    ELSE CAST(sum(CASE WHEN is_true AND ${isCandSql(r)} THEN 1 ELSE 0
       |      END) AS DOUBLE)
       |    / CAST(sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS DOUBLE)
       |    END AS recall
       |FROM f""".stripMargin

  /** Spark-identical word-3-shingle set (the DedupQueries3 rendering). */
  private val shingles3 =
    """list_distinct(list_transform(range(0, len(string_split(text, ' ')) - 2),
      | gi -> string_split(text, ' ')[CAST(gi + 1 AS INT)] || ' ' ||
      |   string_split(text, ' ')[CAST(gi + 2 AS INT)] || ' ' ||
      |   string_split(text, ' ')[CAST(gi + 3 AS INT)]))""".stripMargin

  val oracles: Map[String, String] = Map(
    // the dedup_eval oracle's sig/pair matrix, with the four per-r
    // curve rows read from ONE f CTE (slice equality == value-key join)
    "dedup_banding_curve" ->
      s"""WITH s AS (SELECT doc_id, $shingles3 AS sh FROM documents
         |  WHERE doc_id % (SELECT CAST(ceil(count(*) / 2000.0) AS BIGINT)
         |                  FROM documents) = 0),
         |sig AS (SELECT doc_id,
         |  ${DedupQueries3.minhashSigList} AS sig
         |  FROM s),
         |f AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    (2 * len(list_intersect(a.sh, b.sh)) >=
         |       len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))
         |     AND len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) > 0)
         |      AS is_true,
         |    sa.sig AS siga, sb.sig AS sigb
         |  FROM s a JOIN s b ON a.doc_id < b.doc_id
         |  JOIN sig sa ON sa.doc_id = a.doc_id
         |  JOIN sig sb ON sb.doc_id = b.doc_id)
         |${RValues.map(curveRowSql).mkString("", "\nUNION ALL\n", "")}"""
        .stripMargin,

    "corpus_dedup_rate" ->
      s"""${DedupQueries.clustersCtePrefix},
         |comp AS (SELECT u AS doc_id, min(lbl) AS component
         |  FROM reach GROUP BY u)
         |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN c.component <> d.doc_id THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_dup,
         |  CAST(sum(CASE WHEN c.component <> d.doc_id THEN 1 ELSE 0 END)
         |    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS dup_rate
         |FROM documents d JOIN comp c ON d.doc_id = c.doc_id
         |GROUP BY d.source""".stripMargin
  )
}
