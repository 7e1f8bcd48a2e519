package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-12 text addition: `corpus_calibration` — the calibration table
  * of the TRAINED quality classifier (text_quality_train): bucket every
  * scored document into score deciles and report, per decile, how often
  * the label (lang = 'en', the training target) actually holds. The
  * standard model-health readout — a well-ordered score has en_rate
  * monotone in decile; a flat table means the classifier ranks noise.
  * Closes the train → score → CALIBRATE loop the way text_langid_eval
  * closes langid's (its AUC sibling is ann_auc).
  *
  * Score is THE single-definition trained score (TextQueries6
  * .trainedContrib — the round-9 no-fork discipline), docs with zero
  * tokens excluded ("nothing to score" must not occupy a decile).
  * Decile assignment avoids the global ntile window (empty partition
  * spec = global sort, the round-9 InferWindowGroupLimit lesson): the
  * committed shape is the RankSelect boundary-row ladder over the
  * (score, doc_id) total order — 9 cut rows via ONE range exchange,
  * then a broadcast struct-compare assigns every doc its decile, bit-
  * equal to `ntile(10) OVER (ORDER BY score, doc_id)` (the SQL-standard
  * large-buckets-first sizes: n = 10q + r0 → cut_j at rank
  * j·q + min(j, r0) — the corpus_ppl_buckets tercile formula at k=10).
  * The oracle IS that ntile. Per-decile sums stay exact integers
  * (s_num, n_toks); en_rate is one IEEE division; score itself is one
  * IEEE division of exact integers so its sort order is engine-
  * identical. Scale: score is a row-local projection at scan
  * parallelism (weights via the session model cache); the ladder is
  * one range exchange; the rollup has 10 groups with map-side partials.
  */
object TextQueries7 extends QueryModule {

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // `text_chi2_features` — χ² FEATURE SELECTION (round 12): the top-20
    // tokens most associated with the en/non-en label by the classic
    // document-level 2×2 chi-square — the feature-selection step that
    // precedes training a text classifier (and the diagnostic that
    // explains WHAT text_quality_train's weights latched onto).
    // Contingency per token: a = en docs containing it, b = non-en docs
    // containing it, c/d = the complements from broadcast class totals;
    // χ² = N(ad−bc)²/((a+b)(c+d)(a+c)(b+d)). Counts are exact integers;
    // χ² is ONE fixed double expression tree (casts first, identical
    // text both engines — deterministic IEEE, no libm), so the ranking
    // replays bit-for-bit. Tokens present in EVERY document drop out
    // ((c+d) = 0 — zero selection information, and the statistic is
    // 0/0 there). Plan: explode+distinct → one token-keyed count with
    // map-side partials, broadcast 1-row totals, global top-20 via
    // orderBy+limit (TakeOrderedAndProject).
    "text_chi2_features" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
      val tots = docs.agg(
        sum(when($"lang" === "en", 1L).otherwise(0L)).as("n_en"),
        sum(when($"lang" =!= "en", 1L).otherwise(0L)).as("n_non"))
      val tokDocs = docs.select($"lang",
          explode(array_distinct(TextQueries6.qualityToks)).as("tok"))
        .groupBy($"tok")
        .agg(sum(when($"lang" === "en", 1L).otherwise(0L)).as("a"),
          sum(when($"lang" =!= "en", 1L).otherwise(0L)).as("b"))
      tokDocs.crossJoin(broadcast(tots))
        .select($"tok", $"a", $"b",
          ($"n_en" - $"a").as("c"), ($"n_non" - $"b").as("d"),
          ($"n_en" + $"n_non").as("nn"))
        // every marginal must be positive or the statistic is 0/0 —
        // the q105 degenerate-denominator class (Spark ANSI throws
        // where DuckDB yields NaN/inf): (c+d)=0 for all-document
        // tokens, (a+c)=0 / (b+d)=0 on single-class corpora, (a+b)=0
        // for tokens seen only in null-lang docs
        .filter($"c" + $"d" > 0 && $"a" + $"b" > 0 &&
          $"a" + $"c" > 0 && $"b" + $"d" > 0)
        .withColumn("chi2", expr(
          """CAST(nn AS DOUBLE)
            | * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
            |    - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
            | * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
            |    - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
            | / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
            |    * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE))"""
            .stripMargin))
        .select($"tok", $"a", $"b", $"chi2")
        .orderBy($"chi2".desc, $"tok".asc).limit(20)
    },

    // `corpus_burstiness` — token DISPERSION audit (Church & Gale
    // 1995: content words are BURSTY — they recur within the documents
    // that use them — while function words spread evenly; cf/df is the
    // classic burstiness statistic): for the top-50 tokens by corpus
    // frequency, (cf, df, max-in-one-doc, cf/df). Reads next to
    // text_zipf_audit (rank-frequency) as the second corpus-health
    // table: a token with high cf/df or a high in-doc peak is
    // boilerplate/template residue, exactly what dedup and quality
    // gates should be pointed at. All exact integers + ONE division;
    // plan: a (doc, tok) occurrence rollup (high-cardinality keys,
    // map-side partials), a token rollup, global top-50 via
    // orderBy+limit (TakeOrderedAndProject).
    "corpus_burstiness" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "documents")
        .select($"doc_id", explode(TextQueries6.qualityToks).as("tok"))
        .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("in_doc"))
        .groupBy($"tok")
        .agg(sum($"in_doc").as("cf"), count(lit(1)).as("df"),
          max($"in_doc").as("max_in_doc"))
        .select($"tok", $"cf", $"df", $"max_in_doc",
          ($"cf".cast("double") / $"df".cast("double")).as("burstiness"))
        .orderBy($"cf".desc, $"tok".asc).limit(50)
    },

    "corpus_calibration" -> { (s, dir) =>
      import s.implicits._
      val w = TextQueries6.trainedWeights(s, dir)
      val scored = Tables.load(s, dir, "documents")
        .select($"doc_id", $"lang",
          size(TextQueries6.qualityToks).cast("long").as("n_toks"),
          aggregate(TextQueries6.trainedContrib(w), lit(0L),
            (acc, x) => acc + x).as("s_num"))
        .filter($"n_toks" > 0)
        .withColumn("score", $"s_num".cast("double") /
          ($"n_toks".cast("double") * TextQueries6.WDen.toDouble))
        .withColumn("g", lit(1L))
        .persist() // RankSelect's counts pass + the assignment join
      val cuts = graft.operators.RankSelect.selectRanks(
        scored, Seq("g"),
        n => { val q = n / 10; val r0 = n % 10
          (1 to 9).map(j => s"c$j" -> (j * q + math.min(j.toLong, r0))) },
        "cut", "n_all",
        $"score".asc, $"doc_id".asc)
      val kCols = (1 to 9).map(j =>
        max(when($"cut" === s"c$j", struct($"score", $"doc_id")))
          .as(s"k$j"))
      val cutRow = cuts.agg(kCols.head, kCols.tail: _*)
      // when-chain k1..k9 in cut order (first matching boundary wins)
      val chain = (2 to 9).foldLeft(
        when(struct($"score", $"doc_id") <= col("k1"), 1L)) { (acc, j) =>
        acc.when(struct($"score", $"doc_id") <= col(s"k$j"), j.toLong)
      }
      val assigned = scored.crossJoin(broadcast(cutRow))
        .withColumn("decile", chain.otherwise(lit(10L)))
      assigned.groupBy($"decile")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"lang" === "en", 1L).otherwise(0L)).as("n_en"),
          sum($"s_num").as("s_num_total"),
          sum($"n_toks").as("n_toks_total"))
        .select($"decile", $"n_docs", $"n_en",
          ($"n_en".cast("double") / $"n_docs".cast("double")).as("en_rate"),
          $"s_num_total", $"n_toks_total")
    }
  )

  val oracles: Map[String, String] = Map(
    "text_chi2_features" ->
      """WITH td AS (SELECT lang, unnest(list_distinct(
        |    list_filter(string_split(text, ' '), gt -> gt <> ''))) AS tok
        |  FROM documents),
        |tots AS (SELECT
        |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_en,
        |    CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_non
        |  FROM documents),
        |ab AS (SELECT tok,
        |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS a,
        |    CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS b
        |  FROM td GROUP BY tok),
        |f AS (SELECT tok, a, b, n_en - a AS c, n_non - b AS d,
        |    n_en + n_non AS nn
        |  FROM ab CROSS JOIN tots
        |  WHERE (n_en - a) + (n_non - b) > 0 AND a + b > 0
        |    AND n_en > 0 AND n_non > 0)
        |SELECT tok, a, b,
        |  CAST(nn AS DOUBLE)
        |    * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
        |       - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
        |    * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
        |       - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
        |    / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
        |       * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)) AS chi2
        |FROM f
        |ORDER BY chi2 DESC, tok ASC LIMIT 20""".stripMargin,

    "corpus_burstiness" ->
      """WITH occ AS (SELECT doc_id, unnest(list_filter(
        |    string_split(text, ' '), gt -> gt <> '')) AS tok
        |  FROM documents),
        |dt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS in_doc
        |  FROM occ GROUP BY doc_id, tok)
        |SELECT tok, CAST(sum(in_doc) AS BIGINT) AS cf,
        |  CAST(count(*) AS BIGINT) AS df,
        |  CAST(max(in_doc) AS BIGINT) AS max_in_doc,
        |  CAST(sum(in_doc) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS burstiness
        |FROM dt GROUP BY tok
        |ORDER BY cf DESC, tok ASC LIMIT 50""".stripMargin,

    "corpus_calibration" ->
      s"""WITH ${TextQueries6.trainedCtes},
         |sc AS (SELECT g.doc_id, d.lang, g.n_toks, g.s_num,
         |    CAST(g.s_num AS DOUBLE)
         |      / (CAST(g.n_toks AS DOUBLE) * CAST(1000000 AS DOUBLE))
         |      AS score
         |  FROM gw_doc g JOIN documents d ON g.doc_id = d.doc_id
         |  WHERE g.n_toks > 0),
         |dd AS (SELECT lang, n_toks, s_num,
         |    CAST(ntile(10) OVER (ORDER BY score ASC, doc_id ASC) AS BIGINT)
         |      AS decile
         |  FROM sc)
         |SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_en,
         |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS en_rate,
         |  CAST(sum(s_num) AS BIGINT) AS s_num_total,
         |  CAST(sum(n_toks) AS BIGINT) AS n_toks_total
         |FROM dd GROUP BY decile""".stripMargin
  )
}
