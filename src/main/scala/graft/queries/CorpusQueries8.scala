package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Dedup

/** `corpus_token_budget` (round 9) — BUDGETED SELECTION: every training
  * run has a token budget, and the curation question is "which
  * documents fill it best?" Per SOURCE (the natural budget unit — in a
  * real corpus sources are domains/crawls, high-cardinality), rank
  * documents by the `text_quality_clf` model score (best first, doc_id
  * tie-break) and select best-first while the running token total stays
  * within B = 1000 (a prefix-sum cutoff: the first over-budget doc and
  * everything ranked below it are unselected). Emits the full per-doc
  * decision trail (score,
  * running total, selected flag) — the auditable form of a selection;
  * the manifest is one rollup away.
  *
  * Parity discipline: the score is the TRAINED rational-weight scorer
  * (round 10 — TextQueries6.trainedContrib, integer S over 10^6·n,
  * one IEEE division — identical expression both engines, so the
  * ORDER is engine-identical too); the running total is an exact
  * integer prefix sum over that order; the selection compare is
  * integer. Scale shape: one training pass (map + 1024-key agg), ONE
  * hash shuffle on source, per-source window prefix sum (rides the
  * same exchange); zero-token docs are excluded up front (they can
  * neither spend budget nor be ranked).
  */
object CorpusQueries8 extends QueryModule {

  // binds on this corpus: sources carry ~1300-1600 tokens at sf0.01,
  // so a 1000-token budget forces real selection (2000 selected all)
  private val Budget = 1000L

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_token_budget" -> { (s, dir) =>
      import s.implicits._
      val wts = TextQueries6.trainedWeights(s, dir)
      val scored = Tables.load(s, dir, "documents")
        .select($"doc_id", $"source",
          size(TextQueries6.qualityToks).cast("long").as("n_toks"),
          aggregate(TextQueries6.trainedContrib(wts), lit(0L),
            (acc, x) => acc + x).as("s_num"))
        .filter($"n_toks" > 0)
        .withColumn("score",
          $"s_num".cast("double") /
            ($"n_toks".cast("double") * TextQueries6.WDen.toDouble))
      val w = Window.partitionBy($"source")
        .orderBy($"score".desc, $"doc_id".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      scored
        .withColumn("cum_toks", sum($"n_toks").over(w))
        .select($"doc_id", $"source", $"n_toks", $"score", $"cum_toks",
          ($"cum_toks" <= Budget).as("selected"))
    },

    // `corpus_ngram_novelty` — per-document NOVELTY (round 9): the
    // share of a doc's distinct word-3-shingles never seen in any
    // EARLIER doc (doc_id order = arrival order) — the
    // redundancy-over-time curve corpus reports plot to show returns
    // diminishing as a crawl grows (a shingle is novel iff this doc is
    // its min-doc_id owner). All integer counts + one division; docs
    // under 3 words have no shingles and emit novelty null (not 0 —
    // "nothing to judge" must not read as "fully redundant"). Scale
    // shape: one explode + min-aggregate over the shingle key (map-side
    // partial), one join back on doc_id — postings-shaped, never
    // all-pairs.
    "corpus_ngram_novelty" -> { (s, dir) =>
      import s.implicits._
      import graft.functions.GraftFunctions.word_shingles
      val docs = graft.operators.Parallelism.ensure(
        Tables.load(s, dir, "documents"))
      val sh = docs.select($"doc_id",
          explode(word_shingles($"text", 3)).as("sh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val firstOwner = sh.groupBy($"sh").agg(min($"doc_id").as("first_doc"))
      val novel = sh.join(firstOwner, "sh")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when($"first_doc" === $"doc_id", 1L).otherwise(0L))
            .as("n_novel"))
      docs.select($"doc_id").join(novel, Seq("doc_id"), "left")
        .select($"doc_id",
          coalesce($"n_shingles", lit(0L)).as("n_shingles"),
          coalesce($"n_novel", lit(0L)).as("n_novel"),
          when($"n_shingles" > 0,
            $"n_novel".cast("double") / $"n_shingles".cast("double"))
            .as("novelty"))
    },

    // `corpus_ccnet` — the CCNet-SHAPED curation funnel (round 9,
    // Wenzek et al. 2020 — THE reference LLM corpus pipeline) as ONE
    // oracle-gated capstone chaining the separately-gated stages:
    // (1) language-ID gate — keep docs whose text_langid prediction
    // matches the labeled lang (CCNet's fastText lang filter);
    // (2) model-quality gate — the text_quality_clf TRAINED rational
    // scorer at the same τ = 0 centroid rule (round 10; CCNet's
    // model tier with weights actually learned from the corpus);
    // (3) PERPLEXITY tier (round 10 — the stage CCNet actually buckets
    // by, Wenzek et al. §4.3): per-lang head/middle/tail terciles of
    // bigram-LM mean surprisal bits over the quality survivors
    // (corpus_ppl_buckets' float-free machinery — the LM is trained on
    // the FULL corpus; docs with no bigrams cannot be graded and fail
    // the tier), keeping head+middle — CCNet's default retention;
    // (4) near-dup dedup over the survivors — simhash
    // pair graph → connected components → keep-best (longest, id
    // tie-break; CCNet dedups by paragraph hash — this corpus' analog
    // is the audited fuzzy chain). Output: the per-lang funnel
    // manifest (n_raw → n_lang_ok → n_quality_ok → n_ppl_ok →
    // n_survivors + survivor_tokens) — the report a curation run
    // publishes. Langs
    // whose docs all fail upstream still emit (0-coalesced left join):
    // a funnel with missing rows misreads attrition. All counts exact
    // integers; the one chain recomputation the oracle needs is the
    // corpus_prepare_fuzzy recursive-CTE pattern with the stage
    // predicates in the seed CTE.
    "corpus_ccnet" -> { (s, dir) =>
      import s.implicits._
      import graft.functions.GraftFunctions._
      val scores = lang_scores($"text")
      val wts = TextQueries6.trainedWeights(s, dir)
      val base0 = Tables.load(s, dir, "documents")
      val scoredBase = scores.foldLeft(base0) {
        case (d, (l, c)) => d.withColumn(s"__s_$l", c)
      }
      val base = scoredBase
        .withColumn("pred",
          lang_predict(scores.map { case (l, _) => l -> col(s"__s_$l") }))
        .withColumn("n_toks", size(TextQueries6.qualityToks).cast("long"))
        .withColumn("s_num", aggregate(TextQueries6.trainedContrib(wts),
          lit(0L), (a, x) => a + x))
        .withColumn("lang_ok", $"pred" === $"lang")
        .withColumn("quality_ok", $"lang_ok" && $"n_toks" > 0 &&
          $"s_num" * TextQueries6.TauDen >=
            lit(TextQueries6.TauNum) * TextQueries6.WDen * $"n_toks")
        // narrow BEFORE the persist: text and the per-lang __s_* score
        // columns only feed the predicates computed above, and no
        // consumer below reads them (signatures come from the pinned
        // simhash_sigs artifact) — persisting full text was footprint
        .select($"doc_id", $"lang", $"n_chars", $"n_toks",
          $"lang_ok", $"quality_ok")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val gated = base.filter($"quality_ok")
        .select($"doc_id", $"lang", $"n_chars", $"n_toks")
      // ppl tier: LM over the FULL corpus, scored on the gated docs —
      // the full-corpus per-doc surprisal artifact filtered to the
      // survivors (the rollup is per-doc independent, so the semi join
      // yields exactly the old train-on-full/score-the-subset rows);
      // bits is consumed twice (RankSelect counts pass + assignment)
      val bits = CorpusQueries9.pplDocBits(s, dir)
        .join(gated.select($"doc_id"), Seq("doc_id"), "left_semi")
        .withColumn("mean_bits", $"s_e".cast("double") / $"m".cast("double"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pplKeep = CorpusQueries9.withTercile(bits)
        .filter($"tercile" <= 2L)
        .select($"doc_id", $"lang")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val kept = gated.join(pplKeep.select($"doc_id"), Seq("doc_id"),
        "left_semi")
      // round 20 batch 4: signatures from the pinned simhash_sigs
      // artifact filtered to the kept ids (per-doc independence)
      val pairs = Dedup.simhashComponentPairsFromSigs(
        GraphEdges.simhashSigs(s, dir)
          .join(kept.select($"doc_id"), Seq("doc_id"), "left_semi"),
        "doc_id", "sh", maxHamming = 3)
      val comp = Dedup.connectedComponents(
        kept.select($"doc_id".as("id"), $"lang", $"n_chars", $"n_toks"),
        pairs)
      val byComponent = Window.partitionBy($"component")
        .orderBy($"n_chars".desc, $"id".asc)
      val surv = comp.withColumn("__rn", row_number().over(byComponent))
        .filter($"__rn" === 1)
      base.groupBy($"lang").agg(
          count(lit(1)).as("n_raw"),
          sum(when($"lang_ok", 1L).otherwise(0L)).as("n_lang_ok"),
          sum(when($"quality_ok", 1L).otherwise(0L)).as("n_quality_ok"))
        .join(pplKeep.groupBy($"lang").agg(count(lit(1)).as("n_ppl_ok")),
          Seq("lang"), "left")
        .join(surv.groupBy($"lang").agg(
          count(lit(1)).as("n_survivors"),
          sum($"n_toks").as("survivor_tokens")), Seq("lang"), "left")
        .select($"lang", $"n_raw", $"n_lang_ok", $"n_quality_ok",
          coalesce($"n_ppl_ok", lit(0L)).as("n_ppl_ok"),
          coalesce($"n_survivors", lit(0L)).as("n_survivors"),
          coalesce($"survivor_tokens", lit(0L)).as("survivor_tokens"))
    }
  )

  private def markerList(l: String) =
    graft.functions.GraftFunctions.langMarkers.toMap.apply(l)
      .map(w => s"'$w'").mkString(", ")
  private def sqlCount(set: String) =
    s"len(list_filter(string_split(text, ' '), gw -> gw IN ($set)))"

  val oracles: Map[String, String] = Map(
    // gw_doc only holds docs with >= 1 token, so the inner join IS the
    // n_toks > 0 filter
    "corpus_token_budget" ->
      s"""WITH ${TextQueries6.trainedCtes},
         |sc AS (SELECT d.doc_id, d.source, g.n_toks,
         |    CAST(g.s_num AS DOUBLE)
         |      / (CAST(g.n_toks AS DOUBLE) * ${TextQueries6.WDen}.0)
         |      AS score
         |  FROM documents d JOIN gw_doc g ON d.doc_id = g.doc_id)
         |SELECT doc_id, source, n_toks, score,
         |  CAST(sum(n_toks) OVER (PARTITION BY source
         |    ORDER BY score DESC, doc_id ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS cum_toks,
         |  (sum(n_toks) OVER (PARTITION BY source
         |    ORDER BY score DESC, doc_id ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) <= $Budget)
         |    AS selected
         |FROM sc""".stripMargin,

    "corpus_ngram_novelty" ->
      s"""WITH s AS (SELECT doc_id,
         |    unnest(list_distinct(list_transform(
         |      range(0, len(string_split(text, ' ')) - 2),
         |      gi -> string_split(text, ' ')[CAST(gi + 1 AS INT)] || ' ' ||
         |        string_split(text, ' ')[CAST(gi + 2 AS INT)] || ' ' ||
         |        string_split(text, ' ')[CAST(gi + 3 AS INT)]))) AS sh
         |  FROM documents),
         |fo AS (SELECT sh, min(doc_id) AS first_doc FROM s GROUP BY sh),
         |nv AS (SELECT s.doc_id,
         |    CAST(count(*) AS BIGINT) AS n_shingles,
         |    CAST(sum(CASE WHEN fo.first_doc = s.doc_id THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_novel
         |  FROM s JOIN fo USING (sh) GROUP BY s.doc_id)
         |SELECT d.doc_id,
         |  coalesce(nv.n_shingles, 0) AS n_shingles,
         |  coalesce(nv.n_novel, 0) AS n_novel,
         |  CASE WHEN coalesce(nv.n_shingles, 0) > 0
         |    THEN CAST(nv.n_novel AS DOUBLE) / CAST(nv.n_shingles AS DOUBLE)
         |  END AS novelty
         |FROM documents d LEFT JOIN nv ON d.doc_id = nv.doc_id""".stripMargin,

    // the stage predicates in the seed CTE, then the
    // corpus_prepare_fuzzy recursive-closure + keep-best machinery,
    // then the funnel rollup (0-coalesced left join keeps empty langs)
    "corpus_ccnet" ->
      s"""WITH RECURSIVE ${TextQueries6.trainedCtes},
         |raw AS (SELECT d.doc_id, d.lang, d.text, d.n_chars,
         |    ${sqlCount(markerList("de"))} AS s_de,
         |    ${sqlCount(markerList("en"))} AS s_en,
         |    ${sqlCount(markerList("es"))} AS s_es,
         |    ${sqlCount(markerList("fr"))} AS s_fr,
         |    ${sqlCount(markerList("zh"))} AS s_zh,
         |    coalesce(g.n_toks, 0) AS n_toks,
         |    coalesce(g.s_num, 0) AS s_num
         |  FROM documents d LEFT JOIN gw_doc g ON d.doc_id = g.doc_id),
         |flags AS (SELECT doc_id, lang, text, n_chars, n_toks, s_num,
         |    (CASE
         |      WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
         |      WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
         |      WHEN s_es >= s_de AND s_es >= s_en AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
         |      WHEN s_fr >= s_de AND s_fr >= s_en AND s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
         |      WHEN s_zh >= s_de AND s_zh >= s_en AND s_zh >= s_es AND s_zh >= s_fr THEN 'zh'
         |      ELSE 'und' END = lang) AS lang_ok
         |  FROM raw),
         |f2 AS (SELECT *,
         |    (lang_ok AND n_toks > 0 AND
         |     s_num * ${TextQueries6.TauDen} >=
         |       (${TextQueries6.TauNum}) * ${TextQueries6.WDen} * n_toks)
         |      AS quality_ok
         |  FROM flags),
         |docs AS (SELECT doc_id, lang, text, n_chars, n_toks FROM f2
         |         WHERE quality_ok),
         |${CorpusQueries9.pplCtes("docs")},
         |ppl AS (SELECT doc_id, lang,
         |    CAST(ntile(3) OVER (PARTITION BY lang
         |      ORDER BY CAST(s_e AS DOUBLE) / CAST(m AS DOUBLE) ASC,
         |        doc_id ASC) AS BIGINT) AS tercile
         |  FROM gp_doc),
         |docs2 AS (SELECT d.* FROM docs d JOIN ppl p
         |  ON d.doc_id = p.doc_id WHERE p.tercile <= 2),
         |${DedupQueries.simhashCtes("docs2")},
         |prs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.sh, b.sh)) <= 3),
         |edges AS (SELECT id_a AS u, id_b AS v FROM prs
         |  UNION ALL SELECT id_b, id_a FROM prs),
         |reach(u, lbl) AS (
         |  SELECT doc_id, doc_id FROM docs2
         |  UNION
         |  SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.u),
         |comp AS (SELECT u AS doc_id, min(lbl) AS component
         |  FROM reach GROUP BY u),
         |j AS (SELECT c.component, d.lang, d.n_toks,
         |    row_number() OVER (PARTITION BY c.component
         |      ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
         |  FROM comp c JOIN docs2 d ON d.doc_id = c.doc_id),
         |surv AS (SELECT lang,
         |    CAST(count(*) AS BIGINT) AS n_survivors,
         |    CAST(sum(n_toks) AS BIGINT) AS survivor_tokens
         |  FROM j WHERE rn = 1 GROUP BY lang),
         |pf AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_ppl_ok
         |  FROM ppl WHERE tercile <= 2 GROUP BY lang),
         |fun AS (SELECT lang,
         |    CAST(count(*) AS BIGINT) AS n_raw,
         |    CAST(sum(CASE WHEN lang_ok THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_lang_ok,
         |    CAST(sum(CASE WHEN quality_ok THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_quality_ok
         |  FROM f2 GROUP BY lang)
         |SELECT fun.lang, fun.n_raw, fun.n_lang_ok, fun.n_quality_ok,
         |  coalesce(pf.n_ppl_ok, 0) AS n_ppl_ok,
         |  coalesce(surv.n_survivors, 0) AS n_survivors,
         |  coalesce(surv.survivor_tokens, 0) AS survivor_tokens
         |FROM fun LEFT JOIN surv ON fun.lang = surv.lang
         |  LEFT JOIN pf ON fun.lang = pf.lang""".stripMargin
  )
}
