package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.Sources

/** `corpus_ppl_buckets` (round 10) — CCNet's PERPLEXITY TIER (Wenzek et
  * al. 2020): bucket every document into head / middle / tail terciles
  * of bigram-LM fluency, per language — the stage the real CCNet
  * pipeline uses to grade crawl text against a reference LM, which
  * corpus_ccnet previously linearized into the classifier gate
  * (VERDICT r9 task 3).
  *
  * Float-free fluency ordering (no log/exp — libm is not bit-stable
  * across engines): for each bigram occurrence with corpus counts
  * c = c(w1,w2) and n = c(w1·), the conditional probability is the
  * rational c/n, and its INTEGER surprisal is
  *
  *   e = floor(log2(n / c)) = length(bin(n DIV c)) − 1
  *
  * — exact integer arithmetic end-to-end: for real x ≥ 1,
  * floor(log2(x)) = floor(log2(floor(x))) (2^k ≤ x < 2^(k+1) and
  * 2^k is an integer, so floor(x) stays in [2^k, 2^(k+1))), and
  * length(bin(m)) − 1 is floor(log2(m)) for any integer m ≥ 1 (bin()
  * emits no leading zeros in either engine). A document's fluency key
  * is mean bits-per-bigram S/m (S = Σe exact integer ≤ 64·m, m =
  * bigram count) — ONE IEEE division, bit-identical both engines; low
  * bits = high fluency = head. No smoothing is needed: the LM is
  * trained ON the corpus, so every scored bigram has c ≥ 1 by
  * construction.
  *
  * Tercile assignment avoids the per-lang ntile window (PARTITION BY a
  * 5-value key = the single-task cliff, the q41/q116 class): the
  * committed shape is [[graft.operators.RankSelect]] — ONE range
  * repartition on (lang, mean_bits, doc_id) emits the two ntile
  * BOUNDARY rows per language (SQL-standard large-buckets-first sizes:
  * n = 3q + r0 → cut1 at rank q + min(r0,1), cut2 at rank 2q + r0),
  * and every doc takes its tercile from a broadcast compare against
  * those cuts under the identical total order — bit-equal to
  * `ntile(3) OVER (PARTITION BY lang ORDER BY mean_bits, doc_id)`
  * (the r9 ntile-replay lesson: tie-break makes the order total, so
  * the distribution rule is engine-identical), at full parallelism.
  * Docs with m = 0 (< 2 tokens) emit null bucket — "nothing to judge"
  * must not read as head or tail (the novelty-null discipline).
  *
  * Scale shape: bigram explode → (w1,w2)-keyed count shuffle (high
  * cardinality, map-side partials), the vocab²-bounded surprisal table
  * joins back postings-style, one per-doc rollup, and the tercile pass
  * is the RankSelect ladder — no low-cardinality window anywhere.
  */
object CorpusQueries9 extends QueryModule {

  /** One bigram row per adjacent token pair (space split, docs with
    * >= 2 tokens), with doc/lang context.
    */
  private def bigramsOf(d: DataFrame): DataFrame = d
    .select(col("doc_id"), col("lang"), split(col("text"), " ").as("tk"))
    .filter(size(col("tk")) >= 2)
    .select(col("doc_id"), col("lang"), explode(expr(
      "zip_with(slice(tk, 1, size(tk) - 1), slice(tk, 2, size(tk) - 1)," +
        " (a, b) -> struct(a AS w1, b AS w2))")).as("bg"))
    .select(col("doc_id"), col("lang"),
      col("bg.w1").as("w1"), col("bg.w2").as("w2"))

  /** Full-corpus bigram OCCURRENCE counts (w1, w2, c) as a pinned
    * artifact (round 20 — VERDICT r19 task 5): the (w1,w2) count
    * shuffle over every token of the corpus is a pure function of
    * `documents` consumed by the bigram LM build (below) and
    * corpus_bigram_lm — each previously re-counted the corpus per
    * bench pass.
    */
  private[queries] def bigramCounts(s: SparkSession, dir: String): DataFrame = {
    val path = graft.GraftSession.pinnedArtifact(s, "bigram_counts", dir,
      Seq("kind" -> "bigram_counts", "tokens" -> "space_split_min2")) { base =>
      bigramsOf(Tables.load(s, dir, "documents"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
        .write.parquet(s"$base/counts")
    }
    Sources.parquet(s)(s"$path/counts")
  }

  /** Per-doc (doc_id, lang, m, s_e) over the FULL corpus — bigram
    * count and total integer surprisal bits under the corpus-trained
    * bigram LM — as a pinned artifact (round 20). The per-doc rollup
    * is independent per doc, so a consumer scoring any SUBSET of the
    * corpus (corpus_ccnet's quality survivors) filters this frame by
    * doc id and gets exactly the old train-on-full/score-a-subset
    * docBits rows; corpus_ppl_buckets reads it whole. Both previously
    * re-ran the full LM-train + score chain per bench pass.
    */
  private[queries] def pplDocBits(s: SparkSession, dir: String): DataFrame = {
    val path = graft.GraftSession.pinnedArtifact(s, "ppl_doc_bits", dir,
      Seq("kind" -> "ppl_doc_bits", "lm" -> "bigram_full_corpus",
        "e" -> "floor_log2_npre_div_c")) { base =>
      val cnt = bigramCounts(s, dir)
      // npre = bigram occurrences with prefix w1 = Σ_w2 c
      val pre = cnt.groupBy(col("w1")).agg(sum(col("c")).as("npre"))
      // vocab²-bounded surprisal table: e = floor(log2(npre/c)) as pure
      // integer/string ops (bin() has no leading zeros)
      val lm = cnt.join(pre, "w1")
        .select(col("w1"), col("w2"),
          (length(bin(expr("npre DIV c"))) - 1).cast("long").as("e"))
      bigramsOf(Tables.load(s, dir, "documents")).join(lm, Seq("w1", "w2"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("m"), sum(col("e")).as("s_e"))
        .write.parquet(s"$base/bits")
    }
    Sources.parquet(s)(s"$path/bits")
  }

  /** Attach `tercile` (1/2/3 over (mean_bits, doc_id) per lang, the
    * ntile(3) distribution) to a (doc_id, lang, m, s_e, mean_bits)
    * frame via the RankSelect boundary-row ladder.
    */
  private[queries] def withTercile(scored: DataFrame): DataFrame = {
    val cuts = graft.operators.RankSelect.selectRanks(
      scored, Seq("lang"),
      n => { val q = n / 3; val r0 = n % 3
        Seq("c1" -> (q + math.min(r0, 1)), "c2" -> (2 * q + r0)) },
      "cut", "n_lang",
      col("mean_bits").asc, col("doc_id").asc)
    val cutsByLang = cuts.groupBy(col("lang")).agg(
      max(when(col("cut") === "c1",
        struct(col("mean_bits"), col("doc_id")))).as("k1"),
      max(when(col("cut") === "c2",
        struct(col("mean_bits"), col("doc_id")))).as("k2"))
    scored.join(broadcast(cutsByLang), Seq("lang"))
      .withColumn("tercile",
        when(struct(col("mean_bits"), col("doc_id")) <= col("k1"), 1L)
          .when(struct(col("mean_bits"), col("doc_id")) <= col("k2"), 2L)
          .otherwise(3L))
      .drop("k1", "k2")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_ppl_buckets" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
      // parquet-backed artifact (round 20): both consumers
      // (RankSelect's eager counts pass + the final assignment join)
      // re-scan the tiny per-doc frame instead of re-running the LM
      // chain — no persist needed
      val bits = pplDocBits(s, dir)
        .withColumn("mean_bits",
          $"s_e".cast("double") / $"m".cast("double"))
      val bucketed = withTercile(bits)
        .withColumn("bucket",
          when($"tercile" === 1L, "head")
            .when($"tercile" === 2L, "middle").otherwise("tail"))
      docs.select($"doc_id", $"lang")
        .join(bucketed.drop("lang"), Seq("doc_id"), "left")
        .select($"doc_id", $"lang",
          coalesce($"m", lit(0L)).as("m"),
          coalesce($"s_e", lit(0L)).as("s_e"),
          $"mean_bits", $"tercile", $"bucket")
    }
  )

  /** The LM + per-doc surprisal chain as CTE text (shared with the
    * corpus_ccnet oracle): defines gp_bg (per-occurrence bigrams of
    * the FULL corpus), gp_lm (the surprisal table) and gp_doc
    * (doc_id, lang, m, s_e) over the docs of `scoreFrom` (a CTE name
    * whose rows carry doc_id, lang, text).
    */
  private[queries] def pplCtes(scoreFrom: String): String = {
    // bigram rows via the committed unnest(list_transform) pattern
    // (NO LATERAL — the r7 binder lesson: LATERAL breaks inside
    // WITH RECURSIVE, and corpus_ccnet splices these CTEs there);
    // the pair rides one chr(31)-joined key (the BPE separator
    // discipline) and splits back out
    def bg(src: String, out: String) =
      s"""$out AS (SELECT doc_id, lang,
         |    split_part(bgk, chr(31), 1) AS w1,
         |    split_part(bgk, chr(31), 2) AS w2
         |  FROM (SELECT doc_id, lang,
         |      unnest(list_transform(
         |        range(0, len(string_split(text, ' ')) - 1),
         |        gi -> string_split(text, ' ')[CAST(gi + 1 AS INT)] || chr(31) ||
         |          string_split(text, ' ')[CAST(gi + 2 AS INT)])) AS bgk
         |    FROM $src))""".stripMargin
    s"""${bg("documents", "gp_bg")},
       |gp_cnt AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
       |  FROM gp_bg GROUP BY w1, w2),
       |gp_pre AS (SELECT w1, CAST(count(*) AS BIGINT) AS npre
       |  FROM gp_bg GROUP BY w1),
       |gp_lm AS (SELECT w1, w2,
       |    CAST(length(bin(npre // c)) - 1 AS BIGINT) AS e
       |  FROM gp_cnt JOIN gp_pre USING (w1)),
       |${bg(scoreFrom, "gp_sbg")},
       |gp_doc AS (SELECT b.doc_id, b.lang,
       |    CAST(count(*) AS BIGINT) AS m,
       |    CAST(sum(lm.e) AS BIGINT) AS s_e
       |  FROM gp_sbg b JOIN gp_lm lm USING (w1, w2)
       |  GROUP BY b.doc_id, b.lang)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "corpus_ppl_buckets" ->
      s"""WITH ${pplCtes("documents")},
         |sc AS (SELECT doc_id, lang, m, s_e,
         |    CAST(s_e AS DOUBLE) / CAST(m AS DOUBLE) AS mean_bits,
         |    CAST(ntile(3) OVER (PARTITION BY lang
         |      ORDER BY CAST(s_e AS DOUBLE) / CAST(m AS DOUBLE) ASC,
         |        doc_id ASC) AS BIGINT) AS tercile
         |  FROM gp_doc)
         |SELECT d.doc_id, d.lang,
         |  coalesce(sc.m, 0) AS m,
         |  coalesce(sc.s_e, 0) AS s_e,
         |  sc.mean_bits, sc.tercile,
         |  CASE sc.tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
         |    WHEN 3 THEN 'tail' END AS bucket
         |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id"""
        .stripMargin
  )
}
