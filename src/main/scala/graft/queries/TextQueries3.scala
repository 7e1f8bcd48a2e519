package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Third text wave (SURVEY.md §2.5): statistical language-model-style
  * quality signals — per-document n-gram rarity against the corpus's
  * own n-gram distribution (the common-crawl-filtering proxy for
  * "does this doc read like the corpus"). All counts stay BIGINT; the
  * single ratio is derived at the end, so parity is exact.
  */
object TextQueries3 extends QueryModule {

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // per-doc bigram familiarity: mean corpus frequency of the doc's
    // bigrams. Docs whose bigrams are globally rare are statistical
    // outliers (boilerplate, garbled text, wrong language). The corpus
    // bigram table is built once (O(tokens)), joined back sparse —
    // every sum is an exact BIGINT; familiarity = sum/n as double at
    // the end. Docs with < 2 tokens surface with n_bigrams = 0.
    "text_bigram_rarity" -> { (s, dir) =>
      import s.implicits._
      import graft.functions.GraftFunctions.word_ngrams_all
      val docBigrams = Tables.load(s, dir, "documents")
        .select($"doc_id",
          explode_outer(word_ngrams_all($"text", 2)).as("bigram"))
      // round 20 batch 3: the corpus-wide frequency table reads the
      // pinned bigram_counts artifact (identical pair definition,
      // injective "w1 w2" render — see corpus_bigrams) instead of
      // re-counting every token per pass; docBigrams is then consumed
      // once, so the old double-derivation disappears with the shuffle
      val freq = CorpusQueries9.bigramCounts(s, dir)
        .select(concat_ws(" ", $"w1", $"w2").as("bigram"), $"c".as("f"))
      docBigrams
        .join(freq, Seq("bigram"), "left")
        .groupBy($"doc_id")
        .agg(count($"bigram").as("n_bigrams"),
          coalesce(sum($"f"), lit(0L)).as("sum_freq"))
        .withColumn("familiarity",
          when($"n_bigrams" > 0,
            $"sum_freq".cast("double") / $"n_bigrams".cast("double"))
            .otherwise(lit(0.0)))
    }
  )

  val oracles: Map[String, String] = Map(
    "text_bigram_rarity" ->
      """WITH db AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(0, greatest(len(string_split(text, ' ')) - 1, 0)),
        |    i -> array_to_string(
        |      list_slice(string_split(text, ' '), i + 1, i + 2), ' ')))
        |    AS bigram
        |  FROM documents),
        |freq AS (
        |  SELECT bigram, CAST(count(*) AS BIGINT) AS f
        |  FROM db GROUP BY bigram),
        |agg AS (
        |  SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    CAST(sum(f.f) AS BIGINT) AS sum_freq
        |  FROM db d JOIN freq f USING (bigram)
        |  GROUP BY d.doc_id)
        |SELECT doc_id,
        |  coalesce(n_bigrams, 0) AS n_bigrams,
        |  coalesce(sum_freq, 0) AS sum_freq,
        |  CASE WHEN coalesce(n_bigrams, 0) > 0
        |    THEN CAST(sum_freq AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
        |    ELSE 0.0 END AS familiarity
        |FROM documents LEFT JOIN agg USING (doc_id)""".stripMargin
  )
}
