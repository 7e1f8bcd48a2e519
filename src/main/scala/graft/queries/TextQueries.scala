package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GraftFunctions._

/** Text analysis over `documents` (SURVEY.md §2.5). Every metric is
  * defined with engine-portable primitives (length/replace arithmetic,
  * identical regex classes, integer polynomial hashes) so the DuckDB
  * oracle reproduces results exactly — including the fingerprints.
  */
object TextQueries extends QueryModule {

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_tokens" -> { (s, dir) =>
      Tables.load(s, dir, "documents").select(
        col("doc_id"),
        length(col("text")).as("n_chars_calc"),
        token_count(col("text")).as("n_tokens"),
        bpe_token_count(col("text")).as("n_bpe"))
    },

    "text_quality" -> { (s, dir) =>
      Tables.load(s, dir, "documents")
        .withColumn("n_tokens", token_count(col("text")))
        .withColumn("stop_cnt", stopword_count(col("text")))
        .withColumn("punct_cnt", punct_count(col("text")))
        .withColumn("stop_ratio", col("stop_cnt").cast("double") / col("n_tokens"))
        .withColumn("mean_word_len",
          (length(col("text")) - (col("n_tokens") - 1)).cast("double") / col("n_tokens"))
        .withColumn("quality",
          col("stop_ratio") * 0.5 + least(col("mean_word_len") / 10.0, lit(1.0)) * 0.5)
        .select(col("doc_id"), col("n_tokens"), col("stop_cnt"), col("punct_cnt"),
          col("stop_ratio"), col("mean_word_len"), col("quality"))
    },

    "text_langid" -> { (s, dir) =>
      val df = Tables.load(s, dir, "documents")
      val scores = lang_scores(col("text"))
      val scored = scores.foldLeft(df) { case (d, (l, c)) => d.withColumn(s"s_$l", c) }
      scored.withColumn("pred",
          lang_predict(scores.map { case (l, _) => l -> col(s"s_$l") }))
        .select(col("doc_id"), col("lang"),
          col("s_de"), col("s_en"), col("s_es"), col("s_fr"), col("s_zh"), col("pred"))
    },

    "text_fingerprint" -> { (s, dir) =>
      Tables.load(s, dir, "documents").select(
        col("doc_id"),
        poly_hash(col("text")).as("fp"),
        min_window_fingerprint(col("text"), 16).as("win_fp"))
    }
  )

  private def stopList = stopwords.map(w => s"'$w'").mkString(", ")
  private def markerList(l: String) =
    langMarkers.toMap.apply(l).map(w => s"'$w'").mkString(", ")
  private def sqlCount(set: String) =
    s"len(list_filter(string_split(text, ' '), gw -> gw IN ($set)))"

  val oracles: Map[String, String] = Map(
    "text_tokens" ->
      """SELECT doc_id, length(text) AS n_chars_calc,
        |  (length(text) - length(replace(text, ' ', '')) + 1) AS n_tokens,
        |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS n_bpe
        |FROM documents""".stripMargin,

    "text_quality" ->
      s"""WITH t AS (SELECT doc_id, text,
         |  (length(text) - length(replace(text, ' ', '')) + 1) AS n_tokens,
         |  ${sqlCount(stopList)} AS stop_cnt,
         |  (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) AS punct_cnt
         |  FROM documents)
         |SELECT doc_id, n_tokens, stop_cnt, punct_cnt,
         |  CAST(stop_cnt AS DOUBLE) / n_tokens AS stop_ratio,
         |  CAST(length(text) - (n_tokens - 1) AS DOUBLE) / n_tokens AS mean_word_len,
         |  (CAST(stop_cnt AS DOUBLE) / n_tokens) * 0.5
         |    + least((CAST(length(text) - (n_tokens - 1) AS DOUBLE) / n_tokens) / 10.0, 1.0) * 0.5
         |    AS quality
         |FROM t""".stripMargin,

    "text_langid" ->
      s"""WITH t AS (SELECT doc_id, lang,
         |  ${sqlCount(markerList("de"))} AS s_de,
         |  ${sqlCount(markerList("en"))} AS s_en,
         |  ${sqlCount(markerList("es"))} AS s_es,
         |  ${sqlCount(markerList("fr"))} AS s_fr,
         |  ${sqlCount(markerList("zh"))} AS s_zh
         |  FROM documents)
         |SELECT doc_id, lang, s_de, s_en, s_es, s_fr, s_zh,
         |  CASE
         |    WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
         |    WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
         |    WHEN s_es >= s_de AND s_es >= s_en AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
         |    WHEN s_fr >= s_de AND s_fr >= s_en AND s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
         |    WHEN s_zh >= s_de AND s_zh >= s_en AND s_zh >= s_es AND s_zh >= s_fr THEN 'zh'
         |    ELSE 'und' END AS pred
         |FROM t""".stripMargin,

    "text_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(list_transform(range(1, length(text) + 1),
        |    gi -> CAST(ord(substr(text, CAST(gi AS INT), 1)) AS BIGINT)),
        |    (ga, gc) -> (ga * 31 + gc) % 1000000007) AS fp,
        |  list_min(list_transform(range(1, greatest(length(text) - 14, 2)),
        |    gi -> list_reduce(list_transform(range(0, least(16, length(text) - gi + 1)),
        |      gj -> CAST(ord(substr(text, CAST(gi + gj AS INT), 1)) AS BIGINT)),
        |      (ga, gc) -> (ga * 31 + gc) % 1000000007))) AS win_fp
        |FROM documents""".stripMargin
  )
}
