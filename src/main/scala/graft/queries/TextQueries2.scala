package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GraftFunctions._

/** Second text-analysis wave (SURVEY.md §2.5): Gopher-style repetition
  * signals, PII detection/redaction, and per-language corpus
  * distribution. All metrics use engine-portable primitives (array
  * HOFs, shared regex classes, integer arithmetic, double division as
  * the final step) so the DuckDB oracle reproduces results exactly.
  */
object TextQueries2 extends QueryModule {

  /** Regexes shared verbatim with the oracle (lowercase classes only,
    * RE2-safe syntax — identical semantics in Java regex and DuckDB).
    */
  private val emailRe = "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val phoneRe = "[0-9]{3}-555-[0-9]{4}"
  private val digitRunRe = "[0-9]{6,}"

  /** Deterministic PII-bearing contact string synthesized from customer
    * columns — the corpus itself is synthetic word soup with no PII, so
    * the detector is exercised against planted (but fully reproducible)
    * emails/phones/id runs.
    */
  private def contactCol: Column = concat(
    col("c_name"), lit(" "),
    lower(regexp_replace(col("c_name"), "#", "")), lit("@example.com ph "),
    (col("c_nationkey") + 100).cast("string"), lit("-555-"),
    lpad(pmod(col("c_custkey"), lit(10000)).cast("string"), 4, "0"))

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Gopher-style repetition signals: top-word fraction and duplicate
    // word-trigram fraction per document. Whole computation is row-local
    // array HOFs — no shuffle at all; scales linearly with the corpus.
    "text_repetition" -> { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), words(col("text")).as("__ws"))
        .withColumn("n_words", size(col("__ws")))
        .withColumn("top_word_n",
          array_max(transform(array_distinct(col("__ws")),
            x => size(filter(col("__ws"), y => y === x)))))
        .withColumn("top_word_frac",
          col("top_word_n").cast("double") / col("n_words"))
        .withColumn("__tg", when(col("n_words") >= 3,
            transform(sequence(lit(0), col("n_words") - 3), i =>
              concat_ws(" ", element_at(col("__ws"), i + 1),
                element_at(col("__ws"), i + 2), element_at(col("__ws"), i + 3))))
          .otherwise(array().cast("array<string>")))
        .withColumn("n_trigrams", size(col("__tg")))
        .withColumn("dup_trigram_frac", when(col("n_trigrams") > 0,
            (col("n_trigrams") - size(array_distinct(col("__tg"))))
              .cast("double") / col("n_trigrams"))
          .otherwise(lit(0.0)))
        .select(col("doc_id"), col("n_words"), col("top_word_n"),
          col("top_word_frac"), col("n_trigrams"), col("dup_trigram_frac"))
    },

    // PII detection + redaction: count emails / phone numbers / long
    // digit runs and emit the redacted string. Row-local regex work —
    // codegen'd, shuffle-free.
    "text_pii" -> { (s, dir) =>
      Tables.load(s, dir, "customer")
        .withColumn("__contact", contactCol)
        .withColumn("n_emails",
          size(regexp_extract_all(col("__contact"), lit(emailRe), lit(0))))
        .withColumn("n_phones",
          size(regexp_extract_all(col("__contact"), lit(phoneRe), lit(0))))
        .withColumn("n_digit_runs",
          size(regexp_extract_all(col("__contact"), lit(digitRunRe), lit(0))))
        .withColumn("redacted",
          regexp_replace(regexp_replace(col("__contact"), emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>"))
        .select(col("c_custkey"), col("n_emails"), col("n_phones"),
          col("n_digit_runs"), col("redacted"))
    },

    // per-language corpus distribution: doc and token share per lang
    "corpus_langdist" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
        .withColumn("n_tokens", token_count(col("text")))
      val tot = d.agg(count(lit(1)).as("__td"),
        sum(col("n_tokens")).as("__tt"))
      d.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("lang_tokens"))
        .crossJoin(broadcast(tot))
        .select(col("lang"), col("n_docs"), col("lang_tokens"),
          (col("n_docs").cast("double") / col("__td")).as("doc_share"),
          (col("lang_tokens").cast("double") / col("__tt")).as("token_share"))
    }
  )

  val oracles: Map[String, String] = Map(
    "text_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |r AS (SELECT doc_id, len(ws) AS n_words,
        |  list_max(list_transform(list_distinct(ws),
        |    gx -> len(list_filter(ws, gy -> gy = gx)))) AS top_word_n,
        |  CASE WHEN len(ws) >= 3 THEN
        |    list_transform(range(0, len(ws) - 2), gi ->
        |      ws[CAST(gi + 1 AS INT)] || ' ' || ws[CAST(gi + 2 AS INT)]
        |        || ' ' || ws[CAST(gi + 3 AS INT)])
        |  ELSE [] END AS tg
        |  FROM t)
        |SELECT doc_id, n_words, top_word_n,
        |  CAST(top_word_n AS DOUBLE) / n_words AS top_word_frac,
        |  len(tg) AS n_trigrams,
        |  CASE WHEN len(tg) > 0
        |    THEN CAST(len(tg) - len(list_distinct(tg)) AS DOUBLE) / len(tg)
        |    ELSE 0.0 END AS dup_trigram_frac
        |FROM r""".stripMargin,

    "text_pii" ->
      """WITH t AS (SELECT c_custkey,
        |  c_name || ' ' || lower(replace(c_name, '#', '')) || '@example.com ph '
        |    || CAST(c_nationkey + 100 AS VARCHAR) || '-555-'
        |    || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') AS contact
        |  FROM customer)
        |SELECT c_custkey,
        |  len(regexp_extract_all(contact,
        |    '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(contact, '[0-9]{3}-555-[0-9]{4}')) AS n_phones,
        |  len(regexp_extract_all(contact, '[0-9]{6,}')) AS n_digit_runs,
        |  regexp_replace(regexp_replace(contact,
        |    '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{3}-555-[0-9]{4}', '<PHONE>', 'g') AS redacted
        |FROM t""".stripMargin,

    "corpus_langdist" ->
      """WITH t AS (SELECT lang,
        |  (length(text) - length(replace(text, ' ', '')) + 1) AS n_tokens
        |  FROM documents),
        |g AS (SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS lang_tokens FROM t GROUP BY lang),
        |tot AS (SELECT count(*) AS td, CAST(sum(n_tokens) AS BIGINT) AS tt FROM t)
        |SELECT lang, n_docs, lang_tokens,
        |  CAST(n_docs AS DOUBLE) / td AS doc_share,
        |  CAST(lang_tokens AS DOUBLE) / tt AS token_share
        |FROM g, tot""".stripMargin
  )
}
