package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Fifth corpus wave (SURVEY.md §2.3, round 6): per-document
  * overlapping token-window chunking — the RAG-indexing / windowed-
  * training primitive `corpus_pack` deliberately is not (packing
  * concatenates documents greedily into fixed budgets; chunking slides
  * a fixed window WITHIN each document with a stride, so every token
  * lands in ≥1 chunk and boundaries overlap for context continuity).
  *
  * Scale shape: strictly row-local — split + arithmetic + explode;
  * zero shuffles, parallelism = scan splits. Chunk count per doc is
  * `1 + ceil(max(0, n-W)/S)`; the last window CLAMPS to the document
  * end (it is shorter than W rather than padded, and never starts past
  * the end), so chunks cover the token range exactly once per stride.
  * All arithmetic is integer (`div`); the DuckDB oracle replays it
  * with `//` guarded positive (DuckDB `//` truncates toward zero, not
  * floor — the round-3 negative-numerator trap — so the <=W case is
  * split out as a literal 1 on both engines).
  */
object CorpusQueries5 extends QueryModule {

  /** Window (tokens per chunk) and stride (tokens between chunk
    * starts); overlap = W - S. Values chosen so sf0.01 documents
    * (20-500 tokens) produce 1-10 chunks each.
    */
  private val W = 64
  private val S = 48

  /** Duplicate-n-gram window and the "appears in this many OTHER
    * documents" threshold for a shingle to count as boilerplate.
    */
  private val NGram = 8
  private val MinDocs = 1

  /** Fixed BM25 query terms (scored in this order). */
  private val BmTerms = Seq("query", "join", "data")

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_chunk" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "documents")
        .select($"doc_id", split($"text", " ").as("toks"))
        .withColumn("n", size($"toks"))
        // integer chunk count: `div` keeps the whole computation in
        // exact integer arithmetic (DataFrame `/` would be double)
        .withColumn("n_chunks",
          expr(s"1 + (CASE WHEN n <= $W THEN 0 ELSE (n - $W + $S - 1) div $S END)"))
        .select($"doc_id", $"toks", $"n",
          explode(sequence(lit(0), $"n_chunks" - 1)).as("chunk_idx"))
        .select(
          $"doc_id",
          $"chunk_idx".cast("long").as("chunk_idx"),
          least(lit(W), $"n" - $"chunk_idx" * S).cast("long").as("chunk_tokens"),
          array_join(slice($"toks", $"chunk_idx" * S + 1, lit(W)), " ")
            .as("chunk_text"))
    },

    // Gopher-style duplicate-n-gram quality signal: for each document,
    // the fraction of its 8-gram shingles that also occur in >= MinDocs
    // OTHER documents (cross-document boilerplate, the "fraction of
    // characters in duplicate n-grams" family of filters). Scale shape:
    // explode shingles (row-local), ONE distinct + ONE groupBy on the
    // shingle text (shuffle keyed by shingle — high cardinality, even
    // spread), semi-style join back, per-doc rollup. Never doc pairs.
    // The ratio is a single IEEE double division (bit-exact both
    // engines); docs shorter than the n-gram window report 0 shingles
    // and ratio 0.0 via the same CASE on both sides.
    "corpus_dupngrams" -> { (s, dir) =>
      graft.operators.DupNgrams.stats(
        Tables.load(s, dir, "documents"), "doc_id", "text", NGram, MinDocs)
    },

    // BM25 scoring (Robertson k1=1.2, b=0.75) of the corpus against a
    // fixed 3-term query, top-50 by score. The idf is the RSJ weight in
    // its RATIONAL form (N - df + 0.5)/(df + 0.5) — deliberately no
    // ln(): log is the one libm call whose rounding is not guaranteed
    // identical across engines, while +,*,/ on doubles are IEEE-exact,
    // so this variant is bit-replayable in DuckDB (same discipline as
    // the repo's no-pow/log sampling). Scale shape: ONE corpus-wide
    // aggregate (N, total tokens, the three dfs) broadcast back as a
    // 1-row frame; scoring is then row-local and the top-50 plans as
    // TakeOrderedAndProject — no global sort, no per-term shuffle (the
    // fixed query means tf extraction is a row-local array filter, not
    // an exploded join).
    "corpus_bm25" -> { (s, dir) =>
      import s.implicits._
      def tfOf(t: String) =
        size(filter(split($"text", " "), w => w === t)).cast("long")
      val base = Tables.load(s, dir, "documents")
        .select($"doc_id", size(split($"text", " ")).cast("long").as("dl"),
          tfOf(BmTerms(0)).as("tf0"), tfOf(BmTerms(1)).as("tf1"),
          tfOf(BmTerms(2)).as("tf2"))
      val stats = base.agg(
        count(lit(1)).as("n_docs"), sum($"dl").as("sum_dl"),
        sum(when($"tf0" > 0, 1L).otherwise(0L)).as("df0"),
        sum(when($"tf1" > 0, 1L).otherwise(0L)).as("df1"),
        sum(when($"tf2" > 0, 1L).otherwise(0L)).as("df2"))
      // one fixed expression shape, replicated verbatim in the oracle:
      // idf_t * (tf*2.2) / (tf + 1.2*(0.25 + 0.75*(dl/avgdl))), summed
      // in term order 0,1,2. A zero tf contributes exactly 0.0.
      def term(tf: Column, df: Column, n: Column, avgdl: Column): Column =
        (((n.cast("double") - df.cast("double")) + lit(0.5)) /
          (df.cast("double") + lit(0.5))) *
          ((tf.cast("double") * lit(2.2)) /
            (tf.cast("double") + lit(1.2) *
              (lit(0.25) + lit(0.75) * ($"dl".cast("double") / avgdl))))
      base.crossJoin(broadcast(stats))
        .withColumn("avgdl", $"sum_dl".cast("double") / $"n_docs".cast("double"))
        .select($"doc_id", $"dl",
          (term($"tf0", $"df0", $"n_docs", $"avgdl") +
            term($"tf1", $"df1", $"n_docs", $"avgdl") +
            term($"tf2", $"df2", $"n_docs", $"avgdl")).as("score"))
        .orderBy($"score".desc, $"doc_id".asc).limit(50)
    },

    // Bigram language-model table (the classic n-gram LM training
    // aggregate): corpus-wide bigram counts, conditional next-token
    // probability p(w2|w1) = c(w1,w2)/c(w1·) kept RATIONAL — both
    // counts are exact integers and the probability is ONE IEEE double
    // division, so every p is bit-replayable (no log-space smoothing;
    // same no-log discipline as corpus_bm25). Reported: top-3 next
    // tokens for the 20 most continued prefixes. Scale shape: bigram
    // extraction is a row-local zip_with + explode; the counts shuffle
    // is keyed on (w1,w2) — high-cardinality, even spread — with
    // map-side partials; the prefix rollup re-aggregates the ALREADY
    // tiny (vocab²-bounded) count frame; the 20-row prefix list
    // broadcasts back and rank<=3 plans a map-side WindowGroupLimit.
    // The count frame is persisted — it feeds both the prefix rollup
    // and the join-back (the q91 double-consumer lesson).
    "corpus_bigram_lm" -> { (s, dir) =>
      import s.implicits._
      // shared full-corpus bigram-count artifact (round 20): the
      // (w1,w2) count shuffle ran per bench pass here AND inside the
      // ppl LM build — both now read the same pinned parquet (no
      // persist: the top-20 pass and the join re-scan the tiny frame)
      val cnt = CorpusQueries9.bigramCounts(s, dir)
        .select($"w1", $"w2", $"c".as("n_pair"))
      val top = cnt.groupBy($"w1").agg(sum($"n_pair").as("n_prefix"))
        .orderBy($"n_prefix".desc, $"w1".asc).limit(20)
      val w = Window.partitionBy($"w1").orderBy($"n_pair".desc, $"w2".asc)
      cnt.join(broadcast(top), "w1")
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter($"rk" <= 3)
        .select($"w1", $"w2", $"n_pair", $"n_prefix",
          ($"n_pair".cast("double") / $"n_prefix".cast("double")).as("p"),
          $"rk")
    },

    // Token-diversity quality signal via Gini impurity: 1 − Σ(cᵢ/n)²
    // over each document's token distribution — the no-log alternative
    // to entropy (ln() rounding is engine-dependent; squares and one
    // division are IEEE-exact). Computed as 1 − (Σcᵢ²)/n² where both
    // Σcᵢ² and n² are EXACT integers: repetitive boilerplate scores
    // low, diverse prose high. Scale shape: strictly row-local —
    // per-doc counts come from array ops inside the row (distinct ×
    // filter scan, bounded by doc length²), ZERO shuffles, parallelism
    // = scan splits. The oracle prepends an explicit 0 before
    // list_reduce — DuckDB folds element 1 as the init WITHOUT
    // applying the lambda, which would leave a single-distinct-token
    // doc with c instead of c² (the ann_pq elem-1-init trap, here not
    // identity-safe because the fold squares).
    "corpus_gini" -> { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "documents")
        .select($"doc_id", split($"text", " ").as("tk"))
        .select($"doc_id",
          size($"tk").cast("long").as("n_tokens"),
          size(array_distinct($"tk")).cast("long").as("n_distinct"),
          expr("aggregate(transform(array_distinct(tk)," +
            " t -> CAST(size(filter(tk, x -> x = t)) AS BIGINT))," +
            " CAST(0 AS BIGINT), (acc, c) -> acc + c * c)").as("sumsq"))
        .select($"doc_id", $"n_tokens", $"n_distinct",
          (lit(1.0) - $"sumsq".cast("double") /
            ($"n_tokens" * $"n_tokens").cast("double")).as("gini"))
    }
  )

  val oracles: Map[String, String] = Map(
    "corpus_chunk" ->
      s"""WITH ws AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |c AS (
        |  SELECT doc_id, w, len(w) AS n,
        |    CASE WHEN len(w) <= $W THEN 1
        |         ELSE (len(w) - $W + $S - 1) // $S + 1 END AS n_chunks
        |  FROM ws),
        |e AS (
        |  SELECT doc_id, w, n, unnest(range(0, n_chunks)) AS chunk_idx
        |  FROM c)
        |SELECT doc_id,
        |  CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  CAST(least($W, n - chunk_idx * $S) AS BIGINT) AS chunk_tokens,
        |  array_to_string(list_slice(w, chunk_idx * $S + 1, chunk_idx * $S + $W), ' ')
        |    AS chunk_text
        |FROM e""".stripMargin,

    "corpus_dupngrams" -> {
      val g = NGram - 1 // 7: shingle count is n - g
      s"""WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS w,
        |    len(string_split(text, ' ')) AS n FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(list_slice(w, pos, pos + $g), ' ') AS shingle
        |  FROM (SELECT doc_id, w, unnest(range(1, n - ${g - 1})) AS pos
        |        FROM toks WHERE n >= $NGram)),
        |common AS (
        |  SELECT shingle FROM sh GROUP BY shingle
        |  HAVING count(DISTINCT doc_id) >= ${MinDocs + 1}),
        |flagged AS (
        |  SELECT doc_id, count(*) AS n_common FROM sh
        |  WHERE shingle IN (SELECT shingle FROM common) GROUP BY doc_id)
        |SELECT t.doc_id,
        |  CAST(greatest(t.n - $g, 0) AS BIGINT) AS n_shingles,
        |  CAST(coalesce(f.n_common, 0) AS BIGINT) AS n_common,
        |  CASE WHEN greatest(t.n - $g, 0) = 0 THEN CAST(0 AS DOUBLE)
        |       ELSE CAST(coalesce(f.n_common, 0) AS DOUBLE)
        |            / CAST(t.n - $g AS DOUBLE) END AS dup_frac
        |FROM toks t LEFT JOIN flagged f ON t.doc_id = f.doc_id""".stripMargin
    },

    "corpus_bm25" -> {
      def tf(i: Int) =
        s"""CAST(len(list_filter(string_split(text, ' '),
           | gw -> gw = '${BmTerms(i)}')) AS BIGINT)""".stripMargin
      def term(i: Int) =
        s"""(((CAST(n_docs AS DOUBLE) - CAST(df$i AS DOUBLE)) + 0.5)
           |   / (CAST(df$i AS DOUBLE) + 0.5))
           | * ((CAST(tf$i AS DOUBLE) * 2.2)
           |   / (CAST(tf$i AS DOUBLE) + 1.2 * (0.25 + 0.75
           |      * (CAST(dl AS DOUBLE)
           |         / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))""".stripMargin
      s"""WITH base AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
         |    ${tf(0)} AS tf0, ${tf(1)} AS tf1, ${tf(2)} AS tf2
         |  FROM documents),
         |stats AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(dl) AS BIGINT) AS sum_dl,
         |    CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
         |    CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
         |    CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
         |  FROM base)
         |SELECT doc_id, dl,
         |  ((${term(0)} + ${term(1)}) + ${term(2)}) AS score
         |FROM base, stats
         |ORDER BY score DESC, doc_id ASC LIMIT 50""".stripMargin
    },

    "corpus_bigram_lm" ->
      """WITH p AS (
        |  SELECT unnest(list_transform(range(0, greatest(len(tk) - 1, 0)),
        |    gi -> {'w1': tk[CAST(gi + 1 AS INT)],
        |           'w2': tk[CAST(gi + 2 AS INT)]})) AS bg
        |  FROM (SELECT string_split(text, ' ') AS tk FROM documents)),
        |cnt AS (
        |  SELECT bg.w1 AS w1, bg.w2 AS w2, CAST(count(*) AS BIGINT) AS n_pair
        |  FROM p GROUP BY 1, 2),
        |top AS (
        |  SELECT w1, CAST(sum(n_pair) AS BIGINT) AS n_prefix
        |  FROM cnt GROUP BY w1
        |  ORDER BY n_prefix DESC, w1 ASC LIMIT 20),
        |r AS (
        |  SELECT c.w1, c.w2, c.n_pair, t.n_prefix,
        |    CAST(row_number() OVER (PARTITION BY c.w1
        |      ORDER BY c.n_pair DESC, c.w2 ASC) AS BIGINT) AS rk
        |  FROM cnt c JOIN top t ON c.w1 = t.w1)
        |SELECT w1, w2, n_pair, n_prefix,
        |  CAST(n_pair AS DOUBLE) / CAST(n_prefix AS DOUBLE) AS p, rk
        |FROM r WHERE rk <= 3""".stripMargin,

    "corpus_gini" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CAST(len(tk) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct,
        |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(list_distinct(tk),
        |        gt -> CAST(len(list_filter(tk, gx -> gx = gt)) AS BIGINT))),
        |      (ga, gc) -> ga + gc * gc) AS BIGINT) AS sumsq
        |  FROM t)
        |SELECT doc_id, n_tokens, n_distinct,
        |  1.0 - CAST(sumsq AS DOUBLE) / CAST(n_tokens * n_tokens AS DOUBLE)
        |    AS gini
        |FROM g""".stripMargin
  )
}
