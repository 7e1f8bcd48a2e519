package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-8 corpus additions, wave 2: the mixture-allocation and
  * training-export steps (plus see `corpus_shuffle_shards` inline).
  *
  * `corpus_temperature_sample` — temperature-scaled mixture
  * allocation (the multilingual-sampling rule of mBERT/XLM-R/mT5,
  * Devlin 2019 / Conneau 2020): per-language sampling weight
  * n_l^T with T = 0.5, i.e. sqrt(n_l) — upweights tail languages
  * against the head without inverting the order. T = 0.5 is chosen
  * deliberately: IEEE sqrt is CORRECTLY ROUNDED everywhere (unlike
  * pow/exp/log, whose libm rounding differs across engines — the
  * repo's no-pow/log rule), so the weight is bit-stable. The
  * denominator is a STRICT lang-ordered fold (Spark `aggregate` from
  * 0.0 == DuckDB `list_reduce` elem-1 init, exact because 0.0 + x
  * == x for positive IEEE doubles — the ann_pq identity). A budget
  * of 1000 documents is allocated by LARGEST-REMAINDER rounding
  * (floor everywhere, leftovers to the largest fractional parts,
  * lang-asc tie-break) so the targets are integers that sum exactly
  * to the budget. Scale shape: one partial-agg lang rollup over the
  * corpus; everything after operates on the 5-row language frame
  * (tiny-frame windows — the downsample-then-window rule).
  */
object CorpusQueries7 extends QueryModule {

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // `corpus_shuffle_shards` — deterministic TRAINING-ORDER shuffle +
    // shard assignment (round 8), the export step between curation and
    // the data loader: global pseudo-random order from the committed
    // injective multiplicative hash (no RNG — re-runs and the oracle
    // reproduce the identical order), sharded so positions come from
    // per-SHARD windows (shard = priority mod 16; the window
    // partitions on the shard key at full parallelism — a single
    // global row_number would be the one-partition cliff). The loader
    // contract is (shard asc, pos asc) == global priority order
    // WITHIN each shard — shards interleave freely across workers,
    // which is exactly how multi-worker training readers consume
    // shards. Per-shard doc counts ride along (balance audit: the
    // multiplicative hash spreads ids near-uniformly).
    "corpus_shuffle_shards" -> { (s, dir) =>
      import s.implicits._
      val pri = pmod($"doc_id" * lit(2654435761L), lit(4294967296L))
      val t = Tables.load(s, dir, "documents")
        .select($"doc_id", $"lang", pri.as("priority"))
        .withColumn("shard", pmod($"priority", lit(16L)))
      val w = Window.partitionBy($"shard").orderBy($"priority".asc)
      val ws = Window.partitionBy($"shard")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t.withColumn("pos", row_number().over(w).cast("long"))
        .withColumn("shard_size", count(lit(1)).over(ws))
        .select($"shard", $"pos", $"doc_id", $"lang", $"shard_size")
    },

    // `corpus_dsir` — DSIR-style data SELECTION by target-domain
    // affinity (Xie et al. 2023, linearized to stay oracle-exact;
    // round 8): score each document by how much its token mix
    // resembles the TARGET domain (lang = 'en') vs the raw corpus.
    // The paper's log-likelihood ratio needs log — banned — but its
    // LINEARIZED form is exactly rational: per token w, weight_w =
    // tf_w·N_raw − rf_w·N_tgt (positive iff w is over-represented in
    // the target), doc score = Σ over the doc's tokens (with
    // multiplicity) — an exact-integer sum, order-independent. Top-20
    // docs by (score desc, doc_id) + the normalized affinity as ONE
    // double division. Bound: tf·N products stay < 2^63 through
    // ~petatoken corpora (both factors ≤ corpus tokens). Scale shape:
    // token weights are VOCAB-bounded and broadcast; one explode +
    // hash join + per-doc partial sum.
    "corpus_dsir" -> { (s, dir) =>
      import s.implicits._
      val toks = Tables.load(s, dir, "documents")
        .select($"doc_id", $"lang", explode(split($"text", " ")).as("w"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val stats = toks.groupBy($"w")
        .agg(count(lit(1)).as("rf"),
          sum(when($"lang" === "en", 1L).otherwise(0L)).as("tf"))
      val tot = stats.agg(sum($"rf").as("nr"), sum($"tf").as("nt"))
      val weights = stats.crossJoin(broadcast(tot))
        .select($"w", ($"tf" * $"nr" - $"rf" * $"nt").as("wt"),
          $"nr", $"nt")
      toks.join(broadcast(weights), "w")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum($"wt").as("score_num"),
          first($"nr").as("nr"), first($"nt").as("nt"))
        .select($"doc_id", $"n_tokens", $"score_num",
          // denominator as a left-to-right DOUBLE product: the integer
          // triple product would overflow 2^63 long before the score
          // sum does; double mults are IEEE-deterministic either way
          ($"score_num".cast("double") /
            ($"n_tokens".cast("double") * $"nr".cast("double") *
              $"nt".cast("double"))).as("affinity"))
        .orderBy($"score_num".desc, $"doc_id".asc).limit(20)
    },

    "corpus_temperature_sample" -> { (s, dir) =>
      import s.implicits._
      val counts = Tables.load(s, dir, "documents")
        .groupBy($"lang").agg(count(lit(1)).as("n_docs"))
      val denom = counts
        .agg(sort_array(collect_list(struct($"lang", $"n_docs"))).as("xs"))
        .select(expr(
          "aggregate(xs, CAST(0.0 AS DOUBLE), (a, x) -> a + sqrt(CAST(x.n_docs AS DOUBLE)))")
          .as("s"))
      val scored = counts.crossJoin(broadcast(denom))
        .withColumn("w", sqrt($"n_docs".cast("double")))
        .withColumn("share", $"w" / $"s")
        .withColumn("alloc", $"share" * lit(1000.0))
        .withColumn("base", floor($"alloc").cast("long"))
        .withColumn("rem", $"alloc" - $"base".cast("double"))
      // windows over the 5-row language frame
      val sumw = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val rkw = Window.orderBy($"rem".desc, $"lang".asc)
      scored
        .withColumn("leftover", lit(1000L) - sum($"base").over(sumw))
        .withColumn("rk", row_number().over(rkw).cast("long"))
        .select($"lang", $"n_docs", $"w", $"share",
          ($"base" + when($"rk" <= $"leftover", 1L).otherwise(0L))
            .as("target"))
    }
  )

  val oracles: Map[String, String] = Map(
    "corpus_shuffle_shards" ->
      """WITH t AS (SELECT doc_id, lang,
        |    (doc_id * 2654435761) % 4294967296 AS priority
        |  FROM documents),
        |u AS (SELECT doc_id, lang, priority,
        |    priority % 16 AS shard FROM t)
        |SELECT shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY priority)
        |    AS BIGINT) AS pos,
        |  doc_id, lang,
        |  CAST(count(*) OVER (PARTITION BY shard) AS BIGINT) AS shard_size
        |FROM u""".stripMargin,

    // list_reduce over list(... ORDER BY lang) replays the strict
    // lang-ordered denominator fold; sum() OVER () on BIGINT returns
    // HUGEINT in DuckDB — cast back
    "corpus_dsir" ->
      """WITH toks AS (SELECT doc_id, lang,
        |    unnest(string_split(text, ' ')) AS w FROM documents),
        |stats AS (SELECT w, CAST(count(*) AS BIGINT) AS rf,
        |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS tf
        |  FROM toks GROUP BY w),
        |tot AS (SELECT CAST(sum(rf) AS BIGINT) AS nr,
        |               CAST(sum(tf) AS BIGINT) AS nt FROM stats),
        |wts AS (SELECT w, tf * nr - rf * nt AS wt, nr, nt
        |  FROM stats CROSS JOIN tot),
        |d AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(wt) AS BIGINT) AS score_num,
        |    CAST(max(nr) AS BIGINT) AS nr, CAST(max(nt) AS BIGINT) AS nt
        |  FROM toks t JOIN wts ON t.w = wts.w
        |  GROUP BY t.doc_id)
        |SELECT doc_id, n_tokens, score_num,
        |  CAST(score_num AS DOUBLE) /
        |    (CAST(n_tokens AS DOUBLE) * CAST(nr AS DOUBLE)
        |      * CAST(nt AS DOUBLE)) AS affinity
        |FROM d ORDER BY score_num DESC, doc_id LIMIT 20""".stripMargin,

    "corpus_temperature_sample" ->
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        |           FROM documents GROUP BY lang),
        |d AS (SELECT list_reduce(
        |        list(sqrt(CAST(n_docs AS DOUBLE)) ORDER BY lang),
        |        (a, b) -> a + b) AS s FROM c),
        |t AS (SELECT lang, n_docs, sqrt(CAST(n_docs AS DOUBLE)) AS w,
        |             sqrt(CAST(n_docs AS DOUBLE)) / (SELECT s FROM d)
        |               AS share
        |      FROM c),
        |u AS (SELECT lang, n_docs, w, share, share * 1000.0 AS alloc,
        |             CAST(floor(share * 1000.0) AS BIGINT) AS base
        |      FROM t),
        |v AS (SELECT lang, n_docs, w, share, base,
        |             alloc - CAST(base AS DOUBLE) AS rem,
        |             CAST(1000 - sum(base) OVER () AS BIGINT) AS leftover
        |      FROM u),
        |r AS (SELECT lang, n_docs, w, share, base, leftover,
        |             CAST(row_number() OVER (ORDER BY rem DESC, lang)
        |               AS BIGINT) AS rk
        |      FROM v)
        |SELECT lang, n_docs, w, share,
        |       base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS target
        |FROM r""".stripMargin
  )
}
