package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Tokenizer-training + fingerprinting corpus operators (round 7).
  *
  * `corpus_bpe` — the first iteration of BPE tokenizer training
  * (Sennrich et al. 2016): the adjacent-symbol pair-count table,
  * weighted by word frequency, that the trainer's merge step argmaxes
  * over. Scale shape: pair counting runs on the DISTINCT-WORD table
  * (vocabulary-bounded — the within-word quadratic never touches
  * corpus rows), so the expensive explode is O(vocab · word_len) and
  * the corpus contributes only a word-count groupBy.
  *
  * `corpus_winnowing` — winnowing document fingerprints (Schleimer et
  * al. 2003, the MOSS algorithm): k-gram rolling hashes, min of each
  * w-hash window, distinct selected values = the document's sketch.
  * Guarantees any match of length ≥ w+k−1 shares a fingerprint, at
  * ~2/(w+1) sketch density. Strictly row-local (zero shuffles other
  * than the scan); every hash is the repo's standard base-31 mod 1e9+7
  * polynomial, so DuckDB replays the sketch value-for-value. Window
  * minima are selected BY VALUE and deduped, so the classic
  * rightmost-tie rule (a position-level concern) cannot affect the
  * output set.
  */
object CorpusQueries6 extends QueryModule {

  private val K = 8   // winnowing k-gram length (chars)
  private val W = 16  // winnowing window (hashes)
  private val TopPairs = 20
  private val MergeRounds = 3 // corpus_bpe_merges fixed-depth contract
  private val Sep = "\u001f"  // symbol separator (chr(31)) — never in text

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_bpe" -> { (s, dir) =>
      import s.implicits._
      val words = Tables.load(s, dir, "documents")
        .select(explode(split($"text", " ")).as("w"))
        .filter(length($"w") >= 2)
        .groupBy($"w").agg(count(lit(1)).as("freq"))
      words
        .select(explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"), $"freq")
        .groupBy($"pair").agg(sum($"freq").as("cnt"))
        .orderBy($"cnt".desc, $"pair".asc).limit(TopPairs)
    },

    // Iterated BPE merge training — what corpus_bpe's single pair-count
    // pass feeds: MergeRounds rounds of (count adjacent symbol pairs on
    // the vocab, pick the argmax pair, greedily re-segment every word
    // left-to-right). Output = the merge table (round, a, b, cnt), the
    // artifact a tokenizer trainer persists. Determinism: integer
    // counts; the merge pick is a total order (cnt DESC, a ASC, b ASC);
    // the greedy re-segment is a strict left fold, so DuckDB replays
    // every round exactly (unrolled CTE rounds, the q93 lpRound shape).
    // Scale shape: all per-round work is VOCAB-bounded (the corpus
    // contributes one word-count groupBy up front); each round is one
    // partial-agg pair rollup + a 1-row TakeOrdered collected to the
    // driver (the bounded-ladder contract — the merge pick is a global
    // argmax, inherently a 1-row decision) + a row-local fold; each
    // round's segmentation persists and the superseded one drops (the
    // q91 round-frame discipline). Symbols are chr(31)-joined strings,
    // so "merge" is literally append-without-separator — no arrays
    // shuffle anywhere.
    "corpus_bpe_merges" -> { (s, dir) =>
      s.createDataFrame(bpeTrain(s, dir)._1).toDF("round", "a", "b", "cnt")
    },

    // the APPLICATION half of tokenizer training: corpus token counts
    // under the learned merges — round 0 is the char-level baseline,
    // each merge round shrinks the total (the compression curve a
    // tokenizer report plots). Token totals are freq-weighted integer
    // sums over the SAME per-round segmentations the merge loop builds,
    // so the oracle replays them from the identical unrolled CTEs.
    "corpus_bpe_tokenize" -> { (s, dir) =>
      s.createDataFrame(bpeTrain(s, dir)._2).toDF("round", "n_tokens")
    },

    // TOKENIZER FERTILITY per language (round 13) — the number a
    // multilingual-tokenizer report leads with: BPE tokens per
    // whitespace word under the trained merges, by lang (high
    // fertility = the tokenizer fragments that language, its
    // documents pay more context budget per word). Per-lang (lang,
    // word) counts join the trained vocab segmentation (words under
    // 2 chars never merge — fertility 1 by definition, the training
    // filter's contract); exact integer token sums, ONE division per
    // lang row. Scale: the (lang, word) rollup is the only
    // corpus-touch; the segmentation side is vocab-bounded.
    "corpus_bpe_fertility" -> { (s, dir) =>
      import s.implicits._
      val seg = bpeTrain(s, dir, keepFinal = true)._3.get
        .select($"w", size(split($"wstr", Sep)).cast("long").as("bl"))
      Tables.load(s, dir, "documents")
        .select($"lang", explode(split($"text", " ")).as("w"))
        .groupBy($"lang", $"w").agg(count(lit(1)).as("c"))
        .join(seg, Seq("w"), "left")
        .groupBy($"lang")
        .agg(sum($"c" * coalesce($"bl", lit(1L))).as("t_bpe"),
          sum($"c").as("t_words"))
        .select($"lang", $"t_bpe", $"t_words",
          ($"t_bpe".cast("double") / $"t_words".cast("double"))
            .as("fertility"))
    },

    // Word-association mining (the word2vec/SGNS co-occurrence
    // preprocessing step): skip-bigram counts within a +-2 token
    // window, scored by the PMI ASSOCIATION RATIO in rational form —
    // (N_pairs · c(a,b)) / (c(a) · c(b)), which orders pairs exactly
    // like PMI = log of it without the one libm call that breaks
    // cross-engine bit-parity (the corpus_bm25 no-log rule). All
    // counts exact integers; both products fit BIGINT (N ~ 1e6·4,
    // c ~ 1e5); ONE IEEE division per surviving pair. c(a,b) >= 5
    // filters the rare-pair noise that dominates raw PMI. Scale
    // shape: pair extraction is row-local (explode of a per-doc
    // windowed zip), ONE high-cardinality (a,b) rollup with map-side
    // partials; unigram counts are vocab-bounded and broadcast back;
    // the corpus total is a 1-row broadcast; top-30 is a partial
    // TakeOrdered.
    "corpus_pmi" -> { (s, dir) =>
      import s.implicits._
      val toks = Tables.load(s, dir, "documents")
        .select(split($"text", " ").as("ps"))
      val pairs = toks.select(explode(expr(
        """flatten(transform(sequence(1, size(ps)), i ->
          | transform(filter(array(i + 1, i + 2), j -> j <= size(ps)),
          |  j -> struct(least(element_at(ps, i), element_at(ps, j)) AS a,
          |              greatest(element_at(ps, i), element_at(ps, j)) AS b))))"""
          .stripMargin)).as("p"))
        .select($"p.a".as("a"), $"p.b".as("b"))
      // round 20: persist the vocab²-bounded ROLLUP, not the
      // corpus-sized pair frame — N_pairs == Σ c_ab over the
      // unfiltered groups (exact), so the second full pass (and the
      // token-pair-volume cache) disappears; guide §2.3 "aggregate
      // before you shuffle" applied to the persist too
      val pairCnt0 = pairs.groupBy($"a", $"b").agg(count(lit(1)).as("c_ab"))
        .persist()
      val pairCnt = pairCnt0.filter($"c_ab" >= 5)
      val uni = toks.select(explode($"ps").as("w"))
        .groupBy($"w").agg(count(lit(1)).as("c_w"))
      val n = pairCnt0.agg(coalesce(sum($"c_ab"), lit(0L)).as("n_pairs"))
      pairCnt
        .join(broadcast(uni.select($"w".as("a"), $"c_w".as("c_a"))), "a")
        .join(broadcast(uni.select($"w".as("b"), $"c_w".as("c_b"))), "b")
        .crossJoin(broadcast(n))
        .select($"a", $"b", $"c_ab", $"c_a", $"c_b",
          (($"n_pairs" * $"c_ab").cast("double") /
            ($"c_a" * $"c_b").cast("double")).as("assoc"))
        .orderBy($"assoc".desc, $"a".asc, $"b".asc).limit(30)
    },

    // dataset-card profiling: per-column null/distinct/extreme stats
    // in ONE aggregate over ONE scan (operators.Profile — a profiler
    // that rescans per column is 100 scans at 100 TB). Values render
    // through exact integer/string casts only, so the card is
    // engine-portable.
    "corpus_profile" -> { (s, dir) =>
      graft.operators.Profile.profile(Tables.load(s, dir, "documents"))
    },

    "corpus_winnowing" -> { (s, dir) =>
      val docs = graft.operators.Parallelism.ensure(
        Tables.load(s, dir, "documents"))
      // k-gram hashes (clamped at the tail like text_fingerprint), then
      // per-window minima, then the distinct value set. All aggregates
      // of the sketch are integers: count, min, max, sum (values
      // < 1e9+7, docs < 1e3 chars — the sum cannot overflow BIGINT).
      docs
        .withColumn("gh", expr(
          // inner length clamped to >= 1 position: on an empty/too-short
          // text Spark's sequence(0, -1) would DESCEND ([0,-1]) and hash
          // garbage while the DuckDB oracle's empty range makes
          // list_reduce throw — the clamp gives both engines the same
          // defined value (one out-of-range char: ascii('') = 0 here,
          // greatest(ord(''), 0) = 0 there)
          s"""transform(sequence(1, greatest(length(text) - ${K - 1}, 1)), i ->
             | aggregate(transform(
             |   sequence(0, greatest(least(${K - 1}, length(text) - i), 0)),
             |   j -> CAST(ascii(substring(text, CAST(i + j AS INT), 1)) AS BIGINT)),
             |  CAST(0 AS BIGINT), (a, c) -> (a * 31 + c) % 1000000007))""".stripMargin))
        .withColumn("fps", expr(
          s"""array_distinct(transform(
             | sequence(1, greatest(size(gh) - ${W - 1}, 1)),
             | i -> array_min(slice(gh, i, $W))))""".stripMargin))
        .select(col("doc_id"),
          expr("CAST(size(fps) AS BIGINT)").as("n_fp"),
          expr("array_min(fps)").as("min_fp"),
          expr("array_max(fps)").as("max_fp"),
          expr("aggregate(fps, CAST(0 AS BIGINT), (a, x) -> a + x)").as("sum_fp"))
    }
  )

  /** The shared BPE training loop (corpus_bpe_merges /
    * corpus_bpe_tokenize): MergeRounds rounds of vocab-wide pair counts
    * -> global argmax merge (total order cnt DESC, a ASC, b ASC; a
    * 1-row TakeOrdered collected to the driver — the bounded-ladder
    * contract, the merge pick is inherently a 1-row global decision)
    * -> greedy left-to-right re-segmentation as a strict string fold.
    * Returns (merge table rows, per-round corpus token totals with
    * round 0 = the char-level baseline). Each round's segmentation
    * persists and the superseded one drops (the q91 round-frame
    * discipline); all per-round work is VOCAB-bounded.
    */
  /** Runs MergeRounds of BPE training. With keepFinal the third
    * element is the FINAL persisted segmentation frame (w, wstr,
    * freq) — corpus_bpe_fertility joins per-lang word counts against
    * it; released by the between-queries clearCache contract.
    * Without it every internal frame unpersists eagerly and the
    * third element is empty.
    */
  private[queries] def bpeTrain(s: SparkSession, dir: String,
      keepFinal: Boolean = false)
      : (Seq[(Int, String, String, Long)], Seq[(Int, Long)],
         Option[org.apache.spark.sql.DataFrame]) = {
    import s.implicits._
    val words0 = Tables.load(s, dir, "documents")
      .select(explode(split($"text", " ")).as("w"))
      .filter(length($"w") >= 2)
      .groupBy($"w").agg(count(lit(1)).as("freq"))
      .select($"w", expr("array_join(transform(sequence(1, length(w)), " +
        "i -> substring(w, i, 1)), chr(31))").as("wstr"), $"freq")
      .persist()
    def tokenTotal(seg: org.apache.spark.sql.DataFrame): Long =
      seg.agg(sum($"freq" * size(split($"wstr", Sep))).as("t"))
        .head().getLong(0)
    var seg = words0
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    val tokens = scala.collection.mutable.ArrayBuffer[(Int, Long)]()
    tokens += ((0, tokenTotal(words0)))
    (1 to MergeRounds).foreach { r =>
      val pc = seg.select(explode(expr(
        """CASE WHEN size(split(wstr, chr(31))) >= 2 THEN
          |  transform(sequence(1, size(split(wstr, chr(31))) - 1),
          |    i -> struct(element_at(split(wstr, chr(31)), i) AS a,
          |      element_at(split(wstr, chr(31)), CAST(i + 1 AS INT)) AS b))
          |ELSE CAST(array() AS array<struct<a:string,b:string>>) END"""
          .stripMargin)).as("p"), $"freq")
        .groupBy($"p.a".as("a"), $"p.b".as("b"))
        .agg(sum($"freq").as("cnt"))
      val best = pc.orderBy($"cnt".desc, $"a".asc, $"b".asc).limit(1)
        .collect()
      require(best.nonEmpty, s"bpeTrain: no pairs left at round $r")
      val (ba, bb, bc) =
        (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
      merges += ((r, ba, bb, bc))
      // greedy left-to-right merge: appending WITHOUT the separator is
      // the merge (the last symbol a absorbs b); lit() keeps arbitrary
      // text chars out of SQL-literal escaping
      val syms = split($"wstr", Sep)
      val nxt = seg.withColumn("wstr",
          aggregate(slice(syms, lit(2), size(syms) - 1),
            element_at(syms, 1),
            (acc, ss) => when(
              element_at(split(acc, Sep), -1) === lit(ba) && ss === lit(bb),
              concat(acc, ss)).otherwise(concat(acc, lit(Sep), ss))))
        .persist()
      tokens += ((r, tokenTotal(nxt))) // also materializes nxt before
      if (seg ne words0) seg.unpersist() // dropping the superseded round
      seg = nxt
    }
    if (!keepFinal) seg.unpersist()
    if (seg ne words0) words0.unpersist()
    (merges.toSeq, tokens.toSeq, if (keepFinal) Some(seg) else None)
  }

  /** One unrolled BPE round (pair counts -> 1-row argmax -> greedy
    * re-segment), chained words$r -> words${r+1} — the q93 lpRound
    * discipline. list_reduce's elem-1 init == Spark's aggregate over
    * slice(syms, 2) with init syms[1]; b$r.a/b captured from a plain
    * lateral cross join (outer-lambda capture is fine outside
    * RECURSIVE CTEs — the ann_pq precedent).
    */
  private def bpeRoundCte(r: Int): String =
    s"""p$r AS (
       |  SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt FROM (
       |    SELECT ss[CAST(gi AS INT)] AS a, ss[CAST(gi + 1 AS INT)] AS b, freq
       |    FROM (SELECT string_split(wstr, chr(31)) AS ss, freq
       |          FROM words${r - 1}),
       |      unnest(range(1, len(ss))) AS t(gi))
       |  GROUP BY a, b),
       |b$r AS (SELECT a, b, cnt FROM p$r
       |  ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
       |words$r AS (
       |  SELECT w, list_reduce(ss, (acc, s2) -> CASE
       |      WHEN string_split(acc, chr(31))[-1] = b$r.a AND s2 = b$r.b
       |      THEN acc || s2 ELSE acc || chr(31) || s2 END) AS wstr, freq
       |  FROM (SELECT w, string_split(wstr, chr(31)) AS ss, freq
       |        FROM words${r - 1}), b$r)""".stripMargin

  val oracles: Map[String, String] = Map(
    "corpus_bpe_merges" -> {
      val rounds = (1 to MergeRounds).map(bpeRoundCte).mkString(",\n")
      val sel = (1 to MergeRounds).map(r =>
        s"SELECT CAST($r AS INT) AS round, a, b, cnt FROM b$r")
        .mkString("\nUNION ALL ")
      s"""WITH words0 AS (
         |  SELECT w,
         |    array_to_string(list_transform(range(1, length(w) + 1),
         |      gi -> substr(w, CAST(gi AS INT), 1)), chr(31)) AS wstr,
         |    CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE length(w) >= 2 GROUP BY w),
         |$rounds
         |$sel""".stripMargin
    },

    "corpus_bpe_tokenize" -> {
      val rounds = (1 to MergeRounds).map(bpeRoundCte).mkString(",\n")
      val sel = (0 to MergeRounds).map(r =>
        s"""SELECT CAST($r AS INT) AS round,
           |  CAST(sum(freq * len(string_split(wstr, chr(31)))) AS BIGINT)
           |    AS n_tokens FROM words$r""".stripMargin)
        .mkString("\nUNION ALL ")
      s"""WITH words0 AS (
         |  SELECT w,
         |    array_to_string(list_transform(range(1, length(w) + 1),
         |      gi -> substr(w, CAST(gi AS INT), 1)), chr(31)) AS wstr,
         |    CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE length(w) >= 2 GROUP BY w),
         |$rounds
         |$sel""".stripMargin
    },

    // the trained segmentation re-derived by the shared unrolled
    // rounds, joined to per-lang word counts; sub-2-char words miss
    // the vocab and coalesce to 1 token
    "corpus_bpe_fertility" -> {
      val rounds = (1 to MergeRounds).map(bpeRoundCte).mkString(",\n")
      s"""WITH words0 AS (
         |  SELECT w,
         |    array_to_string(list_transform(range(1, length(w) + 1),
         |      gi -> substr(w, CAST(gi AS INT), 1)), chr(31)) AS wstr,
         |    CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE length(w) >= 2 GROUP BY w),
         |$rounds,
         |seg AS (SELECT w,
         |    CAST(len(string_split(wstr, chr(31))) AS BIGINT) AS bl
         |  FROM words$MergeRounds),
         |lw AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS c FROM (
         |    SELECT lang, unnest(string_split(text, ' ')) AS w
         |    FROM documents)
         |  GROUP BY lang, w)
         |SELECT lang,
         |  CAST(sum(c * coalesce(bl, 1)) AS BIGINT) AS t_bpe,
         |  CAST(sum(c) AS BIGINT) AS t_words,
         |  CAST(sum(c * coalesce(bl, 1)) AS DOUBLE)
         |    / CAST(sum(c) AS DOUBLE) AS fertility
         |FROM lw LEFT JOIN seg USING (w)
         |GROUP BY lang""".stripMargin
    },

    "corpus_bpe" ->
      s"""WITH words AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
         |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE length(w) >= 2 GROUP BY w),
         |pairs AS (
         |  SELECT unnest(list_transform(range(1, length(w)),
         |    gi -> substr(w, CAST(gi AS INT), 2))) AS pair, freq
         |  FROM words)
         |SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM pairs
         |GROUP BY pair ORDER BY cnt DESC, pair ASC LIMIT $TopPairs""".stripMargin,

    "corpus_profile" -> {
      val docCols = Seq("doc_id", "text", "lang", "source", "n_chars")
      val base = "SELECT CAST(count(*) AS BIGINT) AS n, " + docCols.map { c =>
        s"CAST(count($c) AS VARCHAR) AS ${c}_nn, " +
          s"CAST(count(DISTINCT $c) AS VARCHAR) AS ${c}_d, " +
          s"CAST(min($c) AS VARCHAR) AS ${c}_mn, " +
          s"CAST(max($c) AS VARCHAR) AS ${c}_mx"
      }.mkString(", ") + " FROM documents"
      val rows = docCols.flatMap { c =>
        Seq(("nonnull", s"${c}_nn"), ("distinct", s"${c}_d"),
          ("min", s"${c}_mn"), ("max", s"${c}_mx")).map { case (m, v) =>
          s"""SELECT '$c' AS "column", '$m' AS metric, $v AS value, n AS n_rows FROM b"""
        }
      }
      s"WITH b AS ($base)\n" + rows.mkString("\nUNION ALL\n")
    },

    "corpus_pmi" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS ps FROM documents),
        |pairs AS (
        |  SELECT p.a, p.b FROM toks,
        |    unnest(flatten(list_transform(range(1, len(ps) + 1), gi ->
        |      list_transform(list_filter([gi + 1, gi + 2], gj -> gj <= len(ps)),
        |        gj -> struct_pack(a := least(ps[CAST(gi AS INT)], ps[CAST(gj AS INT)]),
        |                          b := greatest(ps[CAST(gi AS INT)], ps[CAST(gj AS INT)])))))) AS t(p)),
        |pc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab
        |       FROM pairs GROUP BY a, b HAVING count(*) >= 5),
        |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c_w FROM (
        |  SELECT unnest(ps) AS w FROM toks) GROUP BY w),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM pairs)
        |SELECT pc.a, pc.b, pc.c_ab, ua.c_w AS c_a, ub.c_w AS c_b,
        |  CAST(n.n_pairs * pc.c_ab AS DOUBLE) / CAST(ua.c_w * ub.c_w AS DOUBLE)
        |    AS assoc
        |FROM pc JOIN uni ua ON pc.a = ua.w JOIN uni ub ON pc.b = ub.w, n
        |ORDER BY assoc DESC, a ASC, b ASC LIMIT 30""".stripMargin,

    // window minima via explicit offset transforms (NOT DuckDB list
    // slicing — its inclusive bounds differ from Spark's slice(start,
    // len) clamping); list_sum of an empty list is NULL on neither
    // side here because sketches are never empty (n_g >= 1 always)
    "corpus_winnowing" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |    list_transform(range(1, greatest(length(text) - ${K - 1}, 1) + 1),
         |      gi -> list_reduce(
         |        list_transform(range(0, greatest(least($K, length(text) - gi + 1), 1)),
         |          gj -> CAST(greatest(ord(substr(text, CAST(gi + gj AS INT), 1)), 0) AS BIGINT)),
         |        (ga, gc) -> (ga * 31 + gc) % 1000000007)) AS gh
         |  FROM documents),
         |w AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(
         |      range(1, greatest(len(gh) - ${W - 1}, 1) + 1),
         |      gi -> list_min(list_transform(
         |        range(0, least($W, len(gh) - gi + 1)),
         |        gj -> gh[CAST(gi + gj AS INT)])))) AS fps
         |  FROM h)
         |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp,
         |  CAST(list_min(fps) AS BIGINT) AS min_fp,
         |  CAST(list_max(fps) AS BIGINT) AS max_fp,
         |  CAST(list_sum(fps) AS BIGINT) AS sum_fp
         |FROM w""".stripMargin
  )
}
