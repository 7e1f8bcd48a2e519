package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.multimodal.Multimodal

/** Round-8 multimodal additions, wave 2.
  *
  * `mm_dedup` — perceptual-hash NEAR-duplicate image pairing, the
  * visual-dedup step after mm_phash's exact-hash grouping: 64-bit
  * average-hash → 4 bands of 16 bits → candidate pairs share at least
  * one exact band → one Hamming verify per candidate, keep ≤ 2 bits.
  * Banding is ZERO-FALSE-NEGATIVE here by pigeonhole: ≤ 3 differing
  * bits cannot touch all 4 bands, so every true pair at the r = 2
  * operating point shares a band. Hamming runs on 16-bit band
  * integers parsed from the hex hash with a portable
  * `instr('0123456789abcdef', ·)` fold — XOR + bit_count per band,
  * identical arithmetic on both engines (values < 2^16, far inside
  * the no-overflow bound).
  *
  * Scale note (the dedup_ppjoin honesty clause): REAL image corpora
  * spread phashes nearly uniformly, so 16-bit bands prune to ~n·k
  * candidates; this byte-histogram stub corpus clusters hashes
  * heavily (167 images → 10,795 banded candidates of 13,861 possible
  * — the measured adversarial floor). The plan shape is the scaled
  * one regardless: hash kernel once (persisted — the self-join would
  * otherwise run it twice), bucket join on (band, value), verify only
  * survivors.
  */
object MultimodalQueries2 extends QueryModule {

  private val HD = "0123456789abcdef"

  /** SQL for the 16-bit integer value of the 4-hex-char band starting
    * at 1-based `pos` — valid Spark SQL AND DuckDB SQL (instr/substr
    * agree on semantics in both engines).
    */
  private[queries] def bandInt(c: String, pos: Int): String =
    (0 until 4).map { k =>
      s"(instr('$HD', substr($c, ${pos + k}, 1))-1)*${1 << (4 * (3 - k))}"
    }.mkString(" + ")

  /** One row per image: media_id + the 4 pre-parsed 16-bit band ints
    * (persisted — the hex→int parse is 32 instr calls, once per image;
    * see the mm_dedup comment).
    */
  private[queries] def phashBandFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = graft.operators.Parallelism.ensure(
      Multimodal.fromDocuments(Tables.load(s, dir, "documents")))
    Multimodal.perceptualHash(media).toDF()
      .select($"media_id" +:
        (0 until 4).map(k =>
          expr(s"CAST(${bandInt("phash", k * 4 + 1)} AS BIGINT)")
            .as(s"w$k")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Banded candidate join + Hamming<=maxHamming verify over a
    * (media_id, w0..w3) frame — factored so mm_dedup_clusters can run
    * it over hash-class representatives only, and mm_hamming_curve
    * (MultimodalQueries3) at the pigeonhole ceiling maxHamming = 3
    * (4 bands: ≤3 differing bits cannot touch all 4, so banding stays
    * zero-false-negative up to exactly 3).
    */
  private[queries] def phashPairsFrom(hx: DataFrame,
      maxHamming: Int = 2): DataFrame = {
    require(maxHamming <= 3,
      s"4-band pigeonhole guarantees recall only to hamming 3 (got $maxHamming)")
    import hx.sparkSession.implicits._
    val bands = hx.select($"media_id", $"w0", $"w1", $"w2", $"w3",
      explode(expr(
        "transform(sequence(0, 3), b -> struct(b AS b, " +
          "element_at(array(w0, w1, w2, w3), b + 1) AS bv))")).as("e"))
      .select($"media_id", $"w0", $"w1", $"w2", $"w3",
        $"e.b".as("b"), $"e.bv".as("bv"))
    bands.as("x")
      .join(bands.as("y"), Seq("b", "bv"))
      .filter($"x.media_id" < $"y.media_id")
      .select($"x.media_id".as("id_a"), $"y.media_id".as("id_b"),
        $"x.w0".as("a0"), $"x.w1".as("a1"), $"x.w2".as("a2"), $"x.w3".as("a3"),
        $"y.w0".as("b0"), $"y.w1".as("b1"), $"y.w2".as("b2"), $"y.w3".as("b3"))
      .distinct()
      .withColumn("hamming", expr(
        (0 until 4).map(k => s"bit_count(a$k ^ b$k)").mkString(" + "))
        .cast("long"))
      .filter($"hamming" <= maxHamming.toLong)
      .select($"id_a", $"id_b", $"hamming")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_dedup" -> { (s, dir) =>
      // one row per image — persist so the band self-join reuses the
      // kernel output instead of running the hash twice. The hex→int
      // band parse runs HERE, once per image: the verify below touches
      // only 4 pre-parsed longs per candidate (the parse is 32 instr
      // calls — per-candidate it dominated the probe 20× at 10× scale)
      phashPairsFrom(phashBandFrame(s, dir))
    },

    // `mm_dedup_clusters` — the visual-dedup CAPSTONE (round 8):
    // mm_dedup's banded phash pair graph → checkpointed connected
    // components (the dedup_clusters operator — same iterative
    // min-label loop, vertices = all images so singletons keep their
    // own cluster) → per-cluster manifest (member count, lowest-id
    // survivor). Completes detect → cluster → select for the IMAGE
    // path exactly as corpus_prepare_fuzzy does for text; oracle
    // replays the full chain — phash + bands + Hamming pairs +
    // recursive transitive closure.
    // Round-10 scale fix (the 10× triage): the stub corpus clusters
    // phashes so heavily that the full pair graph is quadratic in
    // hash-group depth (the 10× probe: 498 distinct hashes over 16,667
    // images, 9.35M hash-identical pairs — 63 s, a 40× scale-up for
    // 10× data). Components only need CONNECTIVITY: collapse
    // hash-IDENTICAL images into classes (one groupBy), connect each
    // member to its min-id representative (hamming-0 star edges,
    // linear), and run the banded Hamming join over DISTINCT hashes
    // only — identical components + labels (the
    // Dedup.simhashComponentPairs argument), at O(n + distinct²-
    // bounded) edges. mm_dedup keeps the full enumeration: a gated
    // pair LIST is quadratic by definition.
    "mm_dedup_clusters" -> { (s, dir) =>
      import s.implicits._
      val hx = phashBandFrame(s, dir)
      val classes = hx.groupBy($"w0", $"w1", $"w2", $"w3")
        .agg(min($"media_id").as("__rep"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val star = hx.join(classes, Seq("w0", "w1", "w2", "w3"))
        .filter($"media_id" =!= $"__rep")
        .select($"__rep".as("id_a"), $"media_id".as("id_b"))
      val reps = classes.select($"__rep".as("media_id"),
        $"w0", $"w1", $"w2", $"w3")
      val pairs = star.unionByName(
        phashPairsFrom(reps).select($"id_a", $"id_b"))
      val vertices = Tables.load(s, dir, "documents")
        .filter($"doc_id" % 3 === 0).select($"doc_id".as("id"))
      graft.operators.Dedup.connectedComponents(vertices, pairs)
        .groupBy($"component")
        .agg(count(lit(1)).as("n_members"),
          min($"id").as("keep_media"))
    }
  )

  // shared with MultimodalQueries' mm_phash oracle: the phash CTE chain
  private[queries] val phashCte =
    """WITH img AS (SELECT doc_id AS media_id, text,
      |    length(text) AS len,
      |    n_chars % 640 + 1 AS w, n_chars % 480 + 1 AS h
      |  FROM documents WHERE doc_id % 3 = 0),
      |px AS (SELECT media_id,
      |    list_transform(range(0, 64), i ->
      |      ord(substr(text, CAST(greatest(least(len - 1,
      |        ((i // 8) * h // 8) * w + ((i % 8) * w // 8)), 0) + 1
      |        AS INT), 1))) AS ps
      |  FROM img),
      |sums AS (SELECT media_id, ps,
      |    list_reduce(ps, (ga, gb) -> ga + gb) AS s FROM px),
      |hx AS (SELECT media_id,
      |    array_to_string(list_transform(range(0, 8), r ->
      |      printf('%02x',
      |        CASE WHEN ps[CAST(r * 8 + 1 AS INT)] * 64 > s THEN 128 ELSE 0 END
      |      + CASE WHEN ps[CAST(r * 8 + 2 AS INT)] * 64 > s THEN 64 ELSE 0 END
      |      + CASE WHEN ps[CAST(r * 8 + 3 AS INT)] * 64 > s THEN 32 ELSE 0 END
      |      + CASE WHEN ps[CAST(r * 8 + 4 AS INT)] * 64 > s THEN 16 ELSE 0 END
      |      + CASE WHEN ps[CAST(r * 8 + 5 AS INT)] * 64 > s THEN 8 ELSE 0 END
      |      + CASE WHEN ps[CAST(r * 8 + 6 AS INT)] * 64 > s THEN 4 ELSE 0 END
      |      + CASE WHEN ps[CAST(r * 8 + 7 AS INT)] * 64 > s THEN 2 ELSE 0 END
      |      + CASE WHEN ps[CAST(r * 8 + 8 AS INT)] * 64 > s THEN 1 ELSE 0 END)),
      |      '') AS phash
      |  FROM sums)""".stripMargin

  val oracles: Map[String, String] = Map(
    "mm_dedup" -> (phashCte +
      s""",
         |hw AS (SELECT media_id,
         |  ${(0 until 4).map(k => s"CAST(${bandInt("phash", k * 4 + 1)} AS BIGINT) AS w$k").mkString(", ")}
         |  FROM hx),
         |bands AS (SELECT media_id, w0, w1, w2, w3,
         |                 unnest([0,1,2,3]) AS b FROM hw),
         |bv AS (SELECT media_id, w0, w1, w2, w3, b,
         |       [w0, w1, w2, w3][CAST(b + 1 AS INT)] AS bvv FROM bands),
         |cand AS (SELECT DISTINCT x.media_id AS id_a, y.media_id AS id_b,
         |  ${(0 until 4).map(k => s"x.w$k AS a$k, y.w$k AS b$k").mkString(", ")}
         |  FROM bv x JOIN bv y
         |    ON x.b = y.b AND x.bvv = y.bvv AND x.media_id < y.media_id)
         |SELECT id_a, id_b,
         |  CAST(${(0 until 4).map(k => s"bit_count(xor(a$k, b$k))").mkString(" + ")} AS BIGINT) AS hamming
         |FROM cand
         |WHERE ${(0 until 4).map(k => s"bit_count(xor(a$k, b$k))").mkString(" + ")} <= 2""".stripMargin),

    // the full mm_dedup chain + recursive transitive closure (the
    // dedup_clusters discipline); WITH must become WITH RECURSIVE
    "mm_dedup_clusters" -> (phashCte.replace("WITH img", "WITH RECURSIVE img") +
      s""",
         |hw AS (SELECT media_id,
         |  ${(0 until 4).map(k => s"CAST(${bandInt("phash", k * 4 + 1)} AS BIGINT) AS w$k").mkString(", ")}
         |  FROM hx),
         |bands AS (SELECT media_id, w0, w1, w2, w3,
         |                 unnest([0,1,2,3]) AS b FROM hw),
         |bv AS (SELECT media_id, w0, w1, w2, w3, b,
         |       [w0, w1, w2, w3][CAST(b + 1 AS INT)] AS bvv FROM bands),
         |cand AS (SELECT DISTINCT x.media_id AS id_a, y.media_id AS id_b,
         |  ${(0 until 4).map(k => s"x.w$k AS a$k, y.w$k AS b$k").mkString(", ")}
         |  FROM bv x JOIN bv y
         |    ON x.b = y.b AND x.bvv = y.bvv AND x.media_id < y.media_id),
         |p AS (SELECT id_a, id_b FROM cand
         |  WHERE ${(0 until 4).map(k => s"bit_count(xor(a$k, b$k))").mkString(" + ")} <= 2),
         |edges AS (SELECT id_a AS u, id_b AS v FROM p
         |  UNION ALL SELECT id_b, id_a FROM p),
         |reach(u, lbl) AS (
         |  SELECT media_id, media_id FROM hx
         |  UNION
         |  SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.u),
         |comp AS (SELECT u, min(lbl) AS component FROM reach GROUP BY u)
         |SELECT component, CAST(count(*) AS BIGINT) AS n_members,
         |       CAST(min(u) AS BIGINT) AS keep_media
         |FROM comp GROUP BY component""".stripMargin)
  )
}
