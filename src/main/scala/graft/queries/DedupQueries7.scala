package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GraftFunctions.cdc_chunks

/** Round-12 session-3 dedup addition: content-defined chunking.
  *
  * `dedup_cdc` — CDC shared-bytes audit: chunk every document at
  * content-defined boundaries (rolling window-16 hash % 64 == 0 — the
  * Rabin/LBFS rule; see `CdcChunks`), then measure, per document, how
  * many of its bytes live in chunks that also appear in ANOTHER
  * document. This is the storage-dedup / near-copy view the
  * shingle-based family can't give: CDC boundaries re-synchronize
  * after an insertion or deletion, so two documents sharing a long
  * run report that run as shared even when it sits at different
  * offsets (fixed shingles would only catch aligned copies; minhash
  * gives a score, not a byte count).
  *
  * Scale shape: ONE codegen'd O(n) kernel pass per document
  * (`Parallelism.ensure`'d — the per-row-kernel rule), then
  * postings-shaped relational work: explode to the chunk table,
  * (key, doc) distinct + key-grouped doc counts (map-side partials),
  * and one join back. The chunk table IS the dedup index — at 100 TB
  * it shuffles on chunk key exactly once; nothing is quadratic in
  * documents or duplicate-group size (hash-identical chunk groups
  * collapse into one count row). The packed key (hash·2^31 + len)
  * keeps identity and byte length in one long, so the whole pipeline
  * moves arrays of longs, never re-reads text. shared_frac is one
  * IEEE division; chunk_bytes ≥ 1 because empty texts are filtered
  * on both engines (a zero-length doc has no chunks by definition).
  */
object DedupQueries7 extends QueryModule {

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_cdc" -> { (s, dir) =>
      import s.implicits._
      val docs = graft.operators.Parallelism.ensure(
        Tables.load(s, dir, "documents").select($"doc_id", $"text"))
        .filter(length($"text") > 0)
      val chunks = docs
        .select($"doc_id", explode(cdc_chunks($"text")).as("key"))
        .persist() // read twice: the doc-count index and the join back
      val docsOf = chunks.select($"key", $"doc_id").distinct()
        .groupBy($"key").agg(count(lit(1)).as("nd"))
      chunks.join(docsOf, "key")
        .withColumn("clen", $"key" % 2147483648L)
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum($"clen").as("chunk_bytes"),
          sum(when($"nd" >= 2L, $"clen").otherwise(0L)).as("shared_bytes"))
        .select($"doc_id", $"n_chunks", $"chunk_bytes", $"shared_bytes",
          ($"shared_bytes".cast("double") / $"chunk_bytes".cast("double"))
            .as("shared_frac"))
    }
  )

  val oracles: Map[String, String] = Map(
    // boundary + chunk hashes replayed with the text_fingerprint
    // nested-list_reduce idiom: the fresh per-position window hash
    // equals the engine's rolled hash by modular identity, and the
    // elem-1-init list_reduce equals the 0-init poly fold because
    // (0*31 + c1) % M == c1.
    "dedup_cdc" ->
      """WITH base AS (SELECT doc_id, text FROM documents
        |  WHERE length(text) > 0),
        |bp AS (SELECT doc_id, text,
        |    list_append(list_filter(range(16, length(text)),
        |      gi -> list_reduce(list_transform(range(gi - 15, gi + 1),
        |          gj -> CAST(ord(substr(text, CAST(gj AS INT), 1))
        |            AS BIGINT)),
        |        (ga, gc) -> (ga * 31 + gc) % 1000000007) % 64 = 0),
        |      CAST(length(text) AS BIGINT)) AS bpos
        |  FROM base),
        |ch AS (SELECT doc_id, unnest(list_transform(
        |    range(1, len(bpos) + 1), gk ->
        |      list_reduce(list_transform(range(
        |          (CASE WHEN gk = 1 THEN 0 ELSE bpos[gk - 1] END) + 1,
        |          bpos[gk] + 1),
        |          gj -> CAST(ord(substr(text, CAST(gj AS INT), 1))
        |            AS BIGINT)),
        |        (ga, gc) -> (ga * 31 + gc) % 1073741789) * 2147483648
        |      + (bpos[gk]
        |         - CASE WHEN gk = 1 THEN 0 ELSE bpos[gk - 1] END)))
        |    AS key
        |  FROM bp),
        |nd AS (SELECT key, CAST(count(*) AS BIGINT) AS nd
        |  FROM (SELECT DISTINCT key, doc_id FROM ch) GROUP BY key)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(key % 2147483648) AS BIGINT) AS chunk_bytes,
        |  CAST(sum(CASE WHEN nd >= 2 THEN key % 2147483648 ELSE 0 END)
        |    AS BIGINT) AS shared_bytes,
        |  CAST(sum(CASE WHEN nd >= 2 THEN key % 2147483648 ELSE 0 END)
        |      AS DOUBLE)
        |    / CAST(sum(key % 2147483648) AS DOUBLE) AS shared_frac
        |FROM ch JOIN nd USING (key) GROUP BY doc_id""".stripMargin
  )
}
