package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, SizeGate}

/** The survivor-pool greedy fold (round 14 — VERDICT r13 task 1):
  * the keep-first rule's two contract properties on fixtures built to
  * separate it from the base any-smaller-id fold, plus the
  * cross-snapshot split-invariance that makes it an incremental
  * operator.
  */
class SurvivorFoldSpec extends SparkSpec {

  private def canon(df: DataFrame) =
    df.select(col("id"), col("is_dup"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).sortBy(_._1).toSeq

  // the r11 bridge, re-ordered so the BRIDGE carries the MIDDLE id:
  // A(1) ~ B(2) ~ C(3) with A ≁ C (A and C word-disjoint, B shares 8
  // of its 16 words with each — exact Jaccard 8/18 = 0.444 vs 0 at
  // threshold 1/3, margins deterministic under the committed minhash
  // family). Greedy: B dups against survivor A; C's only partner B is
  // a DUP, so C SURVIVES. The base fold flags C too (any smaller id),
  // leaving C's cluster with no kept representative.
  private def chain = {
    import spark.implicits._
    val aWords = (1 to 10).map(i => f"alpha$i%02d")
    val cWords = (1 to 10).map(i => f"omega$i%02d")
    val bWords = aWords.take(8) ++ cWords.take(8)
    Seq((1L, aWords.mkString(" ")), (2L, bWords.mkString(" ")),
      (3L, cWords.mkString(" "))).toDF("doc_id", "text")
  }

  test("greedy keeps the chain end the neighbor rule drops (retention)") {
    val surv = Dedup.minhashDedupFoldSurvivors(None, chain, "doc_id", "text",
      mode = "word", n = 1, tauNum = 1, tauDen = 3)
    assert(canon(surv) === Seq((1L, false), (2L, true), (3L, false)))
    val base = Dedup.minhashDedupFold(None, chain, "doc_id", "text",
      mode = "word", n = 1, tauNum = 1, tauDen = 3)
    assert(canon(base) === Seq((1L, false), (2L, true), (3L, true)),
      "fixture no longer separates the rules — C must dup under the base fold")
    GraftSession.release(spark)
  }

  test("any rule: a history-flagged batch doc still flags later batch docs (boundary bridge)") {
    // round-17 self-review regression: A in HISTORY, B and C in the
    // batch. B dups against history survivor A; under the
    // any-smaller-id rule B remains a valid PARTNER for C (the
    // within-batch predicate is decision-independent), so C must dup
    // too — an engine that drops history-flagged docs from the
    // within-batch pool lets C slip through and silently breaks the
    // fold's split-invariance against the one-shot decision.
    val prior = Dedup.minhashDedupFold(None,
        chain.filter(col("doc_id") <= 1), "doc_id", "text",
        mode = "word", n = 1, tauNum = 1, tauDen = 3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    prior.count()
    val state = Dedup.minhashDedupFold(Some(prior),
      chain.filter(col("doc_id") > 1), "doc_id", "text",
      mode = "word", n = 1, tauNum = 1, tauDen = 3)
    assert(canon(state) === Seq((1L, false), (2L, true), (3L, true)),
      "C's only partner B was flagged via history — C must still dup")
    GraftSession.release(spark)
  }

  test("in-order split folds equal one fold, across a parquet round-trip") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_survf").toString
    // deep duplicate class (8 copies spanning the split) + the chain +
    // singletons: the class must collapse to its min id from ONE
    // history representative however the crawls split
    val copy = (1 to 12).map(i => f"gamma$i%02d").mkString(" ")
    val docs = chain.unionByName(
      ((10L to 17L).map(i => (i, copy)) ++ Seq(
        (20L, (1 to 12).map(i => f"delta$i%02d").mkString(" ")),
        (21L, (1 to 12).map(i => f"kappa$i%02d").mkString(" "))))
        .toDF("doc_id", "text"))
    val oneShot = Dedup.minhashDedupFoldSurvivors(None, docs,
      "doc_id", "text", mode = "word", n = 1, tauNum = 1, tauDen = 3)
    // split at 11: copies 10-11 in crawl 1, 12-17 in crawl 2
    Dedup.minhashDedupFoldSurvivors(None, docs.filter(col("doc_id") <= 11),
        "doc_id", "text", mode = "word", n = 1, tauNum = 1, tauDen = 3)
      .write.parquet(s"$dir/prior")
    val prior = spark.read.parquet(s"$dir/prior")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val incremental = Dedup.minhashDedupFoldSurvivors(Some(prior),
      docs.filter(col("doc_id") > 11), "doc_id", "text",
      mode = "word", n = 1, tauNum = 1, tauDen = 3)
    assert(canon(incremental) === canon(oneShot))
    // the class keeps exactly its min id; singletons survive
    val kept = canon(oneShot).filter(!_._2).map(_._1)
    assert(kept === Seq(1L, 3L, 10L, 20L, 21L))
    GraftSession.release(spark)
  }

  test("distributed path == small-batch fast path (forced via SizeGate.distributed)") {
    import spark.implicits._
    // the chain + a deep class + singletons, one shot: the forced
    // distributed path (sig collapse + bucket kernels + CC + component
    // sweeps) must decide exactly what the single-task sweep decides
    val copy = (1 to 12).map(i => f"gamma$i%02d").mkString(" ")
    val docs = chain.unionByName(
      ((10L to 17L).map(i => (i, copy)) ++ Seq(
        (20L, (1 to 12).map(i => f"delta$i%02d").mkString(" "))))
        .toDF("doc_id", "text"))
    val fast = Dedup.minhashDedupFoldSurvivors(None, docs, "doc_id", "text",
      mode = "word", n = 1, tauNum = 1, tauDen = 3)
    val dist = SizeGate.distributed(Dedup.minhashDedupFoldSurvivors(None,
      docs, "doc_id", "text", mode = "word", n = 1, tauNum = 1, tauDen = 3))
    assert(canon(dist) === canon(fast))
    assert(canon(dist).filter(!_._2).map(_._1) === Seq(1L, 3L, 10L, 20L))
    GraftSession.release(spark)
  }

  test("every dropped doc has a verified KEPT partner (retention invariant)") {
    // on the real corpus: base-fold chains may strand docs; the greedy
    // rule may not — check via the pair rule itself
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).limit(200)
    val st = Dedup.minhashDedupFoldSurvivors(None, docs, "doc_id", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = Dedup.sigEstimatePairs(st.select(col("id"), col("sig")))
    val dropped = st.filter(col("is_dup")).select(col("id"))
    val surv = st.filter(!col("is_dup")).select(col("id").as("sid"))
    val uncovered = dropped.join(
        pairs.join(surv, col("id_a") === col("sid"))
          .select(col("id_b").as("id")).distinct(),
        Seq("id"), "left_anti")
    assert(uncovered.count() === 0,
      "a dropped doc has no surviving matched partner — greedy broken")
    GraftSession.release(spark)
  }
}
