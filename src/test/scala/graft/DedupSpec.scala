package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._
import graft.operators.{Dedup, SizeGate}

class DedupSpec extends SparkSpec {

  test("connected components: chain, star, and singletons converge to min labels") {
    import spark.implicits._
    // chain 1-2-3-...-12 (diameter forces multiple propagation rounds),
    // star 100-(101..105), singletons 200, 201
    val chain = (1L to 11L).map(i => (i, i + 1))
    val star = (101L to 105L).map(i => (100L, i))
    val pairs = (chain ++ star).toDF("id_a", "id_b")
    val vertices = ((1L to 12L) ++ (100L to 105L) ++ Seq(200L, 201L))
      .toDF("id")
    val expect = ((1L to 12L).map(_ -> 1L) ++
      (100L to 105L).map(_ -> 100L) ++
      Seq(200L -> 200L, 201L -> 201L)).toMap
    // both paths must produce the identical labeling: the single-task
    // union-find (small graphs route here by default) and the iterative
    // min-label loop (forced via SizeGate.distributed)
    val local = graft.operators.Dedup.connectedComponents(vertices, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == expect)
    val iterative = SizeGate.distributed(graft.operators.Dedup
      .connectedComponents(vertices, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(iterative == expect)
  }

  test("prefix-filter pairs: single-task kernel == distributed ladder") {
    import spark.implicits._
    // a corpus with planted near-dups straddling the τ = 3/4 boundary:
    // base sets of 8 tokens, copies with 0/1/2 substitutions
    // (J = 1, 7/9 ≈ .78 ≥ 3/4, 6/10 = .6 < 3/4), plus disjoint noise
    // docs and an empty doc. By default the rows route to the round-20
    // single-task kernel; under SizeGate.distributed they take the
    // distributed ladder — both must emit the identical
    // (id_a, id_b, inter, uni) set.
    val base = (0 until 12).map(k => s"w${k}")
    def doc(id: Long, toks: Seq[String]) = (id, toks)
    val docs = Seq(
      doc(1L, base.take(8)),
      doc(2L, base.take(8)),                       // J=1 with 1
      doc(3L, base.take(7) :+ "x3"),               // J=7/9 with 1
      doc(4L, base.take(6) ++ Seq("x4a", "x4b")),  // J=6/10 with 1
      doc(5L, Seq("z1", "z2", "z3", "z4")),
      doc(6L, Seq.empty[String]),
      doc(7L, base.take(8) :+ "w0")                // dup tokens in input
    ).toDF("doc_id", "toks")
    val fast = Dedup.prefixFilterJaccardPairs(docs, "doc_id", "toks", 3, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val dist = SizeGate.distributed(
      Dedup.prefixFilterJaccardPairs(docs, "doc_id", "toks", 3, 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet)
    assert(fast == dist)
    // the planted structure is actually exercised
    assert(fast.contains((1L, 2L, 8L, 8L)))
    assert(fast.contains((1L, 3L, 7L, 9L)))
    assert(!fast.exists(p => p._1 == 1L && p._2 == 4L))
    assert(fast.contains((1L, 7L, 8L, 8L)))
  }

  test("connected components: extra vertex columns ride through unchanged") {
    import spark.implicits._
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val vertices = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30))
      .toDF("id", "tag", "score")
    val out = Dedup.connectedComponents(vertices, pairs)
    assert(out.columns.toSeq == Seq("id", "tag", "score", "component"))
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3))).toSet
    assert(rows == Set((1L, "a", 10, 1L), (2L, "b", 20, 1L), (3L, "c", 30, 3L)))
    // a vertex column named `component` would collide with the output
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(
        vertices.withColumnRenamed("tag", "component"), pairs)
    }
  }

  test("exact dedup groups identical texts and keeps min id") {
    import spark.implicits._
    val df = Seq((1L, "aa bb"), (2L, "aa bb"), (3L, "cc dd")).toDF("doc_id", "text")
    val out = Dedup.exact(df, "text", "doc_id")
      .orderBy("keep_id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("keep_id") == 1L && out(0).getAs[Long]("n_copies") == 2L)
    assert(out(1).getAs[Long]("keep_id") == 3L && out(1).getAs[Long]("n_copies") == 1L)
  }

  test("minhash LSH candidates have full recall vs brute-force at tau=0.5") {
    val docs = Tables.load(spark, sf, "documents")
      .withColumn("__sh3", word_shingles(col("text"), 3))
    val lsh = Dedup.minhashPairs(docs, "doc_id", "__sh3")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over the same sets
    val sets = docs.select(col("doc_id"), col("__sh3"))
    val brute = sets.as("a").join(sets.as("b"), col("a.doc_id") < col("b.doc_id"))
      .withColumn("i", size(array_intersect(col("a.__sh3"), col("b.__sh3"))))
      .withColumn("u", size(col("a.__sh3")) + size(col("b.__sh3")) - col("i"))
      .filter(col("i") * 2 >= col("u") && col("u") > 0)
      .select(col("a.doc_id"), col("b.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "corpus should contain planted near-dups")
    assert(lsh == brute, s"LSH missed ${brute.diff(lsh)} extra ${lsh.diff(brute)}")
  }

  test("simhash banding finds every pair within hamming 3 (pigeonhole)") {
    val docs = Tables.load(spark, sf, "documents")
      .withColumn("__ws", words(col("text")))
    val pairs = Dedup.simhashPairs(docs, "doc_id", "__ws", maxHamming = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hashes = docs.select(col("doc_id"), simhash60(col("__ws")).as("sh"))
    val brute = hashes.as("a").join(hashes.as("b"), col("a.doc_id") < col("b.doc_id"))
      .filter(bit_count(col("a.sh").bitwiseXOR(col("b.sh"))) <= 3)
      .select(col("a.doc_id"), col("b.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == brute)
  }

  test("block-pair all-pairs join compares every pair exactly once") {
    val emb = Tables.load(spark, sf, "embeddings").limit(60)
    val n = emb.count()
    // tau below -1 keeps every compared pair -> row count == C(n,2) iff
    // the block-pair replication neither misses nor duplicates a pair
    val rows = Dedup.embeddingPairsExact(emb, "vec_id", "embedding",
        tau = -1.1, blocks = 4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == n * (n - 1) / 2)
    assert(rows.toSet.size == rows.length)
    assert(rows.forall { case (a, b) => a < b })
  }

  test("exact embedding pairs match brute force at moderate tau") {
    val emb = Tables.load(spark, sf, "embeddings")
    val exactRows = Dedup.embeddingPairsExact(emb, "vec_id", "embedding", tau = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    // block-pair replication must compare every pair exactly once
    assert(exactRows.length == exactRows.toSet.size, "duplicate pairs emitted")
    val exact = exactRows.toSet
    val brute = emb.as("a").join(emb.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", cosine_sim(col("a.embedding"), col("b.embedding")))
      .filter(col("cos") >= 0.5)
      .select(col("a.vec_id"), col("b.vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == brute)
  }

  test("embedding sign-LSH finds true near-duplicates (high tau)") {
    // construct genuine near-dups: every vector twinned under an offset id
    val emb = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")
    val twins = emb.withColumn("vec_id", col("vec_id") + 1000000L)
    val both = emb.unionByName(twins)
    val found = Dedup.embeddingPairs(both, "vec_id", "embedding", tau = 0.99)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = emb.select("vec_id").collect().map(_.getLong(0))
      .map(id => (id, id + 1000000L)).toSet
    // identical twins share every band -> recall is exact here
    assert(expected.subsetOf(found))
  }

  test("effectiveBands refuses a numHashes/bands pair that drops tail hashes") {
    import graft.operators.Dedup
    // derived: 128 hashes at tau=1/2 -> r=2 -> 64 bands (exact)
    assert(Dedup.effectiveBands(128, 0, 1, 2) == 64)
    // explicit divisible banding passes through
    assert(Dedup.effectiveBands(128, 32, 1, 2) == 32)
    // 100 hashes at tau>=7/8 -> r=8 -> 12 bands; 100/12 rows by integer
    // division would silently use only 96 hashes — refuse
    val e = intercept[IllegalArgumentException](
      Dedup.effectiveBands(100, 0, 7, 8))
    assert(e.getMessage.contains("tail"))
    // explicit non-divisible banding refused the same way
    intercept[IllegalArgumentException](Dedup.effectiveBands(128, 24, 1, 2))
    ()
  }
}
