package graft

import org.apache.spark.sql.Row
import graft.operators.SizeGate

/** Both sides of every size gate on real queries: each registered query
  * that reaches a gate runs once with the defaults (at this scale every
  * gate picks its single-task kernel) and once inside
  * `SizeGate.distributed` (every gate picks its distributed plan), and
  * both runs must return the same rows. Verify pins the default side to
  * the DuckDB oracle, so this pins the distributed side to it too.
  */
class GateParitySpec extends SparkSpec {

  /** `dedup_clusters` reaches its gate through the
    * `GraphEdges.simhashComponents` artifact; the memo is dropped before
    * each run so the artifact rebuilds under that run's gates.
    */
  private val gated = Seq("q77_pareto", "dedup_ppjoin", "dedup_incremental",
    "dedup_incremental_survivors", "corpus_prepare_fuzzy", "corpus_ccnet",
    "mm_dedup_clusters", "dedup_clusters")

  private def run(q: String): Seq[Row] = {
    GraftSession.invalidateModels()
    try SparkEntry.queries(q)(spark, sf).collect().toSeq.sortBy(_.toString)
    finally GraftSession.release(spark)
  }

  for (q <- gated) {
    test(s"$q: same rows from the small-input kernels and the distributed plans") {
      val small = run(q)
      val dist = SizeGate.distributed(run(q))
      assert(small.nonEmpty, s"$q returned no rows at this scale")
      assert(dist == small)
    }
  }
}
