package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Integer fixed-point Markov power iteration — THE single definition
  * of the stationary-distribution rounds, shared by the batch query
  * (q119_stationary) and the streaming consumer
  * (StreamingOps.stationaryFrom) so the streamed-equals-batch contract
  * can never drift between two copies of the rule (round-12 review).
  *
  * Discipline (the q90 pagerank family): ranks in micro-units (start
  * 1,000,000 per state), one round is rank'_t = Σ_s (rank_s·c) DIV
  * ctot_s — truncating BIGINT division of non-negative operands ==
  * DuckDB `//`, order-independent integer sums ⇒ every round bit-exact
  * replayable; truncation only LEAKS mass (< 1 micro-unit per edge per
  * round), deterministically on both engines.
  */
object Markov {

  /** `trans` must carry (src, dst, c, ctot) — transition counts with
    * their per-src totals. Returns (state, rank_micro) after `rounds`
    * fixed-point rounds over the |states|-complete frame (sink-only
    * states ride at 0 when no mass arrives — the schema never narrows
    * mid-iteration). The two internal persists are |types|²- and
    * |types|-bounded and are swept by the standard release().
    */
  def stationaryRanks(trans: DataFrame, rounds: Int = 8): DataFrame = {
    val t = trans.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val states = t.select(col("src").as("state"))
      .union(t.select(col("dst").as("state"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val r0 = states.select(col("state"), lit(1000000L).as("rank"))
    val rK = (1 to rounds).foldLeft(r0) { (r, _) =>
      val contrib = t
        .join(broadcast(r.withColumnRenamed("state", "src")), "src")
        .groupBy(col("dst").as("state"))
        .agg(sum(expr("(rank * c) DIV ctot")).as("s"))
      states.join(broadcast(contrib), Seq("state"), "left")
        .select(col("state"), coalesce(col("s"), lit(0L)).as("rank"))
    }
    rK.select(col("state"), col("rank").as("rank_micro"))
  }
}
