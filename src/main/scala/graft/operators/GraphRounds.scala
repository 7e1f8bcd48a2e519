package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The iterative graph family's round operator: the decisions every
  * fixed-depth round loop makes — how the edge frame is laid out and
  * which frames a round keeps materialized — live here once, so
  * q90/q91/q92/q93/q107/q123, [[Markov.stationaryRanks]] and the
  * seed-walk artifact cannot drift apart on them.
  *
  * Every round joins its |V|-bounded side (rank, label, survivor,
  * frontier or walker frame) with an explicit `broadcast` hint: the big
  * edge frame is persisted partitioned on the round's aggregation key
  * and broadcast joins preserve that layout, so no round re-exchanges
  * the edges. The shuffled forms measured slower at sf0.1: q93 5.1 s
  * against 2.0 s, q90 2.5 s against 1.85 s, the q92 peel 11.8 s against
  * 3.3 s. As in plain Spark, the hint holds also when a session sets
  * `spark.sql.autoBroadcastJoinThreshold` to -1 (GraphRoundsSpec).
  *
  * The rounds themselves stay in their callers: every query's round
  * count and integer arithmetic is its own oracle-gated contract.
  */
object GraphRounds {

  /** The undirected edge relation of a one-orientation pair frame: the
    * frame plus its (src, dst)-swapped copy (other columns ride along
    * unchanged), hash-partitioned on `key` — the column the rounds
    * aggregate on (dst) or join on (src), so the persisted layout
    * serves every round.
    */
  def undirected(pairs: DataFrame, key: String): DataFrame = {
    val swap = Map("src" -> "dst", "dst" -> "src")
    pairs.union(pairs.select(pairs.columns.map(c => col(swap.getOrElse(c, c)).as(c)): _*))
      .repartition(col(key))
  }

  /** What a loop keeps materialized of the frame each round consumes:
    * `prepare(frame, r)` runs on round r's input. A loop that keeps
    * nothing (each round embeds the previous plan once, so lineage grows
    * linearly and a fixed depth needs no truncation) is a plain
    * foldLeft/scanLeft in its caller.
    */
  sealed abstract class Keep(val prepare: (DataFrame, Int) => DataFrame)
  object Keep {

    /** Persist every frame a round reads: it is read TWICE (Bellman-Ford's
      * keep-current branch + relax branch in q91; the next round + the
      * final level union in the seed walks). Left lazy, that doubling
      * compounds to 2^rounds recomputations of the whole prefix (q91
      * measured 5.95 s at sf0.1 lazy vs 1.5 s persisted). The frames are
      * |V|-bounded; release() sweeps them after the action.
      */
    case object ReadTwice extends Keep((f, _) => f.persist())

    /** Truncate lineage before every EVEN round with a lazy
      * localCheckpoint (the edge-peeling k-core): a peel round embeds
      * the previous plan three times (once direct, twice via the
      * survivor aggregate), so the analyzer cost grows 3^rounds; every
      * other round keeps the plan constant-size while paying the
      * per-checkpoint Catalyst+codegen compile only half as often
      * (every-round checkpointing measured slower: compile-bound, not
      * data-bound). Callers must disable constraint propagation for the
      * build (checkpointed constraints go stale — the Dedup CC loop rule).
      */
    case object TruncateEveryOther extends Keep((f, r) =>
      if (r % 2 == 0) f.localCheckpoint(eager = false) else f)
  }

  /** The fixed-depth loop: `rounds` applications of `step(frame, r)`
    * from `init`, r = 1..rounds, each round's input kept by `keep`.
    * Returns every level, `init` first — the kept frames, so a caller
    * that re-reads a level (the seed walks' union) reads what the
    * rounds read; q91 and the k-core take `.last`.
    */
  def loop(init: DataFrame, rounds: Int, keep: Keep)(
      step: (DataFrame, Int) => DataFrame): IndexedSeq[DataFrame] =
    (1 to rounds).foldLeft(Vector(init)) { (levels, r) =>
      val in = keep.prepare(levels.last, r)
      levels.init :+ in :+ step(in, r)
    }
}
