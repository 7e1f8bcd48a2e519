package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The iterative graph family's round operator: the two decisions every
  * fixed-depth round loop makes — how the |V|-bounded side of a round
  * is joined, and which frames a round keeps materialized — live here
  * once, so q90/q91/q92/q93/q107/q123, [[Markov.stationaryRanks]] and
  * the seed-walk artifact cannot drift apart on either.
  *
  * The rounds themselves stay in their callers: every query's round
  * count and integer arithmetic is its own oracle-gated contract.
  */
object GraphRounds {

  /** The broadcast budget: THE one place a round's |V|-bounded side
    * (rank, label, survivor, frontier or walker frame) is hinted.
    * Broadcasting it is the measured-fast form — the big edge frame is
    * persisted partitioned on the round's aggregation key, broadcast
    * joins preserve that layout, so no round re-exchanges the edges
    * (q93 5.1→2.0 s, q90 2.5→1.85 s, q92 11.8→3.3 s at sf0.1). When the
    * session turns broadcasting off (`spark.sql.autoBroadcastJoinThreshold`
    * < 0, e.g. because |V| outgrows the driver) the side is hinted
    * SHUFFLE_HASH instead: the same rows (GraphRoundsSpec runs every
    * user both ways), with the edge frame re-exchanged each round and no
    * per-round sort. The setting is read when the round is built.
    * Unlike plain Spark, where -1 only stops AUTOMATIC broadcasts and
    * explicit hints still broadcast, -1 here also turns off graft's
    * round broadcasts, for the slower rounds measured above.
    */
  def side(df: DataFrame): DataFrame =
    if (df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold < 0)
      df.hint("SHUFFLE_HASH")
    else broadcast(df)

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
