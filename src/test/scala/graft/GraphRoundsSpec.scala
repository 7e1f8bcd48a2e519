package graft

import org.apache.spark.sql.{DataFrame, Row}
import graft.queries.{GraphEdges, RelationalQueries11, RelationalQueries12}

/** Graph rounds under both broadcast settings
  * (graft.operators.GraphRounds): every user of the round operator runs
  * once with the session's default settings and once with
  * `spark.sql.autoBroadcastJoinThreshold=-1`, which turns off the
  * automatic broadcasts elsewhere in the plan; both runs must return
  * the same rows, and the round sides broadcast either way.
  */
class GraphRoundsSpec extends SparkSpec {

  /** q92 peels at k = 90, which empties this scale's co-order graph
    * (17798 edges) within its 4 rounds; k = 70 peels it to a core of
    * 11744 edges.
    */
  private val K = 70

  private val thrKey = "spark.sql.autoBroadcastJoinThreshold"

  /** `body` under the default settings, then with broadcasting off. */
  private def bothLegs[A](body: => A): (A, A) = {
    val on = body
    GraftSession.release(spark)
    val prev = spark.conf.get(thrKey)
    spark.conf.set(thrKey, "-1")
    try (on, body)
    finally {
      spark.conf.set(thrKey, prev)
      GraftSession.release(spark)
    }
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private def sameRowsBothWays(df: => DataFrame): Unit = {
    val (on, off) = bothLegs(rows(df))
    assert(on.nonEmpty, "no rows — the graph is empty at this scale")
    assert(off == on)
  }

  for (q <- Seq("q90_pagerank", "q91_shortest_path", "q93_label_prop",
      "q107_random_walks", "q119_stationary", "q123_absorption")) {
    test(s"$q: same rows with broadcasting on and off") {
      sameRowsBothWays(SparkEntry.queries(q)(spark, sf))
    }
  }

  // the queries above return only a top-k or a histogram; these compare
  // every node's final rank and label
  test("q90's rank frame: same rank for every node with broadcasting on and off") {
    sameRowsBothWays(RelationalQueries11.pagerank(
      GraphEdges.cotradePairs(spark, sf).select("src", "dst")))
  }

  test("q93's label frame: same label for every node with broadcasting on and off") {
    val (on, off) = bothLegs(rows(
      RelationalQueries12.labelProp(GraphEdges.coorderPairs(spark, sf))))
    assert(off == on)
    assert(on.exists(r => r.getLong(0) != r.getLong(1)),
      "no label moved — the rounds are vacuous")
  }

  test("seed-walk table: same rows with broadcasting on and off") {
    // the table is a session artifact: drop the memo so each leg's
    // rounds really run under that leg's setting
    sameRowsBothWays {
      GraftSession.invalidateModels()
      GraphEdges.cotradeSeedWalks(spark, sf)
    }
  }

  test("q92's k-core peel: same surviving edges with broadcasting on and off") {
    val (on, off) = bothLegs {
      val e = GraphEdges.coorderPairs(spark, sf)
      val core = rows(RelationalQueries11.kcore(e, K))
      (e.count(), core)
    }
    assert(off == on)
    val (edges, core) = on
    assert(core.nonEmpty, "the peel removed every edge — lower k")
    assert(core.size < edges, "nothing peeled — the rounds are vacuous")
  }

  test("the round side broadcasts also with auto-broadcast off") {
    def plan = SparkEntry.queries("q90_pagerank")(spark, sf)
      .queryExecution.executedPlan.toString
    val (on, off) = bothLegs(plan)
    assert(on.contains("BroadcastHashJoin"))
    assert(off.contains("BroadcastHashJoin"))
  }
}
