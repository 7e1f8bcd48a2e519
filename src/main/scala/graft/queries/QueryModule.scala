package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One source file's share of the oracle-gated query suite: each key
  * in `defs` builds a query over a data dir, and the same key in
  * `oracles` is the DuckDB SQL that must reproduce its rows.
  * [[graft.SparkEntry]] names every module once and merges them.
  */
trait QueryModule {
  def defs: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}

object QueryModule {

  /** Union of one map per module. Throws, naming the key and its
    * modules, when a key appears in more than one module: a plain `++`
    * chain lets the last module silently replace the earlier query.
    */
  def merge[V](modules: Seq[QueryModule])(
      part: QueryModule => Map[String, V]): Map[String, V] = {
    val owners = modules.flatMap(m => part(m).keys.map(_ -> name(m)))
      .groupMap(_._1)(_._2)
    val dups = owners.filter(_._2.size > 1).toSeq.sortBy(_._1)
    if (dups.nonEmpty) throw new IllegalStateException(
      "query keys defined in more than one module: " +
        dups.map { case (k, ms) => s"$k (${ms.mkString(", ")})" }
          .mkString("; "))
    modules.flatMap(part).toMap
  }

  /** Throws, naming the keys, unless every query has an oracle and
    * every oracle a query.
    */
  def requireMatched(defKeys: Set[String], oracleKeys: Set[String]): Unit = {
    val noOracle = (defKeys -- oracleKeys).toSeq.sorted
    val noQuery = (oracleKeys -- defKeys).toSeq.sorted
    if (noOracle.nonEmpty || noQuery.nonEmpty) throw new IllegalStateException(
      s"queries without an oracle: [${noOracle.mkString(", ")}]; " +
        s"oracles without a query: [${noQuery.mkString(", ")}]")
  }

  private def name(m: QueryModule): String =
    m.getClass.getSimpleName.stripSuffix("$")
}
