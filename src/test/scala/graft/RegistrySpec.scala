package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.QueryModule

/** The query registry: every module named once in SparkEntry, every
  * query paired with its oracle, and a key that two modules define
  * refused at merge time instead of one silently replacing the other.
  */
class RegistrySpec extends AnyFunSuite {

  private def module(keys: String*): QueryModule = new QueryModule {
    val defs: Map[String, (SparkSession, String) => DataFrame] =
      keys.map(k => k -> ((_: SparkSession, _: String) => null: DataFrame)).toMap
    val oracles: Map[String, String] = keys.map(k => k -> s"SELECT '$k'").toMap
  }

  test("every query has an oracle and every oracle a query") {
    assert(SparkEntry.queries.size == 287)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("merging two modules that share a key throws and names the key") {
    val mods = Seq(module("a", "shared"), module("b", "shared"))
    val e = intercept[IllegalStateException](QueryModule.merge(mods)(_.defs))
    assert(e.getMessage.contains("shared"))
    assert(QueryModule.merge(Seq(module("a"), module("b")))(_.oracles)
      .keySet == Set("a", "b"))
  }

  test("a query without an oracle, or an oracle without a query, throws") {
    val e = intercept[IllegalStateException](
      QueryModule.requireMatched(Set("q", "only_def"), Set("q", "only_sql")))
    assert(e.getMessage.contains("only_def") && e.getMessage.contains("only_sql"))
    QueryModule.requireMatched(Set("q"), Set("q"))
  }
}
