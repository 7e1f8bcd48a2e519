package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** Every query module, each named once (a repeat fails the merge). */
  private val modules: Seq[QueryModule] = Seq(
    RelationalQueries, RelationalQueries2, RelationalQueries3,
    RelationalQueries4, RelationalQueries5, RelationalQueries6,
    RelationalQueries7, RelationalQueries8, RelationalQueries9,
    RelationalQueries10, RelationalQueries11, RelationalQueries12,
    RelationalQueries13, RelationalQueries14, RelationalQueries15,
    RelationalQueries16, RelationalQueries17, RelationalQueries18,
    RelationalQueries19, RelationalQueries20, RelationalQueries21,
    RelationalQueries22, RelationalQueries23,
    EventQueries, EventQueries2, EventQueries3,
    TextQueries, TextQueries2, TextQueries3, TextQueries4,
    TextQueries5, TextQueries6, TextQueries7, TextQueries8,
    DedupQueries, DedupQueries2, DedupQueries3, DedupQueries4,
    DedupQueries5, DedupQueries6, DedupQueries7, DedupQueries8,
    SimilarityQueries, SimilarityQueries2, SimilarityQueries3,
    SimilarityQueries4, SimilarityQueries5, SimilarityQueries6,
    SimilarityQueries7, SimilarityQueries8, SimilarityQueries9,
    SimilarityQueries10, SimilarityQueries11,
    ClusterQueries, PipelineQueries,
    MultimodalQueries, MultimodalQueries2, MultimodalQueries3,
    CorpusQueries, CorpusQueries2, CorpusQueries3, CorpusQueries4,
    CorpusQueries5, CorpusQueries6, CorpusQueries7, CorpusQueries8,
    CorpusQueries9, CorpusQueries10,
    FeatureQueries, FeatureQueries2, FeatureQueries3, FeatureQueries4,
    SketchQueries)

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    QueryModule.merge(modules)(_.defs)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables.
    */
  val oracleSql: Map[String, String] = QueryModule.merge(modules)(_.oracles)

  QueryModule.requireMatched(queries.keySet, oracleSql.keySet)
}
