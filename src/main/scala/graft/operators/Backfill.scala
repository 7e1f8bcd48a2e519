package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Sources

/** Partition-wise incremental backfill — reprocessing discipline for a
  * partitioned lake: diff the source's partition values against the
  * sink's (pure directory listings, no data scan), then run the
  * transform over ONLY the missing partitions via a partition-pruned
  * read, appending partitioned output. A daily 100 TB table backfills
  * one day's worth of scan, and a crashed backfill simply reruns — the
  * diff makes it idempotent at partition granularity.
  */
object Backfill {

  /** Partition values present under `dir` for hive-layout `partCol=v`
    * directories (empty if the path does not exist yet). Uses the
    * Hadoop FileSystem API, so hdfs:// and s3a:// lakes list the same
    * as local paths; directory names are hive-unescaped back to the
    * actual values. Null partitions (__HIVE_DEFAULT_PARTITION__) are
    * excluded — backfill them explicitly if the layout has them.
    */
  def partitionValues(spark: SparkSession, dir: String,
      partCol: String): Set[String] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Set.empty
    else fs.listStatus(path).filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith(s"$partCol="))
      .map(n => org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(n.stripPrefix(s"$partCol=")))
      .filterNot(_ == "__HIVE_DEFAULT_PARTITION__").toSet
  }

  /** Source partitions not yet materialized in the sink. */
  def missing(spark: SparkSession, srcDir: String, dstDir: String,
      partCol: String): Seq[String] =
    (partitionValues(spark, srcDir, partCol) --
      partitionValues(spark, dstDir, partCol)).toSeq.sorted

  /** Backfill the missing partitions through `transform` (which must
    * preserve `partCol`); returns the partition values processed.
    * The filtered read prunes to the missing directories — the plan's
    * PartitionFilters carry the isin, so untouched partitions cost
    * nothing.
    */
  def run(spark: SparkSession, srcDir: String, dstDir: String,
      partCol: String)(transform: DataFrame => DataFrame): Seq[String] = {
    val todo = missing(spark, srcDir, dstDir, partCol)
    if (todo.nonEmpty) {
      val src = Sources.parquet(spark)(srcDir)
        .filter(col(partCol).isin(todo: _*))
      transform(src)
        .write.mode("append").partitionBy(partCol).parquet(dstDir)
    }
    todo
  }
}
