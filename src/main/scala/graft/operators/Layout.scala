package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Sources

/** Data-layout operators — the table-maintenance side of a 100 TB lake.
  * Small-file proliferation (streaming sinks, per-task outputs) and
  * unsorted layouts are the two classic scan killers: compaction
  * restores scan-sized files, range-sorted writes give parquet row
  * groups disjoint min/max stats so range predicates skip whole files.
  */
object Layout {

  /** Compact a parquet directory into ~`targetMB` files: file count is
    * computed from the actual on-disk size, so output files land near
    * the target regardless of input fragmentation.
    */
  def compactParquet(spark: SparkSession, inDir: String, outDir: String,
      targetMB: Int = 128): Long = {
    val df = Sources.parquet(spark)(inDir)
    val bytes = new java.io.File(inDir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.length()).sum
    val nFiles = math.max(1L, bytes / (targetMB.toLong * 1024 * 1024)).toInt
    df.repartition(nFiles).write.mode("overwrite").parquet(outDir)
    nFiles.toLong
  }

  /** Range-partitioned, sorted-within-partition write: global order
    * across files AND within each file, so every file covers a disjoint
    * key range — a range predicate prunes to the one file holding it.
    */
  def writeSortedParquet(df: DataFrame, outDir: String, sortCol: String,
      nFiles: Int): Unit =
    df.repartitionByRange(nFiles, col(sortCol))
      .sortWithinPartitions(col(sortCol))
      .write.mode("overwrite").parquet(outDir)

  /** Z-ordered write: interleave-bit curve over `zCols` so EVERY listed
    * column's min/max stats stay tight in every file — predicates on any
    * single column (not just the leading sort key) skip most files. The
    * single-column sort above gives perfect pruning on one column and
    * none on the others; the z-curve trades a little of the first for a
    * lot of the rest.
    *
    * Columns are min-max scaled to `bits`-bit buckets (one tiny agg for
    * the bounds; heavy per-column skew would want quantile bucketing
    * instead), the z-value is composed from built-in bitwise ops — the
    * whole map stays inside whole-stage codegen — then range-partitioned
    * and sorted by the curve. The z column is dropped before writing.
    */
  def writeZOrderedParquet(df: DataFrame, outDir: String, zCols: Seq[String],
      nFiles: Int, bits: Int = 12): Unit = {
    require(zCols.nonEmpty && zCols.size * bits <= 62,
      s"${zCols.size} cols x $bits bits must fit a long")
    val aggExprs = zCols.flatMap(c =>
      Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
    val bounds = df.agg(aggExprs.head, aggExprs.tail: _*).head()
    val buckets = zCols.zipWithIndex.map { case (c, i) =>
      // null min/max (empty input or all-null column) → degenerate
      // bucket 0: the write still succeeds, just without a curve on
      // that column. Null VALUES likewise land in bucket 0 (coalesce).
      if (bounds.isNullAt(2 * i)) lit(0L)
      else {
        val (lo, hi) = (bounds.getDouble(2 * i), bounds.getDouble(2 * i + 1))
        val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
        least(lit((1 << bits) - 1), greatest(lit(0),
          floor((coalesce(col(c).cast("double"), lit(lo)) - lit(lo))
            / lit(span) * lit(1 << bits))))
          .cast("long")
      }
    }
    // bit i of bucket j lands at position i*nCols + j — a fold over
    // built-in shifts/ors, fully codegen'd
    val n = zCols.size
    val zval = (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      buckets.zipWithIndex.foldLeft(acc) { case (a, (b, j)) =>
        a.bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), i * n + j))
      }
    }
    df.withColumn("__z", zval)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(outDir)
  }
}
