package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** 2-D Pareto frontier (skyline): the rows not strictly dominated by
  * any other row, where row B dominates row A iff `x_B >= x_A`,
  * `y_B >= y_A` and at least one inequality is strict (both dimensions
  * maximized; negate a column to minimize it).
  *
  * Scale shape: the naive formulation is an all-pairs NOT EXISTS
  * (quadratic — dead at 100 TB), and the classic sort-based scan
  * (`max(y) OVER (ORDER BY x DESC)`) is a single global window task.
  * Instead:
  *
  *   1. group by x keeping max(y) — the ONLY pass over the full data,
  *      a fully codegen'd aggregation with map-side partials (a point
  *      below its x-group maximum is dominated within the group);
  *   2. exclusive prefix-max of the group maxima under descending x:
  *      range repartition + per-partition maxima (O(partitions) values
  *      to the driver, the [[Packing]]/[[GlobalIndex]] ladder) and a
  *      seeded per-partition rescan — fully parallel, no global
  *      window. An x-group is on the frontier iff its max(y) strictly
  *      exceeds the prefix max over all strictly-greater x;
  *   3. join the surviving (x, ymax) pairs back to the input to
  *      recover full rows — broadcast when the frontier is small (the
  *      expected case: O(log n) points for independent dims), shuffle
  *      join above [[SizeGate.BroadcastKeys]] (anti-correlated dims can
  *      make the frontier arbitrarily large; correctness never depends
  *      on it being small).
  *
  * Stage 2 runs as ONE executor task instead when the group maxima fit
  * [[SizeGate.SkylineGroups]] (the common case once stage 1 collapsed
  * the data).
  *
  * The dimensions are symmetric — pick the LOWER-cardinality one as
  * `xCol`: stage 2's per-distinct-x work then runs on a frame the
  * stage-1 aggregation already collapsed (q77 groups 600k lineitems
  * into 50 quantity rows before anything leaves codegen).
  *
  * Duplicate points (same x and y) are NOT strictly dominated by each
  * other: all copies survive together, matching the NOT-EXISTS spec
  * (property-tested in SkylineSpec).
  */
object Skyline {

  /** Frontier rows of `rawDf` maximizing (`xCol`, `yCol`). Both
    * columns must be non-null and of an integral, decimal, string or
    * date type with exact ordering (no doubles — cross-engine
    * NaN/-0.0 ordering is not worth the hazard in an exact operator).
    */
  def pareto2D(rawDf: DataFrame, xCol: String, yCol: String): DataFrame = {
    // no Parallelism.ensure: the per-row work is one codegen'd agg
    // comparison — an up-front round-robin shuffle costs more than it
    // parallelizes (scan parallelism is governed by file splits)
    val df = rawDf
    val grouped = df.groupBy(col(xCol)).agg(max(col(yCol)).as("__ymax"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val yIdx = grouped.schema.fieldIndex("__ymax")
    val yOrd = orderingFor(grouped.schema(yIdx).dataType)
    val frontierKeys = (if (SizeGate.fits(grouped, SizeGate.SkylineGroups)) {
      // small-side fast path (the common case once stage 1 collapsed
      // the data): ONE executor task sorts the group maxima and scans
      // with the strict running max — no range-partitioner sample job,
      // no driver ladder (mirrors Dedup.connectedComponents' small-
      // graph union-find route)
      val sorted = grouped.coalesce(1).sortWithinPartitions(col(xCol).desc)
      sorted.mapPartitions { it =>
        var run: Option[Any] = None
        it.filter { r =>
          val y = r.get(yIdx)
          val on = run.forall(m => yOrd.gt(y, m))
          run = Some(run.fold(y)(m => yOrd.max(m, y)))
          on
        }
      }(org.apache.spark.sql.catalyst.encoders.RowEncoder
        .encoderFor(sorted.schema))
    } else {
      // wide path: exclusive prefix-max ladder over a range shuffle —
      // O(partitions) values on the driver, fully parallel rescan
      val parts = math.max(df.sparkSession.sparkContext.defaultParallelism, 1)
      val ranged = grouped
        .repartitionByRange(parts, col(xCol).desc)
        .sortWithinPartitions(col(xCol).desc)
      val rrdd = ranged.rdd
      val partMax: Array[Option[Any]] = rrdd.mapPartitionsWithIndex { case (pid, it) =>
        val m = it.map(_.get(yIdx)).reduceOption((a, b) => yOrd.max(a, b))
        Iterator.single(pid -> m)
      }.collect().sortBy(_._1).map(_._2)
      val seeds: Array[Option[Any]] = partMax.scanLeft(Option.empty[Any]) {
        case (acc, m) => (acc ++ m).reduceOption((a, b) => yOrd.max(a, b))
      }.dropRight(1)
      val schema = StructType(ranged.schema.fields.toSeq :+
        StructField("__on_frontier", BooleanType, nullable = false))
      val flagged = rrdd.mapPartitionsWithIndex { case (pid, it) =>
        var run: Option[Any] = seeds(pid)
        it.map { r =>
          val y = r.get(yIdx)
          // strict: a tie with any higher-x group max means dominated
          val on = run.forall(m => yOrd.gt(y, m))
          run = Some(run.fold(y)(m => yOrd.max(m, y)))
          Row.fromSeq(r.toSeq :+ on)
        }
      }
      ranged.sparkSession.createDataFrame(flagged, schema)
        .filter(col("__on_frontier"))
        .select(col(xCol), col("__ymax"))
    }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // recover full rows: the frontier is usually tiny -> broadcast (the
    // probe is cheap over the already-collapsed frame)
    val keys = if (SizeGate.fits(frontierKeys, SizeGate.BroadcastKeys))
      broadcast(frontierKeys) else frontierKeys
    df.join(keys,
        df(xCol) === keys(xCol) && df(yCol) === keys("__ymax"))
      .select(df.columns.map(df(_)).toSeq: _*)
  }

  private def orderingFor(dt: DataType): Ordering[Any] = dt match {
    case IntegerType => Ordering.Int.on[Any](_.asInstanceOf[Int])
    case LongType => Ordering.Long.on[Any](_.asInstanceOf[Long])
    case ShortType => Ordering.Short.on[Any](_.asInstanceOf[Short])
    case StringType => Ordering.String.on[Any](_.asInstanceOf[String])
    case DateType => Ordering.by[Any, Long](_.asInstanceOf[java.sql.Date].getTime)
    case _: DecimalType => new Ordering[Any] {
      def compare(a: Any, b: Any): Int =
        a.asInstanceOf[java.math.BigDecimal]
          .compareTo(b.asInstanceOf[java.math.BigDecimal])
    }
    case other => sys.error(
      s"Skyline.pareto2D: unsupported y type $other (exact-ordering types only)")
  }
}
