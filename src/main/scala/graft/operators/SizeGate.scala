package graft.operators

import scala.util.DynamicVariable
import org.apache.spark.sql.DataFrame

/** The one small-or-distributed decision. Every operator that keeps a
  * single-task kernel beside its distributed plan asks here whether its
  * input fits the kernel; each limit below is that kernel's memory
  * contract, and the distributed plan above it has per-task memory
  * independent of input size.
  */
object SizeGate {
  /** Directed CC edges for the one-task union-find (~100 bytes per incident vertex). */
  val UnionFindEdges = 2000000L
  /** Fold-engine docs for the one-task band sweep (~2.5 KB of signature per doc). */
  val SweepDocs = 65536L
  /** Docs for the one-task prefix-filter kernel (every token array and posting). */
  val PrefixKernelDocs = 16384L
  /** Skyline x-groups sorted and scanned in one task (one (x, max y) pair each). */
  val SkylineGroups = 2000000L
  /** Skyline frontier keys broadcast to every task of the row-recovery join. */
  val BroadcastKeys = 1000000L

  private val forced = new DynamicVariable(false)

  /** Whether a size `n` that is already counted is within `limit`. */
  def fits(n: Long, limit: Long): Boolean = !forced.value && n <= limit

  /** Whether `df` has at most `limit` rows. A bounded probe in one Spark
    * job with no shuffle: each task counts at most `limit + 1` rows of its
    * partition of the column-less frame, and the driver sums the counts.
    * A persist or checkpoint under `df` stores each partition whole
    * before the task reads it, so the probe fills it as a full `count()`
    * would. Inside [[distributed]] the probe still runs (and fills) but
    * the answer is "no".
    */
  def fits(df: DataFrame, limit: Long): Boolean = limit >= 0 && {
    val cap = limit + 1
    val n = df.select().queryExecution.toRdd.mapPartitions { rows =>
      var k = 0L
      while (k < cap && rows.hasNext) { rows.next(); k += 1 }
      Iterator.single(k)
    }.fold(0L)(_ + _)
    fits(n, limit)
  }

  /** Runs `body` with every gate answering "no", so a spec reaches the
    * distributed plans on small data. Threads started inside `body`, such
    * as a streaming query's, inherit the setting.
    */
  private[graft] def distributed[A](body: => A): A = forced.withValue(true)(body)
}
