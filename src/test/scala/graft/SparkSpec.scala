package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per suite, lazily created). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sf = "/root/testdata/sf0.001"

  /** The Spark jobs `body` runs, counted as `tools/Profile` counts them:
    * a job group of its own, read back through the status tracker. A
    * marker job in a second group is waited for first, so every job of
    * `body` has reached the tracker (its events arrive in order).
    */
  def jobsIn(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"spec-${java.util.UUID.randomUUID}"
    def inGroup(g: String)(run: => Any): Unit = {
      sc.setJobGroup(g, g)
      try run finally sc.clearJobGroup()
    }
    inGroup(group)(body)
    inGroup(s"$group-marker")(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(s"$group-marker").isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(10)
    sc.statusTracker.getJobIdsForGroup(group).length
  }
}
