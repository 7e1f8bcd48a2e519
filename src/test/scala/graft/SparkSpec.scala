package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
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

  /** The Spark jobs each micro-batch of the query `start` starts runs,
    * keyed by batch id: the query runs until it has processed all
    * available input and is stopped. A listener counts every job whose
    * `streaming.sql.batchId` property is set (micro-batch execution
    * sets it on each job of a batch, the foreachBatch body's included)
    * and whose query id is this query's; a marker job is waited for
    * last, so every counted job's event has been delivered.
    */
  def jobsPerBatch(start: => StreamingQuery): Map[Long, Int] = {
    val sc = spark.sparkContext
    val marker = s"spec-marker-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          Option(p.getProperty("streaming.sql.batchId")).foreach(b =>
            jobs.add(String.valueOf(p.getProperty("sql.streaming.queryId")) ->
              b.toLong))
          if (p.getProperty("spark.jobGroup.id") == marker) markerSeen = true
        }
    }
    sc.addSparkListener(listener)
    try {
      val q = start
      try q.processAllAvailable() finally q.stop()
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerSeen, "the listener never saw the marker job")
      import scala.jdk.CollectionConverters._
      jobs.asScala.toSeq.collect { case (id, b) if id == q.id.toString => b }
        .groupBy(identity).map { case (b, js) => b -> js.size }
    } finally sc.removeSparkListener(listener)
  }
}
