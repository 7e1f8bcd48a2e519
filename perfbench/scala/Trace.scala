package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** Minimal JSON rendering for the benchmark's result and span files. */
object Js {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}

/** One clock for the whole run: epoch milliseconds (with a fractional
  * part) derived from System.nanoTime, anchored once to the wall clock
  * so that Spark's listener timestamps (epoch ms) line up with it.
  */
object Clock {
  private val anchor = java.time.Instant.now()
  private val anchorNano = System.nanoTime()
  val anchorEpochMs: Double = anchor.getEpochSecond * 1e3 + anchor.getNano / 1e6
  def ms(nano: Long): Double = anchorEpochMs + (nano - anchorNano) / 1e6
  def nowMs: Double = ms(System.nanoTime())
}

/** A timed interval at a layer boundary. `op` ties every span of one
  * op together; `parent` is the span that caused it (0 = none).
  */
final case class Span(id: Long, parent: Long, op: Int, name: String,
    layer: String, startMs: Double, endMs: Double,
    attrs: Seq[(String, String)] = Nil) {
  def json: String = Js.obj(Seq(
    "id" -> id.toString, "parent" -> parent.toString, "op" -> op.toString,
    "name" -> Js.str(name), "layer" -> Js.str(layer),
    "start_ms" -> Js.num(startMs), "end_ms" -> Js.num(endMs)) ++ attrs)
}

/** Spans kept in memory and written out when the run ends. With
  * tracing off `span` only runs the body.
  */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  def newId(): Long = { nextId += 1; nextId }

  def span[T](op: Int, parent: Long, name: String, layer: String)
      (body: Long => T): T =
    if (!enabled) body(0L)
    else {
      val id = newId()
      val t0 = Clock.nowMs
      try body(id)
      finally spans += Span(id, parent, op, name, layer, t0, Clock.nowMs)
    }

  def write(path: String, extra: Iterable[Span]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try (spans ++ extra).sortBy(_.startMs).foreach(s => w.println(s.json))
    finally w.close()
  }
}

/** Spark listener for the traced run: per-job call-site credit, task
  * run/CPU time, shuffle, spill and records written, and every task's
  * running interval. All callbacks arrive on one listener-bus thread;
  * the benchmark reads the records only after [[flush]].
  */
final class LayerListener extends SparkListener {
  final class Job(val id: Int, val startMs: Long, val layer: Option[String],
      val site: String) {
    var endMs: Long = startMs
    var stages = 0
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var recordsWritten = 0L
  }
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  /** Credited layer of each SQL execution, from the call site that
    * started it: AQE runs its stage jobs on a pool thread whose own
    * stack has no graft frame.
    */
  private val executionLayer = mutable.HashMap.empty[Long, String]
  /** (launch ms, finish ms) of every finished task. */
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val flushTags = new java.util.concurrent.ConcurrentHashMap[String,
    java.util.concurrent.CountDownLatch]()
  private val flushJobs = mutable.HashMap.empty[Int, String]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties).map(_.getProperty("spark.job.description"))
      .orNull
    if (desc != null && flushTags.containsKey(desc)) {
      flushJobs(e.jobId) = desc
      return
    }
    val site = if (e.stageInfos.isEmpty) ""
      else e.stageInfos.maxBy(_.stageId).details
    val execution = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => executionLayer.get(id.toLong))
    val j = new Job(e.jobId, e.time,
      LayerListener.creditedLayer(site).orElse(execution), site)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
    flushJobs.remove(e.jobId).foreach(t => flushTags.get(t).countDown())
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      LayerListener.creditedLayer(x.details)
        .foreach(l => executionLayer(x.executionId) = l)
    case _ => ()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val info = e.taskInfo
    if (info != null) taskIntervals += ((info.launchTime, info.finishTime))
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.shuffleRead += m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.diskBytesSpilled
        j.recordsWritten += m.outputMetrics.recordsWritten
      }
    }
  }

  /** Runs a one-task marker job and blocks until the bus has delivered
    * its end: every event posted before it has been seen by then.
    */
  def flush(sc: org.apache.spark.SparkContext): Unit = {
    val tag = s"perfbench-flush-${System.nanoTime()}"
    val latch = new java.util.concurrent.CountDownLatch(1)
    flushTags.put(tag, latch)
    sc.setJobDescription(tag)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setJobDescription(null)
    if (!latch.await(60, java.util.concurrent.TimeUnit.SECONDS))
      throw new IllegalStateException("listener bus did not drain in 60 s")
  }
}

object LayerListener {
  /** The layer of the first `graft.*` frame on a job's call site. */
  def creditedLayer(site: String): Option[String] =
    site.split("\n").iterator.map(_.trim.takeWhile(_ != '('))
      .collectFirst { case f if f.startsWith("graft.") => layerOfClass(f) }

  def layerOfClass(frame: String): String =
    frame.stripPrefix("graft.").takeWhile(_ != '.') match {
      case "sources" => "sources"
      case "sinks" => "sinks"
      case "pipeline" => "pipeline"
      case "streaming" => "streaming"
      case "operators" | "functions" | "multimodal" => "operators"
      case s if s.startsWith("GraftSession") => "session"
      case _ => "queries" // graft.queries.*, SparkEntry, Tables
    }
}

/** Merged length of intervals clipped to [lo, hi]. */
object Intervals {
  def covered(iv: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.iterator.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (!curB.isNaN) total += curB - curA
    total
  }
}
