package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import graft.GraftSession
import graft.pipeline.{ConfigParser, PipelineManager}

/** The benchmark's JVM side: runs one workload's set-up, warm-up and
  * timed phase in one Spark `local[N]` session and writes
  * `<work>/result.json` (and, traced, `<work>/spans.jsonl`). The Python
  * front end (perfbench/run.py) generates the inputs, launches this,
  * checks the outputs and prints the metrics.
  *
  * Arguments are `key=value` pairs; see run.py for the keys.
  */
object GraftBench {

  /** One timed op. Times are epoch ms on [[Clock]]. */
  final case class Op(id: Int, name: String, startMs: Double, endMs: Double,
      ok: Boolean, err: String, attrs: Seq[(String, String)] = Nil) {
    def ms: Double = endMs - startMs
    def json: String = Js.obj(Seq("id" -> id.toString, "name" -> Js.str(name),
      "start_ms" -> Js.num(startMs), "ms" -> Js.num(ms), "ok" -> ok.toString,
      "err" -> (if (err == null) "null" else Js.str(err))) ++ attrs)
  }

  final class Ctx(val args: Map[String, String]) {
    def arg(k: String): String = args.getOrElse(k,
      throw new IllegalArgumentException(s"missing argument $k="))
    def list(k: String): Seq[String] =
      arg(k).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val work: String = arg("work")
    val tracer = new Tracer(arg("trace") == "1")
    val listener: Option[LayerListener] =
      if (tracer.enabled) Some(new LayerListener) else None
    val ops = mutable.ArrayBuffer.empty[Op]
    /** Workload-specific fields of result.json. */
    val extra = mutable.ArrayBuffer.empty[(String, String)]
    /** Per-layer metrics (traced run only). */
    val layers = mutable.LinkedHashMap.empty[String, Double]
  }

  def main(argv: Array[String]): Unit = {
    val ctx = new Ctx(argv.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap)
    if (ctx.arg("workload") == "oracle_sql") return dumpOracleSql(ctx)
    val cores = ctx.arg("cores").toInt
    val spark = GraftSession.builder(s"local[$cores]", Some(cores))
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${ctx.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${ctx.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ctx.listener.foreach(spark.sparkContext.addSparkListener)
    progress(ctx, "session ready")
    try {
      ctx.arg("workload") match {
        case "query_suite" => QuerySuite.run(spark, ctx)
        case "etl_hourly" => EtlHourly.run(spark, ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      ctx.listener.foreach { l =>
        l.flush(spark.sparkContext)
        sparkLayers(ctx, l)
      }
      writeResult(ctx)
    } finally spark.stop()
  }

  /** A progress line on stderr, in seconds since launch. */
  def progress(ctx: Ctx, what: String): Unit =
    System.err.println(f"[perfbench] ${(Clock.nowMs - ctx.arg("launch_ns").toLong / 1e6) / 1e3}%.2f s: $what")

  /** Times one op; a throw marks it failed with the message. */
  def timeOp(ctx: Ctx, name: String)(body: Int => Seq[(String, String)]): Op = {
    val id = ctx.ops.size
    val t0 = System.nanoTime()
    val (ok, err, attrs) =
      try { val a = body(id); (true, null, a) }
      catch { case e: Throwable =>
        (false, s"${e.getClass.getName}: ${e.getMessage}".take(600), Nil) }
    val op = Op(id, name, Clock.ms(t0), Clock.nowMs, ok, err, attrs)
    ctx.ops += op
    op
  }

  private val gcBeans =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  private def cpuNs: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Runs the timed phase: set-up time is taken at its first op, CPU
    * and GC time over it, and live heap after a full GC at its end.
    */
  def timed(ctx: Ctx)(body: => Unit): Unit = {
    val setupS = (Clock.nowMs - ctx.arg("launch_ns").toLong / 1e6) / 1e3
    progress(ctx, "timed phase starts")
    val cpu0 = cpuNs
    val gc0 = gcMs
    val startMs = Clock.nowMs
    body
    val endMs = Clock.nowMs
    progress(ctx, "timed phase ends")
    val cpuS = (cpuNs - cpu0) / 1e9
    val gcS = (gcMs - gc0) / 1e3
    // a full GC enqueues Spark's weakly held broadcasts and shuffles;
    // the ContextCleaner frees them asynchronously, so collect again
    // after it has had time to run
    var heap = 0L
    for (_ <- 0 until 3) {
      System.gc()
      Thread.sleep(200)
      heap = java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed
    }
    ctx.extra ++= Seq("setup_s" -> Js.num(setupS),
      "work_s" -> Js.num((endMs - startMs) / 1e3),
      "cpu_s" -> Js.num(cpuS), "live_heap_mb" -> Js.num(heap / 1048576.0))
    ctx.layers("spark.gc_s") = gcS
  }

  /** spark.* layer metrics: every job whose start falls in a timed op. */
  private def sparkLayers(ctx: Ctx, l: LayerListener): Unit = {
    val ops = ctx.ops.toSeq
    def opOf(ms: Double): Option[Op] =
      ops.find(o => ms >= o.startMs - 0.5 && ms <= o.endMs + 0.5)
    val inOps = l.jobs.values.filter(j => opOf(j.startMs.toDouble).isDefined).toSeq
    ctx.layers("spark.jobs") = inOps.size
    ctx.layers("spark.stages") = inOps.map(_.stages).sum
    ctx.layers("spark.tasks") = inOps.map(_.tasks).sum
    ctx.layers("spark.task_run_s") = inOps.map(_.runMs).sum / 1e3
    ctx.layers("spark.task_cpu_s") = inOps.map(_.cpuNs).sum / 1e9
    ctx.layers("spark.shuffle_read_mb") = inOps.map(_.shuffleRead).sum / 1048576.0
    ctx.layers("spark.shuffle_write_mb") = inOps.map(_.shuffleWrite).sum / 1048576.0
    ctx.layers("spark.spill_mb") = inOps.map(_.spill).sum / 1048576.0
    val iv = l.taskIntervals.map { case (a, b) => (a.toDouble, b.toDouble) }
    ctx.layers("spark.idle_s") = ops.map(o =>
      o.ms - Intervals.covered(iv, o.startMs, o.endMs)).sum / 1e3
    // jobs credited to the first graft.* module on their call site;
    // a job with no graft frame (a broadcast thread's) goes to the
    // layer of the innermost main-thread span around its start
    val spans = ctx.tracer.spans.toSeq
    def innermost(ms: Double): Option[Span] =
      spans.filter(s => s.startMs <= ms && ms <= s.endMs)
        .sortBy(s => s.endMs - s.startMs).headOption
    val jobSpans = inOps.map { j =>
      val parent = innermost(j.startMs.toDouble)
      val layer = j.layer.orElse(parent.map(_.layer)).getOrElse("spark")
      Span(ctx.tracer.newId(), parent.map(_.id).getOrElse(0L),
        opOf(j.startMs.toDouble).get.id, s"job ${j.id}", layer,
        j.startMs.toDouble, j.endMs.toDouble, Seq(
          "stages" -> j.stages.toString, "tasks" -> j.tasks.toString,
          "task_run_ms" -> j.runMs.toString,
          "records_written" -> j.recordsWritten.toString,
          "site" -> Js.str(j.site.split("\n").take(4).mkString(" | "))))
    }
    Seq("sources", "sinks", "operators", "pipeline", "streaming", "queries",
        "session").foreach { layer =>
      ctx.layers(s"$layer.jobs_s") = jobSpans.filter(_.layer == layer)
        .map(s => s.endMs - s.startMs).sum / 1e3
    }
    ctx.tracer.write(s"${ctx.work}/spans.jsonl", jobSpans ++ ops.map(o =>
      Span(0L, 0L, o.id, o.name, "op", o.startMs, o.endMs)))
  }

  private def writeResult(ctx: Ctx): Unit = {
    val fields = Seq(
      "ops" -> Js.arr(ctx.ops.map(_.json)),
      "layers" -> Js.obj(ctx.layers.map { case (k, v) => k -> Js.num(v) })) ++
      ctx.extra
    val tmp = Paths.get(s"${ctx.work}/result.json.tmp")
    Files.write(tmp, Js.obj(fields).getBytes("UTF-8"))
    Files.move(tmp, Paths.get(s"${ctx.work}/result.json"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Writes the oracle SQL of the named queries, for perfbench/oracle.py. */
  private def dumpOracleSql(ctx: Ctx): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val out = ctx.list("queries").map(q => q -> sql.get(q).map(Js.str).getOrElse("null"))
    Files.write(Paths.get(ctx.arg("out")), Js.obj(out).getBytes("UTF-8"))
  }

  /** Row counts from parquet footers under `dir` — no Spark job. */
  def parquetRows(spark: SparkSession, dir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    parquetFiles(dir).map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toString), conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Data files under `dir` (Spark's `_`/`.`-prefixed files excluded). */
  def parquetFiles(dir: String): Seq[java.nio.file.Path] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter { p =>
        Files.isRegularFile(p) && {
          val n = p.getFileName.toString
          !n.startsWith("_") && !n.startsWith(".")
        }
      }.toList finally s.close()
    }
  }
}

/** Read-only analytics: each op builds one SparkEntry query,
  * materializes every column of its result with collect(), then calls
  * GraftSession.release.
  */
object QuerySuite {
  import GraftBench._

  /** Order-independent digest of a result: row count and the sum of
    * per-row hashes.
    */
  def digest(rows: Array[Row]): String = {
    var h = 0L
    rows.foreach(r => h += scala.util.hashing.MurmurHash3.stringHash(r.toString).toLong)
    s"${rows.length}-${java.lang.Long.toHexString(h)}"
  }

  def run(spark: SparkSession, ctx: Ctx): Unit = {
    val sf = ctx.arg("sf")
    val names = ctx.list("queries")
    val registry = graft.SparkEntry.queries
    val missing = names.filterNot(registry.contains)
    require(missing.isEmpty, s"queries not in SparkEntry: ${missing.mkString(",")}")
    val graph = ctx.list("graph").toSet
    val artifact = ctx.list("artifact").toSet
    val passes = ctx.arg("passes").toInt
    val t = ctx.tracer
    // first result per (query, digest), written out for the oracle check
    val variants = mutable.LinkedHashMap.empty[(String, String),
      (org.apache.spark.sql.types.StructType, Array[Row])]
    val build = mutable.ArrayBuffer.empty[Double]
    val exec = mutable.ArrayBuffer.empty[Double]
    val rel = mutable.ArrayBuffer.empty[Double]

    def once(q: String, op: Int): (org.apache.spark.sql.types.StructType,
        Array[Row], Double, Double, Double) =
      t.span(op, 0L, q, "queries") { root =>
        val t0 = System.nanoTime()
        val df = t.span(op, root, "build", "queries")(_ => registry(q)(spark, sf))
        val t1 = System.nanoTime()
        val rows = t.span(op, root, "collect", "queries")(_ => df.collect())
        val t2 = System.nanoTime()
        t.span(op, root, "release", "session")(_ => GraftSession.release(spark))
        val t3 = System.nanoTime()
        (df.schema, rows, (t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6)
      }

    // warm-up: the first pass is each query's cold run (timed for
    // session.cold_extra_s), graph-round consumers last so that the
    // session's first cold jobs are not credited to their rounds; later
    // passes let the JIT settle
    val warmMs = mutable.LinkedHashMap.empty[String, Double]
    val coldOrder = names.filterNot(graph) ++ names.filter(graph)
    for (pass <- 0 until ctx.arg("warm_passes").toInt;
         q <- if (pass == 0) coldOrder else names) {
      val t0 = System.nanoTime()
      try once(q, -1)
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] warm-up $q failed: $e")
        GraftSession.release(spark) }
      val ms = (System.nanoTime() - t0) / 1e6
      if (pass == 0) warmMs(q) = ms
      System.err.println(f"[perfbench] warm-up $pass $q $ms%.0f ms")
    }
    timed(ctx) {
      for (_ <- 0 until passes; q <- names) {
        var d = ""
        timeOp(ctx, q) { id =>
          val (schema, rows, b, e, r) = once(q, id)
          build += b; exec += e; rel += r
          d = digest(rows)
          if (!variants.contains((q, d))) variants((q, d)) = (schema, rows)
          Seq("digest" -> Js.str(d))
        }
      }
    }
    // untimed: every distinct result written for perfbench/checks.py
    val outRoot = s"${ctx.work}/results"
    variants.foreach { case ((q, d), (schema, rows)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$outRoot/$q/$d")
    }
    val timedByQ = ctx.ops.groupBy(_.name).map { case (q, os) =>
      q -> os.map(_.ms).sorted.apply(os.size / 2) }
    ctx.extra += "warm_ms" -> Js.obj(warmMs.map { case (k, v) => k -> Js.num(v) })
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    ctx.layers("queries.build_ms") = mean(build.toSeq)
    ctx.layers("queries.exec_ms") = mean(exec.toSeq)
    ctx.layers("session.release_ms") = mean(rel.toSeq)
    // graph rounds run only in the cold first run of a graph-round
    // consumer (its artifact build), so they are timed in set-up
    ctx.layers("queries.graph_rounds_s") = names.filter(graph).map(q =>
      warmMs(q) - timedByQ.getOrElse(q, 0.0)).sum / 1e3
    ctx.layers("queries.artifact_reads_s") =
      ctx.ops.filter(o => artifact(o.name)).map(_.ms).sum / 1e3
    ctx.layers("session.cold_extra_s") = names.map(q =>
      warmMs(q) - timedByQ.getOrElse(q, 0.0)).sum / 1e3
  }
}

/** Hourly batch ETL: one op is one PipelineManager.submit of a YAML
  * spec (the ingest, curate or report pipeline of one hour).
  */
object EtlHourly {
  import GraftBench._

  def run(spark: SparkSession, ctx: Ctx): Unit = {
    val mgr = new PipelineManager(spark)
    val t = ctx.tracer
    def submit(path: String, op: Int): Unit = {
      val yaml = new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
      t.span(op, 0L, "submit", "pipeline") { _ =>
        val spec = ConfigParser.parse(yaml).pipelines.head
        mgr.submit(spec)
        mgr.status(spec.name) match {
          case Some("COMPLETED") => ()
          case other => throw new IllegalStateException(
            s"pipeline ${spec.name}: ${other.getOrElse("no status")}")
        }
      }
    }
    ctx.list("warm").foreach(p => submit(p, -1))
    val state = ctx.arg("state")
    var rowsFolded = 0L
    var stateWritten = 0L
    timed(ctx) {
      ctx.list("specs").foreach { p =>
        val name = Paths.get(p).getFileName.toString.stripSuffix(".yaml")
        val op = timeOp(ctx, name)(id => { submit(p, id); Nil })
        if (t.enabled && op.ok && name.startsWith("curate")) {
          val spec = ConfigParser.parseFile(p).pipelines.head
          rowsFolded += parquetRows(spark, spec.source.properties("path"))
          stateWritten += parquetRows(spark, latestVersion(state))
        }
      }
    }
    ctx.layers("operators.state_rows") = parquetRows(spark, latestVersion(state))
    ctx.layers("operators.state_rewrite_ratio") =
      if (rowsFolded == 0) 0.0 else stateWritten.toDouble / rowsFolded
    val sc = spark.sparkContext
    ctx.layers("pipeline.cached_mb_end") = sc.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0
    ctx.layers("pipeline.persisted_rdds_end") = sc.getPersistentRDDs.size
    val written = ctx.list("sink_dirs").flatMap(parquetFiles)
    ctx.layers("sinks.files_written") = written.size
    ctx.layers("sinks.mb_written") = written.map(Files.size(_)).sum / 1048576.0
  }

  def latestVersion(stateDir: String): String = {
    val vs = Option(new java.io.File(stateDir).list()).toSeq.flatten
      .filter(_.startsWith("v=")).map(_.drop(2).toLong)
    require(vs.nonEmpty, s"no state version under $stateDir")
    s"$stateDir/v=${vs.max}"
  }
}
