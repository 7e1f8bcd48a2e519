package graft.pipeline

/** CLI entry point — the reference's run.sh + REST shell collapsed into
  * one command:  runMain graft.pipeline.Main <pipeline-config.yaml>
  * Parses the reference-schema YAML, submits every pipeline, reports
  * status, and blocks while streaming pipelines run.
  */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: graft.pipeline.Main <pipeline-config.yaml> | --serve [port]")
    val spark = graft.GraftSession.builder(
        sys.env.getOrElse("SPARK_MASTER", "local[*]"),
        Some(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt))
      .appName("graft-pipelines")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val mgr = new PipelineManager(spark)
    if (args(0) == "--serve") {
      // the reference's application mode: REST management API up front,
      // pipelines submitted via POST /api/pipelines/start
      val port = args.lift(1).map(_.toInt).getOrElse(8080)
      val srv = new RestServer(mgr, port).start()
      println(s"[graft] REST API listening on :${srv.boundPort} (/api/pipelines)")
      Thread.currentThread().join() // serve until killed
    } else {
      val statuses = mgr.submitAll(ConfigParser.parseFile(args(0)))
      statuses.foreach { case (name, _) =>
        println(s"[graft] $name: ${mgr.status(name).getOrElse("UNKNOWN")}")
      }
      // block until EVERY streaming pipeline terminates (Ctrl-C to stop);
      // awaitAnyTermination alone returns on the first one
      while (spark.streams.active.nonEmpty) {
        spark.streams.awaitAnyTermination()
        spark.streams.resetTerminated()
      }
      spark.stop()
    }
  }
}
