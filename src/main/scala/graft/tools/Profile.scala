package graft.tools

import graft.{GraftSession, SparkEntry}

/** Dev-only single-query profiler. For each named query it prints the
  * formatted physical plan, then one line with the plan's Exchange and
  * SortMergeJoin counts, the min/avg of three timed passes taken
  * after one warm pass (each pass is a `count()`, released between
  * passes as in Bench; the release stays outside the timed window),
  * and the number of Spark jobs each timed pass ran (each pass runs
  * in a job group of its own, counted through the status tracker).
  *
  *   SPARK_GRAFT_SF_DIR=<sf dir> sbt "runMain graft.tools.Profile <query>..."
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      throw new IllegalArgumentException(
        "set SPARK_GRAFT_SF_DIR to the scale-factor data dir"))
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    /** One pass: (seconds, Spark jobs it ran — its own job group). */
    def timed(name: String): (Double, Int) = {
      val group = s"profile-${java.util.UUID.randomUUID}"
      sc.setJobGroup(group, name)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      sc.clearJobGroup()
      GraftSession.release(spark)
      (dt, sc.statusTracker.getJobIdsForGroup(group).length)
    }
    args.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.explain("formatted")
      val plan = df.queryExecution.executedPlan.toString
      def ops(op: String): Int = op.r.findAllIn(plan).length
      timed(name)
      val (times, jobs) = Seq.fill(3)(timed(name)).unzip
      println(f"[profile] $name: ${ops("Exchange")} Exchange, " +
        f"${ops("SortMergeJoin")} SMJ, ${times.min}%.2f min / " +
        f"${times.sum / 3}%.2f avg s, jobs per pass ${jobs.mkString("/")}")
    }
    spark.stop()
  }
}
