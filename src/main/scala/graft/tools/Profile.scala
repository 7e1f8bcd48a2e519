package graft.tools

import graft.{GraftSession, SparkEntry}

/** Dev-only single-query profiler. For each named query it prints the
  * formatted physical plan, then one line with the plan's Exchange and
  * SortMergeJoin counts and the min/avg of three timed passes taken
  * after one warm pass (each pass is a `count()`, released between
  * passes as in Bench; the release stays outside the timed window).
  *
  *   SPARK_GRAFT_SF_DIR=<sf dir> sbt "runMain graft.tools.Profile <query>..."
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      throw new IllegalArgumentException(
        "set SPARK_GRAFT_SF_DIR to the scale-factor data dir"))
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    def timed(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      GraftSession.release(spark)
      dt
    }
    args.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.explain("formatted")
      val plan = df.queryExecution.executedPlan.toString
      def ops(op: String): Int = op.r.findAllIn(plan).length
      timed(name)
      val times = Seq.fill(3)(timed(name))
      println(f"[profile] $name: ${ops("Exchange")} Exchange, " +
        f"${ops("SortMergeJoin")} SMJ, ${times.min}%.2f min / " +
        f"${times.sum / 3}%.2f avg s")
    }
    spark.stop()
  }
}
