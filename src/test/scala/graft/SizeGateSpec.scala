package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import scala.jdk.CollectionConverters._
import graft.operators.SizeGate

/** The one small-or-distributed decision: the probe's boundary, the
  * frames it must leave filled, the test seam, and a guard against a
  * hand-written gate landing beside it.
  */
class SizeGateSpec extends SparkSpec {

  test("an n-row frame fits n but not n - 1, and never inside distributed") {
    val df = spark.range(0, 100, 1, 4).toDF("id")
    assert(SizeGate.fits(df, 100L))
    assert(!SizeGate.fits(df, 99L))
    assert(SizeGate.fits(df.limit(0), 0L))
    assert(!SizeGate.fits(df, -1L))
    assert(SizeGate.fits(100L, 100L) && !SizeGate.fits(101L, 100L))
    SizeGate.distributed {
      assert(!SizeGate.fits(df, 1000L))
      assert(!SizeGate.fits(0L, 1000L))
    }
    assert(SizeGate.fits(df, 1000L), "the seam must not outlive its block")
  }

  test("a thread started inside distributed inherits it") {
    var seen = Option.empty[Boolean]
    SizeGate.distributed {
      val t = new Thread(() => seen = Some(SizeGate.fits(0L, 1L)))
      t.start(); t.join()
    }
    assert(seen == Some(false))
  }

  test("a probe far below the frame's size still fills its checkpoint and persist") {
    val cp = spark.range(0, 1000, 1, 4).toDF("id").localCheckpoint(eager = false)
    assert(!SizeGate.fits(cp, 10L))
    val rdd = cp.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r.rdd }.get
    assert(rdd.isCheckpointed, "the lazy checkpoint was left unfilled")

    val cached = spark.range(0, 1000, 1, 4).toDF("id").selectExpr("id * 2 AS x").persist()
    try {
      assert(!SizeGate.fits(cached, 10L))
      val loaded = cached.queryExecution.withCachedData.collectFirst {
        case r: InMemoryRelation => r.cacheBuilder.isCachedColumnBuffersLoaded
      }
      assert(loaded == Some(true), "the persist was left unfilled")
    } finally cached.unpersist(true)
  }

  test("a probe of a persisted or checkpointed frame runs exactly one Spark job") {
    val cp = spark.range(0, 1000, 1, 4).toDF("id").localCheckpoint(eager = false)
    assert(jobsIn(assert(!SizeGate.fits(cp, 10L))) == 1,
      "filling a lazy checkpoint: one capped-count job, no shuffle, no refill")
    assert(jobsIn(assert(SizeGate.fits(cp, 1000L))) == 1)
    val cached = spark.range(0, 1000, 1, 4).toDF("id").selectExpr("id * 2 AS x").persist()
    try {
      assert(jobsIn(assert(!SizeGate.fits(cached, 10L))) == 1, "filling a persist")
      assert(jobsIn(assert(SizeGate.fits(cached, 1000L))) == 1, "reading a filled persist")
    } finally cached.unpersist(true)
  }

  test("no file in src/main but SizeGate.scala compares a count() against a limit") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repo root (no $root)")
    val gate = """\.count\(\)\s*<=?""".r
    val walk = Files.walk(root)
    val gates = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "SizeGate.scala")
      .filter(p => gate.findFirstIn(Files.readString(p)).nonEmpty)
      .map(root.relativize(_: Path).toString).toSeq.sorted
    finally walk.close()
    assert(gates.isEmpty,
      s"pick small-input kernels through SizeGate.fits, not in: ${gates.mkString(", ")}")
  }
}
