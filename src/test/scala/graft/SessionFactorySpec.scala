package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One session factory: every main in the library builds its session
  * through GraftSession, so AQE, UTC and the SQL extensions cannot
  * drift apart between Bench, Verify, the pipeline CLI and the tools.
  */
class SessionFactorySpec extends AnyFunSuite {

  test("SparkSession.builder() is called only in GraftSession.scala") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repo root (no $root)")
    val walk = Files.walk(root)
    val callers = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "GraftSession.scala")
      .filter(p => Files.readString(p).contains("SparkSession.builder()"))
      .map(root.relativize(_: Path).toString).toSeq.sorted
    finally walk.close()
    assert(callers.isEmpty,
      s"build sessions through GraftSession.builder/local, not in: ${callers.mkString(", ")}")
  }
}
