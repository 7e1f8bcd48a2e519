package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.streaming.StateDir

/** The state-dir layout has one owner: `graft.streaming.StateDir`. Its
  * staged commit and marker replace are pinned directly here, and a
  * scan keeps the rest of the streaming package from renaming or
  * creating files by hand.
  */
class StateDirSpec extends SparkSpec {

  private def fresh(): StateDir =
    StateDir(spark, Files.createTempDirectory("statedir").toString)

  private def rows(dir: StateDir, name: String): Seq[Long] =
    spark.read.parquet(dir.path(name)).collect().map(_.getLong(0)).sorted.toSeq

  private def touch(dir: StateDir, name: String, text: String): Unit = {
    val p = Paths.get(dir.path(name))
    Files.createDirectories(p.getParent)
    Files.writeString(p, text)
  }

  test("no file in graft/streaming but StateDir.scala renames or creates a file") {
    val root = Paths.get("src/main/scala/graft/streaming")
    assert(Files.isDirectory(root), s"run from the repo root (no $root)")
    val handWritten = """\.rename\(|fs\.create\(""".r
    val walk = Files.walk(root)
    val found = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "StateDir.scala")
      .filter(p => handWritten.findFirstIn(Files.readString(p)).nonEmpty)
      .map(root.relativize(_: Path).toString).toSeq.sorted
    finally walk.close()
    assert(found.isEmpty,
      s"commit state, markers and listings through StateDir, not in: ${found.mkString(", ")}")
  }

  test("commit clears a stale _staging_<id> left by a crashed attempt") {
    val dir = fresh()
    touch(dir, "_staging_3/part-stale.parquet", "torn")
    assert(dir.commit("v", 3)(spark.range(5).write.parquet(_)))
    assert(!dir.exists("_staging_3"))
    assert(!dir.exists("v=3/part-stale.parquet"))
    assert(rows(dir, "v=3") == (0L until 5L))
    assert(dir.versions == Seq(3L))
  }

  test("commit skips a committed target and leaves it unchanged") {
    val dir = fresh()
    assert(dir.commit("batch", 7, Seq("_m" -> "first"))(spark.range(3).write.parquet(_)))
    var wrote = false
    assert(!dir.commit("batch", 7, Seq("_m" -> "second")) { p =>
      wrote = true
      spark.range(10).write.parquet(p)
    })
    assert(!wrote, "a committed target was written again")
    assert(!dir.exists("_staging_7"))
    assert(rows(dir, "batch=7") == (0L until 3L))
    assert(dir.read("batch=7/_m").contains("first"))
    assert(dir.ids("batch") == Seq(7L))
  }

  test("commit's records land in the version only through its rename") {
    val dir = fresh()
    assert(dir.commit("v", 0, Seq("_crawl_min" -> "10", "_state_max" -> "12")) { p =>
      assert(!dir.exists("v=0"), "the target is visible before the rename")
      spark.range(2).write.parquet(p)
    })
    assert(dir.read("v=0/_crawl_min").contains("10"))
    assert(dir.read("v=0/_state_max").contains("12"))
    // a write that fails commits nothing: no version, no records in one
    intercept[RuntimeException] {
      dir.commit("v", 1, Seq("_crawl_min" -> "20")) { p =>
        spark.range(2).write.parquet(p)
        throw new RuntimeException("crash before the rename")
      }
    }
    assert(dir.versions == Seq(0L))
    assert(!dir.exists("v=1/_crawl_min") && !dir.exists("_staging_1/_crawl_min"))
  }

  test("replace over a stale <name>_staging leftover ends in the new content") {
    val dir = fresh()
    dir.replace("_minhash_params", "bands=16")
    touch(dir, "_minhash_params_staging", "bands=99\ntorn")
    dir.replace("_minhash_params", "bands=32\ntau=1/2")
    assert(dir.read("_minhash_params").contains("bands=32\ntau=1/2"))
    assert(StateDir.parse(dir.read("_minhash_params").get) ==
      Map("bands" -> "32", "tau" -> "1/2"))
    assert(!dir.exists("_minhash_params_staging"))
  }
}
