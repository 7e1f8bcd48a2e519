package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileUtil, Path => HPath}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.streaming.{StateDir, StreamingOps}

/** The state-dir layout has one owner: `graft.streaming.StateDir`. Its
  * staged commit, marker replace and base/delta version chains are
  * pinned directly here, and a scan keeps the rest of the streaming
  * package from renaming or creating files by hand.
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

  // ---- base and delta versions ----

  private def ids(df: DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).sorted.toSeq

  /** Version `v` of an append-only fold whose batch `v` adds ids
    * [10v, 10v + 10): the state at `v` is [0, 10v + 10).
    */
  private def append(dir: StateDir, v: Long): Boolean = {
    val parent = dir.newest(below = v)
    val added = spark.range(10 * v, 10 * v + 10).toDF()
    dir.commitFold(v, parent)(
      parent.map(dir.version(_)).fold(added)(_.unionByName(added)), Some(added))
  }

  private def copy(from: String, to: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new HPath(from).getFileSystem(conf)
    assert(FileUtil.copy(fs, new HPath(from), fs, new HPath(to), false, conf))
  }

  test("an append-only fold writes deltas and compacts every CompactEvery versions") {
    val dir = fresh()
    (0L to 11L).foreach(v => assert(append(dir, v)))
    // a fresh instance reads every chain from the records on disk
    val reread = StateDir(spark, dir.root)
    assert(StateDir.CompactEvery == 10)
    assert(reread.chain(0) == Seq(0L) && reread.chain(9) == (0L to 9L))
    assert(reread.chain(10) == Seq(10L), "the 10th version of a chain is a base")
    assert(reread.chain(11) == Seq(10L, 11L))
    assert(reread.read("v=11/_chain").contains("10"))
    assert(!reread.exists("v=10/_chain"))
    assert(rows(reread, "v=3") == (30L until 40L), "a delta holds only its batch")
    assert(ids(reread.ownRows(3)) == (30L until 40L))
    assert(rows(reread, "v=10") == (0L until 110L), "a base holds the state")
    (0L to 11L).foreach(v =>
      assert(ids(reread.version(v)) == (0L until 10 * v + 10), s"state at v=$v"))
    assert(ids(reread.latest().get) == (0L until 120L))
    assert(ids(reread.latest(below = 5).get) == (0L until 50L))
  }

  test("a fold that is not append-only writes bases only") {
    val dir = fresh()
    (0L to 2L).foreach { v =>
      assert(dir.commitFold(v, dir.newest(below = v))(spark.range(v + 1).toDF()))
    }
    assert((0L to 2L).forall(v => StateDir(spark, dir.root).chain(v) == Seq(v)))
    assert(ids(dir.version(2)) == (0L to 2L))
  }

  test("prune never deletes an ancestor of a retained version") {
    for (retain <- Seq(1, 2, 3)) {
      val dir = fresh()
      (0L to 23L).foreach { v =>
        assert(append(dir, v))
        dir.prune(retain)
        val after = StateDir(spark, dir.root)
        val kept = after.versions
        val retained = kept.takeRight(retain)
        assert(retained.last == v)
        retained.foreach { r =>
          assert(after.chain(r).forall(kept.contains), s"retain=$retain: " +
            s"v=$r reads ${after.chain(r)} but only $kept are left")
          assert(ids(after.version(r)) == (0L until 10 * r + 10))
        }
        assert(kept == retained.flatMap(after.chain).distinct.sorted,
          s"retain=$retain kept $kept after v=$v")
      }
    }
  }

  test("a crash between staging and rename leaves a readable chain, and the retry commits the same version") {
    // a clean dir to v=10, whose v=3 is a delta and v=10 a compaction base
    val clean = fresh()
    (0L to 10L).foreach(v => assert(append(clean, v)))
    for (v <- Seq(3L, 10L)) {
      val crashed = fresh()
      (0L until v).foreach(u => assert(append(crashed, u)))
      // what a crash after the write and before the rename leaves
      copy(clean.path(s"v=$v"), crashed.path(s"_staging_$v"))
      val reread = StateDir(spark, crashed.root)
      assert(reread.versions == (0L until v))
      assert(ids(reread.latest().get) == (0L until 10 * v))
      assert(append(reread, v))
      assert(!reread.exists(s"_staging_$v"))
      val after = StateDir(spark, crashed.root)
      assert(after.chain(v) == StateDir(spark, clean.root).chain(v))
      assert(ids(after.version(v)) == ids(clean.version(v)))
      assert(rows(after, s"v=$v") == rows(clean, s"v=$v"))
    }
  }

  test("a dir written before delta versions reads every version as a base") {
    val dir = fresh()
    // full-state versions with no _chain records, as before deltas
    (0L to 2L).foreach(v => assert(dir.commit("v", v)(
      spark.range(10 * v + 10).write.parquet(_))))
    assert((0L to 2L).forall(v => dir.chain(v) == Seq(v)))
    assert(ids(dir.latest().get) == (0L until 30L))
    assert(append(dir, 3))
    assert(dir.chain(3) == Seq(2L, 3L))
    assert(ids(StateDir(spark, dir.root).version(3)) == (0L until 40L))
    dir.prune(2)
    assert(dir.versions == Seq(2L, 3L))
  }

  // ---- the minhash folds over a chain equal the one-shot fold ----

  private lazy val docs = Tables.load(spark, sf, "documents")
    .select(col("doc_id"), col("text")).persist()

  private def canon(df: DataFrame): Seq[(Long, Boolean)] =
    df.select(col("id"), col("is_dup")).collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).sortBy(_._1).toSeq

  /** 12 in-order id slices: more folds than a chain holds. */
  private lazy val slices: Seq[DataFrame] = {
    val sorted = docs.select(col("doc_id")).collect().map(_.getLong(0)).sorted
    val cuts = (1 until 12).map(i => sorted(i * sorted.length / 12))
    (Long.MinValue +: cuts :+ Long.MaxValue).sliding(2).toSeq.map {
      case Seq(a, b) => docs.filter(col("doc_id") >= a && col("doc_id") < b)
    }
  }

  private lazy val oneShot = canon(Dedup.minhashDedupFold(None, docs, "doc_id", "text"))

  test("more snapshot folds than a chain holds read back the one-shot fold's state") {
    val state = s"${Files.createTempDirectory("statedir_snap")}/state"
    val survivors = slices.flatMap(s => ids(
      StreamingOps.minhashDedupSnapshot(s, "doc_id", "text", state)
        .select(col("doc_id"))))
    val dir = StateDir(spark, state)
    assert(dir.versions == Seq(10L, 11L))
    assert(dir.chain(11) == Seq(10L, 11L), "the sequence crossed a compaction")
    assert(canon(StreamingOps.latestState(spark, state).get) == oneShot)
    assert(survivors.sorted == oneShot.filterNot(_._2).map(_._1))
    assert(dir.read("v=11/_state_rows").contains(docs.count().toString))
    GraftSession.release(spark)
  }

  test("more micro-batches than a chain holds read back the one-shot fold's state") {
    val base = Files.createTempDirectory("statedir_stream").toString
    // one file per micro-batch, oldest first: the in-order contract
    slices.zipWithIndex.foreach { case (s, i) =>
      val out = f"$base/in/b$i%02d"
      s.coalesce(1).write.parquet(out)
      Files.list(Paths.get(out)).iterator().asScala.foreach(
        _.toFile.setLastModified(1000000000000L + i * 1000L))
    }
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in/*")
    val q = StreamingOps.minhashDedupMaintained(
      stream, "doc_id", "text", s"$base/state", "statedir_chain_spec")
    try q.processAllAvailable() finally q.stop()
    val dir = StateDir(spark, s"$base/state")
    assert(dir.versions == Seq(10L, 11L))
    assert(dir.chain(11) == Seq(10L, 11L), "the stream crossed a compaction")
    assert(canon(StreamingOps.latestState(spark, s"$base/state").get) == oneShot)
    GraftSession.release(spark)
  }
}
