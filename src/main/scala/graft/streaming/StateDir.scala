package graft.streaming

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path,
  UnsupportedFileSystemException}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one owner of graft's on-disk state layout — the streaming folds'
  * versioned state, the batch snapshot fold's state, and the
  * `batch=<id>` outputs of scd2EnrichedTo and the quality route:
  *
  *  - `<kind>=<id>` directories (`v=<n>` state versions, `batch=<id>`
  *    output batches). Each is committed by ONE rename of a
  *    `_staging_<id>` dir holding everything it carries (its parquet
  *    and its records), so readers and the replay check only ever see
  *    complete dirs; a committed dir is never rewritten, which is what
  *    makes a replayed batch a skip.
  *  - small UTF-8 marker files, at the root (`_query_id`,
  *    `_minhash_params` as `key=value` lines, `_reconcile_pending`,
  *    `_snapshot_owned`) or inside a version (`_crawl_min`,
  *    `_state_max`, `_schema`). A marker that is rewritten is replaced
  *    atomically through `<name>_staging`.
  *
  * All paths go through the Hadoop FileSystem API, so hdfs:// and
  * s3a:// state dirs behave like local ones. Nothing else in
  * `graft.streaming` renames or creates a file (StateDirSpec).
  */
private[graft] final class StateDir(spark: SparkSession, val root: String) {
  private val conf = spark.sparkContext.hadoopConfiguration
  private val fs = new Path(root).getFileSystem(conf)
  private def at(name: String) = new Path(s"$root/$name")

  def path(name: String): String = s"$root/$name"
  def exists(name: String): Boolean = fs.exists(at(name))
  def delete(name: String): Unit = { fs.delete(at(name), true); () }

  /** Names of the root's entries (none when the root is absent). */
  def names: Seq[String] =
    if (!fs.exists(new Path(root))) Seq.empty
    else fs.listStatus(new Path(root)).toSeq.map(_.getPath.getName)

  /** Names matching a glob under the root. */
  def glob(pattern: String): Seq[String] =
    Option(fs.globStatus(at(pattern))).toSeq.flatten.map(_.getPath.getName)

  /** Rename `from` to `to`, which must be absent. */
  def move(from: String, to: String): Unit =
    if (!fs.rename(at(from), at(to)))
      throw new java.io.IOException(s"rename ${at(from)} -> ${at(to)} failed")

  /** A marker's text, untrimmed (only this module writes markers). */
  def read(name: String): Option[String] = StateDir.readText(fs, at(name))

  def createIfAbsent(name: String, text: String): Unit =
    if (!exists(name)) StateDir.writeText(fs, at(name), text)

  /** Replace a marker atomically: stage it at `<name>_staging` (a stale
    * leftover is dropped first), then rename WITH OVERWRITE. A plain
    * delete-then-rename window would, on a crash between the two, leave
    * no marker at all — and an absent `_minhash_params` is exactly what
    * lets a divergent-banding fold re-pin instead of being refused. A
    * FileSystem without FileContext support degrades to that
    * delete+rename.
    */
  def replace(name: String, text: String): Unit = {
    val stage = at(s"${name}_staging")
    fs.delete(stage, false)
    StateDir.writeText(fs, stage, text)
    try FileContext.getFileContext(at(name).toUri, conf)
      .rename(stage, at(name), Options.Rename.OVERWRITE)
    catch {
      case _: UnsupportedFileSystemException =>
        fs.delete(at(name), false) // rename refuses an existing target
        move(s"${name}_staging", name)
    }
  }

  /** Committed `<kind>=<id>` dirs, ascending. */
  def ids(kind: String): Seq[Long] =
    if (!fs.exists(new Path(root))) Seq.empty
    else fs.listStatus(new Path(root)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$kind="))
      .map(_.getPath.getName.stripPrefix(s"$kind=").toLong)
      .sorted

  def versions: Seq[Long] = ids("v")

  /** Version `v`, read with its recorded schema (no inference job)
    * when one is given.
    */
  def version(v: Long, schema: Option[StructType] = None): DataFrame =
    schema.fold(spark.read)(spark.read.schema).parquet(path(s"v=$v"))

  /** The newest committed version below `below`. */
  def latest(below: Long = Long.MaxValue): Option[DataFrame] =
    versions.filter(_ < below).lastOption.map(version(_))

  /** Drop all but the newest `retain` versions. */
  def prune(retain: Int): Unit =
    versions.dropRight(retain).foreach(v => delete(s"v=$v"))

  /** The staged commit of `<kind>=<id>`: skipped (false) when it is
    * already committed; otherwise a stale `_staging_<id>` from a crashed
    * attempt is deleted, `write` fills the staging path, `records` land
    * as markers beside it, and one rename commits them all.
    */
  def commit(kind: String, id: Long, records: => Seq[(String, String)] = Nil)(
      write: String => Unit): Boolean = !exists(s"$kind=$id") && {
    delete(s"_staging_$id")
    write(path(s"_staging_$id"))
    records.foreach { case (n, t) =>
      StateDir.writeText(fs, at(s"_staging_$id/$n"), t) }
    move(s"_staging_$id", s"$kind=$id")
    true
  }

  /** The exactly-once check of a batch-id-keyed output: false when
    * `<kind>=<id>` is committed (a replayed batch, to skip). An absent
    * one at or below the newest committed id means the streaming
    * checkpoint was reset while reusing this dir (ids restarted at 0):
    * folding or writing would double-count, so it refuses with
    * `reset(newest)`.
    */
  def isNew(kind: String, id: Long)(reset: Long => String): Boolean =
    !exists(s"$kind=$id") && {
      ids(kind).lastOption.filter(id <= _)
        .foreach(n => throw new IllegalStateException(reset(n)))
      true
    }

  def refuseIf(name: String)(why: => String): Unit =
    if (exists(name)) throw new IllegalStateException(why)

  /** Bind this dir to its streaming checkpoint's identity: the
    * checkpoint metadata carries a stable query id that survives
    * legitimate restarts but CHANGES when the checkpoint is
    * deleted/replaced. Without this, a reset whose restarted batch id
    * collides with still-present state/batch dirs would be
    * indistinguishable from a replay and silently swallowed. Refuses
    * when the stored `_query_id` disagrees with the checkpoint AND
    * `hasState`; otherwise (re)binds the marker — one left behind by a
    * query whose state was since cleared must follow the NEW id, or it
    * would brick this very query's next batch. Without FileContext
    * support a crash in the replace can lose the marker but not safety:
    * the [[isNew]] guard still refuses a reset checkpoint.
    */
  def bindQueryIdentity(hasState: => Boolean): Unit = {
    val ckId = checkpointQueryId
    val prior = read("_query_id").getOrElse("")
    if (prior.nonEmpty && ckId.nonEmpty && prior != ckId && hasState)
      throw new IllegalStateException(
        s"state at $root was built by streaming query $prior but this " +
          s"checkpoint identifies as $ckId: the checkpoint was reset/replaced " +
          "while reusing the stateDir. Use a fresh stateDir (or restore the " +
          "original checkpoint) to avoid double-counting.")
    if (ckId.nonEmpty && prior != ckId) replace("_query_id", ckId)
  }

  /** The query id in `_checkpoint/metadata` ({"id":"<uuid>"}); empty
    * when missing or unreadable (the guard degrades to [[isNew]] rather
    * than failing healthy pipelines).
    */
  private def checkpointQueryId: String =
    try read("_checkpoint/metadata").flatMap(
        """"id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(_))
      .map(_.group(1)).getOrElse("")
    catch { case _: Exception => "" }
}

private[graft] object StateDir {
  def apply(spark: SparkSession, root: String): StateDir =
    new StateDir(spark, root)

  def readText(fs: FileSystem, p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }

  def writeText(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** `key=value` lines (trimmed; lines without `=` ignored). */
  def parse(text: String): Map[String, String] =
    text.split('\n').map(_.trim).filter(_.contains('='))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
      .toMap

  def format(params: Seq[(String, String)]): String =
    params.map { case (k, v) => s"$k=$v" }.mkString("\n")
}
