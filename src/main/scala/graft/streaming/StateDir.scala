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
  *    `_snapshot_owned`) or inside a version (`_chain`, `_crawl_min`,
  *    `_state_max`, `_state_rows`, `_schema`). A marker that is
  *    rewritten is replaced atomically through `<name>_staging`.
  *  - base and delta versions. A base holds the whole state. A delta,
  *    which only an append-only fold writes (one whose existing rows
  *    never change), holds only the rows its batch added, and its
  *    `_chain` record names the versions it extends: its parent's
  *    chain, base first, ending with the parent. The same rename that
  *    commits the delta's parquet commits that record. The state at a
  *    version is one parquet scan over its chain; a version without
  *    the record (every version of a fold that is not append-only, and
  *    every dir written before deltas existed) is a base, a chain of
  *    one. Every [[CompactEvery]]th version of a chain is a fresh base.
  *
  * All paths go through the Hadoop FileSystem API, so hdfs:// and
  * s3a:// state dirs behave like local ones. Nothing else in
  * `graft.streaming` renames or creates a file (StateDirSpec).
  */
private[graft] final class StateDir(spark: SparkSession, val root: String) {
  private val conf = spark.sparkContext.hadoopConfiguration
  private val fs = new Path(root).getFileSystem(conf)
  private def at(name: String) = new Path(s"$root/$name")
  /** Each version's chain, as read from its `_chain` record or as
    * committed through this instance: every record is read once.
    */
  private val chains = scala.collection.mutable.Map.empty[Long, Seq[Long]]

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

  /** Rename `from` to `to`, which must be absent. A moved version dir
    * may change kind (the reconcile swaps a base in), so the chains
    * read so far are forgotten.
    */
  def move(from: String, to: String): Unit = {
    chains.clear()
    if (!fs.rename(at(from), at(to)))
      throw new java.io.IOException(s"rename ${at(from)} -> ${at(to)} failed")
  }

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

  /** The versions whose rows make up the state at `v`, base first,
    * ending with `v`: `v` alone for a base.
    */
  def chain(v: Long): Seq[Long] = chains.getOrElseUpdate(v,
    read(s"v=$v/_chain").filter(_.nonEmpty)
      .fold(Seq.empty[Long])(_.split(',').toSeq.map(_.toLong)) :+ v)

  private def reader(schema: Option[StructType]) =
    schema.fold(spark.read)(spark.read.schema)

  /** The full state at version `v`: ONE parquet scan over its chain,
    * read with its recorded schema (no inference job) when one is
    * given.
    */
  def version(v: Long, schema: Option[StructType] = None): DataFrame =
    reader(schema).parquet(chain(v).map(c => path(s"v=$c")): _*)

  /** Only the rows version `v` holds itself: the rows its batch added
    * for a delta, the whole state for a base.
    */
  def ownRows(v: Long, schema: Option[StructType] = None): DataFrame =
    reader(schema).parquet(path(s"v=$v"))

  /** The newest committed version below `below`. */
  def newest(below: Long = Long.MaxValue): Option[Long] =
    versions.filter(_ < below).lastOption

  /** The full state at the newest committed version below `below`. */
  def latest(below: Long = Long.MaxValue): Option[DataFrame] =
    newest(below).map(version(_))

  /** Drop every version that neither is among the newest `retain` nor
    * is in the chain of one of them. The chains come from the records
    * this instance has already read or committed (the fold's parent
    * and its new version); an older retained version's record is read
    * once.
    */
  def prune(retain: Int): Unit = {
    val vs = versions
    val needed = vs.takeRight(retain).flatMap(chain).toSet
    vs.filterNot(needed).foreach(v => delete(s"v=$v"))
  }

  /** Commit version `v` of a fold over `parent` (the newest version
    * below `v`, None on the first batch). `state` is the whole new
    * state. An append-only fold also passes `added`, the rows its batch
    * appended to `parent`'s state: they are written alone as a delta
    * extending `parent`'s chain, unless `v` would be the chain's
    * [[StateDir.CompactEvery]]th version, which compacts it into a
    * fresh base (`state` is then written, and only then evaluated).
    * Either way the staged [[commit]] writes it, its `records` and the
    * `_chain` record of a delta in one rename; false when `v` is
    * already committed.
    */
  def commitFold(v: Long, parent: Option[Long],
      records: => Seq[(String, String)] = Nil)(
      state: => DataFrame, added: Option[DataFrame] = None): Boolean = {
    val delta = for {
      rows <- added; p <- parent
      c = chain(p) if c.size < StateDir.CompactEvery
    } yield (c, rows)
    val done = commit("v", v,
        delta.map("_chain" -> _._1.mkString(",")).toSeq ++ records)(
      delta.fold(state)(_._2).write.mode("overwrite").parquet(_))
    if (done) chains(v) = delta.fold(Seq.empty[Long])(_._1) :+ v
    done
  }

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
  /** Versions per chain: every 10th version of a chain is a fresh
    * base, so a state read scans at most 10 version dirs (a base and 9
    * deltas). 10 is the default of Spark's own state store
    * (`spark.sql.streaming.stateStore.minDeltasForSnapshot`, deltas per
    * snapshot). The tradeoff: over 10 batches of `batch` rows onto a
    * `state`, one base rewrites the state once, a write amplification
    * of about 1 + state ÷ (10·batch) against 1 + state ÷ batch when
    * every batch rewrites it; a longer chain cuts the base's share
    * further and costs more dirs per read.
    */
  val CompactEvery = 10

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
