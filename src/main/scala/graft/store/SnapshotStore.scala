package graft.store

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{ChecksumException, FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{DataSource, DataSourceUtils}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/** Iceberg-style snapshot-committed tables over partitioned Parquet.
  *
  * The north rule asks for Iceberg tables; no Iceberg jar ships in this
  * environment (SURVEY.md §7.4), so this layer reproduces the parts of the
  * spec the pipeline depends on — atomic snapshot commits, a snapshot log,
  * per-partition lineage, reader isolation, resume — over plain Parquet +
  * JSON manifests. Swapping in real Iceberg replaces only this file.
  *
  * Layout:
  * {{{
  *   <root>/<table>/data/batch=<batchId>/part-*.parquet   (data files)
  *   <root>/<table>/_snapshots/v<N>.json                  (snapshot manifest)
  *   <root>/<table>/_snapshots/LATEST                     (snapshot pointer)
  * }}}
  *
  * A snapshot manifest lists EVERY live batch directory (full snapshot, like
  * an Iceberg manifest list), its parent snapshot id, and the set of input
  * partitions already ingested. Commit protocol, one sequence for append,
  * replace and rollback: take the next id N from the latest snapshot →
  * write the batch to `batch=N` → write v<N>.json to a temp name and
  * rename it into place → write LATEST = N the same way. A frame whose
  * rows are already on the driver (its plan optimises to one
  * `LocalRelation`; on a session with `graft.core.LocalFold` installed
  * that includes a sorted, aggregated or unioned local frame) is written
  * from the driver with Spark's own Parquet writer, to a `_`-prefixed
  * temp file renamed to its `part-` name; any other frame is written by a
  * Spark job.
  *
  * A killed run leaves either no new snapshot (data files are orphans,
  * invisible to readers) or a complete one — this is the distributed
  * analog of the reference's checkpoint/restore
  * (src/qortex/core/memory.py:446-494) and its manifest auto-save recovery
  * (src/qortex/cli/ingest.py:210-222). A reader that finds no LATEST
  * (a crash inside the flip, or a file system that must delete the old
  * pointer before renaming the new one) reads the highest v<N>.json; that
  * manifest was renamed into place before the pointer moved, so the
  * fallback is never older than the pointer it stands in for.
  */
object SnapshotStore {
  final case class Snapshot(
      id: Long,
      parent: Long, // -1 for the first snapshot
      batches: Seq[String], // live data batch dirs, relative to <table>/data
      inputPartitions: Seq[String] // all input partitions ingested so far
  )
}

final class SnapshotStore(val root: String)(implicit spark: SparkSession) {
  import SnapshotStore.Snapshot

  private val hadoopConf = spark.sparkContext.hadoopConfiguration

  private def fs(p: Path): FileSystem = p.getFileSystem(hadoopConf)

  private def tableDir(table: String) = new Path(root, table)
  private def dataDir(table: String) = new Path(tableDir(table), "data")
  private def snapDir(table: String) = new Path(tableDir(table), "_snapshots")

  // --- tiny JSON codec (flat schema; no external deps) ---
  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def toJson(s: Snapshot): String = {
    val b = s.batches.map(x => "\"" + esc(x) + "\"").mkString("[", ",", "]")
    val p = s.inputPartitions.map(x => "\"" + esc(x) + "\"").mkString("[", ",", "]")
    s"""{"id":${s.id},"parent":${s.parent},"batches":$b,"input_partitions":$p}"""
  }

  /** Single left-to-right unescape pass: handles \\, \", \n, \r, \t and
    * \uXXXX (everything esc() can emit) without the order-sensitivity of
    * chained replace calls.
    */
  private[store] def unescape(s: String): String = {
    val b = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"' => b.append('"'); i += 2
          case '\\' => b.append('\\'); i += 2
          case 'n' => b.append('\n'); i += 2
          case 'r' => b.append('\r'); i += 2
          case 't' => b.append('\t'); i += 2
          case 'u' if i + 5 < s.length =>
            b.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
          case other => b.append(other); i += 2
        }
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  private def fromJson(j: String): Snapshot = {
    def longField(name: String): Long =
      s""""$name"\\s*:\\s*(-?\\d+)""".r.findFirstMatchIn(j).map(_.group(1).toLong)
        .getOrElse(sys.error(s"snapshot manifest missing $name: $j"))
    def arrField(name: String): Seq[String] = {
      val m = (s""""$name"\\s*:\\s*\\[(.*?)\\]""").r.findFirstMatchIn(j)
        .getOrElse(sys.error(s"snapshot manifest missing $name"))
      val body = m.group(1).trim
      if (body.isEmpty) Seq.empty
      else "\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllMatchIn(body).map(mm => unescape(mm.group(1))).toSeq
    }
    Snapshot(longField("id"), longField("parent"), arrField("batches"), arrField("input_partitions"))
  }

  /** Write `content` to a temp file and rename it onto `path`, so a reader
    * never sees a partial file. A file system that refuses to rename onto
    * an existing file (HDFS, and some local file system wrappers) has the
    * target deleted and the rename retried; a second refusal throws. In
    * that delete-to-rename gap there is no LATEST, and `latest()` reads
    * the highest manifest, which is already the new one.
    */
  private def writeAtomic(path: Path, content: String): Unit = {
    val tmp = new Path(path.getParent, path.getName + ".tmp-" + System.nanoTime())
    val f = fs(path)
    val out = f.create(tmp, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!f.rename(tmp, path) && !(f.delete(path, false) && f.rename(tmp, path)))
      throw new IOException(s"cannot rename $tmp to $path")
  }

  private def readFile(path: Path): String = {
    val f = fs(path)
    val in = f.open(path)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      new String(bytes.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Ids of all retained snapshot manifests, ascending. */
  def snapshotIds(table: String): Seq[Long] = {
    val d = snapDir(table)
    val f = fs(d)
    if (!f.exists(d)) Seq.empty
    else
      f.listStatus(d).toSeq
        .map(_.getPath.getName)
        .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
          n.stripPrefix("v").stripSuffix(".json")
        }
        .flatMap(s => scala.util.Try(s.toLong).toOption)
        .sorted
  }

  /** A specific retained snapshot (time travel read target). */
  def snapshot(table: String, id: Long): Option[Snapshot] = {
    val p = new Path(snapDir(table), s"v$id.json")
    if (fs(p).exists(p)) Some(fromJson(readFile(p))) else None
  }

  /** Latest committed snapshot, if any. If the LATEST pointer is missing
    * (a crash inside the flip, or the delete-to-rename gap of `writeAtomic`)
    * or is replaced while it is read (it vanishes after `exists`, or its
    * checksum sidecar belongs to the other version), recover from the max
    * v<N>.json manifest instead of treating the table as empty — otherwise
    * snapshot ids would restart at 0 and overwrite batch=00000. That
    * manifest is never older than the pointer, so a reader never goes back
    * a snapshot.
    */
  def latest(table: String): Option[Snapshot] = {
    val ptr = new Path(snapDir(table), "LATEST")
    val pointed =
      try if (fs(ptr).exists(ptr)) Some(readFile(ptr).trim.toLong) else None
      catch { case _: FileNotFoundException | _: ChecksumException => None }
    pointed.map(n => fromJson(readFile(new Path(snapDir(table), s"v$n.json"))))
      .orElse(snapshotIds(table).lastOption.flatMap(snapshot(table, _)))
  }

  /** Input partitions already ingested per the latest snapshot — resume
    * diffs the input against this set and processes only the remainder.
    */
  def ingestedPartitions(table: String): Set[String] =
    latest(table).map(_.inputPartitions.toSet).getOrElse(Set.empty)

  /** Append a batch of rows for `inputPartitions` and commit a snapshot.
    * The write is invisible to readers until LATEST flips.
    */
  def commitAppend(table: String, df: DataFrame, inputPartitions: Seq[String]): Snapshot =
    commit(table, Some(df)) { prev =>
      (prev.fold(Seq.empty[String])(_.batches), ingested(prev, inputPartitions))
    }

  /** Replace table contents wholesale (for derived tables rebuilt per
    * snapshot, e.g. concepts after canonicalization).
    */
  def commitReplace(table: String, df: DataFrame, inputPartitions: Seq[String]): Snapshot =
    commit(table, Some(df))(prev => (Seq.empty, ingested(prev, inputPartitions)))

  private def ingested(prev: Option[Snapshot], inputPartitions: Seq[String]): Seq[String] =
    (prev.fold(Seq.empty[String])(_.inputPartitions) ++ inputPartitions).distinct

  /** The one commit sequence: the next id after the latest snapshot, the
    * batch `df` (when given) written to `batch=<id>`, then the manifest
    * listing `live(latest)`'s batches followed by that batch and its input
    * partitions, then the pointer.
    */
  private def commit(table: String, df: Option[DataFrame])(
      live: Option[Snapshot] => (Seq[String], Seq[String])): Snapshot = {
    val prev = latest(table)
    val id = prev.fold(0L)(_.id + 1)
    val batch = f"batch=$id%05d"
    df.foreach(writeBatch(_, new Path(dataDir(table), batch)))
    val (batches, inputPartitions) = live(prev)
    val snap = Snapshot(id, prev.fold(-1L)(_.id), batches ++ df.map(_ => batch), inputPartitions)
    val f = fs(snapDir(table))
    if (!f.exists(snapDir(table))) f.mkdirs(snapDir(table))
    writeAtomic(new Path(snapDir(table), s"v$id.json"), toJson(snap))
    writeAtomic(new Path(snapDir(table), "LATEST"), id.toString)
    snap
  }

  /** Write `df` as the batch directory `dir`, replacing whatever a killed
    * run left there. Rows already on the driver — the analysed plan reads
    * only local relations and optimises to one — are written from the
    * driver by Spark's Parquet writer as one file, with no Spark job;
    * every other frame is written by `df.write`.
    */
  private def writeBatch(df: DataFrame, dir: Path): Unit =
    Some(df.queryExecution).filter(_.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation]))
      .map(_.optimizedPlan) match {
      case Some(rel: LocalRelation) => writeLocal(rel, dir)
      case _ => df.write.mode(SaveMode.Overwrite).parquet(dir.toString)
    }

  /** `rel`'s rows as one Parquet file in `dir`, checked and encoded as a
    * Spark write task would: the schema checks of a file write, then
    * `ParquetFileFormat`'s writer factory under the session's conf. The
    * file is written under a `_` name that readers skip, then renamed.
    */
  private def writeLocal(rel: LocalRelation, dir: Path): Unit = {
    val schema = DataTypeUtils.fromAttributes(rel.output)
    val format = new ParquetFileFormat()
    DataSource.validateSchema(format.toString, schema, spark.sessionState.conf)
    DataSourceUtils.verifySchema(format, schema)
    DataSourceUtils.checkFieldNames(format, schema)
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = format.prepareWrite(spark, job, Map.empty, schema)
    val task = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val name = s"part-00000-${java.util.UUID.randomUUID()}${factory.getFileExtension(task)}"
    val (tmp, file) = (new Path(dir, "_" + name), new Path(dir, name))
    val f = fs(dir)
    f.delete(dir, true)
    val out = factory.newInstance(tmp.toString, schema, task)
    try rel.data.foreach(out.write)
    finally out.close()
    if (!f.rename(tmp, file)) throw new IOException(s"cannot rename $tmp to $file")
  }

  /** Read the latest committed snapshot of a table (reader isolation: only
    * directories listed in the manifest are scanned — orphan batch dirs from
    * killed runs are invisible).
    */
  def read(table: String): DataFrame = {
    val snap = latest(table).getOrElse(sys.error(s"no committed snapshot for table $table"))
    readSnapshot(table, snap)
  }

  /** Time travel: read the table as of a retained snapshot id
    * (the distributed analog of the reference's checkpoint restore,
    * src/qortex/checkpoints/manager.py:11-35, core/memory.py:446-494).
    */
  def read(table: String, snapshotId: Long): DataFrame = {
    val snap = snapshot(table, snapshotId)
      .getOrElse(sys.error(s"no snapshot v$snapshotId for table $table"))
    readSnapshot(table, snap)
  }

  private def readSnapshot(table: String, snap: Snapshot): DataFrame = {
    val paths = snap.batches.map(b => new Path(dataDir(table), b).toString)
    if (paths.isEmpty) spark.emptyDataFrame else spark.read.parquet(paths: _*)
  }

  /** Roll the table back to snapshot `id` by committing a NEW snapshot with
    * the old snapshot's batch list (history is never rewritten — exactly
    * Iceberg's rollback semantics; memory.py:446-494 restore_checkpoint).
    */
  def rollback(table: String, id: Long): Snapshot = {
    val target = snapshot(table, id).getOrElse(sys.error(s"no snapshot v$id for $table"))
    commit(table, None) { prev =>
      if (prev.isEmpty) sys.error(s"no snapshots for $table")
      (target.batches, target.inputPartitions)
    }
  }

  /** Batch-level diff between two retained snapshots: (added, removed). */
  def diff(table: String, fromId: Long, toId: Long): (Seq[String], Seq[String]) = {
    val a = snapshot(table, fromId).getOrElse(sys.error(s"no v$fromId")).batches.toSet
    val b = snapshot(table, toId).getOrElse(sys.error(s"no v$toId")).batches.toSet
    ((b -- a).toSeq.sorted, (a -- b).toSeq.sorted)
  }

  /** GC: delete snapshot manifests older than the last `keepLast`, then
    * delete data batch dirs referenced by NO retained snapshot — including
    * orphan dirs from killed writes that never committed.
    *
    * SINGLE-WRITER ONLY: commitAppend/commitReplace write their batch
    * directory BEFORE the manifest exists, so a concurrent expire() would
    * see an in-flight commit's data as an orphan and delete it. The
    * pipeline's commit protocol (like Iceberg's maintenance actions)
    * assumes one writer per table; run expire() only from that writer,
    * between commits.
    */
  def expire(table: String, keepLast: Int = 2): Seq[String] = {
    val ids = snapshotIds(table)
    val (drop, keep) = ids.splitAt(math.max(0, ids.size - math.max(1, keepLast)))
    val f = fs(tableDir(table))
    drop.foreach(i => f.delete(new Path(snapDir(table), s"v$i.json"), false))
    val live = keep.flatMap(snapshot(table, _)).flatMap(_.batches).toSet
    val dd = dataDir(table)
    val removed =
      if (!f.exists(dd)) Seq.empty[String]
      else
        f.listStatus(dd).toSeq.map(_.getPath).filterNot(p => live(p.getName)).map { p =>
          f.delete(p, true); p.getName
        }
    removed.sorted
  }

  def exists(table: String): Boolean = latest(table).isDefined
}
