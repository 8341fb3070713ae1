package graft.runs

import java.util.UUID

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.graft.Bridge

/** A tiny MERGE-capable table stored as versioned parquet snapshots
  * under a manifest log — a hand-rolled miniature of the commit
  * protocol a table format (Delta / Iceberg) provides.
  *
  * Emulates `INSERT ... ON DUPLICATE KEY UPDATE` (reference:
  * Runs.scala:77-103, RunStatus.scala:63-85 via Quill/MySQL) as a
  * key-set merge: the existing rows whose key is not incoming, plus
  * the incoming rows, written as a NEW immutable snapshot directory
  * and committed by atomically creating the next numbered manifest
  * file.
  *
  * Layout:
  * {{{
  *   <path>/_manifests/v0000000007   # text: name of the live snapshot dir
  *   <path>/snap-1a2b3c4d/           # immutable parquet snapshots
  * }}}
  *
  * The commit point is `fs.create(manifest, overwrite = false)` — an
  * atomic create-if-absent everywhere (HDFS, local, S3 conditional
  * put), so there is NO rename window at all: readers resolve the
  * highest manifest and read an immutable snapshot directory that no
  * writer ever mutates or swaps (snapshot isolation). A crash before
  * the manifest create leaves only an unreferenced snapshot dir (GC'd
  * by a later commit); a crash after it leaves a fully committed
  * table. This removes the delete/rename data-loss and
  * reader-blackout windows a directory swap has on raw object
  * storage. Old snapshots are retained for the last `KeepManifests`
  * commits so in-flight readers finish against their pinned version.
  *
  * Writer concurrency: every mutation runs under an exclusive
  * `<path>.lock` file taken with `fs.create(..., overwrite = false)`
  * — so two concurrent writer processes cannot interleave their
  * read-modify-write cycles and silently drop each other's rows (the
  * reference gets the same guarantee per statement from MySQL
  * transactions). Locks carry holder + timestamp; a crash leaves a
  * lock that later writers break after `StaleLockMs`. Readers never
  * lock or retry: manifests only ever appear.
  *
  * Every mutation is one commit: a parquet write plus a manifest
  * create. Callers batch rows rather than commit per row — a stage
  * run makes 3 ledger commits whatever its output count: 1 `runstatus`
  * upsert before dispatch, then 1 `runs` upsert and 1 `runstatus`
  * update after its jobs succeed ([[graft.stage.Stage.processOutputs]]).
  *
  * Rows are typed products; keys are column names. Reads and commits
  * run on the driver with no Spark job (the reference's point selects
  * and upserts against MySQL, not distributed scans): a read decodes
  * the snapshot's parquet file(s) through Spark's own parquet read
  * support, and a commit merges key sets in Scala and writes one file
  * through Spark's own parquet writer ([[org.apache.spark.sql.graft.Bridge]]).
  *
  * Read path: list `_manifests`, read the highest manifest for the
  * live snapshot's name, list that snapshot dir, then return its rows.
  * The rows come from a per-table-path cache in this JVM when the
  * cached entry's key matches: the snapshot's name and, per data file,
  * its name, length and modification time. Otherwise the files are
  * decoded and the entry replaced. A successful commit caches the rows
  * it wrote, round-tripped through the encoder as a read would decode
  * them (an `Instant` truncated to parquet's microseconds); a commit
  * that loses the manifest race caches nothing. The cache is exact
  * because a snapshot dir is immutable and uniquely named: no writer
  * ever rewrites one, so a dir whose name and files are unchanged has
  * unchanged rows, and a commit made by another process shows up as a
  * new manifest naming a new dir, which the next read resolves as it
  * always did. A warm read so opens one small manifest file and no
  * parquet.
  *
  * SCALE FENCE — metadata tables only: every operation holds the
  * whole table in driver memory, as a `collect()` of it would, and the
  * cache keeps the latest snapshot of each table this JVM touched. Right
  * for run bookkeeping (thousands of rows); data-scale tables belong
  * in [[graft.operators.Merge]].
  */
final class ParquetTable[T <: Product : Encoder](
    spark: SparkSession,
    val path: String,
    val keyCols: Seq[String],
    commit: CommitPrimitive = CommitPrimitive.HadoopAtomicCreate,
    maxUpdateRows: Long = ParquetTable.MaxUpdateRows
) {

  private def fs: FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val manifestDir = new Path(path, "_manifests")

  /** Committed snapshots retained (manifests + their data dirs). */
  private val KeepManifests = 3

  def exists: Boolean = versions.nonEmpty

  private val lockPath = new Path(path + ".lock")

  /** How long before a lock left by a crashed writer is breakable. */
  private val StaleLockMs = 60000L

  /** How long a writer waits for the lock before giving up loudly. */
  private val LockTimeoutMs = 30000L

  /** Run `body` holding the exclusive writer lock — a per-path JVM
    * monitor (threads sharing this process; the local-FS
    * create-if-absent is not atomic across threads) nested inside
    * the cross-process lock file.
    */
  private def withWriterLock[A](body: => A): A =
    ParquetTable.monitorFor(path).synchronized(withLockFile(body))

  private def withLockFile[A](body: => A): A = {
    val f        = fs
    val deadline = System.currentTimeMillis + LockTimeoutMs
    var held     = false
    while (!held) {
      // atomic create-if-absent (the commit primitive): exactly one
      // contender wins
      val payload =
        s"${UUID.randomUUID()} pid=${ProcessHandle.current.pid} ts=${System.currentTimeMillis}"
          .getBytes("UTF-8")
      if (commit.createIfAbsent(f, lockPath, payload)) held = true
      else {
        // lock held elsewhere: break it if stale, else wait and retry
        val stale =
          try System.currentTimeMillis - f.getFileStatus(lockPath).getModificationTime > StaleLockMs
          catch { case _: java.io.IOException => false } // vanished between create and stat
        if (stale) f.delete(lockPath, false)
        else if (System.currentTimeMillis > deadline)
          throw new IllegalStateException(
            s"timed out after ${LockTimeoutMs}ms waiting for writer lock $lockPath")
        else Thread.sleep(25L + scala.util.Random.nextInt(75))
      }
    }
    try body
    finally fs.delete(lockPath, false)
  }

  private def manifestPath(version: Long): Path = new Path(manifestDir, f"v$version%010d")

  /** Name of the snapshot dir that manifest `version` commits. */
  private def readManifest(version: Long): String = {
    val in = fs.open(manifestPath(version))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
  }

  /** Idempotent create (reference `migrate()`: CREATE TABLE IF NOT
    * EXISTS, Runs.scala:36-45). An existing table is seen without the
    * writer lock, so a rerun's migrate costs one listing, not a lock
    * file's create and delete; a missing one is re-checked under it.
    */
  def migrate(): Unit =
    if (!exists) withWriterLock {
      val vs = versions
      if (vs.isEmpty) commitSnapshot(Seq.empty, vs)
    }

  /** The table at its latest committed version, as a local Dataset of
    * that snapshot's rows: later commits do not disturb it (snapshot
    * isolation for in-flight readers).
    */
  def ds: Dataset[T] = spark.createDataset(all())

  def all(): Seq[T] = current(versions)

  /** The rows committed by the latest of `vs`. */
  private def current(vs: Seq[Long]): Seq[T] =
    vs.lastOption.fold(Seq.empty[T])(v => readSnapshot(readManifest(v)))

  /** One snapshot dir's parquet files, skipping the `_`/`.`-prefixed
    * side files (`_SUCCESS`, checksums) Spark's own listing skips.
    */
  private def dataFiles(snap: String): Seq[FileStatus] =
    fs.listStatus(new Path(path, snap)).toSeq.filter { s =>
      val name = s.getPath.getName
      s.isFile && !name.startsWith("_") && !name.startsWith(".")
    }

  private def snapshotKey(snap: String, files: Seq[FileStatus]): ParquetTable.SnapshotKey =
    ParquetTable.SnapshotKey(snap, files.map(s => (s.getPath.getName, s.getLen, s.getModificationTime)))

  /** Read one snapshot dir on the driver: the cached rows if the
    * table's cache entry has this snapshot's key, else its parquet
    * files decoded (and cached).
    */
  private def readSnapshot(snap: String): Seq[T] = {
    val files = dataFiles(snap)
    val key   = snapshotKey(snap, files)
    ParquetTable.cached[T](path, key).getOrElse {
      val rows = Bridge.readParquet[T](spark, files)
      ParquetTable.remember(path, key, rows)
      rows
    }
  }

  /** Committed versions still within the retention window, ascending
    * — the time-travel index.
    */
  def versions: Seq[Long] = {
    val f = fs
    if (!f.exists(manifestDir)) Seq.empty
    else f.listStatus(manifestDir).toSeq
      .map(_.getPath.getName)
      .filter(_.matches("v\\d{10}"))
      .map(_.drop(1).toLong)
      .sorted
  }

  /** Time-travel read: the table exactly as committed at `version`
    * (a Delta/Iceberg `VERSION AS OF`). Snapshot dirs are immutable
    * and retained for the last [[KeepManifests]] commits, so any
    * listed version reads consistently while GC'd ones fail loud.
    */
  def dsAt(version: Long): Dataset[T] = {
    if (!fs.exists(manifestPath(version)))
      throw new NoSuchElementException(
        s"version $version of $path does not exist or was garbage-collected " +
          s"(retained: ${versions.mkString(", ")})")
    spark.createDataset(readSnapshot(readManifest(version)))
  }

  private val keyIdx = keyCols.map(implicitly[Encoder[T]].schema.fieldIndex)

  /** A row's key: its key columns, which for a product encoder are the
    * product elements at the columns' positions.
    */
  private def key(row: T): Seq[Any] = keyIdx.map(row.productElement)

  /** Upsert: replace any existing row with the same key columns. */
  def upsert(rows: Seq[T]): Unit =
    if (rows.nonEmpty) mutate { cur =>
      val incoming = rows.map(key).toSet
      cur.filterNot(r => incoming(key(r))) ++ rows
    }

  /** Delete all rows matching the predicate. */
  def delete(pred: T => Boolean): Unit = mutate(_.filterNot(pred))

  /** Point update: transform matching rows, keep the rest.
    *
    * The matches are capped at [[ParquetTable.MaxUpdateRows]]: this is
    * a point-update API for KB-scale runs/bookkeeping rows (the
    * reference's analog being MySQL point updates), so a predicate
    * matching more rows fails loud, before anything is written.
    * Data-scale rewrites belong in
    * [[graft.operators.Merge.upsertParquet]] (partition-pruned, fully
    * distributed).
    */
  def update(pred: T => Boolean)(f: T => T): Unit = mutate { cur =>
    val (matched, rest) = cur.partition(pred)
    require(matched.length <= maxUpdateRows,
      s"update() matched more than $maxUpdateRows rows of $path — this " +
      s"point-update API is fenced to $maxUpdateRows rows (metadata-scale). " +
      "Use a distributed rewrite (operators.Merge) for data-scale tables.")
    rest ++ matched.map(f)
  }

  /** One read-modify-write commit under the writer lock: `f` maps the
    * latest committed rows to the next snapshot's. The manifest
    * listing that finds them also numbers and GCs the commit.
    */
  private def mutate(f: Seq[T] => Seq[T]): Unit = withWriterLock {
    val vs = versions
    commitSnapshot(f(current(vs)), vs)
  }

  /** Write `rows` as a fresh immutable snapshot dir, then COMMIT by
    * atomically creating the manifest after the last of `vs` (the
    * committed versions, listed under the writer lock) — the only
    * mutation the table's visible state ever sees. Retains the last
    * [[KeepManifests]] versions and garbage-collects everything older.
    */
  private def commitSnapshot(rows: Seq[T], vs: Seq[Long]): Unit = {
    val f    = fs
    val snap = "snap-" + UUID.randomUUID().toString.take(8)
    val stored = Bridge.writeParquet(spark, new Path(path, snap), rows)
    val ver      = vs.lastOption.getOrElse(0L) + 1L
    val manifest = manifestPath(ver)
    f.mkdirs(manifestDir)
    // the commit point: atomic create-if-absent of the next numbered
    // manifest. Under the writer lock a collision means another
    // writer committed this version concurrently (broken/stale lock,
    // or a manifest left by a crashed partial gc) — the snapshot we
    // just wrote stays unreferenced (next commit's GC sweeps it) and
    // the committed state is untouched. Fail loud, never clobber.
    if (!commit.createIfAbsent(f, manifest, snap.getBytes("UTF-8")))
      throw new java.util.ConcurrentModificationException(
        s"commit of version $ver at $path lost the race: $manifest already " +
          "exists — another writer committed concurrently; this writer's " +
          "snapshot is unreferenced and will be garbage-collected")
    ParquetTable.remember(path, snapshotKey(snap, dataFiles(snap)), stored)
    gc(f, vs :+ ver)
  }

  /** Drop manifests of `vs` (ascending, the last one just committed)
    * older than the retention window, and any snapshot dir no retained
    * manifest references. Failures here never affect the committed
    * state — GC is advisory cleanup.
    */
  private def gc(f: FileSystem, vs: Seq[Long]): Unit = {
    val (old, keep) = vs.partition(_ < vs.last - (KeepManifests - 1))
    val live        = keep.map(readManifest).toSet
    old.foreach(v => f.delete(manifestPath(v), false))
    f.listStatus(new Path(path)).toSeq
      .map(_.getPath)
      .filter(p => p.getName.startsWith("snap-") && !live(p.getName))
      .foreach(p => f.delete(p, true))
  }
}

object ParquetTable {
  /** Cap on rows a single `update()` may rewrite.
    * Generous for runs/bookkeeping metadata (thousands of rows);
    * far below anything data-scale.
    */
  val MaxUpdateRows: Long = 100000L

  private val monitors = scala.collection.concurrent.TrieMap.empty[String, AnyRef]

  private def monitorFor(path: String): AnyRef =
    monitors.getOrElseUpdate(path, new AnyRef)

  /** What identifies a snapshot's content: the dir's name and, per
    * data file, its name, length and modification time.
    */
  private final case class SnapshotKey(snap: String, files: Seq[(String, Long, Long)])

  /** The rows of one table's latest read or committed snapshot, as
    * the encoder `enc` decodes them.
    */
  private final case class Cached(key: SnapshotKey, enc: Encoder[_], rows: Seq[Any])

  private val snapshots = scala.collection.concurrent.TrieMap.empty[String, Cached]

  private def cached[T: Encoder](path: String, key: SnapshotKey): Option[Seq[T]] =
    snapshots.get(path).collect {
      case c if c.key == key && c.enc == implicitly[Encoder[T]] => c.rows.asInstanceOf[Seq[T]]
    }

  private def remember[T: Encoder](path: String, key: SnapshotKey, rows: Seq[T]): Unit =
    snapshots.update(path, Cached(key, implicitly[Encoder[T]], rows))
}
