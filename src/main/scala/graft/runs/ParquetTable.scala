package graft.runs

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, Dataset, Encoder, SaveMode, SparkSession}

/** A tiny MERGE-capable table stored as versioned parquet snapshots
  * under a manifest log — a hand-rolled miniature of the commit
  * protocol a table format (Delta / Iceberg) provides.
  *
  * Emulates `INSERT ... ON DUPLICATE KEY UPDATE` (reference:
  * Runs.scala:77-103, RunStatus.scala:63-85 via Quill/MySQL) with
  * pure DataFrame ops: `existing ANTI-JOIN incoming-keys UNION
  * incoming`, written as a NEW immutable snapshot directory and
  * committed by atomically creating the next numbered manifest file.
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
  * Rows are typed; keys are column names. The table is run-metadata
  * sized (thousands of rows), but every operation is expressed
  * relationally, so nothing here breaks if it grows by 10^6.
  */
final class ParquetTable[T: Encoder](
    spark: SparkSession,
    val path: String,
    val keyCols: Seq[String],
    commit: CommitPrimitive = CommitPrimitive.HadoopAtomicCreate,
    maxUpdateRows: Long = ParquetTable.MaxUpdateRows
) {

  import spark.implicits._

  private def fs: FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val manifestDir = new Path(path, "_manifests")

  /** Committed snapshots retained (manifests + their data dirs). */
  private val KeepManifests = 3

  def exists: Boolean = currentManifest().isDefined

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

  /** (version, snapshot dir name) of the latest committed manifest. */
  private def currentManifest(): Option[(Long, String)] = {
    val f = fs
    if (!f.exists(manifestDir)) return None
    val versions = f.listStatus(manifestDir).toSeq
      .map(_.getPath.getName)
      .filter(_.matches("v\\d{10}"))
      .map(_.drop(1).toLong)
    if (versions.isEmpty) None
    else {
      val v    = versions.max
      val mf   = new Path(manifestDir, f"v$v%010d")
      val in   = f.open(mf)
      val snap =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      Some((v, snap))
    }
  }

  /** Idempotent create (reference `migrate()`: CREATE TABLE IF NOT
    * EXISTS, Runs.scala:36-45).
    */
  def migrate(): Unit = withWriterLock {
    if (!exists) commitSnapshot(spark.emptyDataset[T])
  }

  /** The table at its latest committed version. The returned Dataset
    * is pinned to that snapshot's immutable directory — later commits
    * do not disturb it (snapshot isolation for in-flight readers).
    */
  def ds: Dataset[T] = currentManifest() match {
    case Some((_, snap)) => readSnapshot(snap)
    case None            => spark.emptyDataset[T]
  }

  /** Read one snapshot dir with the row type's own schema: every
    * snapshot is written from a `Dataset[T]`, so the schema is known
    * and `spark.read.parquet` need not launch a footer-inference job
    * on every read.
    */
  private def readSnapshot(snap: String): Dataset[T] =
    spark.read.schema(implicitly[Encoder[T]].schema)
      .parquet(new Path(path, snap).toString).as[T]

  def all(): Seq[T] = ds.collect().toSeq

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
    val f  = fs
    val mf = new Path(manifestDir, f"v$version%010d")
    if (!f.exists(mf))
      throw new NoSuchElementException(
        s"version $version of $path does not exist or was garbage-collected " +
          s"(retained: ${versions.mkString(", ")})")
    val in   = f.open(mf)
    val snap =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    readSnapshot(snap)
  }

  def isEmpty: Boolean = ds.isEmpty

  /** Upsert: replace any existing row with the same key columns. */
  def upsert(rows: Seq[T]): Unit = {
    if (rows.isEmpty) return
    withWriterLock {
      val incoming = spark.createDataset(rows)
      val kept     = ds.join(incoming.select(keyCols.map(c => $"$c"): _*), keyCols, "left_anti").as[T]
      commitSnapshot(kept.unionByName(incoming))
    }
  }

  /** Delete all rows matching the predicate (null-safe: a null
    * predicate result keeps the row).
    */
  def delete(pred: Column): Unit = withWriterLock {
    commitSnapshot(ds.filter(!org.apache.spark.sql.functions.coalesce(
      pred, org.apache.spark.sql.functions.lit(false))))
  }

  /** Point update: transform matching rows, keep the rest.
    *
    * SCALE FENCE — metadata tables only. `f` is an arbitrary Scala
    * function, so the MATCHED rows must materialize on the driver
    * (the unmatched remainder stays distributed). That is the right
    * trade for this store's job — KB-scale runs/bookkeeping rows,
    * the reference's analog being MySQL point updates — and wrong
    * for any data-scale table, so the materialized side is capped at
    * [[ParquetTable.MaxUpdateRows]]: a predicate matching more rows
    * fails loud instead of OOMing the driver. Data-scale rewrites
    * belong in [[graft.operators.Merge.upsertParquet]] (partition-
    * pruned, fully distributed).
    */
  def update(pred: Column)(f: T => T): Unit = withWriterLock {
    // one job: collect at most one row past the fence, so a wide match
    // is caught before anything is rewritten
    val probe = ds.filter(pred).limit(math.min(maxUpdateRows + 1, Int.MaxValue).toInt).collect()
    require(probe.length <= maxUpdateRows,
      s"update() matched more than $maxUpdateRows rows of $path — this " +
      "point-update API materializes matches on the driver and is fenced " +
      s"to $maxUpdateRows rows (metadata-scale). Use a " +
      "distributed rewrite (operators.Merge) for data-scale tables.")
    val matched = probe.toSeq.map(f)
    val rest    = ds.filter(!org.apache.spark.sql.functions.coalesce(
      pred, org.apache.spark.sql.functions.lit(false)))
    commitSnapshot(rest.unionByName(spark.createDataset(matched)))
  }

  /** Write `data` as a fresh immutable snapshot dir, then COMMIT by
    * atomically creating the next numbered manifest — the only
    * mutation the table's visible state ever sees. Must be called
    * with the writer lock held. Retains the last [[KeepManifests]]
    * versions and garbage-collects everything older.
    */
  private def commitSnapshot(data: Dataset[T]): Unit = {
    val f    = fs
    val snap = "snap-" + UUID.randomUUID().toString.take(8)
    data.coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(new Path(path, snap).toString)
    val ver      = currentManifest().map(_._1).getOrElse(0L) + 1L
    val manifest = new Path(manifestDir, f"v$ver%010d")
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
    gc(f, ver)
  }

  /** Drop manifests older than the retention window and any snapshot
    * dir no retained manifest references. Failures here never affect
    * the committed state — GC is advisory cleanup.
    */
  private def gc(f: FileSystem, latest: Long): Unit = {
    val cutoff = latest - (KeepManifests - 1)
    val stats  = f.listStatus(manifestDir).toSeq
      .filter(_.getPath.getName.matches("v\\d{10}"))
    val (old, keep) = stats.partition(_.getPath.getName.drop(1).toLong < cutoff)
    val live = keep.map { st =>
      val in = f.open(st.getPath)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }.toSet
    old.foreach(st => f.delete(st.getPath, false))
    f.listStatus(new Path(path)).toSeq
      .map(_.getPath)
      .filter(p => p.getName.startsWith("snap-") && !live(p.getName))
      .foreach(p => f.delete(p, true))
  }
}

object ParquetTable {
  /** Cap on rows a single `update()` may materialize on the driver.
    * Generous for runs/bookkeeping metadata (thousands of rows);
    * far below anything data-scale.
    */
  val MaxUpdateRows: Long = 100000L

  private val monitors = scala.collection.concurrent.TrieMap.empty[String, AnyRef]

  private def monitorFor(path: String): AnyRef =
    monitors.getOrElseUpdate(path, new AnyRef)
}
