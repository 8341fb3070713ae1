package graft.runs

import java.net.URI
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.hadoop.fs.{FSDataInputStream, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.SpecBus
import org.apache.spark.sql.{Encoder, Encoders, SaveMode}

import graft.SparkTestBase

/** Writer-concurrency protocol of [[ParquetTable]]: mutations are
  * serialized by a lock file (plus a per-path JVM monitor), so
  * interleaved read-modify-write cycles cannot drop each other's
  * rows — the failure mode the reference avoids via MySQL
  * transactions.
  */
final class ParquetTableSpec extends SparkTestBase {
  import spark.implicits._

  private def newTable(name: String): ParquetTable[(String, Long)] =
    new ParquetTable[(String, Long)](spark, tmpDir(name) + "/table", Seq("_1"))

  test("concurrent upserts from many writers lose no rows") {
    val table = newTable("pt-concurrent")
    table.migrate()

    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val writers = (0 until 4).map { w =>
      Future {
        (0 until 3).foreach { i =>
          table.upsert(Seq((s"writer$w-key$i", w * 100L + i)))
        }
      }
    }
    try Await.result(Future.sequence(writers), Duration.Inf)
    finally pool.shutdown()

    // every writer's rows must survive every other writer's cycles
    assert(table.all().toSet ==
      (for (w <- 0 until 4; i <- 0 until 3) yield (s"writer$w-key$i", w * 100L + i)).toSet)
  }

  test("the lock file is released after each mutation") {
    val table = newTable("pt-release")
    table.migrate()
    table.upsert(Seq(("k", 1L)))
    val lock = new Path(table.path + ".lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(lock))
  }

  test("a stale lock left by a crashed writer is broken, not fatal") {
    val table = newTable("pt-stale")
    table.migrate()
    val lock = new Path(table.path + ".lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(lock, false)
    out.write("dead-writer".getBytes("UTF-8"))
    out.close()
    // age it past the stale threshold so the next writer may break it
    fs.setTimes(lock, System.currentTimeMillis - 120000L, -1)

    table.upsert(Seq(("after-crash", 7L)))
    assert(table.all().contains(("after-crash", 7L)))
    assert(!fs.exists(lock))
  }

  test("readers pinned to a snapshot survive a concurrent commit (snapshot isolation)") {
    val table = newTable("pt-isolation")
    table.migrate()
    table.upsert(Seq(("k", 1L)))
    val pinned = table.ds // resolves the CURRENT manifest: an immutable snapshot dir
    table.upsert(Seq(("k", 2L)))
    // the pinned reader still sees its version; a fresh resolve sees the new one
    assert(pinned.collect().toSet == Set(("k", 1L)))
    assert(table.all().toSet == Set(("k", 2L)))
  }

  test("a crashed writer (snapshot written, manifest never committed) changes nothing and is GC'd") {
    val table = newTable("pt-crash")
    table.migrate()
    table.upsert(Seq(("committed", 1L)))
    val root = new Path(table.path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate the crash: an orphan snapshot directory with no manifest
    val orphan = new Path(root, "snap-orphan01")
    fs.mkdirs(orphan)
    assert(table.all().toSet == Set(("committed", 1L)), "orphan must be invisible")
    // the next successful commit garbage-collects it
    table.upsert(Seq(("committed", 2L)))
    assert(!fs.exists(orphan), "unreferenced snapshot dirs are GC'd on commit")
    assert(table.all().toSet == Set(("committed", 2L)))
  }

  test("retention: only the last 3 manifests and their snapshots remain") {
    val table = newTable("pt-retain")
    table.migrate()
    (1 to 6).foreach(i => table.upsert(Seq(("k", i.toLong))))
    val root = new Path(table.path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifests = fs.listStatus(new Path(root, "_manifests")).map(_.getPath.getName)
    assert(manifests.length == 3, s"got ${manifests.mkString(",")}")
    val snaps = fs.listStatus(root).map(_.getPath.getName).filter(_.startsWith("snap-"))
    assert(snaps.length == 3, s"got ${snaps.mkString(",")}")
    assert(table.all().toSet == Set(("k", 6L)))
  }

  test("time travel: dsAt reads each retained version exactly as committed") {
    val table = newTable("pt-travel")
    table.migrate()
    table.upsert(Seq(("a", 1L)))               // v2 (migrate committed v1)
    table.upsert(Seq(("a", 2L), ("b", 10L)))   // v3
    table.upsert(Seq(("c", 99L)))              // v4
    val vs = table.versions
    assert(vs.size == 3, s"retained $vs") // KeepManifests = 3
    val Seq(v2, v3, v4) = vs
    assert(table.dsAt(v2).collect().toSet == Set(("a", 1L)))
    assert(table.dsAt(v3).collect().toSet == Set(("a", 2L), ("b", 10L)))
    assert(table.dsAt(v4).collect().toSet == Set(("a", 2L), ("b", 10L), ("c", 99L)))
    // dsAt(latest) agrees with ds
    assert(table.dsAt(v4).collect().toSet == table.ds.collect().toSet)
    // a GC'd or never-committed version fails loud, listing what exists
    val err = intercept[NoSuchElementException](table.dsAt(v2 - 1))
    assert(err.getMessage.contains("garbage-collected"))
  }

  test("no table operation launches a Spark job") {
    val table = newTable("pt-nojob")
    val (_, jobs) = SpecBus.jobs(spark.sparkContext) {
      table.migrate()
      table.upsert(Seq(("a", 1L), ("b", 2L), ("c", 3L)))
      table.update(_._1 == "a") { case (k, v) => (k, v + 10) }
      table.delete(_._1 == "b")
      assert(table.all().toSet == Set(("a", 11L), ("c", 3L)))
      assert(table.ds.collect().toSet == table.all().toSet)
      assert(table.dsAt(table.versions.head).collect().toSet == Set(("a", 1L), ("b", 2L), ("c", 3L)))
    }
    assert(jobs == 0)
  }

  // ---- the on-disk snapshot format, read and written both ways ----

  private implicit val statusEnc: Encoder[RunStatusRow] = Encoders.product[RunStatusRow]

  /** Rows with and without `started`/`ended`, at microsecond precision
    * (a parquet timestamp's), so Instant equality is exact.
    */
  private val statusRows = Seq(
    RunStatusRow("p", "m", "s", "o1", None, None, java.time.Instant.parse("2024-03-01T10:00:00.123456Z")),
    RunStatusRow("p", "m", "s", "o2", Some(java.time.Instant.parse("2024-03-01T10:00:01.000001Z")),
      None, java.time.Instant.parse("2024-03-01T10:00:01.000001Z")),
    RunStatusRow("p", "m", "s", "o3", Some(java.time.Instant.parse("2024-03-01T10:00:02Z")),
      Some(java.time.Instant.parse("2024-03-01T10:00:05.5Z")), java.time.Instant.parse("2024-03-01T09:59:59Z")))

  private def statusTable(root: String) =
    new ParquetTable[RunStatusRow](spark, root + "/table", Seq("project", "method", "stage", "output"))

  test("a snapshot Spark's own writer committed reads back identically on the driver") {
    // the layout earlier versions committed: Dataset.write of one
    // partition, with a _SUCCESS marker and checksum side files
    val table = statusTable(tmpDir("pt-read-compat"))
    val snap  = new Path(table.path, "snap-spark001")
    spark.createDataset(statusRows).coalesce(1).write.mode(SaveMode.Overwrite).parquet(snap.toString)
    // the local FS's own listing hides checksum files: look on disk
    val names = new java.io.File(snap.toUri.getPath).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), names.mkString(","))
    val fs  = snap.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(table.path, "_manifests/v0000000001"), false)
    try out.write("snap-spark001".getBytes("UTF-8")) finally out.close()

    assert(table.all() == statusRows)
    assert(table.dsAt(1L).collect().toSeq == statusRows)
    // and a commit carries it forward
    val o4 = RunStatusRow("p", "m", "s", "o4", None, None, java.time.Instant.parse("2024-03-02T00:00:00Z"))
    table.upsert(Seq(o4))
    assert(table.all().toSet == (statusRows :+ o4).toSet)
  }

  test("a driver-written snapshot reads identically through spark.read") {
    val table = statusTable(tmpDir("pt-write-compat"))
    table.migrate()
    table.upsert(statusRows)
    val fs   = new Path(table.path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in   = fs.open(new Path(table.path, f"_manifests/v${table.versions.last}%010d"))
    val snap = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim finally in.close()
    val read = spark.read.schema(statusEnc.schema).parquet(new Path(table.path, snap).toString)
      .as[RunStatusRow].collect().toSeq
    assert(read.sortBy(_.output) == statusRows)
  }

  // ---- the snapshot cache ----

  /** The name of the snapshot the latest manifest commits. */
  private def liveSnapshot(table: ParquetTable[_]): String = {
    val fs = new Path(table.path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new Path(table.path, f"_manifests/v${table.versions.last}%010d"))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim finally in.close()
  }

  /** Commit `rows` as another process would: Spark's writer puts
    * them in a new snapshot dir, then the next manifest names it.
    */
  private def commitBehind(table: ParquetTable[(String, Long)], rows: Seq[(String, Long)], snap: String): Unit = {
    val next = table.versions.last + 1
    rows.toDS().coalesce(1).write.parquet(new Path(table.path, snap).toString)
    val fs  = new Path(table.path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(table.path, f"_manifests/v$next%010d"), false)
    try out.write(snap.getBytes("UTF-8")) finally out.close()
  }

  test("the next all() reads a commit made behind the table's back") {
    val table = newTable("pt-behind")
    table.migrate()
    table.upsert(Seq(("a", 1L)))
    assert(table.all() == Seq(("a", 1L))) // cached by the commit
    commitBehind(table, Seq(("a", 1L), ("b", 2L)), "snap-behind01")
    assert(table.all().toSet == Set(("a", 1L), ("b", 2L)))
    // and the next commit merges into those rows
    table.upsert(Seq(("c", 3L)))
    assert(table.all().toSet == Set(("a", 1L), ("b", 2L), ("c", 3L)))
  }

  test("a cached read equals spark.read of the same snapshot, sub-microsecond Instants included") {
    val table = statusTable(tmpDir("pt-cache-equal"))
    table.migrate()
    val nanos = statusRows.map(r => r.copy(created = r.created.plusNanos(789)))
    table.upsert(nanos)
    val cached = table.all() // the commit's own rows, round-tripped
    val read = spark.read.schema(statusEnc.schema).parquet(new Path(table.path, liveSnapshot(table)).toString)
      .as[RunStatusRow].collect().toSeq
    assert(cached.sortBy(_.output) == read.sortBy(_.output))
    assert(read.sortBy(_.output) == statusRows, "parquet keeps microseconds")
    assert(cached != nanos)
  }

  test("a second all() on an unchanged table opens no parquet file") {
    val conf = spark.sparkContext.hadoopConfiguration
    val impl = s"fs.${OpenCountingFs.Scheme}.impl"
    conf.set(impl, classOf[OpenCountingFs].getName)
    try {
      val table = new ParquetTable[(String, Long)](
        spark, s"${OpenCountingFs.Scheme}://${tmpDir("pt-opens")}/table", Seq("_1"))
      table.migrate()
      commitBehind(table, Seq(("a", 1L), ("b", 2L)), "snap-opens01")
      def opens(read: => Unit): Long = { OpenCountingFs.parquetOpens.set(0); read; OpenCountingFs.parquetOpens.get }
      assert(opens(assert(table.all().toSet == Set(("a", 1L), ("b", 2L)))) == 1, "a new snapshot is decoded")
      assert(opens(assert(table.all().toSet == Set(("a", 1L), ("b", 2L)))) == 0)
      table.upsert(Seq(("c", 3L)))
      assert(opens(assert(table.all().toSet == Set(("a", 1L), ("b", 2L), ("c", 3L)))) == 0,
        "a commit caches its own rows")
    } finally conf.unset(impl)
  }

  // ---- the pluggable commit primitive (S3-class conditional put) ----

  test("conditional-put primitive: N racing writers, exactly one creates the key") {
    val cp = new ConditionalPutDouble()
    val dir = tmpDir("pt-cas")
    val p = new Path(dir + "/key")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val attempts = (0 until 8).map { i =>
      Future { gate.await(); cp.createIfAbsent(fs, p, s"writer$i".getBytes("UTF-8")) }
    }
    gate.countDown()
    val wins = try Await.result(Future.sequence(attempts), Duration.Inf)
    finally pool.shutdown()
    assert(wins.count(identity) == 1, s"expected exactly one CAS winner, got $wins")
    assert(fs.exists(p))
  }

  test("the full table protocol is green on the conditional-put primitive") {
    val table = new ParquetTable[(String, Long)](
      spark, tmpDir("pt-condput") + "/table", Seq("_1"), new ConditionalPutDouble())
    table.migrate()
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val writers = (0 until 4).map { w =>
      Future {
        (0 until 3).foreach(i => table.upsert(Seq((s"writer$w-key$i", w * 100L + i))))
      }
    }
    try Await.result(Future.sequence(writers), Duration.Inf)
    finally pool.shutdown()
    assert(table.all().toSet ==
      (for (w <- 0 until 4; i <- 0 until 3) yield (s"writer$w-key$i", w * 100L + i)).toSet)
    // time travel still works through the double
    assert(table.versions.nonEmpty)
  }

  test("a manifest race lost mid-commit fails loud and never disturbs committed state") {
    // a competing writer's PUT of the SAME next version lands in the
    // window between our writer reading currentManifest and its
    // conditional put being evaluated — the exact interleaving a
    // broken/stale lock allows on an object store. The competitor
    // (re)commits the previous snapshot, the legal minimal commit.
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val cp = new ConditionalPutDouble((fs, path) => {
      if (path.getName == "v0000000003" && fired.compareAndSet(false, true)) {
        val prev = new Path(path.getParent, "v0000000002")
        val in = fs.open(prev)
        val snap = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        val out = fs.create(path, false)
        try out.write(snap.getBytes("UTF-8")) finally out.close()
      }
    })
    val table = new ParquetTable[(String, Long)](
      spark, tmpDir("pt-race") + "/table", Seq("_1"), cp)
    table.migrate()                    // v1
    table.upsert(Seq(("a", 1L)))       // v2
    val before = table.all().toSet
    val err = intercept[java.util.ConcurrentModificationException] {
      table.upsert(Seq(("b", 2L)))     // tries v3; the hook steals v3 first
    }
    assert(err.getMessage.contains("lost the race"))
    // committed state at v2 is untouched; the loser's snapshot is
    // unreferenced, and its rows were never cached
    assert(table.all().toSet == before)
    table.upsert(Seq(("c", 3L)))       // v4, over the competitor's v3
    assert(table.all().toSet == before + (("c", 3L)))
  }

  test("migrate() on an existing table takes no lock and commits nothing") {
    val cp    = new CountingCommit
    val table = new ParquetTable[(String, Long)](
      spark, tmpDir("pt-migrate") + "/table", Seq("_1"), cp)
    table.migrate()
    assert(table.versions == Seq(1L), "a fresh table still commits v1")
    assert(cp.creates.get == 2, "the lock file and manifest v1")
    cp.creates.set(0)
    table.migrate()
    assert(cp.creates.get == 0, "no lock file, no manifest")
    assert(table.versions == Seq(1L))
  }

  test("update() is fenced to metadata scale: wide matches fail loud, table untouched") {
    // update() materializes MATCHED rows on the driver (f is an
    // arbitrary Scala function) — right for runs metadata, an OOM
    // for data-scale tables. The fence turns that misuse into a
    // readable error BEFORE any row is collected or rewritten.
    val table = new ParquetTable[(String, Long)](
      spark, tmpDir("pt-fence") + "/table", Seq("_1"),
      CommitPrimitive.HadoopAtomicCreate, maxUpdateRows = 2L)
    table.migrate()
    table.upsert(Seq(("a", 1L), ("b", 2L), ("c", 3L)))
    val before = table.all().toSet
    val err = intercept[IllegalArgumentException] {
      table.update(_ => true) { case (k, v) => (k, v + 1) }
    }
    assert(err.getMessage.contains("fenced"))
    assert(table.all().toSet == before)
    // under the cap the point update still works, matched-side only
    table.update(_._1 == "a") {
      case (k, v) => (k, v + 10)
    }
    assert(table.all().toSet == Set(("a", 11L), ("b", 2L), ("c", 3L)))
  }
}

/** The default commit primitive, counting its `createIfAbsent` calls. */
final class CountingCommit extends CommitPrimitive {
  val creates = new java.util.concurrent.atomic.AtomicInteger(0)

  override def createIfAbsent(fs: org.apache.hadoop.fs.FileSystem, path: Path,
                              content: Array[Byte]): Boolean = {
    creates.incrementAndGet()
    CommitPrimitive.HadoopAtomicCreate.createIfAbsent(fs, path, content)
  }
}

/** The local filesystem under its own scheme, counting every open of
  * a parquet file.
  */
final class OpenCountingFs extends LocalFileSystem(new OpenCountingFs.Raw)

object OpenCountingFs {
  val Scheme       = "graftopens"
  val parquetOpens = new AtomicLong

  final class Raw extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$Scheme:///")

    override def open(f: Path, bufferSize: Int): FSDataInputStream = {
      if (f.getName.endsWith(".parquet")) parquetOpens.incrementAndGet()
      super.open(f, bufferSize)
    }
  }
}
