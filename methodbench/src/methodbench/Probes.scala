package methodbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.scheduler._

/** Spark scheduler and executor totals at one instant. `jobInputBytes`
  * counts only the input of jobs submitted under [[SparkCounter.JobTag]].
  */
final case class SparkCounts(jobs: Long, stages: Long, tasks: Long, cpuNs: Long, gcMs: Long,
                             shuffleBytes: Long, jobInputBytes: Long) {
  def -(o: SparkCounts): SparkCounts = SparkCounts(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    cpuNs - o.cpuNs, gcMs - o.gcMs, shuffleBytes - o.shuffleBytes, jobInputBytes - o.jobInputBytes)
}

/** Listener the benchmark registers to count what Spark ran. Reads
  * drain the listener bus first, so a count never depends on how far
  * event delivery had got.
  */
final class SparkCounter(sc: SparkContext) extends SparkListener {
  private val jobs, stages, tasks, cpuNs, gcMs, shuffleBytes, jobInputBytes = new AtomicLong
  // stages of jobs whose submitting thread carried the job tag
  private val tagged = ConcurrentHashMap.newKeySet[Int]()

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    if (Option(e.properties).exists(_.getProperty(SparkCounter.JobTag) != null))
      e.stageIds.foreach(tagged.add)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      if (tagged.contains(e.stageId)) jobInputBytes.addAndGet(m.inputMetrics.bytesRead)
    }
  }

  def snapshot(): SparkCounts = {
    BenchBus.drain(sc)
    SparkCounts(jobs.get, stages.get, tasks.get, cpuNs.get, gcMs.get, shuffleBytes.get, jobInputBytes.get)
  }
}

object SparkCounter {

  /** Local property a thread sets while it runs an output's job, so
    * the job's input is told apart from the ledger's reads.
    */
  val JobTag = "methodbench.job"
}

/** The local filesystem with every directory listing counted: each
  * `listStatus` adds the entries it returned to [[Listing.entries]].
  * Traced runs install it as `fs.file.impl`, so the count is what the
  * program's own listing calls enumerated.
  */
final class CountingFileSystem extends LocalFileSystem(new CountingRawFileSystem)

final class CountingRawFileSystem extends RawLocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = {
    val r = super.listStatus(f)
    Listing.entries.addAndGet(r.length)
    r
  }
}

object Listing {
  val entries = new AtomicLong
}

/** Retained heap: the JVM's post-collection usage summed over the heap
  * pools, after a full collection. A collection queues what only
  * Spark's cleaner thread still holds (broadcast and shuffle blocks of
  * dropped plans), and the next one, once the cleaner has run, frees
  * it; a busy host can delay the cleaner, so the least of four
  * collections a little apart is taken.
  */
object Heap {
  def retainedMb(): Double =
    (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(150)
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getType == MemoryType.HEAP && p.getCollectionUsage != null)
        .map(_.getCollectionUsage.getUsed)
        .sum / 1048576.0
    }.min
}

/** Timings the traced stage records around the stage's own calls. */
final class StageTrace {
  val dispatchStart = new AtomicLong
  val firstJobStart = new AtomicLong
  val commitNs      = new AtomicLong
  val jobNs         = new AtomicReference(Vector.empty[Long])

  def reset(): Unit = {
    dispatchStart.set(0); firstJobStart.set(0); commitNs.set(0); jobNs.set(Vector.empty)
  }
}
