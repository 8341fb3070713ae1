package graft.ann

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SpecBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Driver job counts of the measured auto dispatches and the LSH pair
  * paths, pinned so a refactor of [[Pq]] or [[Ann]] cannot add a pass
  * unnoticed: each auto call encodes its corpus once, and the pair
  * joins keep their pre-flight count. A job is counted from call to
  * collected result, planning included (the dispatches run their
  * measurement jobs while the plan is built).
  *
  * Every job the session runs between two drained listener-bus points
  * is counted, not a local-property tag: the dispatches submit part of
  * their jobs from `Par` driver threads, which a tag set on the calling
  * thread does not reach. Suites run one at a time in the forked test
  * JVM, so nothing else submits jobs meanwhile.
  */
final class JobCountSpec extends SparkTestBase {

  private val M = 16
  private val KSUB = 64

  private lazy val vecs =
    spark.read.parquet(s"${testData("sf0.001")}/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))

  private lazy val books = Pq.trainCodebooks(vecs, M, KSUB, iters = 3)
    .localCheckpoint(true)

  private lazy val cents = Ann.kmeansCentroids(vecs, k = 8, iters = 2)
    .localCheckpoint(true)

  private lazy val queries = vecs.filter(col("id") < 20)

  private def jobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    SpecBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      SpecBus.drain(sc)
      n.get
    } finally sc.removeSparkListener(listener)
  }

  test("pqTopKAuto: job count per arm") {
    books.count()
    // the budgets of PqSpec's auto-dispatch test: 0.5 accepts the
    // compressed scan, 0.02 refuses to the brute scan
    val pqArm = jobs(Pq.pqTopKAuto(vecs, queries, books, k = 5, M, KSUB,
      budgetFrac = 0.5).collect())
    val bruteArm = jobs(Pq.pqTopKAuto(vecs, queries, books, k = 5, M, KSUB,
      budgetFrac = 0.02).collect())
    info(s"pqTopKAuto jobs: pq arm $pqArm, brute arm $bruteArm")
    // the same call runs 16 or 18 jobs from run to run (a7, its
    // registry form, runs 26 or 28), so this arm is pinned as a ceiling
    assert(pqArm <= 18, s"pq arm ran $pqArm jobs")
    assert(bruteArm == 15, s"brute arm ran $bruteArm jobs")
  }

  test("ivfPqTopKAuto: job count per arm") {
    books.count(); cents.count()
    val idxArm = jobs(Pq.ivfPqTopKAuto(vecs, queries, cents, books, k = 5, M, KSUB,
      probeFrac = 1.0, budgetFrac = 1.0).collect())
    val bruteArm = jobs(Pq.ivfPqTopKAuto(vecs, queries, cents, books, k = 5, M, KSUB,
      probeFrac = 0.5, budgetFrac = 0.02).collect())
    info(s"ivfPqTopKAuto jobs: index arm $idxArm, brute arm $bruteArm")
    assert(idxArm == 39, s"index arm ran $idxArm jobs")
    assert(bruteArm == 19, s"brute arm ran $bruteArm jobs")
  }

  test("unpinned cosineNearDupPairsLSH: job count") {
    vecs.count()
    // d17's config: every sizing knob at its default
    val n = jobs(Ann.cosineNearDupPairsLSH(vecs, minCos = 0.45, dim = 64).collect())
    info(s"unpinned cosineNearDupPairsLSH jobs: $n")
    assert(n == 10, s"unpinned pair join ran $n jobs")
  }

  test("stored-index cosineNearDupPairsLSHIndexed: job count") {
    val existing = vecs.filter(col("id") <= 400)
    val incoming = vecs.filter(col("id") > 400)
    val table = "jobcount_sketch_index"
    try {
      Ann.saveSketchIndex(Ann.sketchIndex(existing, 64, 6, 16, 42L), table, nBuckets = 8)
      val n = jobs(Ann.cosineNearDupPairsLSHIndexed(spark.table(table), existing, incoming,
        minCos = 0.45, dim = 64, planes = 6, tables = 16, seed = 42L).collect())
      info(s"stored-index cosineNearDupPairsLSHIndexed jobs: $n")
      assert(n == 14, s"stored-index pair join ran $n jobs")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }
}
