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

  // Each PQ auto call builds its DISK_ONLY relations and releases them
  // before it returns, so a second call over the same corpus and
  // codebooks runs the same jobs as the first, and the order the arms
  // run in does not matter. An accepted arm's count includes the one
  // that materializes its result checkpoint.

  test("pqTopKAuto: job count per arm") {
    books.count()
    // the budgets of PqSpec's auto-dispatch test: 0.5 accepts the
    // compressed scan, 0.02 refuses to the brute scan
    def arm(budgetFrac: Double) = jobs(Pq.pqTopKAuto(vecs, queries, books, k = 5, M, KSUB,
      budgetFrac = budgetFrac).collect())
    val pqArm = arm(0.5)
    val pqAgain = arm(0.5)
    val bruteArm = arm(0.02)
    info(s"pqTopKAuto jobs: pq arm $pqArm, again $pqAgain, brute arm $bruteArm")
    assert(pqArm == 19, s"pq arm ran $pqArm jobs")
    assert(pqAgain == pqArm, s"pq arm ran $pqArm jobs, then $pqAgain")
    assert(bruteArm == 17, s"brute arm ran $bruteArm jobs")
  }

  test("ivfPqTopKAuto: job count per arm") {
    books.count(); cents.count()
    def arm(probeFrac: Double, budgetFrac: Double) = jobs(Pq.ivfPqTopKAuto(vecs, queries,
      cents, books, k = 5, M, KSUB, probeFrac = probeFrac, budgetFrac = budgetFrac).collect())
    val idxArm = arm(1.0, 1.0)
    val idxAgain = arm(1.0, 1.0)
    val bruteArm = arm(0.5, 0.02)
    info(s"ivfPqTopKAuto jobs: index arm $idxArm, again $idxAgain, brute arm $bruteArm")
    assert(idxArm == 40, s"index arm ran $idxArm jobs")
    assert(idxAgain == idxArm, s"index arm ran $idxArm jobs, then $idxAgain")
    assert(bruteArm == 23, s"brute arm ran $bruteArm jobs")
  }

  test("saveIvfPqLaws and ivfPqTopKIndexedAuto: job count per arm") {
    books.count(); cents.count()
    val prefix = "jobcount_pq_idx"
    val tables = Seq("centroids", "books", "codes", "vecs", "laws").map(t => s"${prefix}_$t")
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      Pq.saveIvfPqIndex(vecs, cents, books, prefix, M, KSUB, nBuckets = 4)
      val laws = jobs(Pq.saveIvfPqLaws(spark, prefix, measureK = 5, M, KSUB, sampleN = 32))
      // PqSpec's fractions: 1.0 serves from the packed index, the
      // production defaults refuse to the exact scan over the vecs table
      val served = jobs(Pq.ivfPqTopKIndexedAuto(spark, prefix, queries, k = 5, M, KSUB,
        probeFrac = 1.0, budgetFrac = 1.0).collect())
      val refused = jobs(Pq.ivfPqTopKIndexedAuto(spark, prefix, queries, k = 5, M, KSUB)
        .collect())
      info(s"saveIvfPqLaws jobs: $laws; ivfPqTopKIndexedAuto jobs: served $served, " +
        s"refused $refused")
      assert(laws == 22, s"saveIvfPqLaws ran $laws jobs")
      assert(served == 11, s"served arm ran $served jobs")
      assert(refused == 5, s"refused arm ran $refused jobs")
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("Dbscan.epsCluster: job count per v6 arm") {
    vecs.count()
    // v6's two calls: the default dispatch, and maxBruteRows below n,
    // which forces the LSH branch at the profile's table count
    val default = jobs(Dbscan.epsCluster(vecs, minCos = 0.45, minPts = 2, dim = 64).collect())
    val lsh = jobs(Dbscan.epsCluster(vecs, minCos = 0.45, minPts = 2, dim = 64,
      maxBruteRows = 100L).collect())
    info(s"epsCluster jobs: default $default, maxBruteRows = 100 $lsh")
    assert(default == 42, s"default arm ran $default jobs")
    assert(lsh == 43, s"LSH arm ran $lsh jobs")
  }

  test("unpinned cosineNearDupPairsLSH(probes = 0): job count") {
    vecs.count()
    // the single-probe auto sizing (autoTables)
    val n = jobs(Ann.cosineNearDupPairsLSH(vecs, minCos = 0.45, dim = 64, probes = 0).collect())
    info(s"unpinned single-probe cosineNearDupPairsLSH jobs: $n")
    assert(n == 10, s"unpinned single-probe pair join ran $n jobs")
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
      bucketedTable(Ann.sketchIndex(existing, 64, 6, 16, 42L), table, "bucket", 8)
      val n = jobs(Ann.cosineNearDupPairsLSHIndexed(spark.table(table), existing, incoming,
        minCos = 0.45, dim = 64, planes = 6, tables = 16, seed = 42L).collect())
      info(s"stored-index cosineNearDupPairsLSHIndexed jobs: $n")
      assert(n == 14, s"stored-index pair join ran $n jobs")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }
}
