package graft.ann

import graft.SparkTestBase

final class DbscanSpec extends SparkTestBase {
  import spark.implicits._

  private def run(nodes: Seq[Long], pairs: Seq[(Long, Long)], minPts: Int) =
    Dbscan.fromNeighbors(nodes.toDF("id"), pairs.toDF("a", "b"), minPts)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getLong(3))))
      .toMap

  // K5 (dense blob), K3 (too thin for minPts=4), a pendant, an isolate
  private val k5 = for { a <- 1L to 5L; b <- (a + 1) to 5L } yield (a, b)
  private val k3 = Seq((6L, 7L), (7L, 8L), (6L, 8L))
  private val pendant = Seq((5L, 9L)) // 9 hangs off core 5

  test("core/border/noise classification at minPts=4 (self counts)") {
    val out = run(1L to 10L, k5 ++ k3 ++ pendant, minPts = 4)
    // K5 members: 4 neighbors each (5 has 5 with the pendant) — all core, cluster 1
    (1L to 5L).foreach(i => assert(out(i)._2 == "core" && out(i)._3 == 1L, s"$i: ${out(i)}"))
    // K3 members: 2 neighbors < minPts-1=3 — not core, not near a core: noise
    (6L to 8L).foreach(i => assert(out(i) == ((2L, "noise", -1L)), s"$i: ${out(i)}"))
    // pendant: 1 neighbor, adjacent to core 5 — border in cluster 1
    assert(out(9L) == ((1L, "border", 1L)))
    // isolate: no pairs at all
    assert(out(10L) == ((0L, "noise", -1L)))
  }

  test("lower minPts promotes the thin triangle to its own cluster") {
    val out = run(1L to 9L, k5 ++ k3 ++ pendant, minPts = 3)
    (6L to 8L).foreach(i => assert(out(i)._2 == "core" && out(i)._3 == 6L, s"$i: ${out(i)}"))
    assert(out(1L)._3 == 1L) // K5 cluster unchanged
  }

  test("border adjacent to two clusters takes the minimum cluster label") {
    // two K4 blobs; node 100 touches a core of each
    val blobA = for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)
    val blobB = for { a <- 11L to 14L; b <- (a + 1) to 14L } yield (a, b)
    val bridge = Seq((4L, 100L), (11L, 100L))
    val out = run(Seq(1L, 2L, 3L, 4L, 11L, 12L, 13L, 14L, 100L),
      blobA ++ blobB ++ bridge, minPts = 4)
    assert(out(100L) == ((2L, "border", 1L)))
    assert(out(11L)._3 == 11L) // bridge node is not core: blobs stay separate
  }

  test("exact and LSH ε-graphs produce identical DBSCAN output on the fixture") {
    import org.apache.spark.sql.functions._
    val vecs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val exact = Ann.cosinePairsExact(vecs, minCos = 0.35).select("a", "b")
    val lsh = Ann.cosineNearDupPairsLSH(vecs, minCos = 0.35, dim = 64,
      planes = 3, tables = 48, seed = 42L, probes = 0).select("a", "b")
    // the LSH config has recall 1.0 at this τ on the fixture...
    assert(lsh.exceptAll(exact).isEmpty && exact.exceptAll(lsh).isEmpty)
    // ...so DBSCAN through either path is the same clustering
    def run(p: org.apache.spark.sql.DataFrame) =
      Dbscan.fromNeighbors(vecs.select(col("id")), p, minPts = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
        .toSet
    assert(run(exact) == run(lsh))
  }

  test("epsCluster auto-dispatch: brute when dense+broadcastable, LSH otherwise, output invariant") {
    import org.apache.spark.sql.functions._
    val vecs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    // the v4 regime: gap-less τ → candidate fraction ≈ 1 → a
    // broadcastable corpus takes the brute scorer...
    val prof = Ann.lshProfile(vecs, minCos = 0.35, planes = 6)
    assert(Dbscan.dispatchBrute(500L, prof.candidateFraction), s"profile=$prof")
    // ...but the SAME density at 100 TB cannot broadcast: LSH by shape
    assert(!Dbscan.dispatchBrute(500000000L, prof.candidateFraction))
    // a selective τ dispatches LSH even when broadcastable
    assert(!Dbscan.dispatchBrute(500L, candidateFraction = 0.02))

    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    // end-to-end: the dispatched engine reproduces the pinned v4 path
    val auto = Dbscan.epsCluster(vecs, minCos = 0.35, minPts = 3, dim = 64)
    val pinned = Dbscan.fromNeighbors(vecs.select(col("id")),
      Ann.cosinePairsExact(vecs, minCos = 0.35).select("a", "b"), minPts = 3)
    assert(canon(auto) == canon(pinned))
    // and on a planted selective corpus the LSH branch runs (forced by
    // maxBruteRows = 0) and still equals the exact graph's clustering
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val dim = 16
    val base = (0 until 200).map(i => i.toLong -> Array.fill(dim)(rnd.nextGaussian().toFloat))
    val dups = base.filter(_._1 % 5 == 0).map { case (i, v) =>
      (100000L + i) -> v.map(x => x + 0.02f * rnd.nextGaussian().toFloat)
    }
    val planted = (base ++ dups).toDF("id", "vec")
    val lshAuto = Dbscan.epsCluster(planted, minCos = 0.9, minPts = 2, dim = dim,
      planes = 10, maxBruteRows = 0L)
    val bruteRef = Dbscan.fromNeighbors(planted.select(col("id")),
      AnnSpec.allPairs(planted, minCos = 0.9).select("a", "b"), minPts = 2)
    assert(canon(lshAuto) == canon(bruteRef))
  }

  test("isolated core (minPts=1) clusters as itself; stable under repartitioning") {
    val nodes = (1L to 9L) :+ 100L
    val pairs = k5 ++ k3 ++ pendant
    val out = run(nodes, pairs, minPts = 1)
    assert(out(100L) == ((0L, "core", 100L))) // zero neighbors but self counts
    val df = pairs.toDF("a", "b").repartition(13)
    val out2 = Dbscan.fromNeighbors(nodes.toDF("id"), df, 1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getLong(3)))).toMap
    assert(out2 == out)
  }
}
