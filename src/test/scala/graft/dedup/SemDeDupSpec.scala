package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.ann.Ann

final class SemDeDupSpec extends SparkTestBase {

  test("SemDeDup over a LEARNED k-means quantizer: full audit invariants hold") {
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cents = Ann.kmeansCentroids(vecs, k = 8, iters = 2)
    val out = SemDeDup.run(vecs, cents, minCos = 0.45).cache()

    // every vector is audited exactly once
    assert(out.count() == vecs.count())
    assert(out.select("id").distinct().count() == vecs.count())

    // the learned quantizer actually spreads the corpus over cells
    assert(out.select("cell").distinct().count() > 1)

    // exactly one kept member per duplicate group, and it is the one
    // FARTHEST from the centroid (min centroid_cos, ties to lowest id)
    val groups = out.groupBy(col("cluster_rep"))
      .agg(sum(col("kept").cast("long")).as("n_kept"),
        min(struct(col("centroid_cos"), col("id"))).as("far"),
        max(when(col("kept") === true, col("id"))).as("kept_id"))
      .collect()
    assert(groups.forall(_.getAs[Long]("n_kept") == 1L))
    groups.foreach { g =>
      assert(g.getAs[org.apache.spark.sql.Row]("far").getLong(1) ==
        g.getAs[Long]("kept_id"),
        s"kept member must be the farthest-from-centroid one in ${g}")
    }

    // cluster representatives are members of their own cluster's cell
    // pairing: a rep maps to itself
    val reps = out.filter(col("id") === col("cluster_rep"))
    assert(reps.count() == out.select("cluster_rep").distinct().count())
  }

  test("auto cell count follows the √n law; runAuto preserves the audit invariants") {
    // the measured n²/k + n·k trade-off (tools/ScaleD10) minimizes at
    // k* = Θ(√n): 100× the corpus gets 10× the cells — not a fixed
    // count to outgrow, not a linear one that starves the cells
    assert(SemDeDup.autoCellCount(10000) == 100)
    assert(SemDeDup.autoCellCount(1000000) == 1000)
    assert(SemDeDup.autoCellCount(250000) == 500)
    assert(SemDeDup.autoCellCount(0) == 2 && SemDeDup.autoCellCount(1) == 2)

    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val out = SemDeDup.runAuto(vecs, minCos = 0.45).cache()
    assert(out.count() == vecs.count())
    assert(out.select("id").distinct().count() == vecs.count())
    // the auto quantizer actually refines: cells track √n, not the
    // 10 fixed labels the gate pins
    assert(out.select("cell").distinct().count() > 1)
    // retention invariant: exactly one kept member per duplicate group
    val groups = out.groupBy(col("cluster_rep"))
      .agg(sum(col("kept").cast("long")).as("n_kept")).collect()
    assert(groups.forall(_.getAs[Long]("n_kept") == 1L))
  }

  test("k-means cells refine label cells: more cells than the label quantizer is allowed, never fewer than 2") {
    val all = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val vecs = all.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val k = 8
    val cents = Ann.kmeansCentroids(vecs, k = k, iters = 2)
    val n = cents.count()
    assert(n >= 2 && n <= k, s"got $n cells for k=$k")
    // deterministic: a second build is identical
    val again = Ann.kmeansCentroids(vecs, k = k, iters = 2)
    assert(cents.exceptAll(again).isEmpty && again.exceptAll(cents).isEmpty)
  }
}
