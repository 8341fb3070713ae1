package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ann.Ann
import graft.functions.VectorOps

/** SemDeDup (semantic dedup over embeddings, Abbas et al. 2023):
  * assign each vector to its nearest centroid cell, form within-cell
  * pairs with cosine ≥ τ, connect them into duplicate groups, and
  * keep the member FARTHEST from its cell centroid (the paper's best
  * retention rule).
  *
  * The coarse quantizer is a parameter: label means for a quick
  * gate, [[graft.ann.Ann.kmeansCentroids]] for real deployments —
  * at 100 TB the cell count must scale with the corpus (SemDeDup's
  * k-means uses thousands of clusters) because the within-cell
  * pairing is quadratic PER CELL; the cells bound the pairwise work,
  * never corpus².
  */
object SemDeDup {

  /** @param vecs      (id, vec) rows
    * @param centroids (cell, vec) rows — broadcast-sized
    * @param minCos    within-cell duplicate threshold τ
    * @return (id, cell, cluster_rep, centroid_cos, kept) — the full
    *         audit: every vector, its cell, its duplicate-group
    *         representative, its cosine to the cell centroid, and
    *         whether the retention rule keeps it.
    */
  /** The measured n²/k cell law as a default (tools/ScaleD10: in-cell
    * pair volume 2.00 B → 39 M going k=10 → 512 at sf10, on the nose
    * of the n²/k model, against an n·k assignment counterweight):
    * total work n²/k + n·k minimizes at k* = Θ(√n), so the cell count
    * a caller doesn't pin is derived from the corpus — quantizer
    * training included ([[graft.ann.Ann.kmeansCentroids]], fixed
    * iterations, deterministic hash-sampled seeds, so the result is
    * still a pure function of the data). With k = √n both terms are
    * n^1.5: sub-quadratic without tuning, at ANY corpus size. The
    * quantizer trains for 2 k-means iterations.
    */
  def runAuto(vecs: DataFrame, minCos: Double): DataFrame =
    run(vecs, Ann.kmeansCentroids(vecs, autoCellCount(vecs.count()), iters = 2), minCos)

  /** The k* = ⌈√n⌉ sizing rule by itself (at least 2 cells), for
    * callers sizing their own quantizer (and for specs asserting the
    * law tracks n).
    */
  def autoCellCount(n: Long): Int =
    math.max(2, math.ceil(math.sqrt(n.toDouble)).toInt)

  def run(vecs: DataFrame, centroids: DataFrame, minCos: Double): DataFrame = {
    val assigned = Ann.assignCells(vecs, centroids) // (id, cell, ccos)
    val withVec = assigned.join(vecs.select(col("id"), col("vec")), Seq("id"))
    val a = withVec.select(col("id").as("a"), col("cell"), col("vec").as("va"),
      VectorOps.fnorm(col("vec")).as("na"))
    val b = withVec.select(col("id").as("b"), col("cell"), col("vec").as("vb"),
      VectorOps.fnorm(col("vec")).as("nb"))
    val pairs = a.join(b, Seq("cell"))
      .filter(col("a") < col("b"))
      .filter(VectorOps.cosinePre(col("va"), col("vb"), col("na"), col("nb")) >= minCos)
      .select(col("a"), col("b"))
    Clusters.keepBest(
        assigned.withColumn("negccos", -col("ccos")), "id", col("negccos"), pairs)
      .join(assigned.select(col("id"), col("cell"), col("ccos")), Seq("id"))
      .select(col("id"), col("cell"), col("cluster_rep"),
        col("ccos").as("centroid_cos"), col("kept"))
  }
}
