package graft.ann

import org.apache.spark.SpecBus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** No residue from the PQ auto dispatches: each arm of [[Pq.pqTopKAuto]]
  * and [[Pq.ivfPqTopKAuto]], and each registry query that runs them or
  * the stored laws (a7, a8, a10), leaves the CacheManager and the
  * context's DISK_ONLY persisted RDDs exactly as it found them.
  * Nothing is scrubbed between calls, so a relation one call leaves
  * cached shows at its own snapshot.
  */
final class PqResidueSpec extends SparkTestBase {

  private val M = 16
  private val KSUB = 64

  // behind an always-true filter, so no other suite in the JVM builds
  // this corpus plan: a relation another suite left cached cannot
  // turn this suite's persist into a no-op and hide a leak
  private lazy val vecs =
    spark.read.parquet(s"${testData("sf0.001")}/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
      .filter(col("id") >= 0)

  private lazy val books = Pq.trainCodebooks(vecs, M, KSUB, iters = 3)
    .localCheckpoint(true)

  private lazy val cents = Ann.kmeansCentroids(vecs, k = 8, iters = 2)
    .localCheckpoint(true)

  private lazy val queries = vecs.filter(col("id") < 20)

  test("PQ autos and a7/a8/a10 leave no cached relation or DISK_ONLY RDD behind") {
    books.count(); cents.count()
    def pq(budgetFrac: Double) =
      Pq.pqTopKAuto(vecs, queries, books, k = 5, M, KSUB, budgetFrac = budgetFrac)
    def ivf(probeFrac: Double, budgetFrac: Double) =
      Pq.ivfPqTopKAuto(vecs, queries, cents, books, k = 5, M, KSUB,
        probeFrac = probeFrac, budgetFrac = budgetFrac)
    // the registry forms at sf0.01, which no other suite runs them at
    def registry(name: String) = graft.SparkEntry.queries(name)(spark, testData("sf0.01"))
    // the budgets of PqSpec and JobCountSpec: the IVF arm at 1.0/0.02
    // persists both relations and refuses on the ADC law, at 0.5/0.02
    // it refuses on the cell law before encoding
    val calls: Seq[(String, () => DataFrame)] = Seq(
      "pqTopKAuto accepted" -> (() => pq(0.5)),
      "pqTopKAuto refused" -> (() => pq(0.02)),
      "ivfPqTopKAuto accepted" -> (() => ivf(1.0, 1.0)),
      "ivfPqTopKAuto refused on the ADC law" -> (() => ivf(1.0, 0.02)),
      "ivfPqTopKAuto refused on the cell law" -> (() => ivf(0.5, 0.02)),
      "a7_pq_auto" -> (() => registry("a7_pq_auto")),
      "a8_ivf_pq_auto" -> (() => registry("a8_ivf_pq_auto")),
      "a10_ivf_pq_served" -> (() => registry("a10_ivf_pq_served")))
    val leaks = calls.flatMap { case (name, call) =>
      val (cached, disk) = SpecBus.residue(spark)
      assert(call().collect().nonEmpty, s"$name returned no rows")
      val (cachedAfter, diskAfter) = SpecBus.residue(spark)
      if (cachedAfter == cached && diskAfter == disk) None
      else Some(s"$name: cached relations ${cached.size} -> ${cachedAfter.size}, " +
        s"DISK_ONLY RDDs ${disk.toSeq.sorted} -> ${diskAfter.toSeq.sorted}")
    }
    assert(leaks.isEmpty, s"calls left residue:\n${leaks.mkString("\n")}")
  }
}
