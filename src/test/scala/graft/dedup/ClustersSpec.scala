package graft.dedup

import graft.SparkTestBase

final class ClustersSpec extends SparkTestBase {
  import spark.implicits._

  test("connected components: chains merge, singletons keep own rep") {
    // components: {1,2,3,4} (chain), {10,11}, {20,21,22} (triangle),
    // {40} (a node whose only pair is a self-loop)
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L),
      (40L, 40L)
    ).toDF("a", "b")

    val comp = Clusters.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    assert(Seq(1L, 2L, 3L, 4L).forall(comp(_) == 1L))
    assert(Seq(10L, 11L).forall(comp(_) == 10L))
    assert(Seq(20L, 21L, 22L).forall(comp(_) == 20L))
    assert(comp(40L) == 40L, "self-loop-only node keeps itself as rep")
    assert(comp.size == 10)
  }

  test("long chain converges within the iteration cap") {
    val pairs = (1L until 40L).map(i => (i, i + 1)).toDF("a", "b")
    val comp = Clusters.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.values.forall(_ == 1L))
  }

  test("keepBest: one survivor per cluster by score, singletons always survive") {
    import org.apache.spark.sql.functions._
    // clusters: {1,2,3} and {10,11}; 20 is a singleton
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val docs = Seq(
      (1L, 0.2), (2L, 0.9), (3L, 0.9), // tie at 0.9 → lowest id (2) wins
      (10L, 0.5), (11L, 0.4),
      (20L, 0.1)
    ).toDF("doc_id", "score")
    val out = Clusters.keepBest(docs, "doc_id", col("score"), pairs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(3))).toMap
    assert(out.size == 6)
    assert(out(2L) == (1L, true) && !out(1L)._2 && !out(3L)._2, "quality argmax, tie to low id")
    assert(out(10L) == (10L, true) && !out(11L)._2)
    assert(out(20L) == (20L, true), "singleton is its own cluster and survives")
    // exactly one survivor per cluster
    val perCluster = out.values.groupBy(_._1).map { case (c, vs) => c -> vs.count(_._2) }
    assert(perCluster.values.forall(_ == 1), perCluster.toString)
  }
}
