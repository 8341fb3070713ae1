package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class LineageSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("truncate preserves rows and schema") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, null.asInstanceOf[String]))
      .toDF("id", "s")
    val t = Lineage.truncate(df)
    assert(t.schema == df.schema)
    assert(t.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
  }

  test("truncate resets compounded plan statistics (the CC driver-stall defect)") {
    // localCheckpoint carries origin stats; self-joining a relation
    // with itself k times in a loop therefore grows sizeInBytes'
    // BIT LENGTH geometrically (measured 63 -> 189,292 bits in 12
    // pointer-jump rounds; SCALE.md, "Iterative algorithms") until
    // planning stalls in BigInteger arithmetic. truncate must return
    // a relation whose stats do NOT inherit the compounded product.
    var df = spark.range(100).select(col("id"), col("id").as("label"))
    for (_ <- 1 to 6) { // six self-join doublings
      df = df.join(df.select(col("label").as("id"), col("id").as("lab2")), Seq("id"))
        .select(col("id"), col("lab2").as("label"))
        .localCheckpoint(true)
    }
    val dirtyBits = df.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
    val clean     = Lineage.truncate(df)
    val cleanBits = clean.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
    assert(dirtyBits > 100, s"expected compounded stats, got $dirtyBits bits")
    assert(cleanBits <= 64, s"truncate must reset stats, got $cleanBits bits")
  }

  test("truncate holds the stat bits at the engine default on every loop round") {
    // Every iterative operator (CC, star rewiring) truncates its
    // loop-carried relation each round: bare checkpoints compound stat
    // bits ~2× per self-referencing round until join planning stalls
    // in BigInteger.multiply (the sf10 driver hang). This pins the
    // invariant at EVERY round, so a revert to bare localCheckpoint
    // inside a loop fails HERE, not as a scale-tier hang.
    def loop(rounds: Int, ck: DataFrame => DataFrame): Seq[Int] = {
      var df = spark.range(50).select(col("id"), col("id").as("label"))
      (0 until rounds).map { _ =>
        df = ck(df.join(df.select(col("label").as("id"), col("id").as("lab2")), Seq("id"))
          .select(col("id"), col("lab2").as("label")))
        df.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
      }
    }
    val bounded = loop(15, Lineage.truncate)
    assert(bounded.forall(_ <= 64), s"stat bits compounded under truncate: $bounded")
    // ...and the bound holds BECAUSE of the reset: the same loop on
    // bare localCheckpoint blows through it within the same 15 rounds
    val bare = loop(15, _.localCheckpoint(true))
    assert(bare.max > 64, s"expected bare checkpoints to compound: $bare")
  }

  test("truncate's leaf is the checkpoint's own RDD (no Row conversion)") {
    def leaf(df: DataFrame) = Bridge.analyzed(df) match {
      case r: LogicalRDD => r
      case p             => fail(s"expected a checkpoint leaf, got ${p.nodeName}")
    }
    def leafRdd(df: DataFrame) = leaf(df).rdd
    val df = spark.range(100).select(col("id"), (col("id") % 7).as("label"))
      .filter(col("id") > 3)
    // the stat-free re-wrap reads the very RDD the checkpoint made, and
    // keeps its constraints (so a self-joined leaf's references plan
    // the same exchange)...
    val ck = df.localCheckpoint(true)
    val free = Bridge.statFree(ck)
    assert(leafRdd(free).id == leafRdd(ck).id)
    assert(leaf(ck).constraints.nonEmpty)
    assert(leaf(free).constraints == leaf(ck).constraints)
    // ...so truncate's leaf IS a materialized checkpoint, not a
    // conversion pass stacked over one (a createDataFrame(ck.rdd, …)
    // re-wrap yields a fresh, never-checkpointed RDD here)
    val t = Lineage.truncate(df)
    assert(leafRdd(t).isCheckpointed)
    assert(t.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength <= 64)
  }
}
