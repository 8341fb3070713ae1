package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.operators.TemporalJoins

final class AsofJoinSpec extends SparkTestBase {
  import spark.implicits._

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  test("native as-of equals the declarative form on a hand fixture (ties, gaps, no-match)") {
    val left = Seq(
      (1L, 10L, "l-a"), (1L, 20L, "l-b"), (1L, 5L, "l-pre"), // 5 precedes any right row
      (2L, 100L, "l-c"),
      (3L, 7L, "l-lonely") // key with no right rows at all
    ).toDF("k", "t", "lval")
    val right = Seq(
      (1L, 10L, "r-x"),  // tie: t == left t counts (<=)
      (1L, 15L, "r-y"),
      (2L, 1L, "r-z")
    ).toDF("k", "t", "payload")

    val native = AsofJoin.asOf(left, right, "k", "t", "t", Seq("payload"))
    val window = TemporalJoins.asOf(left, right, "k", "t", "t", Seq("payload"))
    assert(canon(native) == canon(window))

    val byRow = native.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> Option(r.getString(3))).toMap
    assert(byRow((1L, 5L)).isEmpty, "row before any right row gets null")
    assert(byRow((1L, 10L)).contains("r-x"), "equal timestamps match (<=)")
    assert(byRow((1L, 20L)).contains("r-y"))
    assert(byRow((2L, 100L)).contains("r-z"))
    assert(byRow((3L, 7L)).isEmpty, "key absent from right gets null")
  }

  test("native as-of equals the declarative form on the events/orders fixture") {
    val sfDir = "/root/testdata/sf0.001"
    val ev = graft.queries.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ts"))
    val ords = graft.queries.Tables(spark, sfDir, "orders")
      .groupBy(col("o_custkey").as("user_id"), col("o_orderdate").as("ots"))
      .agg(max(col("o_orderkey")).as("o_key"))
    val native = AsofJoin.asOf(ev, ords, "user_id", "ts", "ots", Seq("o_key"))
    val window = TemporalJoins.asOf(ev, ords, "user_id", "ts", "ots", Seq("o_key"))
    assert(canon(native) == canon(window) && native.count() == ev.count())
  }

  test("co-bucketed inputs plan the native as-of with ZERO exchanges") {
    // the structural advantage over the union-carry-forward form:
    // a union of two tables is never bucketed, so the window form
    // ALWAYS shuffles — the custom exec inherits its children's
    // clustering and merges in place
    val left = (1L to 500L).map(k => (k % 50, k, s"l$k")).toDF("k", "t", "lval")
    val right = (1L to 200L).map(k => (k % 50, k, s"r$k")).toDF("k", "t", "payload")
    bucketedTable(left, "b_asof_l", "k", 8)
    bucketedTable(right, "b_asof_r", "k", 8)
    try {
      val native = AsofJoin.asOf(
        spark.table("b_asof_l"), spark.table("b_asof_r"), "k", "t", "t", Seq("payload"))
      val plan = native.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"co-bucketed as-of must not shuffle:\n$plan")
      assert(native.count() == 500)
      // and it still computes the right answer on this layout
      val window = TemporalJoins.asOf(
        spark.table("b_asof_l"), spark.table("b_asof_r"), "k", "t", "t", Seq("payload"))
      assert(canon(native) == canon(window))
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_asof_l")
      spark.sql("DROP TABLE IF EXISTS b_asof_r")
    }
  }

  test("the plan is the custom exec: clustered exchanges + sorts + merge, no window") {
    val left  = Seq((1L, 10L, "a")).toDF("k", "t", "lval")
    val right = Seq((1L, 5L, "p")).toDF("k", "t", "payload")
    val plan = AsofJoin.asOf(left, right, "k", "t", "t", Seq("payload"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("AsofJoin"), s"expected AsofJoinExec in:\n$plan")
    assert(!plan.contains("Window"), "the native operator must not fall back to a window")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"))
  }

  test("key/time type mismatch: lossless widening coerces, lossy mismatch fails fast") {
    // the exec compares right rows under orderings built from the LEFT
    // attributes' types — mismatched types would read UnsafeRow fields
    // under the wrong type, so the constructor coerces only lossless
    // order-preserving casts and rejects everything else
    val left = Seq((1L, 10L, "a"), (1L, 3L, "pre")).toDF("k", "t", "lval")

    // Int right side widens to the left's Long losslessly
    val intRight = Seq((1, 5, "p")).toDF("k", "t", "payload")
    val got = AsofJoin.asOf(left, intRight, "k", "t", "t", Seq("payload"))
      .collect().map(r => r.getLong(1) -> Option(r.getString(3))).toMap
    assert(got(10L).contains("p") && got(3L).isEmpty)

    // String time cannot be cast losslessly — must throw, not merge wrong
    val strRight = Seq((1L, "5", "p")).toDF("k", "t", "payload")
    val e = intercept[IllegalArgumentException] {
      AsofJoin.asOf(left, strRight, "k", "t", "t", Seq("payload"))
    }
    assert(e.getMessage.contains("type mismatch"))

    // Long right key against an Int left key would narrow — reject
    val intLeft = Seq((1, 10, "a")).toDF("k", "t", "lval")
    val longRight = Seq((1L, 5, "p")).toDF("k", "t", "payload")
    val e2 = intercept[IllegalArgumentException] {
      AsofJoin.asOf(intLeft, longRight, "k", "t", "t", Seq("payload"))
    }
    assert(e2.getMessage.contains("type mismatch"))
  }

  test("shared-subplan right side (self-join shape) binds payload to the RIGHT rows") {
    // df.filter shares exprIds with df; without re-aliasing, the output
    // projection would bind the payload attribute to the LEFT column
    // and return each left row's own value
    val df = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "c"))
      .toDF("k", "t", "payload")
    val native = AsofJoin.asOf(df, df.filter(col("t") < 15), "k", "t", "t", Seq("payload"))
    val got = native.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> Option(r.getString(3))).toMap
    assert(got((1L, 10L)).contains("a"))
    assert(got((1L, 20L)).contains("a"),
      "payload must come from the right side's t=10 row, not the left row's own column")
    assert(got((2L, 5L)).contains("c"))
  }
}
