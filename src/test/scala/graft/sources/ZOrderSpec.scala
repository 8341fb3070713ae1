package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.functions.ZOrder

final class ZOrderSpec extends SparkTestBase {

  import spark.implicits._

  test("zValue interleaves bits round-robin") {
    val got = Seq((1L, 0L), (0L, 1L), (3L, 3L), (2L, 3L), (5L, 2L))
      .toDF("x", "y")
      .select(ZOrder.zValue(Seq(col("x"), col("y")), bits = 3).as("z"))
      .collect().map(_.getLong(0)).toSeq
    // bit b of x -> position 2b, bit b of y -> position 2b+1
    // (1,0)->1; (0,1)->2; (3,3)->15; (2,3)->14; (5,2)->x:1|16, y:8 = 25
    assert(got == Seq(1L, 2L, 15L, 14L, 25L))
  }

  test("bucketed reduces keys to the bit budget without breaking low-bit locality") {
    val got = Seq((1048577L, 3L)) // 2^20 + 1 folds to 1
      .toDF("x", "y")
      .select(ZOrder.bucketed(Seq(col("x"), col("y")), bits = 20).as("z"))
      .collect().map(_.getLong(0)).toSeq
    // x=1 -> bit at pos 0; y=3 -> bits at pos 1 and 3
    assert(got == Seq(1L | 2L | 8L))
  }

  test("zValueSql mirrors the column arithmetic") {
    val sql = ZOrder.zValueSql(Seq("x", "y"), bits = 4)
    val viaSql = Seq((5L, 2L), (9L, 14L), (15L, 0L))
      .toDF("x", "y")
      .selectExpr(s"CAST($sql AS BIGINT) AS z")
      .collect().map(_.getLong(0)).toSeq
    val viaCols = Seq((5L, 2L), (9L, 14L), (15L, 0L))
      .toDF("x", "y")
      .select(ZOrder.zValue(Seq(col("x"), col("y")), bits = 4).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(viaSql == viaCols)
  }
}
