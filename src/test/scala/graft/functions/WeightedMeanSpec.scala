package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The null and zero-weight behaviour of [[WeightedMean]] that
  * `FrequencyAnalysis.calcFreq` relies on: it passes a null weight to
  * skip a dataset without a value, so a null weight must contribute
  * nothing while a null value alone does not skip its row.
  */
final class WeightedMeanSpec extends SparkTestBase {
  import spark.implicits._

  private def mean(rows: Seq[(Option[Double], Option[Double])]): Double =
    rows.toDF("x", "w").agg(WeightedMean(col("x"), col("w"))).head().getDouble(0)

  test("a null weight contributes nothing to the numerator or the denominator") {
    // (1*1 + 3*3) / 4; the 100.0 row with a null weight is skipped
    assert(mean(Seq(Some(1.0) -> Some(1.0), Some(3.0) -> Some(3.0), Some(100.0) -> None)) == 2.5)
  }

  test("a null value is read as 0.0 and its weight is counted") {
    // (0.0*1 + 3*3) / 4, not 3.0 as a skipped row would give
    assert(mean(Seq(None -> Some(1.0), Some(3.0) -> Some(3.0))) == 2.25)
  }

  test("weights that sum to zero give NaN") {
    assert(mean(Seq(Some(1.0) -> Some(0.0), Some(3.0) -> Some(0.0))).isNaN)
    assert(mean(Seq(Some(1.0) -> Some(2.0), Some(3.0) -> Some(-2.0))).isNaN)
    assert(mean(Seq(Some(1.0) -> None)).isNaN)
  }

  test("merge is order-independent") {
    // dyadic sums are exact in any order, so every order must agree bit for bit
    val bufs = Seq(MeanBuf(0.5 * 8, 8), MeanBuf(0.25 * 4, 4), MeanBuf(0.75 * 16, 16), WeightedMean.zero)
    val results = bufs.permutations.map { p =>
      WeightedMean.finish(p.reduceLeft(WeightedMean.merge))
    }.toSet
    assert(results.size == 1)
    assert(WeightedMean.merge(bufs(0), bufs(1)) == WeightedMean.merge(bufs(1), bufs(0)))
    assert(WeightedMean.merge(bufs(0), WeightedMean.zero) == bufs(0))
  }
}
