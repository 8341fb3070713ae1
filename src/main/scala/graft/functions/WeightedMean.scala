package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Sample-size-weighted mean: `Σ(x·w) / Σ(w)`.
  *
  * The reference hand-rolls this on RDDs with `aggregateByKey` —
  * zero-initialized `(num, den)` buffer, per-partition seqOp,
  * cross-partition combOp (reference:
  * src/main/resources/pipeline/frequencyanalysis/frequencyAnalysis.py:55-75).
  * Here it is a typed [[Aggregator]] registered as a UDAF: Catalyst
  * plans it as a regular partial+final hash aggregation, so the two
  * extra `aggregateByKey` shuffles in the reference collapse into the
  * surrounding group-by shuffle.
  *
  * Null handling: pass a null weight to skip a value — a row whose
  * weight is null contributes nothing to either numerator or
  * denominator. A null *value* with a non-null weight is read as 0.0
  * and its weight is counted (unlike SQL `avg`, which ignores null
  * values). Weights that sum to zero give NaN.
  */
object WeightedMean extends Aggregator[WeightedValue, MeanBuf, Double] {

  override def zero: MeanBuf = MeanBuf(0.0, 0.0)

  override def reduce(b: MeanBuf, v: WeightedValue): MeanBuf =
    MeanBuf(b.num + v.x * v.w, b.den + v.w)

  override def merge(a: MeanBuf, b: MeanBuf): MeanBuf =
    MeanBuf(a.num + b.num, a.den + b.den)

  override def finish(b: MeanBuf): Double =
    if (b.den == 0.0) Double.NaN else b.num / b.den

  override def bufferEncoder: Encoder[MeanBuf]  = Encoders.product[MeanBuf]
  override def outputEncoder: Encoder[Double]   = Encoders.scalaDouble

  /** Column-level entry point: `weighted_mean($"x", $"w")`. */
  lazy val asUdaf = udaf(this, Encoders.product[WeightedValue])

  def apply(x: Column, w: Column): Column = asUdaf(x, w)
}

final case class WeightedValue(x: Double, w: Double)
final case class MeanBuf(num: Double, den: Double)
