package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase

final class QuantizeSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val vecs = Seq(
    (1L, Array(1.0f, -2.0f, 0.5f, 127.0f)),
    (2L, Array(0.001f, -0.002f, 0.0015f, -0.0005f)),
    (3L, Array(0.0f, 0.0f, 0.0f, 0.0f)) // all-zero: scale 0, qvec zeros
  ).toDF("id", "vec")

  /** The round-trip reference, (id, scale, qvec) → (id, vec:
    * Array[Double]) with `vec(i) = qvec(i) · scale`.
    */
  private def dequantize(df: DataFrame): DataFrame =
    df.withColumn("vec", transform(col("qvec"), q => q.cast("double") * col("scale")))

  test("int8: scale is max|x|/127, elements land in [-127, 127], zeros stay zeros") {
    val rows = Quantize.int8(vecs).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getSeq[Int](2))).toMap
    assert(math.abs(rows(1L)._1 - 1.0) < 1e-12) // 127/127
    assert(rows(1L)._2 == Seq(1, -2, 1, 127))   // round(0.5/1.0) = 1 (half away)
    assert(rows(3L)._1 == 0.0 && rows(3L)._2.forall(_ == 0))
    assert(rows.values.forall(_._2.forall(q => q >= -127 && q <= 127)))
  }

  test("per-element reconstruction error is bounded by scale/2; dequantize round-trips") {
    val q = Quantize.int8(vecs)
    val joined = dequantize(q).as("d")
      .join(vecs.select(col("id"), col("vec").as("orig")), Seq("id"))
      .select(col("id"), col("scale"), col("vec"), col("orig"))
      .collect()
    joined.foreach { r =>
      val scale = r.getDouble(1)
      val deq   = r.getSeq[Double](2)
      val orig  = r.getSeq[Float](3)
      orig.zip(deq).foreach { case (x, d) =>
        assert(math.abs(x.toDouble - d) <= scale / 2 + 1e-12,
          s"id=${r.getLong(0)}: |$x - $d| > $scale/2")
      }
    }
  }

  test("recon_err equals the L2 norm of the elementwise quantization residual") {
    val got = Quantize.int8(vecs).select("id", "scale", "qvec", "recon_err").collect()
    got.foreach { r =>
      val scale = r.getDouble(1)
      val qv    = r.getSeq[Int](2)
      val err   = r.getDouble(3)
      val orig  = vecs.collect().find(_.getLong(0) == r.getLong(0)).get.getSeq[Float](1)
      val want  = math.sqrt(orig.zip(qv).map { case (x, q) =>
        val d = x.toDouble - q * scale; d * d
      }.sum)
      assert(math.abs(err - want) < 1e-9, s"id=${r.getLong(0)}: $err vs $want")
    }
  }
}
