package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkTestBase

final class AHashSpec extends SparkTestBase {
  import spark.implicits._

  private def hashOf(payloads: Seq[Array[Byte]]): Seq[Option[Long]] =
    payloads.map(Tuple1(_)).toDF("payload")
      .select(AHash64($"payload").as("h"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq

  test("known tile: ramp 0..63 has mean 31.5, so exactly the top half's bits set") {
    val ramp = Array.tabulate[Byte](64)(_.toByte)
    // pixels 32..63 > 31.5 → bits (63-32)..(63-63) → low 32 bits
    assert(hashOf(Seq(ramp)) == Seq(Some(0x00000000FFFFFFFFL)))
  }

  test("global brightness shift leaves the hash unchanged; solid tile hashes to 0") {
    val ramp    = Array.tabulate[Byte](64)(_.toByte)
    val brighter = ramp.map(b => (b + 100).toByte)
    val solid   = Array.fill[Byte](64)(77)
    val Seq(h1, h2, h3) = hashOf(Seq(ramp, brighter, solid))
    assert(h1 == h2)        // p > mean ⇔ p+c > mean+c
    assert(h3 == Some(0L))  // nothing is strictly brighter than the mean
  }

  test("payloads shorter than the tile yield NULL, not a padded hash") {
    assert(hashOf(Seq(Array.fill[Byte](63)(1))) == Seq(None))
  }
}
