package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** Average-hash (aHash) perceptual fingerprint over a 64-byte
  * grayscale tile: bit i is set iff pixel i is strictly brighter
  * than the tile's mean. The classic image near-dup signature —
  * global brightness shifts cancel (p > mean ⇔ p+c > mean+c), so
  * re-encoded / brightness-adjusted copies collide while different
  * images land far apart in Hamming space; pair it with the d4
  * pigeonhole Hamming blocking for corpus-scale image dedup.
  *
  * Input contract: a `binary` column whose FIRST 64 bytes are the
  * tile (e.g. a decoded 8×8 luminance tile for real images, or any
  * deterministic byte source for stubs). Shorter
  * payloads yield NULL rather than a silently padded hash. Bit 63
  * (MSB) is pixel 0, so `bin(hash)` prints pixels in order — the
  * cross-engine replay (DuckDB `string_agg` over byte positions)
  * reads the same left-to-right.
  */
case class AHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"ahash64 expects binary, got ${t.simpleString}")
  }

  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    if (bytes.length < 64) null
    else {
      var sum = 0L
      var i   = 0
      while (i < 64) { sum += (bytes(i) & 0xff).toLong; i += 1 }
      val mean = sum.toDouble / 64.0
      var h = 0L
      i = 0
      while (i < 64) {
        if ((bytes(i) & 0xff).toDouble > mean) h |= 1L << (63 - i)
        i += 1
      }
      h
    }
  }

  override protected def withNewChildInternal(newChild: Expression): AHash64 =
    copy(child = newChild)
}

object AHash64 {
  def apply(payload: Column): Column =
    Bridge.column(AHash64(Bridge.expression(payload)))
}
