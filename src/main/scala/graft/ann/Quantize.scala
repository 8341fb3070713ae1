package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Embedding compression: symmetric per-vector int8 quantization —
  * the standard 4× shrink applied to embedding columns before they
  * are stored or served (FAISS `SQ8`, vector-DB scalar quantization).
  *
  * Each vector gets one scale `max|x| / 127`; elements quantize to
  * `round(x / scale) ∈ [-127, 127]`. All-zero vectors take scale 0
  * and quantize to zeros. Every step is an element-wise, single-pass
  * column expression — no shuffle, no state, pushdown-unaffected —
  * so the operator costs one map over the corpus at any scale.
  *
  * Determinism note (what makes this oracle-able): scale is a single
  * IEEE op on an exactly-converted float, each quantized element is
  * one divide + one half-away round, and the reconstruction error
  * accumulates in array order — the same fixed evaluation order the
  * DuckDB oracle runs, so results agree bit-for-bit.
  */
object Quantize {

  /** (idCol, vecCol: Array[Float]) → (id, scale, qvec: Array[Int],
    * recon_err), where recon_err = ‖x − q·scale‖₂.
    */
  def int8(vecs: DataFrame, idCol: String = "id", vecCol: String = "vec"): DataFrame = {
    val x2d = (c: org.apache.spark.sql.Column) => c.cast("double")
    vecs
      .withColumn("__mx", array_max(transform(col(vecCol), x => abs(x2d(x)))))
      .withColumn("scale", when(col("__mx") === 0.0, lit(0.0))
        .otherwise(col("__mx") / lit(127.0)))
      .withColumn("qvec", when(col("scale") === 0.0,
          transform(col(vecCol), _ => lit(0)))
        .otherwise(transform(col(vecCol),
          x => round(x2d(x) / col("scale")).cast("int"))))
      .withColumn("recon_err",
        sqrt(aggregate(
          zip_with(col(vecCol), col("qvec"),
            (x, q) => (x2d(x) - x2d(q) * col("scale")) * (x2d(x) - x2d(q) * col("scale"))),
          lit(0.0), (acc, e) => acc + e)))
      .select(col(idCol).as("id"), col("scale"), col("qvec"), col("recon_err"))
  }
}
