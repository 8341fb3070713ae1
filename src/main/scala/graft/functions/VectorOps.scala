package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `ArrayType(FloatType)` columns, built from
  * codegen'd higher-order functions (`zip_with`/`aggregate`) rather
  * than UDFs, so the hot path stays inside whole-stage codegen.
  *
  * Every element is cast to double *before* multiplication and the
  * fold runs in index order — the arithmetic is therefore
  * deterministic and reproducible in other engines (the DuckDB oracle
  * mirrors it with `list_zip`/`list_transform`/`list_sum`).
  */
object VectorOps {

  /** Σ aᵢ·bᵢ, accumulated in double, in index order. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v
    )

  /** Fused-loop dot product for `array<float>` columns — same math
    * and accumulation order as [[dot]], but a native codegen
    * [[DotProduct]] expression with no per-row allocation. Use on
    * hot paths (similarity joins).
    */
  def fdot(a: Column, b: Column): Column = DotProduct(a, b)

  /** ‖a‖₂ (double). */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** ‖a‖₂ via the fused float loop. */
  def fnorm(a: Column): Column = sqrt(fdot(a, a))

  /** Cosine similarity in [-1, 1] (double); NaN for zero vectors. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cosine given precomputed norms (saves recomputing ‖·‖ in joins),
    * on the fused float path.
    */
  def cosinePre(a: Column, b: Column, normA: Column, normB: Column): Column =
    fdot(a, b) / (normA * normB)

  // Signed random-hyperplane sketches live in
  // [[graft.functions.HyperplaneProbeSketches]] (`probes = 0` for one
  // sketch per table) — a single-pass expression.
  // The HOF formulation (aggregate(zip_with(v, array(lit…))) per
  // plane) evaluates interpreted per element and was the d5 hot spot.
}
