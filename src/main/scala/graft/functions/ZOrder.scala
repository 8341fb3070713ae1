package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) curve values for multi-dimensional data
  * clustering: interleave the low `bits` bits of each key so that
  * sorting by the single z-value co-locates rows that are close in
  * EVERY dimension at once. Written as a fold of shift/mask/or
  * built-ins, the whole thing stays inside whole-stage codegen (one
  * straight-line long expression per row, no UDF) and is trivially
  * replayable by any engine with integer ops.
  *
  * This is the layout lever range-clustering can't provide: a range
  * sort on (x, y) prunes file stats only on x (y is scattered within
  * every x-run), while a z-sort gives every file a narrow min/max box
  * on BOTH x and y — a 2-D box predicate then skips most files
  * entirely.
  */
object ZOrder {

  /** Morton code of `keys`, interleaving the low `bits` bits of each
    * key round-robin (bit b of key i lands at position
    * b·n_keys + i). Requires `bits * keys.size <= 63`; keys must be
    * non-negative and fit `bits` bits (callers bucket/clamp first —
    * [[bucketed]] does it for them).
    */
  def zValue(keys: Seq[Column], bits: Int): Column = {
    require(keys.nonEmpty, "zValue needs at least one key")
    require(bits * keys.size <= 63,
      s"z-value would need ${bits * keys.size} bits; max 63")
    val n = keys.size
    val terms = for {
      b <- 0 until bits
      (k, i) <- keys.zipWithIndex
    } yield shiftleft(
      shiftright(k.cast("long"), b).bitwiseAND(lit(1L)),
      b * n + i)
    terms.reduce(_.bitwiseOR(_))
  }

  /** [[zValue]] over keys first reduced to `bits` bits by modulus —
    * the safe default when key ranges aren't known: pmod keeps the
    * locality of the low bits (ids that are close stay close) and
    * guarantees the width contract.
    */
  def bucketed(keys: Seq[Column], bits: Int): Column =
    zValue(keys.map(k => pmod(k.cast("long"), lit(1L << bits))), bits)

  /** The equivalent arithmetic as engine-portable SQL, for oracles
    * and documentation: same shift/mask/or fold over the named
    * columns (callers pre-reduce to `bits` bits just like
    * [[bucketed]]).
    */
  def zValueSql(keyNames: Seq[String], bits: Int): String = {
    val n = keyNames.size
    val terms = for {
      b <- 0 until bits
      (k, i) <- keyNames.zipWithIndex
    } yield s"((($k >> $b) & 1) << ${b * n + i})"
    terms.mkString(" | ")
  }
}
