package graft.plans

import org.apache.spark.sql.DataFrame

/** Lineage truncation for iterative dataflows.
  *
  * `Dataset.localCheckpoint` truncates the PHYSICAL lineage but
  * carries the origin plan's Catalyst statistics into the
  * checkpointed relation. In a loop whose round r references round
  * r−1 more than once (pointer-jumping CC's label ⋈ label(label),
  * star-rewiring's edge self-joins), the `sizeInBytes` BigInt
  * therefore MULTIPLIES round over round: its bit length doubles
  * every round — 63 bits → 189,292 bits after 12 rounds (SCALE.md,
  * "Iterative algorithms"; LineageSpec pins the doubling) — and join
  * planning consults those stats, so per-round planning cost grows
  * super-exponentially until the driver stalls inside
  * `BigInteger.multiply`. The stall is scale-dependent (round count
  * grows with component diameter), which is exactly how it surfaced:
  * fine at sf0.1/sf1, a driver-bound hang at sf10 (round 11,
  * SemDeDup over k-means cells).
  *
  * [[truncate]] materializes the rows ONCE via `localCheckpoint`
  * (distributed blocks, no recompute) and re-wraps the checkpoint's
  * own leaf without its origin statistics (`Bridge.statFree`): the
  * stat reverts to the engine default every round instead of
  * compounding, at no per-row cost. Static broadcast planning sees
  * the default (large) size and keeps these loop relations on
  * shuffle joins — the stable choice for unbounded iteration state —
  * while AQE still converts from REAL runtime sizes where profitable.
  */
object Lineage {
  def truncate(df: DataFrame): DataFrame =
    org.apache.spark.sql.graft.Bridge.statFree(df.localCheckpoint(true))
}
