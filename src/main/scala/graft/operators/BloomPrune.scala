package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Md5Bucket60

/** Bloom-filter join pruning — the "ship a compact filter, not the
  * key set" pattern for selective fact⋈dim joins at 100 TB: the dim
  * side's keys hash into a fixed m-slot space (k seeded md5 hashes
  * per key) and only the OCCUPIED slot set broadcasts; a fact row is
  * a candidate iff all k of its slots are occupied. False positives
  * are possible (collisions), false negatives are not, so an exact
  * verify join behind the filter returns exact results while the
  * filter absorbs the non-matching bulk before it reaches any
  * shuffle.
  *
  * Deterministic md5 hashing (the engine-bridge recipe used by the
  * sketch queries) means another engine can replay every slot — the
  * gate hashes per-key (bloom_hit, is_member) flags, pinning the
  * filter's exact false-positive set, not just the final join.
  *
  * Spark's own AQE runtime bloom filters
  * (`spark.sql.optimizer.runtimeFilter.bloomFilter.enabled`) inject
  * the same idea automatically but engine-internally; this operator
  * is the explicit, deterministic, cross-engine-checkable form.
  */
object BloomPrune {

  /** (slot expressions) for `key` under `k` seeded hashes in an
    * `m`-slot space. `m` must be a power of two (pmod of the 60-bit
    * md5 value distributes uniformly).
    */
  private def slots(key: Column, seedPrefix: String, k: Int, m: Int): Seq[Column] = {
    require(k > 0 && m > 0 && (m & (m - 1)) == 0,
      s"need k > 0 and m a power of two for uniform slots; got k=$k m=$m")
    (0 until k).map { j =>
      pmod(Md5Bucket60(concat_ws("|", lit(s"$seedPrefix$j"), key.cast("string"))),
        lit(m.toLong))
    }
  }

  /** The broadcastable filter: ONE row holding the sorted occupied
    * slot array of `dim`'s distinct keys. Size is ≤ min(k·|dim|, m)
    * ints regardless of fact size.
    */
  def buildFilter(dim: DataFrame, key: Column,
                  seedPrefix: String, k: Int, m: Int): DataFrame =
    dim.select(explode(array(slots(key, seedPrefix, k, m): _*)).as("p"))
      .distinct()
      .agg(array_sort(collect_set(col("p"))).as("bloom_slots"))

  /** Per-fact-key candidacy report: every distinct fact key with its
    * bloom verdict AND its true membership — the exact
    * false-positive accounting (bloom_hit=1, is_member=0 rows are
    * the collisions the filter would pass to the verify join).
    * The filter broadcasts as a 1-row scalar; the fact side never
    * shuffles to be probed.
    */
  def candidacyReport(fact: DataFrame, dim: DataFrame, factKey: Column,
                      dimKey: Column, seedPrefix: String,
                      k: Int = 4, m: Int = 512): DataFrame = {
    val filter  = buildFilter(dim, dimKey, seedPrefix, k, m)
    val factKeys = fact.select(factKey.as("key")).distinct()
    val dimKeys  = dim.select(dimKey.as("key")).distinct()
      .withColumn("is_member", lit(1))
    val probes = slots(col("key"), seedPrefix, k, m)
    factKeys
      .crossJoin(broadcast(filter))
      .withColumn("bloom_hit",
        probes.map(p => array_contains(col("bloom_slots"), p))
          .reduce(_ && _).cast("int"))
      .join(broadcast(dimKeys), Seq("key"), "left_outer")
      .select(col("key"), col("bloom_hit"),
        coalesce(col("is_member"), lit(0)).as("is_member"))
  }
}
