package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.queries.Tables

final class BloomPruneSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  test("no false negatives: every true member passes the bloom filter") {
    val rep = BloomPrune.candidacyReport(
      fact = Tables(spark, sfDir, "lineitem"),
      dim = Tables(spark, sfDir, "supplier").filter(col("s_nationkey") < 13),
      factKey = col("l_suppkey"), dimKey = col("s_suppkey"),
      seedPrefix = "q46b", k = 4, m = 512)
    assert(rep.filter(col("is_member") === 1 && col("bloom_hit") === 0).isEmpty)
    assert(rep.filter(col("is_member") === 1).count() > 0)
  }

  test("the broadcast filter is slot-bounded, not dim-sized") {
    // a tiny slot space: the filter can never exceed m entries no
    // matter how many dim keys hash into it
    val dim = spark.range(10000).select(col("id").as("k"))
    val filt = BloomPrune.buildFilter(dim, col("k"), "bp", k = 4, m = 64)
      .head.getSeq[Long](0)
    assert(filt.size <= 64)
    assert(filt == filt.sorted)
  }
}
