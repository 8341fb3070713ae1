package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ann.Ann

/** The selective-τ regime, measured at decade 2 (closes SCALE.md's
  * last unmeasured claim): "at real near-dup thresholds (τ ≥ 0.8)
  * ... the same operator prunes 10–100×".
  *
  * The sf10 corpus is isotropic by design (max pairwise cosine
  * ~0.6), so a τ = 0.8 measurement needs what every REAL near-dup
  * corpus has and the scale generator deliberately lacks: a planted
  * high-similarity tail. This tool derives one deterministically —
  * ~5% of vectors are replaced by perturbed copies of a source drawn
  * from the first 1,000 ids (v′ = normalize(v_src + 0.05·g), g a
  * unit-variance Irwin–Hall draw per dimension ⇒ cos(v, v′) ≈ 0.93),
  * mirroring the documents table's near-dup planting
  * (tools/GenData). Sources with several dups yield sibling pairs
  * at cos ≈ 0.86 — also above τ, also in the ground truth.
  *
  * Ground truth is [[SpotSf10.bruteEpsPairs]] — the same independent
  * primitive-loop brute force as the decade-2 audit, bitwise-
  * comparable sims. The sampled pre-flight
  * ([[Ann.estimatePairCount]]) is then validated against the true
  * tail it has never been measured on (AnnSpec validates it on
  * background-dominated fixtures; here the tail is planted signal).
  *
  * Measured, per planes ∈ {10, 12, 14, 16} with tables =
  * `tablesForRecall(τ, planes, truePairs, 0.01)` — the sizing law
  * fed the measured pair count, the SpotSf10 methodology:
  *   - exact candidate volume ([[Ann.lshCandidateVolume]] — the dot
  *     products the join actually evaluates) and the PRUNING FACTOR
  *     C(n,2) / volume vs the all-pairs work the gap-less regime
  *     cannot avoid (SCALE.md: 82% candidate fraction at τ = 0.45);
  *   - that volume against the sampled collision model
  *     T · C(n,2) · E[p(sim)^planes], p(sim) = 1 − acos(sim)/π,
  *     the expectation taken over a 5,000-vector all-pairs sim
  *     sample — the multiset form of lshProfile's candidate math.
  *     (The naive 2^−planes background is measurably wrong here:
  *     in 64-d the pair angle fluctuates ~1/√dim around π/2, and
  *     raising to `planes` amplifies that into a 1.4–2× collision
  *     excess by 16 planes — the sampled model carries the real
  *     angle distribution, so agreement means the pruning curve is
  *     PREDICTABLE from a cheap pre-flight, not just observed);
  *   - end-to-end [[Ann.cosineNearDupPairsLSH]] wall time and
  *     EXACTNESS vs brute (zero diffs either way, sims bitwise).
  *
  * The expected shape: per-plane agreement for a τ-pair is ≥ 0.795
  * vs 0.5 background, so each added plane keeps the τ-tail and
  * halves the background — the pruning factor roughly doubles per
  * 2 planes (≈8× at 10 planes → ≈100× at 16) while the law's table
  * count grows only logarithmically and recall stays pinned at the
  * budget. That curve is the claim; this tool measures it.
  *
  * Run: `SPARK_DRIVER_MEM=96g SPARK_GRAFT_SHUFFLE_PARTITIONS=128
  *       sbt "runMain graft.tools.SpotTau testdata-local/sf10"`
  * (the SCALE.md sf10 protocol).
  */
object SpotTau {

  private var failures = 0

  private def check(name: String)(ok: => Boolean, detail: => String): Unit = {
    val passed = try ok catch { case e: Exception =>
      println(s"FAIL $name: ${e.getClass.getSimpleName}: ${e.getMessage}"); failures += 1; return
    }
    if (passed) println(s"PASS $name ($detail)")
    else { println(s"FAIL $name ($detail)"); failures += 1 }
  }

  private def diff(l: DataFrame, r: DataFrame, keys: Seq[String]): (Long, Long, Long) = {
    val lk = l.select(keys.map(col): _*)
    val rk = r.select(keys.map(col): _*)
    (lk.exceptAll(rk).count(), rk.exceptAll(lk).count(), lk.intersectAll(rk).count())
  }

  // GenData's deterministic draw pattern, inlined: uniform and
  // unit-variance Irwin–Hall normal as pure xxhash64 expressions.
  private def u(tag: String, ks: Column*): Column =
    pmod(xxhash64((lit(tag) +: ks): _*), lit(1000000000L)).cast("double") / 1e9
  private def gauss(tag: String, ks: Column*): Column =
    (u(tag + "1", ks: _*) + u(tag + "2", ks: _*) + u(tag + "3", ks: _*) - lit(1.5)) * lit(2.0)

  private def isDup: Column =
    (pmod(xxhash64(lit("tau_dup"), col("id")), lit(100)) < 5) && (col("id") >= 1000)

  /** ~5% of ids ≥ 1000 become near-dups of a source in [0, 1000):
    * deterministic, join-once, checkpointed by the caller.
    */
  def plantNearDups(vecs: DataFrame, eps: Double = 0.05): DataFrame = {
    val keep = vecs.filter(!isDup)
    val src  = vecs.select(col("id").as("src_id"), col("vec").as("src_vec"))
    val raw = vecs.filter(isDup)
      .select(col("id"), pmod(xxhash64(lit("tau_src"), col("id")), lit(1000L)).as("src_id"))
      .join(broadcast(src), Seq("src_id"))
      .select(col("id"), zip_with(col("src_vec"), sequence(lit(0), lit(63)),
        (x, d) => x + lit(eps) * gauss("tau_n", col("id"), d)).as("p"))
    val norm = sqrt(aggregate(col("p"), lit(0.0), (acc, x) => acc + x * x))
    val dups = raw.select(col("id"),
      transform(col("p"), x => (x / norm).cast("float")).as("vec"))
    keep.unionByName(dups)
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: SpotTau <sfDir>")
    val dir = args(0)
    val tau = 0.8
    val spark = GraftSession.build("spot-tau")
    val tAll = System.nanoTime()
    try {
      val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val planted = plantNearDups(vecs).localCheckpoint(eager = true)
      val n = planted.count()
      val allPairs = n * (n - 1) / 2

      // planted-tail sanity: every (src, dup) pair sits well above τ
      val dupStats = planted
        .filter(isDup)
        .select(col("id"), pmod(xxhash64(lit("tau_src"), col("id")), lit(1000L)).as("src_id"), col("vec"))
        .join(broadcast(planted.select(col("id").as("src_id"), col("vec").as("src_vec"))), Seq("src_id"))
        .select(graft.functions.VectorOps.cosine(col("vec"), col("src_vec")).as("cos"))
        .agg(count(lit(1)), min(col("cos")), avg(col("cos")), max(col("cos")))
        .collect().head
      println(f"INFO n=$n planted=${dupStats.getLong(0)} srcDupCos min=${
        dupStats.getDouble(1)}%.4f avg=${dupStats.getDouble(2)}%.4f max=${dupStats.getDouble(3)}%.4f")
      check("tau_planted_tail_above_tau")(dupStats.getDouble(1) >= tau + 0.05,
        f"min src-dup cos ${dupStats.getDouble(1)}%.4f vs tau=$tau")

      // ground truth: independent primitive-loop brute force at τ
      var t0 = System.nanoTime()
      val exact = SpotSf10.bruteEpsPairs(planted, minCos = tau).localCheckpoint(eager = true)
      val nPairs = exact.count()
      println(f"INFO exact_pairs=$nPairs (${nPairs.toDouble / allPairs}%.2e of all pairs) brute_time=${
        (System.nanoTime() - t0) / 1e9}%.0fs")

      // the sampled pre-flight, validated against a REAL tail
      t0 = System.nanoTime()
      val est = Ann.estimatePairCount(planted, tau, sampleSize = 5000)
      check("tau_preflight_estimates_tail")(
        est / nPairs > 0.3 && est / nPairs < 3.0,
        f"estimated ${est}%.0f vs true $nPairs (ratio ${est / nPairs}%.2f) " +
          f"[sampled pre-flight ${(System.nanoTime() - t0) / 1e9}%.0fs]")

      // one 5,000-vector all-pairs sim sample feeds every plane
      // count's collision model: E[p(sim)^planes], p = 1 − acos/π
      val sampleP = Ann.pairSample(planted, sampleSize = 5000, seed = 42L).pairs
        .select((lit(1.0) - acos(greatest(lit(-1.0), least(col("sim"), lit(1.0)))) /
          lit(math.Pi)).as("p"))
        .agg(avg(pow(col("p"), lit(10))), avg(pow(col("p"), lit(12))),
          avg(pow(col("p"), lit(14))), avg(pow(col("p"), lit(16))))
        .collect().head
      val meanPow = Map(10 -> sampleP.getDouble(0), 12 -> sampleP.getDouble(1),
        14 -> sampleP.getDouble(2), 16 -> sampleP.getDouble(3))

      for (planes <- Seq(10, 12, 14, 16)) {
        val tables = Ann.tablesForRecall(tau, planes, nPairs.toDouble, 0.01)
        t0 = System.nanoTime()
        val vol = Ann.lshCandidateVolume(planted, dim = 64, planes = planes,
          tables = tables, probes = 0).collect().head
        val cand = vol.getAs[Long]("candidate_volume")
        val tVol = (System.nanoTime() - t0) / 1e9
        val prune = allPairs.toDouble / cand
        val model = tables * allPairs.toDouble * meanPow(planes)
        println(f"INFO planes=$planes tables=$tables candidates=$cand " +
          f"(sampled model ${model}%.3e) maxBucket=${vol.getAs[Long]("max_bucket")} " +
          f"prune=${prune}%.1fx [volume ${tVol}%.0fs]")
        check(s"tau_p${planes}_volume_matches_model")(
          cand / model > 0.7 && cand / model < 1.4,
          f"exact/model = ${cand / model}%.3f")
        t0 = System.nanoTime()
        val lsh = Ann.cosineNearDupPairsLSH(planted, minCos = tau, dim = 64,
          planes = planes, tables = tables, probes = 0).localCheckpoint(eager = false)
        val (onlyLsh, missed, both) = diff(lsh, exact, Seq("a", "b", "sim"))
        check(s"tau_p${planes}_exact_at_budget")(onlyLsh == 0 && missed == 0,
          f"pairs=$both only=$onlyLsh/$missed (sim bitwise) prune=${prune}%.1fx " +
            f"[lsh ${(System.nanoTime() - t0) / 1e9}%.0fs]")
      }

      // multi-probe arm (round 15): the production auto path —
      // measured-catch sizing (mpSizing) at the SAME 0.01 miss
      // budget — must still equal the independent brute force exactly,
      // at a fraction of the law's single-probe table count. This
      // chains the SCALE.md sf1 A/B (T 156→9, 6.3×) to decade 2
      // against TRUE ground truth, not just single-probe equivalence.
      for (probes <- Seq(2)) {
        val planes = 12
        t0 = System.nanoTime()
        val (tMp, _) = Ann.mpSizing(planted, tau, dim = 64, planes = planes,
          probes = probes, maxExpectedMisses = 0.01)
        val tSingle = Ann.tablesForRecall(tau, planes, nPairs.toDouble, 0.01)
        val mp = Ann.cosineNearDupPairsLSH(planted, minCos = tau, dim = 64,
          planes = planes, tables = tMp, probes = probes).localCheckpoint(eager = false)
        val (onlyMp, missedMp, bothMp) = diff(mp, exact, Seq("a", "b", "sim"))
        println(f"INFO mp planes=$planes probes=$probes tables=$tMp " +
          f"(single-probe law: $tSingle) [mp ${(System.nanoTime() - t0) / 1e9}%.0fs]")
        check(s"tau_mp_p${planes}q${probes}_exact_at_budget")(
          onlyMp == 0 && missedMp == 0,
          f"pairs=$bothMp only=$onlyMp/$missedMp (sim bitwise) tables=$tMp vs single $tSingle")
        check(s"tau_mp_p${planes}q${probes}_fewer_tables")(tMp * 3 < tSingle,
          s"tMp=$tMp not <1/3 of single=$tSingle")
      }

      println(f"INFO total=${(System.nanoTime() - tAll) / 1e9}%.0fs")
      println(if (failures == 0) "ALL PASS" else s"$failures FAILED")
    } finally spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
