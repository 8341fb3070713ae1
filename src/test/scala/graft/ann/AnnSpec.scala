package graft.ann

import org.apache.spark.SpecBus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.functions.VectorOps

final class AnnSpec extends SparkTestBase {

  /** Analyzed plans of a call: its own, plus the plan above every
    * checkpoint it cut on the way (hidden from its own plan).
    */
  private def plans(body: => DataFrame): Seq[LogicalPlan] = {
    val (df, cut) = SpecBus.checkpoints(spark)(body)
    df.queryExecution.analyzed +: cut.map(_.analyzed)
  }

  /** Some node of `plan` computes hyperplane sketches over rows that
    * passed a filter whose condition reads `cond`.
    */
  private def sketched(plan: LogicalPlan, cond: String): Boolean =
    plan.collect {
      case p if p.expressions.exists(_.exists(
            _.isInstanceOf[graft.functions.HyperplaneProbeSketches])) &&
          p.collect { case f: Filter if f.condition.toString.contains(cond) => f }.nonEmpty => p
    }.nonEmpty

  private lazy val vecs = {
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
  }

  test("brute force top-k: k rows per query, ranks ordered by sim") {
    val res = Ann.bruteForceTopK(vecs, vecs.filter(col("id") < 5), k = 3).collect()
    assert(res.length == 5 * 3)
    val byQuery = res.groupBy(_.getAs[Long]("query_id"))
    byQuery.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3))
      val sims = sorted.map(_.getAs[Double]("sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
      assert(rows.forall(r => r.getAs[Long]("nbr_id") != r.getAs[Long]("query_id")))
    }
  }

  test("assignCells: argmax cell with deterministic tie-break to the lowest cell id") {
    import spark.implicits._
    val cents = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f)),
      (2L, Array(1.0f, 0.0f)) // duplicate of cell 0: forces an exact tie
    ).toDF("cell", "vec")
    val vs = Seq(
      (10L, Array(2.0f, 0.1f)),  // → cell 0 (ties with 2, lowest wins)
      (11L, Array(0.1f, 3.0f)),  // → cell 1
      (12L, Array(1.0f, 1.0f))   // equidistant from 0/2 vs 1 → cos equal → cell 0
    ).toDF("id", "vec")
    val got = Ann.assignCells(vs, cents)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(10L)._1 == 0L && got(11L)._1 == 1L && got(12L)._1 == 0L)
    assert(math.abs(got(11L)._2 - 3.0 / math.sqrt(0.01 + 9.0)) < 1e-9)
  }

  test("quantized two-stage search equals brute force, with rerank slack") {
    val queries = vecs.filter(col("id") < 20)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id"), col("nbr_id"), round(col("sim"), 9).as("sim"), col("rank"))
      .collect().map(_.toSeq).toSet
    val exact = canon(Ann.bruteForceTopK(vecs, queries, k = 5))
    // the gate's configuration must hold...
    assert(canon(Ann.quantizedTopK(vecs, queries, k = 5, rerank = 64)) == exact)
    // ...with slack: half the candidate budget still recovers the
    // exact top-k, so a fixture drift toward the margin fails HERE
    // (loudly) before it can flip the oracle gate
    assert(canon(Ann.quantizedTopK(vecs, queries, k = 5, rerank = 32)) == exact)
  }

  test("IVF top-k: high recall when the quantizer matches the clusters") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val dim = 32
    val centroidVecs = (0 until 20).map(c => c -> Array.fill(dim)(rnd.nextGaussian().toFloat))
    val rows = centroidVecs.flatMap { case (c, cent) =>
      (0 until 20).map { m =>
        (c * 20L + m, cent.map(x => x + 0.1f * rnd.nextGaussian().toFloat))
      }
    }
    val df = rows.toDF("id", "vec")
    val centroids = centroidVecs.map { case (c, v) => (c, v) }.toDF("cell", "vec")
    val queries = df.filter(col("id") % 20 === 0)

    val exact = Ann.bruteForceTopK(df, queries, k = 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("nbr_id"))).toSet
    val ivf = Ann.ivfTopK(df, queries, centroids, k = 3, nprobe = 2)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("nbr_id"))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.9, s"IVF recall@3 too low: $recall")
  }

  test("LSH-blocked near-dup pairs recover the true pairs on clustered data") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val dim = 32
    // 100 base vectors + a planted near-dup for every 5th
    val base = (0 until 100).map(i => i.toLong -> Array.fill(dim)(rnd.nextGaussian().toFloat))
    val dups = base.filter(_._1 % 5 == 0).map { case (i, v) =>
      (1000L + i) -> v.map(x => x + 0.03f * rnd.nextGaussian().toFloat)
    }
    val df = (base ++ dups).toDF("id", "vec")
    val exact = AnnSpec.allPairs(df, minCos = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Ann.cosineNearDupPairsLSH(df, minCos = 0.9, dim = dim)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(lsh.subsetOf(exact)) // exact verification: no false positives
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH near-dup recall too low: $recall")
  }

  test("incremental LSH near-dup equals the full run restricted to new-touching pairs") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val dim = 32
    val base = (0 until 120).map(i => i.toLong -> Array.fill(dim)(rnd.nextGaussian().toFloat))
    val dups = base.filter(_._1 % 4 == 0).map { case (i, v) =>
      (1000L + i) -> v.map(x => x + 0.03f * rnd.nextGaussian().toFloat)
    }
    val df = (base ++ dups).toDF("id", "vec")
    val split = 60L // existing: id < 60; new: 60..119 and all 1000+ dups

    val full = Ann.cosineNearDupPairsLSH(df, minCos = 0.9, dim = dim)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val existing = df.filter(col("id") < split)
    val incoming = df.filter(col("id") >= split)
    val incr = Ann.cosineNearDupPairsLSHIndexed(
        Ann.sketchIndex(existing, dim, planes = 10, tables = 8, probes = 0),
        existing, incoming, minCos = 0.9, dim = dim, planes = 10, tables = 8, probes = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(incr == full.filter { case (_, b) => b >= split })
    assert(incr.nonEmpty)
    assert(incr.forall { case (_, b) => b >= split })
  }

  test("stored sketch index path equals the recompute path, without re-sketching existing vecs") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val dim = 32
    val base = (0 until 120).map(i => i.toLong -> Array.fill(dim)(rnd.nextGaussian().toFloat))
    val dups = base.filter(_._1 % 4 == 0).map { case (i, v) =>
      (1000L + i) -> v.map(x => x + 0.03f * rnd.nextGaussian().toFloat)
    }
    val df = (base ++ dups).toDF("id", "vec")
    val split = 60L
    val existing = df.filter(col("id") < split)
    val incoming = df.filter(col("id") >= split)
    val table = "sketch_index_spec"
    try {
      Ann.saveSketchIndex(Ann.sketchIndex(existing, dim, probes = 0), table, nBuckets = 8)
      val indexed = Ann.cosineNearDupPairsLSHIndexed(
          spark.table(table), existing, incoming, minCos = 0.9, dim = dim, probes = 0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // recompute: the full self-join at the same pinned config,
      // restricted to new-touching pairs
      val recompute = Ann.cosineNearDupPairsLSH(df, minCos = 0.9, dim = dim,
          planes = 10, tables = 8, probes = 0)
        .filter(col("b") >= split)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(indexed == recompute && indexed.nonEmpty)

      // the indexed plan sketches ONLY the incoming batch — in the
      // ANALYZED plans (before optimizer subtree duplication), no
      // hyperplane-sketch computation may sit above the existing-side
      // filter; the existing buckets come from the stored table. The
      // candidate checkpoint cuts the returned plan, so the lineage
      // above it is read from the checkpoint action itself.
      val indexedPlans = plans(Ann.cosineNearDupPairsLSHIndexed(
        spark.table(table), existing, incoming, minCos = 0.9, dim = dim, probes = 0))
      assert(indexedPlans.exists(sketched(_, s">= $split")), "the batch must be sketched")
      assert(!indexedPlans.exists(sketched(_, s"< $split")),
        "existing side must not be re-sketched")
      assert(indexedPlans.exists(_.toString.contains(table)))
      // positive control: an index sketched inline DOES sketch the
      // existing side
      assert(plans(Ann.cosineNearDupPairsLSHIndexed(
        Ann.sketchIndex(existing, dim, probes = 0), existing, incoming,
        minCos = 0.9, dim = dim, probes = 0)).exists(sketched(_, s"< $split")))

      // append maintenance keeps the stored index equal to a recompute
      Ann.saveSketchIndex(Ann.sketchIndex(incoming, dim, probes = 0), table, nBuckets = 8,
        append = true)
      val stored = spark.table(table)
      val fresh = Ann.sketchIndex(df, dim, probes = 0)
      assert(stored.count() == fresh.count())
      assert(stored.exceptAll(fresh).isEmpty && fresh.exceptAll(stored).isEmpty)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("cosine near-dup pairs are symmetric-free and thresholded") {
    val pairs = Ann.cosinePairsExact(vecs, minCos = 0.4).collect()
    assert(pairs.forall(r => r.getAs[Long]("a") < r.getAs[Long]("b")))
    assert(pairs.forall(_.getAs[Double]("sim") >= 0.4))
  }

  test("tablesForRecall sizes the table count logarithmically in the pair count") {
    // sf1 ground truth (tools/SpotSf1, SPOTCHECK_sf1.txt): 16,778
    // true pairs at τ=0.45; T=48 measured 285 misses, T=192 measured
    // zero. The worst-case sizing must land between those points.
    val t = Ann.tablesForRecall(0.45, planes = 6, expectedPairs = 16778, maxExpectedMisses = 0.05)
    assert(t > 48 && t <= 192, s"sf1 exactness sizing out of validated range: $t")
    // model consistency: the returned T really does bound the
    // worst-case expected misses, and T−1 does not
    val p6 = math.pow(1.0 - math.acos(0.45) / math.Pi, 6)
    assert(16778 * math.pow(1 - p6, t) <= 0.05)
    assert(16778 * math.pow(1 - p6, t - 1) > 0.05)
    // logarithmic growth: 100× the pairs costs a constant ~60 tables
    // (ln 100 / −ln(1−p^6)), not 100× the index
    val t100 = Ann.tablesForRecall(0.45, planes = 6, expectedPairs = 1677800, maxExpectedMisses = 0.05)
    val deltaT = math.log(100.0) / -math.log(1 - p6)
    assert(math.abs((t100 - t) - deltaT) <= 1.0, s"t100=$t100 t=$t expected +$deltaT")
    // recall-target form: 98% recall at sf1 scale needs FEWER tables
    // than exactness — the budget is spendable in both directions
    val t98 = Ann.tablesForRecall(0.45, planes = 6, expectedPairs = 16778,
      maxExpectedMisses = 0.02 * 16778)
    assert(t98 < t && t98 >= 1)
    // unsatisfiable budget (p^planes underflows to 0 ⇒ no table count
    // helps) fails loudly instead of returning Int.MaxValue
    intercept[IllegalArgumentException] {
      Ann.tablesForRecall(-0.999999, planes = 4096, expectedPairs = 10,
        maxExpectedMisses = 0.05)
    }
  }

  test("auto table-count default: the sizing law tracks the corpus, and stays exact") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dim = 16
    def corpus(n: Int) = {
      val base = (0 until n).map(i => i.toLong -> Array.fill(dim)(rnd.nextGaussian().toFloat))
      val dups = base.filter(_._1 % 5 == 0).map { case (i, v) =>
        (100000L + i) -> v.map(x => x + 0.02f * rnd.nextGaussian().toFloat)
      }
      (base ++ dups).toDF("id", "vec")
    }
    val small = corpus(100)
    val big   = corpus(800)
    // ≤ 2000 rows: the hash-sample covers the whole corpus, so the
    // estimate IS the exact pair count — and the planted-pair count
    // grows with n, so the derived table budget must too
    val estS = Ann.estimatePairCount(small, minCos = 0.9)
    val estB = Ann.estimatePairCount(big, minCos = 0.9)
    assert(estS > 0 && estB > 4 * estS, s"estS=$estS estB=$estB")
    val tS = Ann.autoTables(small, minCos = 0.9, planes = 10)
    val tB = Ann.autoTables(big, minCos = 0.9, planes = 10)
    assert(tB > tS, s"auto tables must grow with the pair count: $tS → $tB")
    // the default IS the validated law, verbatim
    assert(tB == Ann.tablesForRecall(0.9, 10, estB.max(1.0), 0.05).max(8))
    // and the un-pinned operator default recovers the exact pair set
    val exact = AnnSpec.allPairs(small, minCos = 0.9).select("a", "b")
    val auto  = Ann.cosineNearDupPairsLSH(small, minCos = 0.9, dim = dim).select("a", "b")
    assert(auto.exceptAll(exact).isEmpty && exact.exceptAll(auto).isEmpty)
  }

  test("lshProfile: candidate fraction separates gap-less from selective regimes") {
    import spark.implicits._
    // the fixture corpus at τ=0.45 is the measured gap-less regime
    // (SCALE.md: candidates ≈ 82% of all pairs at the d5 gate config):
    // a recall-budget-sized index cannot prune it
    val fixture = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val gapless = Ann.lshProfile(fixture, minCos = 0.45, planes = 6)
    assert(gapless.candidateFraction > 0.5,
      s"gap-less regime should look dense: $gapless")
    assert(gapless.estPairs > 0 && gapless.tables >= 8)
    // the profile carries the corpus count its pre-flight took, so a
    // dispatch reading it (Dbscan.epsCluster) need not count again
    assert(gapless.n == fixture.count())
    // a planted near-dup corpus at τ=0.9 is selective: the same
    // profile shows the index pruning almost everything
    val rnd = new scala.util.Random(11)
    val dim = 16
    val base = (0 until 300).map(i => i.toLong -> Array.fill(dim)(rnd.nextGaussian().toFloat))
    val dups = base.filter(_._1 % 5 == 0).map { case (i, v) =>
      (100000L + i) -> v.map(x => x + 0.02f * rnd.nextGaussian().toFloat)
    }
    val planted = (base ++ dups).toDF("id", "vec")
    val selective = Ann.lshProfile(planted, minCos = 0.9, planes = 10)
    assert(selective.candidateFraction < 0.5,
      s"selective regime should look sparse: $selective")
  }

  test("near-dup pre-flight guard refuses a gap-less-τ candidate sweep") {
    // at τ=0.1 on the isotropic fixture every bucket collision is a
    // candidate the filter can't prune early — the gap-less regime in
    // miniature; the guard names the measured volume and the outs
    val e = intercept[IllegalStateException] {
      Ann.cosineNearDupPairsLSH(vecs, minCos = 0.1, dim = 64, planes = 4,
        tables = 8, maxCandidateVolume = 10L, probes = 0)
    }
    assert(e.getMessage.contains("candidate volume"))
    assert(e.getMessage.contains("SemDeDup.runAuto"))
    // same config, default budget: pure plan construction, completes
    val n = Ann.cosineNearDupPairsLSH(vecs, minCos = 0.1, dim = 64, planes = 4,
      tables = 8, probes = 0).count()
    assert(n > 0)
  }

  test("HyperplaneProbeSketches: base entries ≡ HyperplaneProbeSketches(…, probes = 0), probes are distinct 1-bit flips") {
    val (dim, planes, tables, seed, probes) = (64, 6, 5, 42L, 2)
    val width = probes + 1
    val rows = vecs.limit(50).select(col("id"),
        graft.functions.HyperplaneProbeSketches(col("vec"), dim, planes, tables, seed, 0).as("base"),
        graft.functions.HyperplaneProbeSketches(col("vec"), dim, planes, tables, seed, probes).as("mp"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val base = r.getSeq[Long](1)
      val mp   = r.getSeq[Long](2)
      assert(mp.length == tables * width)
      (0 until tables).foreach { t =>
        val slot = mp.slice(t * width, (t + 1) * width)
        // entry 0 is the base sketch, bit-identical to the probes = 0
        // emission — the auto join relies on this when it drops probes
        assert(slot.head == base(t), s"table $t base mismatch")
        // probes: distinct single-bit flips of the base
        slot.tail.foreach { pr =>
          assert(java.lang.Long.bitCount(pr ^ slot.head) == 1, s"table $t probe not a 1-bit flip")
        }
        assert(slot.distinct.length == width, s"table $t emissions not distinct")
      }
    }
  }

  test("multi-probe near-dup: recovers the exact pairs with FEWER tables than single-probe") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val dim = 32
    val base = (0 until 100).map(i => i.toLong -> Array.fill(dim)(rnd.nextGaussian().toFloat))
    val dups = base.filter(_._1 % 5 == 0).map { case (i, v) =>
      (1000L + i) -> v.map(x => x + 0.03f * rnd.nextGaussian().toFloat)
    }
    val df = (base ++ dups).toDF("id", "vec")
    val exact = AnnSpec.allPairs(df, minCos = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planes = 10
    val tSingle = Ann.autoTables(df, minCos = 0.9, planes = planes)
    val (tMp, _) = Ann.mpSizing(df, minCos = 0.9, dim = dim, planes = planes, probes = 3)
    assert(tMp <= tSingle,
      s"measured-catch sizing should never exceed the analytic single-probe count ($tMp > $tSingle)")
    val mp = Ann.cosineNearDupPairsLSH(df, minCos = 0.9, dim = dim,
        planes = planes, probes = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(mp.subsetOf(exact)) // in-bucket scoring: no false positives possible
    assert(mp == exact, s"multi-probe missed ${(exact -- mp).size} of ${exact.size} pairs at T=$tMp")
  }

  test("multi-probe ≡ single-probe output contract on the shared fixture") {
    // same (a, b, sim) rows as the single-probe join at a recall-1
    // config — the pair SET is the contract, not the index layout
    val df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val sp = Ann.cosineNearDupPairsLSH(df, minCos = 0.45, dim = 64,
      planes = 6, tables = 48, probes = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1), math.rint(r.getDouble(2) * 1e6))).toSet
    val mp = Ann.cosineNearDupPairsLSH(df, minCos = 0.45, dim = 64,
      planes = 6, probes = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), math.rint(r.getDouble(2) * 1e6))).toSet
    assert(sp.nonEmpty && mp == sp)
    // unmeasurable-catch fallback: a τ with no sampled true pairs must
    // not blow up — the auto path sizes single-probe and drops probes
    assert(Ann.cosineNearDupPairsLSH(df, minCos = 0.99, dim = 64,
      planes = 6, probes = 2).count() == 0)
  }

  test("stored MULTI-PROBE index path: equals full mp run on new-touching pairs, never re-sketches") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val dim = 32
    val base = (0 until 120).map(i => i.toLong -> Array.fill(dim)(rnd.nextGaussian().toFloat))
    val dups = base.filter(_._1 % 4 == 0).map { case (i, v) =>
      (1000L + i) -> v.map(x => x + 0.03f * rnd.nextGaussian().toFloat)
    }
    val df = (base ++ dups).toDF("id", "vec")
    val split = 60L
    val existing = df.filter(col("id") < split)
    val incoming = df.filter(col("id") >= split)
    val (planes, tables, probes) = (8, 12, 2)
    val table = "probe_sketch_index_spec"
    try {
      // the same bucketed persistence as the single-probe index: the
      // schema (id, table, bucket) is shared, only the emission widens
      Ann.saveSketchIndex(
        Ann.sketchIndex(existing, dim, planes, tables, probes = probes),
        table, nBuckets = 8)
      val indexed = Ann.cosineNearDupPairsLSHIndexed(
          spark.table(table), existing, incoming, minCos = 0.9, dim = dim,
          planes = planes, tables = tables, probes = probes)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val full = Ann.cosineNearDupPairsLSH(df, minCos = 0.9, dim = dim,
          planes = planes, tables = tables, probes = probes)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(indexed.nonEmpty)
      assert(indexed == full.filter { case (_, b) => b >= split },
        "stored-index batch loop must find exactly the full run's new-touching pairs")
      assert(indexed.forall { case (_, b) => b >= split })

      // only the incoming batch is probe-sketched; the existing
      // emissions come from the stored table
      val indexedPlans = plans(Ann.cosineNearDupPairsLSHIndexed(
        spark.table(table), existing, incoming, minCos = 0.9, dim = dim,
        planes = planes, tables = tables, probes = probes))
      assert(indexedPlans.exists(sketched(_, s">= $split")), "the batch must be sketched")
      assert(!indexedPlans.exists(sketched(_, s"< $split")),
        "existing side must not be re-sketched")
      assert(indexedPlans.exists(_.toString.contains(table)))

      // the probes=0 index is the base slots of the widened one: every
      // single-probe row is also emitted with probes, at the same table
      val sp = Ann.sketchIndex(existing, dim, planes, tables, probes = 0)
      val mp = Ann.sketchIndex(existing, dim, planes, tables, probes = probes)
      assert(sp.count() * (probes + 1) == mp.count() && sp.exceptAll(mp).isEmpty)

      // append maintenance: stored ≡ fresh full-corpus probe index
      Ann.saveSketchIndex(
        Ann.sketchIndex(incoming, dim, planes, tables, probes = probes),
        table, nBuckets = 8, append = true)
      val stored = spark.table(table)
      val fresh = Ann.sketchIndex(df, dim, planes, tables, probes = probes)
      assert(stored.count() == fresh.count())
      assert(stored.exceptAll(fresh).isEmpty && fresh.exceptAll(stored).isEmpty)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("multi-probe fallback DROPS probes in the built plan (emission = tables × n)") {
    // round-16 ADVICE (medium): the fallback used to keep the width-3
    // sketch while `pos DIV 1` treated every probe slot as its own
    // table — correct output, but paying exactly the width× emission
    // the fallback exists to avoid. Pin the actual plan: at an
    // unmeasurable τ every HyperplaneProbeSketches in the analyzed
    // tree must carry probes=0 (emission tables × 1 × n); at a
    // measurable τ the requested probes survive.
    val df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    def sketchProbes(minCos: Double): Seq[Int] = {
      val plan = Ann.cosineNearDupPairsLSH(df, minCos = minCos, dim = 64,
        planes = 6, probes = 2).queryExecution.analyzed
      plan.flatMap(_.expressions.flatMap(_.collect {
        case h: graft.functions.HyperplaneProbeSketches => h.probes
      }))
    }
    val fallback = sketchProbes(0.99) // no sampled true pairs at this τ
    assert(fallback.nonEmpty && fallback.forall(_ == 0),
      s"fallback plan still sketches with probes: $fallback")
    // probes-pay invariant: whenever the auto path drops probes, its
    // table count must equal the analytic single-probe sizing — the
    // plan degenerates to the classic single-probe join EXACTLY
    // (round-16 sf1 lesson: clamped-to-single sizing with probes kept
    // tripled d17's emission for identical output)
    val fallbackTables = Ann.cosineNearDupPairsLSH(df, minCos = 0.99, dim = 64,
        planes = 6, probes = 2).queryExecution.analyzed
      .flatMap(_.expressions.flatMap(_.collect {
        case h: graft.functions.HyperplaneProbeSketches => h.tables
      })).head
    assert(fallbackTables == Ann.autoTables(df, minCos = 0.99, planes = 6))
    val measured = sketchProbes(0.45) // the fixture's gap: measurable catch
    assert(measured.nonEmpty && measured.forall(_ == 2),
      s"measurable-τ plan lost its probes: $measured")
  }

  test("HyperplaneProbeSketches: NaN components degrade deterministically, never abort") {
    import spark.implicits._
    val dim = 8
    val rows = Seq(
      0L -> Array(1f, Float.NaN, 0.5f, -1f, 2f, 0f, 1f, -0.5f), // partial NaN
      1L -> Array.fill(dim)(Float.NaN),                          // all NaN
      2L -> Array.fill(dim)(0f)                                  // all-zero margins
    ).toDF("id", "vec")
    val got = rows.select(col("id"), graft.functions.HyperplaneProbeSketches(
        col("vec"), dim, planes = 6, tables = 3, seed = 42L, probes = 2).as("mp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // no ArrayIndexOutOfBounds; full layout; probes remain distinct
    // 1-bit flips of the base even when every margin is NaN
    got.values.foreach { mp =>
      assert(mp.length == 3 * 3)
      (0 until 3).foreach { t =>
        val slot = mp.slice(t * 3, (t + 1) * 3)
        slot.tail.foreach(pr => assert(java.lang.Long.bitCount(pr ^ slot.head) == 1))
        assert(slot.distinct.length == 3)
      }
    }
    // deterministic: same input, same emission
    val again = rows.select(col("id"), graft.functions.HyperplaneProbeSketches(
        col("vec"), dim, planes = 6, tables = 3, seed = 42L, probes = 2).as("mp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(again == got)
  }

  test("mpSizing: τ-marginal pairs raise the sizing, output stays exact") {
    import spark.implicits._
    // round-16 ADVICE (low): the average-rate law is average-case —
    // a corpus of mostly sim≈0.99 dups plus a few τ-marginal pairs
    // has a high mean catch rate while the marginal pairs' per-table
    // catch is far lower (Jensen). The per-pair U-statistic floor
    // must (a) size the mixed corpus at least as large as the
    // easy-only one and (b) keep the auto join exact on it.
    val rnd = new scala.util.Random(7)
    val dim = 32
    def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    def orthoTo(v: Array[Float]): Array[Float] = {
      val r = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val d = v.zip(r).map { case (a, b) => a.toDouble * b }.sum.toFloat
      unit(r.zip(v).map { case (b, a) => b - d * a })
    }
    val base = (0 until 150).map(i => i.toLong -> unit(Array.fill(dim)(rnd.nextGaussian().toFloat)))
    // 30 easy dups at cos ≈ 0.998
    val easy = base.take(30).map { case (i, v) =>
      (1000L + i) -> unit(v.map(x => x + 0.03f * rnd.nextGaussian().toFloat))
    }
    // 6 marginal dups planted at cos = 0.905, just above τ = 0.9
    val cosM = 0.905
    val marginal = base.slice(30, 36).map { case (i, v) =>
      val u = orthoTo(v)
      val w = v.zip(u).map { case (a, b) =>
        (cosM * a + math.sqrt(1 - cosM * cosM) * b).toFloat }
      (2000L + i) -> unit(w)
    }
    val easyDf  = (base ++ easy).toDF("id", "vec")
    val mixedDf = (base ++ easy ++ marginal).toDF("id", "vec")
    val planes = 10
    val (tEasy, _)  = Ann.mpSizing(easyDf, minCos = 0.9, dim = dim, planes = planes, probes = 3)
    val (tMixed, _) = Ann.mpSizing(mixedDf, minCos = 0.9, dim = dim, planes = planes, probes = 3)
    assert(tMixed >= tEasy,
      s"marginal pairs must never SHRINK the sizing ($tMixed < $tEasy)")
    val exact = AnnSpec.allPairs(mixedDf, minCos = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(marginal.nonEmpty && exact.size >= easy.size + marginal.size)
    val mp = Ann.cosineNearDupPairsLSH(mixedDf, minCos = 0.9, dim = dim,
        planes = planes, probes = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mp == exact, s"auto-sized T=$tMixed missed ${(exact -- mp).size} of ${exact.size}")
  }

  test("mpSample: measured catch dominates the single-probe collision rate") {
    val df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val planes = 6
    // the per-table catch rate read off the pre-flight's catch-count
    // histogram: catch events over (true pair, trial table) trials
    val m = Ann.mpSample(df, minCos = 0.45, dim = 64, planes = planes, probes = 2, seed = 42L)
    val trials = m.sampledPairs * Ann.TrialTables
    val catches = m.catches
    assert(trials > 0 && catches > 0)
    assert(m.hist.keysIterator.forall(c => c >= 0 && c <= Ann.TrialTables))
    val rate = catches.toDouble / trials
    // the base sketch is emission 0, so the probe scheme's catch rate
    // is bounded below by the single-probe analytic p^planes
    val p = 1.0 - math.acos(0.45) / math.Pi
    assert(rate > math.pow(p, planes),
      f"measured mp catch $rate%.4f should exceed analytic single-probe ${math.pow(p, planes)}%.4f")
  }

  test("lshCandidateVolume: exact multiset collision count, vs an independent join") {
    val (dim, planes, tables, seed) = (64, 6, 4, 42L)
    val n = vecs.count()
    // single-probe and widened emissions: the guard prices whichever
    // the pair join builds
    for (probes <- Seq(0, 2)) {
      val width = probes + 1
      val row = Ann.lshCandidateVolume(vecs, dim, planes, tables, seed, probes).collect().head
      assert(row.getAs[Long]("bucket_rows") == tables * width * n)
      assert(row.getAs[Long]("max_bucket") >= 1)
      // independent count: materialize the same config's bucket
      // collisions as an actual (table, bucket) self-join and count the
      // a < b rows — the multiset of dot products the pair join pays for
      val sketched = vecs.select(col("id"), posexplode(
          graft.functions.HyperplaneProbeSketches(col("vec"), dim, planes, tables, seed, probes))
          .as(Seq("pos", "bucket")))
        .select(expr(s"pos DIV $width").as("table"), col("bucket"), col("id"))
      val joined = sketched.select(col("table"), col("bucket"), col("id").as("a"))
        .join(sketched.select(col("table"), col("bucket"), col("id").as("b")),
          Seq("table", "bucket"))
        .filter(col("a") < col("b"))
        .count()
      assert(row.getAs[Long]("candidate_volume") == joined,
        s"probes=$probes: aggregate said ${row.getAs[Long]("candidate_volume")}, " +
          s"join counted $joined")
    }
  }
}

object AnnSpec {
  /** The all-pairs ground truth the LSH specs compare against: every
    * (a < b) pair with cosine ≥ minCos from a plain theta self-join —
    * no broadcast and no repartition, independent of the operators
    * under test.
    */
  def allPairs(df: DataFrame, minCos: Double): DataFrame = {
    val v = df.select(col("id"), col("vec"), VectorOps.fnorm(col("vec")).as("nrm"))
    v.select(col("id").as("a"), col("vec").as("va"), col("nrm").as("na"))
      .join(v.select(col("id").as("b"), col("vec").as("vb"), col("nrm").as("nb")),
        col("a") < col("b"))
      .withColumn("sim", VectorOps.cosinePre(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("sim") >= minCos)
      .select("a", "b", "sim")
  }
}
