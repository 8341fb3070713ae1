package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.core.LocalDisk.dirBytes
import graft.ann.{Ann, Pq}

/** Decade-scale audit for the IVF·PQ operator (a6) — sf1 (20 k
  * vectors) and sf10 (200 k). Three claims, each measured:
  *
  *   1. **The exactness contract transfers across decades.** The
  *      rerank budget is re-derived at each scale by the SAME
  *      measured law the gate config used (TunePq, deleted in
  *      8a94aaa: worst in-cell ADC rank of a true top-k member, ×2),
  *      and `ivfPqTopK` must equal `ivfTopK` bitwise at that budget
  *      — over a `bruteForceTopK` baseline itself checked against an
  *      independent primitive-loop brute force (the SpotSf10
  *      discipline: no Catalyst, no shared scoring code).
  *
  *   2. **The measured law is also the dispatch guard.** On the
  *      ISOTROPIC generator corpus — which deliberately lacks the
  *      cluster structure every real embedding corpus has (the same
  *      caveat the selective-τ audit documents for LSH) — the
  *      needed rank GROWS with n (reported per tier): top-k sims sit
  *      in the bulk of the cosine distribution, so constant ADC
  *      error displaces ever more candidates. A budget that comes
  *      back as a whole-percent fraction of the corpus is the law
  *      saying PQ does not pay here — use the SQ8/float scan — the
  *      exact analogue of the n-gram/LSH volume guards refusing a
  *      gap-less τ.
  *
  *   3. **On structured data the budget is tiny and stable.** A
  *      planted near-dup tail (SpotTau.plantNearDups, cos≈0.93 —
  *      what real near-dup corpora have) gives the true neighbors a
  *      similarity gap no ADC error bridges: the measured budget
  *      stays O(k) at both tiers and the ADC path returns the exact
  *      brute-force answer.
  *
  * Protocol: run alone on an idle host (SCALE.md tier protocol);
  * sf10 wants `SPARK_DRIVER_MEM=96g SPARK_GRAFT_SHUFFLE_PARTITIONS=128`.
  *
  * Run: `sbt "runMain graft.tools.SpotPq testdata-local/sf1"`
  */
object SpotPq {

  private var failures = 0

  private def check(name: String)(ok: => Boolean, detail: => String): Unit = {
    val passed = try ok catch { case e: Exception =>
      println(s"FAIL $name: ${e.getClass.getSimpleName}: ${e.getMessage}"); failures += 1; return
    }
    if (passed) println(s"PASS $name ($detail)")
    else { println(s"FAIL $name ($detail)"); failures += 1 }
  }

  private def canon(df: DataFrame): Set[Seq[Any]] = df
    .select(col("query_id"), col("nbr_id"), round(col("sim"), 9).as("sim"), col("rank"))
    .collect().map(_.toSeq).toSet

  /** Primitive-loop top-k per query — independent ground truth, the
    * [[SpotSf10.bruteEpsPairs]] discipline: plain double loops on
    * driver-collected arrays, no Catalyst, no shared scoring code.
    */
  private def primitiveTopK(vecs: DataFrame, nQueries: Int, k: Int): Set[(Long, Long)] = {
    val rows = vecs.select(col("id").cast("long"), col("vec")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    def norm(v: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
      math.sqrt(s)
    }
    val norms = rows.map(r => norm(r._2))
    rows.iterator.filter(_._1 < nQueries).flatMap { case (q, vq) =>
      val nq = norm(vq)
      val best = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
        Ordering.by[(Double, Long), (Double, Long)](x => (-x._1, x._2)))
      var j = 0
      while (j < rows.length) {
        val (b, vb) = rows(j)
        if (b != q) {
          var s = 0.0; var i = 0
          while (i < vq.length) { s += vq(i).toDouble * vb(i).toDouble; i += 1 }
          val sim = s / (nq * norms(j))
          best.enqueue((sim, b))
          if (best.size > k) best.dequeue()
        }
        j += 1
      }
      best.map(e => (q, e._2))
    }.toSet
  }

  /** Worst ADC rank of any (query_id, nbr_id) in `tops`, over the
    * probed-cell candidates — the per-scale replay of the TunePq
    * measurement (TunePq was deleted in 8a94aaa; SPOTCHECK_pq.txt
    * holds the replayed results). The ranked relation never reaches
    * the driver.
    */
  private def measuredInCellRank(vecs: DataFrame, queries: DataFrame,
                                 cents: DataFrame, books: DataFrame,
                                 m: Int, ksub: Int,
                                 tops: Set[(Long, Long)]): Int = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val cIdx = Ann.ivfAssignments(vecs, cents)
      .join(Pq.encode(vecs, books, m, ksub), Seq("id"))
      .select(col("cell"), col("id").as("nbr_id"), col("codes"), col("nrm").as("cnorm"))
    val qIdx = Pq.probeCells(queries, cents, 2)
      .join(Pq.adcLut(queries, books, m, ksub), Seq("query_id"))
    cIdx.join(broadcast(qIdx), Seq("cell"))
      .filter(col("query_id") =!= col("nbr_id"))
      .withColumn("qsim", graft.functions.PqAdc(col("codes"), col("lut")) / col("cnorm"))
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("qsim").desc, col("nbr_id").asc)))
      .join(broadcast(tops.toSeq.toDF("query_id", "nbr_id")), Seq("query_id", "nbr_id"))
      .agg(max(col("r"))).head().getInt(0)
  }

  /** Primitive-loop top-1 WITH similarity, for ids < nScan — used to
    * select structured queries on the planted corpus (a query whose
    * true neighbor is a planted near-dup, sim ≥ 0.8: the lookups a
    * PQ index exists to serve; a source that got no dup has an
    * isotropic top-1 and belongs to the arm-2 regime).
    */
  private def primitiveTop1(vecs: DataFrame, nScan: Int): Map[Long, (Long, Double)] = {
    val rows = vecs.select(col("id").cast("long"), col("vec")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    def norm(v: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
      math.sqrt(s)
    }
    val norms = rows.map(r => norm(r._2))
    rows.iterator.filter(_._1 < nScan).map { case (q, vq) =>
      val nq = norm(vq)
      var bestId = -1L; var bestSim = Double.NegativeInfinity
      var j = 0
      while (j < rows.length) {
        val (b, vb) = rows(j)
        if (b != q) {
          var s = 0.0; var i = 0
          while (i < vq.length) { s += vq(i).toDouble * vb(i).toDouble; i += 1 }
          val sim = s / (nq * norms(j))
          if (sim > bestSim || (sim == bestSim && b < bestId)) { bestId = b; bestSim = sim }
        }
        j += 1
      }
      q -> (bestId, bestSim)
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: SpotPq <sfDir>")
    val dir = args(0)
    val spark = GraftSession.build("spot-pq")
    val tAll = System.nanoTime()
    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    try {
      val m = 16; val ksub = 64; val k = 10; val nQ = 256
      val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
        .localCheckpoint(eager = true)
      val n = vecs.count()
      val queries = vecs.filter(col("id") < nQ)
      val cells = math.max(8, math.round(math.sqrt(n.toDouble / 64)).toInt)
      println(s"INFO n=$n queries=$nQ k=$k config m=$m ksub=$ksub cells=$cells")

      // independent baseline
      val primitive = primitiveTopK(vecs, nQ, k)
      val (bruteRes, tBrute) = time(canon(Ann.bruteForceTopK(vecs, queries, k)))
      check("pq_brute_matches_primitive")(
        bruteRes.map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long])) == primitive,
        f"${bruteRes.size} rows vs independent loop [brute $tBrute%.1f s]")

      // (1) exactness contract at scale, rerank from the measured law
      val books = Pq.trainCodebooks(vecs, m, ksub, iters = 3).localCheckpoint(true)
      val cents = Ann.kmeansCentroids(vecs, cells, iters = 2).localCheckpoint(true)
      val (ivfRes, tIvf) = time(canon(Ann.ivfTopK(vecs, queries, cents, k, nprobe = 2)))
      val ivfTops = ivfRes.map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long]))
      val needed = measuredInCellRank(vecs, queries, cents, books, m, ksub, ivfTops)
      println(s"INFO isotropic: measured worst in-cell ADC rank=$needed of " +
        s"~${n * 2 / cells} in-cell candidates -> rerank=${2 * needed} (2x)")
      val (pqIvfRes, tPqIvf) = time(canon(
        Pq.ivfPqTopK(vecs, queries, cents, books, k, m, ksub,
          nprobe = 2, rerank = 2 * needed)))
      check("pq_ivfpq_equals_ivf_at_measured_budget")(
        pqIvfRes == ivfRes,
        f"${pqIvfRes.size} rows, sims bitwise [ivf $tIvf%.1f s, ivfpq $tPqIvf%.1f s]")

      // (2) the dispatch guard: on the structureless corpus the
      // measured budget must be reported as a corpus fraction — a
      // whole-percent answer is the law refusing the index
      val frac = needed.toDouble / (n.toDouble * 2 / cells)
      println(f"INFO isotropic budget fraction = $frac%.3f of in-cell candidates " +
        f"(structureless corpus: PQ does not pay here; dispatch to SQ8/float scan)")
      check("pq_guard_exposes_structureless_corpus")(frac > 0.01,
        f"needed/in-cell = $frac%.3f — the measured law flags the gap-less regime " +
          "(on real clustered corpora see the planted arm below)")

      // (3) planted near-dup tail: the corpus shape PQ exists for.
      // Queries are vectors whose TRUE top-1 is a planted near-dup
      // (sim ≥ 0.8) — the lookups the index serves; a source that
      // got no dup has an isotropic top-1 and belongs to arm 2.
      val planted = SpotTau.plantNearDups(vecs).localCheckpoint(eager = true)
      val top1 = primitiveTop1(planted, nScan = 2048)
      val qIds = top1.collect { case (q, (_, sim)) if sim >= 0.8 => q }
        .toSeq.sorted.take(nQ)
      println(s"INFO planted: ${qIds.length} structured queries of 2048 scanned " +
        s"(top-1 sim >= 0.8)")
      val pQueries = planted.filter(col("id").isin(qIds: _*))
      val pPrimitive = qIds.map(q => (q, top1(q)._1)).toSet
      val (pBruteRes, tpBrute) = time(canon(Ann.bruteForceTopK(planted, pQueries, k = 1)))
      check("pq_planted_brute_matches_primitive")(
        pBruteRes.map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long])) == pPrimitive,
        f"${pBruteRes.size} rows [brute $tpBrute%.1f s]")
      val pBooks = Pq.trainCodebooks(planted, m, ksub, iters = 3).localCheckpoint(true)
      // full-scan measured budget for the top-1 neighbor
      val pNeeded = {
        import spark.implicits._
        val cIdxF = planted.select(col("id").as("nbr_id"),
            graft.functions.VectorOps.fnorm(col("vec")).as("cnorm"), col("vec"))
          .join(Pq.encode(planted, pBooks, m, ksub)
            .select(col("id").as("nbr_id"), col("codes")), Seq("nbr_id"))
          .select(col("nbr_id"), col("codes"), col("cnorm"))
        val qIdxF = Pq.adcLut(pQueries, pBooks, m, ksub).select(col("query_id"), col("lut"))
        cIdxF.join(broadcast(qIdxF), col("query_id") =!= col("nbr_id"))
          .withColumn("qsim", graft.functions.PqAdc(col("codes"), col("lut")) / col("cnorm"))
          .withColumn("r", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
              .orderBy(col("qsim").desc, col("nbr_id").asc)))
          .join(broadcast(pPrimitive.toSeq.toDF("query_id", "nbr_id")),
            Seq("query_id", "nbr_id"))
          .agg(max(col("r"))).head().getInt(0)
      }
      println(s"INFO planted: measured worst FULL-SCAN ADC rank=$pNeeded of $n " +
        s"-> rerank=${math.max(2 * pNeeded, 16)} (2x, floor 16)")
      check("pq_planted_budget_is_Ok")(pNeeded <= 64,
        f"worst full-scan rank $pNeeded on the structured corpus — O(k), not O(n) " +
          f"(isotropic needed $needed in-cell)")
      val pRerank = math.max(2 * pNeeded, 16)
      val (pPqRes, tpPq) = time(canon(
        Pq.pqTopK(planted, pQueries, pBooks, k = 1, m, ksub, rerank = pRerank)))
      check("pq_planted_fullscan_equals_brute")(pPqRes == pBruteRes,
        f"adc $tpPq%.1f s vs float $tpBrute%.1f s at rerank=$pRerank, identical output")

      // (4) auto-nprobe (a8, round 17): the CELL law separates the
      // regimes the same way the ADC law does. On the planted corpus
      // a structured query's true neighbor shares its direction, so
      // its cell sits at the top of the coarse ranking — the measured
      // worst cell rank is O(1) of `cells` and the auto picks a small
      // nprobe; on the isotropic corpus true answers scatter across
      // most cells and the production probeFrac refuses the index.
      val pCents = Ann.kmeansCentroids(planted, cells, iters = 2).localCheckpoint(true)
      val pCellNeeded = Pq.measuredCellRank(planted, pQueries, pCents, k = 1)
      val pNprobe = math.min(2L * pCellNeeded, cells.toLong).toInt
      println(s"INFO planted: measured worst cell rank=$pCellNeeded of $cells cells " +
        s"-> auto nprobe=$pNprobe (2x, capped)")
      check("pq_autonprobe_planted_accepts")(pCellNeeded <= cells / 2,
        s"cell law $pCellNeeded of $cells — the quantizer separates the planted corpus")
      val (autoRes, tAuto) = time(canon(Pq.ivfPqTopKAuto(
        planted, pQueries, pCents, pBooks, k = 1, m, ksub,
        sampleQueries = pQueries.count().toInt)))
      check("pq_autonprobe_planted_exact")(autoRes == pBruteRes,
        f"fully-sampled auto (nprobe from the cell law) equals brute [$tAuto%.1f s]")
      val isoCellNeeded = Pq.measuredCellRank(vecs, queries, cents, k)
      println(s"INFO isotropic: measured worst cell rank=$isoCellNeeded of $cells cells")
      check("pq_autonprobe_refuses_isotropic")(isoCellNeeded > cells / 2,
        s"cell law $isoCellNeeded of $cells — production probeFrac=0.5 refuses the index")

      // (5) the STORED serving path (a9/a10 production shape) at this
      // tier: persist the packed index, measure both laws against the
      // stored tables, then serve with ZERO serve-time measurement —
      // must equal brute on the planted queries. Also the on-disk
      // claim: the scan-side codes table is a small fraction of the
      // full-vector table, measured, not asserted.
      val pIdx = graft.index.IvfPqIndex("spotpq_idx", pCents, pBooks, m, ksub)
      pIdx.drop(spark)
      val (_, tIdxBuild) = time(pIdx.build(planted))
      def tableBytes(t: String): Long = dirBytes(s"spark-warehouse/$t")
      val codesBytes = tableBytes("spotpq_idx_codes")
      val vecsBytes = tableBytes("spotpq_idx_vecs")
      println(f"INFO stored index: build $tIdxBuild%.1f s; codes " +
        f"${codesBytes / 1e6}%.1f MB vs vecs ${vecsBytes / 1e6}%.1f MB " +
        f"(${vecsBytes.toDouble / codesBytes}%.1fx smaller scan side)")
      check("pq_stored_codes_compressed")(
        codesBytes * 4 < vecsBytes,
        f"packed codes ${codesBytes / 1e6}%.1f MB < 1/4 of vectors " +
          f"${vecsBytes / 1e6}%.1f MB")
      val (_, tLaws) = time(
        Pq.saveIvfPqLaws(spark, "spotpq_idx", measureK = 1, m = m, ksub = ksub,
          sampleN = 32))
      val lawRow = spark.table("spotpq_idx_laws").head()
      println(s"INFO stored laws (measured ${f"$tLaws%.1f"} s): cell_rank=" +
        s"${lawRow.getAs[Int]("cell_rank")} adc_rank=${lawRow.getAs[Int]("adc_rank")} " +
        s"nprobe=${lawRow.getAs[Int]("nprobe")} of ${lawRow.getAs[Long]("n_cells")} cells")
      // (a) the CONTRACTUAL exactness claim: serving a vector the
      // laws actually measured, at k ≤ measure_k, is exact by
      // construction (its true neighbor's cell and ADC ranks are
      // inside the stored dials)
      val sampled = Pq.lawsSample(spark, "spotpq_idx", 32)
        .localCheckpoint(true)
      def servedArm(df: DataFrame): String =
        if (df.queryExecution.executedPlan.toString.contains("pqadcpacked"))
          "packed probe at stored dials"
        else "refused to the exact vecs scan"
      val sBrute = canon(Ann.bruteForceTopK(planted, sampled, k = 1))
      val prodServe = Pq.ivfPqTopKIndexedAuto(spark, "spotpq_idx", sampled,
        k = 1, m, ksub)
      println("INFO production-fraction serve arm: " + servedArm(prodServe))
      val (sStored, tSampled) = time(canon(prodServe))
      check("pq_stored_auto_exact_on_sampled")(sStored == sBrute,
        f"all ${sStored.size} sampled-vector serves equal brute [$tSampled%.1f s]")
      // the PACKED stored path itself, forced past the dispatch
      // fractions (the a10 gate stance) — for a sampled vector at
      // k ≤ measure_k the stored dials cover its measured ranks, so
      // the packed probe must be exact by construction at this tier
      val forced = Pq.ivfPqTopKIndexedAuto(spark, "spotpq_idx", sampled,
        k = 1, m, ksub, probeFrac = 1.0, budgetFrac = 1.0)
      val forcedPacked = servedArm(forced) == "packed probe at stored dials"
      val (fStored, tForced) = time(canon(forced))
      check("pq_stored_packed_exact_on_sampled")(
        forcedPacked && fStored == sBrute,
        f"packed stored probe (forced past dispatch) equals brute [$tForced%.1f s]")
      // (b) the MARGIN-TRANSFER claim on population queries the laws
      // never saw: measured recall@1, reported per tier and floored —
      // the stored dial is a sample statistic, so population
      // exactness is margin-covered, not contractual (a8's
      // fully-sampled auto, arm 4, IS exact because it measures the
      // actual query set)
      val popServe = Pq.ivfPqTopKIndexedAuto(spark, "spotpq_idx", pQueries,
        k = 1, m, ksub)
      val (storedRes, tStored) = time(canon(popServe))
      val hit = storedRes.count(pBruteRes.contains)
      val recall = hit.toDouble / pBruteRes.size
      println(f"INFO stored-law population serve (${servedArm(popServe)}): " +
        f"recall@1 = $recall%.4f ($hit of ${pBruteRes.size}) in $tStored%.1f s " +
        f"vs brute $tpBrute%.1f s")
      check("pq_stored_population_recall")(recall >= 0.95,
        f"sample-measured dials transfer to unseen queries at recall $recall%.4f")
      // maintenance survives at scale: stage-and-swap compact keeps
      // contents AND the build fingerprint the laws row pins — the
      // serve after compact must not refuse and must not drift from
      // the pre-compact serving
      val (_, tCompact) = time(pIdx.compact(spark))
      val (compactRes, _) = time(canon(
        Pq.ivfPqTopKIndexedAuto(spark, "spotpq_idx", sampled, k = 1, m, ksub,
          probeFrac = 1.0, budgetFrac = 1.0)))
      check("pq_stored_compact_serves")(compactRes == sBrute,
        f"compact $tCompact%.1f s; post-compact PACKED serve identical " +
          "(fingerprint and packed tables survive the rewrite)")
      pIdx.drop(spark)

      println(f"== total ${(System.nanoTime() - tAll) / 1e9}%.0f s, failures=$failures")
      if (failures > 0) sys.exit(1)
    } finally spark.stop()
  }
}
