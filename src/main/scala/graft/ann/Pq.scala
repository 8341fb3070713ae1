package graft.ann

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}

import graft.functions.{PqAdc, PqAdcPacked, PqAssign, PqCodec, PqLut, PqPack, VectorOps}

/** Product quantization (PQ) — the compressed-index half of the
  * canonical billion-scale ANN design (IVF for the coarse partition,
  * PQ for the in-cell scan; Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011 / FAISS `IndexIVFPQ`).
  *
  * The vector is split into `m` contiguous subspaces of `dim/m`
  * elements; each subspace gets its own `ksub`-centroid codebook
  * (per-subspace k-means, trained with the same deterministic recipe
  * as [[Ann.kmeansCentroids]]: md5-hash-sampled seeds, fixed
  * iteration count, round-6 double means — so any engine retrains
  * bit-identical codebooks). A vector is stored as `m` small codes —
  * at the measured gate config (m=16, ksub=64; TunePq, deleted in
  * 8a94aaa, PqSpec keeps its margins) that is
  * 16 six-bit codes standing in for 64 floats: 256 B → 12 B of true
  * entropy (21×) for a packing writer, 72 B (3.5×) as the raw int
  * array the codegen kernel reads. Quantization grain is the
  * caller's dial: isotropic fixtures need this much resolution to
  * hold exactness gates; real clustered embeddings get away with
  * far coarser books (the classic m=8, ksub=256 byte-code layout).
  *
  * Search is asymmetric (ADC): the query stays full-precision; per
  * query one `m·ksub` lookup table of subspace dot products is built
  * against the codebooks, and each candidate's approximate dot is
  * `Σₘ lut[codes[m]]` — the [[graft.functions.PqAdc]] fused loop,
  * `m` array reads instead of `dim` multiplies, over an index 32×
  * smaller than the raw vectors. ADC ranks candidates; the top
  * `rerank ≫ k` are re-scored on the exact float path, so (with
  * rerank slack, spec-checked like SQ8's) the OUTPUT equals exact
  * search over the same candidate cells while full-precision vectors
  * are touched for only `rerank` rows per query.
  *
  * Scale shape — the part that matters at 100 TB: a trained codebook
  * is m·ksub·(dim/m) doubles (32 KB at the gate config), i.e. DRIVER
  * state, exactly as every production PQ system holds it. It is
  * collected once per plan build (a bounded metadata collect, the
  * sizing-pre-flight class) and BAKED into the
  * [[graft.functions.PqAssign]]/[[graft.functions.PqLut]] codegen
  * kernels — so corpus encoding is a PURE MAP (zero shuffles, zero
  * joins: the first cut's explode→broadcast-join→groupBy→join-back
  * dataflow cost ~14 tiny shuffle stages on the a6 path and 4 s of
  * pure scheduling at sf0.1), and per-query luts are map-side
  * column expressions. The only shuffles left in a serving call are
  * IVF's own probe join and the bounded TopKAgg tail.
  */
object Pq {

  /** Driver-side codebook state: flattened centroids
    * (`arr(code·dsub + d)`, GLOBAL codes `sub·ksub + c` — see
    * [[graft.functions.PqAdc]] for why global beats stride math),
    * plus a `present` mask for codes that lost all members during
    * training (encode never emits them; luts leave their slots 0).
    */
  private[graft] case class PqBooks(arr: Array[Double], present: Array[Boolean],
                                  m: Int, ksub: Int, dsub: Int)

  /** Collect a (sub, code, cent) codebook table into driver state —
    * m·ksub·dsub doubles, bounded by construction (32 KB at the gate
    * config): the codebook IS driver state in any real PQ system.
    */
  private[graft] def collectBooks(codebooks: DataFrame, m: Int, ksub: Int): PqBooks = {
    val rows = codebooks.select(col("code"), col("cent")).collect()
    require(rows.nonEmpty, "empty codebook")
    val dsub = rows.head.getSeq[Double](1).length
    val arr = new Array[Double](m * ksub * dsub)
    val present = new Array[Boolean](m * ksub)
    rows.foreach { r =>
      val code = r.getInt(0)
      require(code >= 0 && code < m * ksub, s"code $code outside m*ksub layout")
      val cent = r.getSeq[Double](1)
      require(cent.length == dsub, "ragged codebook")
      var d = 0
      while (d < dsub) { arr(code * dsub + d) = cent(d); d += 1 }
      present(code) = true
    }
    PqBooks(arr, present, m, ksub, dsub)
  }

  // session shuffle-partition count, for the deferral-pinning
  // exchanges below (see pqTopK's repartition note)
  private def shufflePartitions(df: DataFrame): Int =
    df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt

  private def booksToDf(spark: SparkSession, b: PqBooks): DataFrame = {
    val rows = (0 until b.m * b.ksub).filter(b.present).map { code =>
      Row(code / b.ksub, code,
        (0 until b.dsub).map(d => b.arr(code * b.dsub + d)))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("sub", IntegerType, nullable = false),
        StructField("code", IntegerType, nullable = false),
        StructField("cent", ArrayType(DoubleType, containsNull = false), nullable = false))))
  }

  /** Per-subspace codebooks: (sub, code, cent: array<double>) with
    * `code` a GLOBAL lut index in [sub·ksub, (sub+1)·ksub).
    *
    * Determinism (what makes an operator built on this oracle-able):
    * seeds are, per subspace, the subvectors of the `ksub` vectors
    * with the smallest md5(id) (the [[Ann.kmeansCentroids]] recipe —
    * the SAME seed vectors in every subspace, so one hash ranking
    * drives all m codebooks); assignment argmin breaks ties toward
    * the lowest code; means are rounded to 6 decimals; the iteration
    * count is fixed. A code that loses all members disappears —
    * encode can never emit it, and the ADC lut leaves its slot as a
    * hole that is never read.
    *
    * Execution shape per iteration: one map-side [[graft.functions
    * .PqAssign]] pass + ONE (code, d)-keyed mean aggregate (width
    * m·ksub·dsub, not corpus size) + a bounded collect that becomes
    * the next iteration's baked kernel — no corpus shuffle, ever.
    */
  def trainCodebooks(vecs: DataFrame, m: Int, ksub: Int, iters: Int): DataFrame = {
    val spark = vecs.sparkSession
    // hash-sampled seeds: the ksub smallest-md5 ids, each contributing
    // its subvector to every subspace's codebook (round-6 like means)
    // seeds collect as array<double> whatever the input element type:
    // float widens exactly, and a getSeq[Float] here would CCE on the
    // array<double> corpora the kernels themselves accept
    val seedRows = vecs.select(col("id"), col("vec"),
        graft.functions.Md5Bucket60(
          concat_ws("|", lit("pq"), col("id").cast("string"))).as("hkey"))
      .orderBy(col("hkey"), col("id")).limit(ksub)
      .select(col("vec").cast("array<double>")).collect()
    require(seedRows.nonEmpty, "no vectors to train on")
    val dim = seedRows.head.getSeq[Double](0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    val arr = new Array[Double](m * ksub * dsub)
    val present = new Array[Boolean](m * ksub)
    // round-6 with Spark's HALF_UP semantics, so seed centroids
    // quantize exactly like the mean updates that follow
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    seedRows.zipWithIndex.foreach { case (r, cidx) =>
      val v = r.getSeq[Double](0)
      for (sub <- 0 until m; d <- 0 until dsub) {
        val code = sub * ksub + cidx
        arr(code * dsub + d) = r6(v(sub * dsub + d))
        present(code) = true
      }
    }
    var books = PqBooks(arr, present, m, ksub, dsub)
    for (_ <- 1 to iters) {
      // one narrow (code, d)-keyed mean aggregate updates every
      // codebook at once. The code rides INSIDE the generator input
      // (zip_with pairs each element with its subspace's code), so
      // the PqAssign expression is referenced exactly once per ROW —
      // referencing a projected `codes` column downstream of the
      // explode would let codegen defer it and re-encode per exploded
      // ELEMENT (dim× the work), and an exchange to pin it would
      // shuffle the full vector corpus once per iteration
      val codeByPos = flatten(transform(
        PqAssign(col("vec"), books.arr, books.present, m, ksub, dsub),
        c => array_repeat(c, dsub)))
      val assigned = vecs
        .select(posexplode(zip_with(col("vec"), codeByPos,
          (x, c) => struct(x.as("x"), c.as("c")))).as(Seq("pos", "zx")))
        .select(col("zx.c").as("code"), (col("pos") % dsub).as("d"),
          col("zx.x").as("x"))
        .groupBy(col("code"), col("d"))
        .agg(round(avg(col("x").cast("double")), 6).as("mu"))
        .collect()
      val arr2 = new Array[Double](m * ksub * dsub)
      val present2 = new Array[Boolean](m * ksub)
      assigned.foreach { r =>
        val code = r.getInt(0); val d = r.getInt(1)
        arr2(code * dsub + d) = r.getDouble(2)
        present2(code) = true
      }
      books = PqBooks(arr2, present2, m, ksub, dsub)
    }
    booksToDf(spark, books)
  }

  /** Probe-cell assignment for external measurement tools: the
    * [[Ann.assignN]] top-`nprobe` coarse cells per query, projected
    * to (query_id, cell).
    */
  def probeCells(queries: DataFrame, centroids: DataFrame, nprobe: Int): DataFrame =
    Ann.assignN(queries, centroids, nprobe, "query_id", "qvec", "qnorm")
      .select(col("query_id"), col("cell"))

  /** PQ-encode: (id, vec) → (id, codes: array<int>) where `codes(s)`
    * is the global lut index of subspace s's nearest codebook entry
    * (L2 argmin, ties to the lowest code). A pure map — the baked
    * [[graft.functions.PqAssign]] kernel, no shuffle, no join.
    */
  def encode(vecs: DataFrame, codebooks: DataFrame, m: Int, ksub: Int): DataFrame = {
    val b = collectBooks(codebooks, m, ksub)
    vecs.select(col("id"),
      PqAssign(col("vec"), b.arr, b.present, b.m, b.ksub, b.dsub).as("codes"))
  }

  /** Per-query ADC lookup table: (query_id, qvec, qnorm, lut) where
    * `lut` has length m·ksub and `lut(sub·ksub + code) =
    * dot(q_sub, cent)`. Dead-code slots hold 0.0 — encode never
    * emits them, so the value is never read. Map-side
    * ([[graft.functions.PqLut]]).
    */
  def adcLut(queries: DataFrame, codebooks: DataFrame, m: Int, ksub: Int): DataFrame = {
    val b = collectBooks(codebooks, m, ksub)
    queries.select(col("id").as("query_id"), col("vec").as("qvec"),
      VectorOps.fnorm(col("vec")).as("qnorm"),
      PqLut(col("vec"), b.arr, b.present, b.m, b.ksub, b.dsub).as("lut"))
  }

  // The encoded stage-1 scan relation every ADC consumer reads,
  // (keep…, nbr_id, codes, cnorm): from a raw corpus (norms computed)
  // or from a precomputed [[Ann.ivfAssignments]] assignment (`keep` =
  // its cell, norms read from its `nrm`).
  // The repartition after the PqAssign projection is load-bearing,
  // not cosmetic: whole-stage codegen DEFERS a projected variable to
  // its use sites, and under the broadcast join that means
  // re-encoding the row once per matched query — measured 4.6× on
  // the scan (and 16× more on a single-partition source, which the
  // exchange also fixes). What shuffles is the COMPRESSED index
  // (~72 B/row), 3.5× smaller than the vectors it stands in for —
  // the same once-ever materialization the saved-index path does in
  // storage.
  private def encoded(df: DataFrame, b: PqBooks, keep: Seq[Column] = Nil,
                      norm: Column = VectorOps.fnorm(col("vec"))): DataFrame =
    df.select(keep ++ Seq(col("id").as("nbr_id"),
        PqAssign(col("vec"), b.arr, b.present, b.m, b.ksub, b.dsub).as("codes"),
        norm.as("cnorm")): _*)
      .repartition(shufflePartitions(df))

  /** Full-corpus PQ search: ADC-rank every (query, corpus) pair over
    * the compressed index, exact-re-rank the top `rerank`. With
    * rerank slack the output EQUALS [[Ann.bruteForceTopK]]
    * (spec-checked) — a1's oracle gates it verbatim, the SQ8
    * pattern at a far higher compression.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, codebooks: DataFrame,
             k: Int, m: Int, ksub: Int, rerank: Int = 64): DataFrame = {
    val b = collectBooks(codebooks, m, ksub)
    rerankStage(adcStage(scored(encoded(corpus, b), queryLuts(queries, b)), rerank),
      corpus, queries, k)
  }

  /** Measured-budget auto dispatch — the v6/d16/d17 pattern applied
    * to PQ: sample queries, brute-force their true top-k (one bounded
    * broadcast scan), measure the worst ADC rank those answers sit at
    * (tools/SpotPq's law), and run the compressed scan ONLY when the
    * margined budget is a small fraction of the corpus. On corpora
    * with similarity structure the budget is O(k) and PQ pays
    * (SPOTCHECK_pq planted arm: rank 4–14 across two decades); on
    * structureless corpora the measured law itself comes back as
    * whole percents of the corpus (405/2222 at sf1) and the dispatch
    * refuses the index — exactly the gap-less-τ honesty rule the LSH
    * family enforces with volume guards.
    *
    * Exactness contract, stated precisely: the fallback arm is the
    * brute scan (exact by definition), and the PQ arm re-ranks
    * twice the measured rank in candidates — EXACT on every sampled query
    * (their true worst rank is inside the budget by construction) and
    * margin-covered on unsampled ones, the same average-case stance
    * as d17's miss budget. When the query set fits inside
    * `sampleQueries` — the gate fixture does — every query is
    * sampled and the arm is exact outright; a larger query set gets
    * best-effort-within-margin on the unsampled tail, not a
    * guarantee.
    *
    * Cost note: the measurement pass brute-forces the sample AND
    * ADC-ranks the full corpus×sample product, so the REFUSE arm
    * costs roughly 2× a plain brute scan (measurement + fallback).
    * That is the price of an honest dispatch on a structureless
    * corpus.
    */
  def pqTopKAuto(corpus: DataFrame, queries: DataFrame, codebooks: DataFrame,
                 k: Int, m: Int, ksub: Int, sampleQueries: Int = 32,
                 budgetFrac: Double = 0.02): DataFrame = {
    // encode ONCE: the measurement's full-scan ADC ranking and the
    // accepted-arm serve read the same encoded relation (one corpus
    // encode + shuffle, not one per consumer). DISK_ONLY persist, not
    // localCheckpoint — the codes relation is corpus-sized (the
    // ivfPqTopKAuto storage-discipline note).
    val b = collectBooks(codebooks, m, ksub)
    val cIdx = encoded(corpus, b)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val sample = queries.orderBy(col("id")).limit(sampleQueries)
    val needed = measuredRank(scored(cIdx, queryLuts(sample, b)),
      Ann.bruteForceTopK(corpus, sample, k).select(col("query_id"), col("nbr_id")))
    rerankBudget(needed, corpus.count(), budgetFrac) match {
      case Some(rerank) =>
        rerankStage(adcStage(scored(cIdx, queryLuts(queries, b)), rerank), corpus, queries, k)
      case None =>
        // the measured law says the corpus has no structure for the
        // index to exploit at this k — exact scan, loudly the same
        // answer for a linear (not rerank-inflated) cost
        cIdx.unpersist()
        Ann.bruteForceTopK(corpus, queries, k)
    }
  }

  // The measured-dispatch rules every PQ auto path shares. Each law
  // is margined 2× before it sets a dial, so unsampled queries are
  // covered with slack; the UNMARGINED law is the structure signal.
  private val MarginX = 2

  // the cell law refuses the index when the worst sampled answer's
  // cell rank exceeds `probeFrac` of the cells: the coarse quantizer
  // does not separate this corpus, and probing most cells is a worse
  // brute force
  private def refusesCells(cellRank: Int, nCells: Long, probeFrac: Double): Boolean =
    cellRank > probeFrac * nCells

  // the probe dial: the margined cell law, at least 1, capped at the
  // cell count
  private def probeDial(cellRank: Int, nCells: Long): Int =
    math.min(math.max(1L, MarginX.toLong * cellRank), nCells).toInt

  // the rerank depth: the margined ADC law floored at 16, or None
  // (refuse) when it exceeds `budgetFrac` of the corpus — ADC error
  // displacing candidates by whole percents is the structureless-
  // corpus signal (the a7 rule)
  private def rerankBudget(adcRank: Int, n: Long, budgetFrac: Double): Option[Int] =
    Some(math.max(16, MarginX * adcRank)).filter(_ <= (budgetFrac * n).toLong)

  /** The cell half of the measured dispatch law: the worst COARSE
    * rank, over the sampled queries' true top-k answers, of the cell
    * the answer lives in within its query's centroid-similarity
    * ordering (csim desc, cell asc — [[Ann.assignN]]'s exact order).
    * An IVF probe depth of `nprobe ≥` this value covers every sampled
    * true answer's cell; a value that comes back as a large fraction
    * of the cell count is the law saying the coarse quantizer does
    * not separate this corpus at this k — the honest-dispatch refuse
    * signal, same family as the ADC law ([[measuredRank]]). Only a
    * 1-row max is collected.
    */
  def measuredCellRank(corpus: DataFrame, sampleQueries: DataFrame,
                       centroids: DataFrame, k: Int): Int =
    measuredCellRankFromCells(
      Ann.bruteForceTopK(corpus, sampleQueries, k).select(col("query_id"), col("nbr_id")),
      Ann.assignCells(corpus, centroids).select(col("id").as("nbr_id"), col("cell")),
      sampleQueries, centroids)

  /** [[measuredCellRank]] over PRECOMPUTED true answers `tops`
    * (query_id, nbr_id) and a (nbr_id, cell) assignment — lets a
    * caller that already materialized the corpus assignment (it also
    * feeds the ADC law and the serve scan) reuse it instead of
    * re-running the n×cells scoring pass.
    */
  private[ann] def measuredCellRankFromCells(tops: DataFrame, nbrCell: DataFrame,
                                             sampleQueries: DataFrame,
                                             centroids: DataFrame): Int = {
    val qRanks = Ann.cellRanks(
        Ann.cellScores(sampleQueries, centroids, "query_id", "qvec", "qnorm")._2, "query_id")
      .select(col("query_id"), col("cell"), col("crank"))
    val row = tops.join(nbrCell, Seq("nbr_id"))
      .join(qRanks, Seq("query_id", "cell"))
      .agg(max(col("crank"))).head()
    if (row.isNullAt(0)) 0 else row.getInt(0)
  }

  /** Fully-measured IVF·PQ auto dispatch — [[pqTopKAuto]]'s recipe
    * applied to BOTH index dials instead of taking `nprobe` as a
    * hand-set constant: sample queries, brute-force their true top-k
    * once, then (1) size `nprobe` from the worst measured cell rank
    * ([[measuredCellRank]], ×2, so every sampled answer's cell
    * is probed with margin), refusing to the exact scan when the
    * margined depth exceeds `probeFrac` of the cells (the coarse
    * quantizer does not separate this corpus — probing most cells is
    * a worse brute force); then (2) size `rerank` from the worst
    * in-cell ADC rank at that depth ([[measuredRank]] over the probed
    * cells, ×2, floor 16), refusing when the budget exceeds
    * `budgetFrac` of the corpus (the a7 rule: ADC error displaces
    * candidates by whole percents on structureless data).
    *
    * Exactness stance is [[pqTopKAuto]]'s, one notch weaker on the
    * index arm: exact on every SAMPLED query (both its laws are
    * measured over the sample), margin-covered on unsampled ones —
    * and unlike the full-scan arm, an unsampled query's true answer
    * can sit in an unprobed CELL (IVF's structural recall), which no
    * rerank slack recovers. A query set inside `sampleQueries` (the
    * gate fixture) is fully sampled, making the arm exact outright.
    * The refuse arm is the brute scan, exact by definition.
    */
  def ivfPqTopKAuto(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
                    codebooks: DataFrame, k: Int, m: Int, ksub: Int,
                    sampleQueries: Int = 32, probeFrac: Double = 0.5,
                    budgetFrac: Double = 0.02): DataFrame = {
    val sample = queries.orderBy(col("id")).limit(sampleQueries)
    // one brute pass over the sample feeds BOTH measured laws (the
    // tops relation is sample×k rows, materialized once, bounded),
    // and ONE materialized assignment pass feeds the cell law, the
    // ADC law, and the accepted-arm serve scan — which previously
    // each re-ran the n×cells scoring. The two scalar counts, the
    // brute pass and the assignment pass are mutually independent,
    // so they overlap on driver threads (the v6/x6 rationale).
    //
    // Storage discipline (r20 verdict item 3): the bounded sample
    // tops keep localCheckpoint (sample×k rows — trivial), but the
    // CORPUS-SIZED assignment is persisted DISK_ONLY instead of
    // localCheckpointed: checkpoint blocks truncate lineage and live
    // in executor memory-and-disk with NO recompute path, so at
    // 100 TB an executor loss kills the query and memory pressure is
    // corpus-sized; persist keeps the lineage (lost blocks recompute)
    // and stages the bytes on disk, off the execution-memory budget.
    // The eager count() materializes it before the two driver threads
    // read it (racing a lazy first materialization is what the eager
    // form was protecting against).
    val asg = Ann.ivfAssignments(corpus, centroids)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val ((nCells, n), (tops, _)) = graft.core.Par.par2(
      graft.core.Par.par2(centroids.count(), corpus.count()),
      graft.core.Par.par2(
        Ann.bruteForceTopK(corpus, sample, k)
          .select(col("query_id"), col("nbr_id")).localCheckpoint(true),
        asg.count()))
    val cellNeeded = measuredCellRankFromCells(tops,
      asg.select(col("id").as("nbr_id"), col("cell")), sample, centroids)
    // refuse on the cell law BEFORE measuring the ADC law: a quantizer
    // that does not separate this corpus makes that pass pure waste
    if (refusesCells(cellNeeded, nCells, probeFrac)) {
      asg.unpersist()
      return Ann.bruteForceTopK(corpus, queries, k)
    }
    val nprobe = probeDial(cellNeeded, nCells)
    // encode ONCE: the ADC law and the accepted-arm serve previously
    // each rebuilt the identical encoded stage-1 relation (PqAssign
    // over the assignment + its pinning exchange) — one corpus encode
    // + shuffle per consumer. The encoded codes relation (~m ints per
    // row, 3.5× smaller than the vectors) persists DISK_ONLY across
    // the two; it materializes under the ADC-law job and the serve
    // reads the cached blocks.
    val b = collectBooks(codebooks, m, ksub)
    val cIdx = encoded(asg, b, Seq(col("cell")), col("nrm"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val adcNeeded = measuredRank(
      scored(cIdx, queryLuts(sample, b, Some(centroids -> nprobe)), Seq("cell")), tops)
    rerankBudget(adcNeeded, n, budgetFrac) match {
      case Some(rerank) =>
        // rerank vectors come from the persisted assignment (id, vec,
        // nrm — the same fnorm expression the corpus projection would
        // recompute), so the serve plan touches no third corpus scan
        rerankFromVecs(adcStage(scored(cIdx,
            queryLuts(queries, b, Some(centroids -> nprobe)), Seq("cell")), rerank),
          asg.select(col("id"), col("vec"), col("nrm")), queries, k)
      case None =>
        asg.unpersist(); cIdx.unpersist()
        Ann.bruteForceTopK(corpus, queries, k)
    }
  }

  /** IVF·PQ: coarse-probe `nprobe` cells ([[Ann.assignN]], the a3/a5
    * structure), ADC-rank ONLY the probed cells' members on the
    * compressed index, exact-re-rank the top `rerank`. With rerank
    * slack the output EQUALS [[Ann.ivfTopK]] over the same centroids
    * (spec-checked) — so a3's full-replay oracle gates the whole
    * composition, and the approximation surface the caller reasons
    * about stays exactly IVF's structural recall (probed-cell
    * misses), not PQ error.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
                codebooks: DataFrame, k: Int, m: Int, ksub: Int,
                nprobe: Int = 2, rerank: Int = 64): DataFrame = {
    val b = collectBooks(codebooks, m, ksub)
    val cIdx = encoded(Ann.ivfAssignments(corpus, centroids), b, Seq(col("cell")), col("nrm"))
    rerankStage(adcStage(scored(cIdx, queryLuts(queries, b, Some(centroids -> nprobe)), Seq("cell")),
      rerank), corpus, queries, k)
  }

  /** Persist an IVF·PQ index: `<prefix>_centroids` + `<prefix>_books`
    * (both broadcast-tiny), `<prefix>_codes` (cell, id, codes:
    * BINARY — the stage-1 scan table, cell-bucketed so probes join
    * without a shuffle), and `<prefix>_vecs` (id, vec, nrm — touched
    * only by the rerank semi-join, id-bucketed). `append` encodes a
    * new batch against the FROZEN centroids + codebooks — the
    * [[Ann.saveIvfIndex]] contract: a growing corpus is assigned and
    * encoded once, ever.
    *
    * The codes column is the [[graft.functions.PqPack]] bit-packed
    * layout (⌈log₂ ksub⌉ bits per code — 12 bytes at the gate config,
    * the FAISS `IndexIVFPQ` code layout), and the table stores NO
    * norm and NO vector: the serving scan reconstructs each
    * candidate's norm from its own codes (`‖recon‖² = Σ_sub ‖cent‖²`,
    * one [[graft.functions.PqAdcPacked]] pass over the per-code
    * squared norms — driver state like the codebooks). So the claimed
    * compression is ON DISK: the stage-1 table is ≥15× smaller than
    * `<prefix>_vecs` (measured in PqSpec on the gate fixture), which
    * at 100 TB of vectors is the difference between scanning
    * terabytes and scanning hundreds of gigabytes per serving call.
    */
  def saveIvfPqIndex(corpus: DataFrame, centroids: DataFrame, codebooks: DataFrame,
                     tablePrefix: String, m: Int, ksub: Int, nBuckets: Int = 32,
                     append: Boolean = false): Unit = {
    if (!append) {
      centroids.select(col("cell"), col("vec"))
        .write.mode("overwrite").format("parquet")
        .saveAsTable(s"${tablePrefix}_centroids")
      codebooks.select(col("sub"), col("code"), col("cent"))
        .write.mode("overwrite").format("parquet")
        .saveAsTable(s"${tablePrefix}_books")
    }
    val b = collectBooks(codebooks, m, ksub)
    // materialize once, EAGERLY: the assignment scan (n×cells
    // broadcast dots) is the expensive half, and it feeds BOTH
    // writes — without the materialization each build/append batch
    // would run it twice, and the eager count (vs first-write lazy)
    // lets the two independent table writes below run CONCURRENTLY
    // over the finished blocks (racing two threads into one lazy
    // first materialization would not be safe). DISK_ONLY persist,
    // not localCheckpoint (r20 verdict item 3): this relation is
    // CORPUS-SIZED — checkpoint blocks would truncate lineage (an
    // executor loss kills the build; lost persist blocks recompute)
    // and compete for executor memory at 100 TB; the bounded
    // relations in this file keep localCheckpoint.
    val cells = Ann.ivfAssignments(corpus, centroids)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    cells.count()
    graft.core.Par.par2(
      cells.select(col("cell"), col("id"),
          PqPack(PqAssign(col("vec"), b.arr, b.present, b.m, b.ksub, b.dsub),
            b.m, b.ksub).as("codes"))
        .write.mode(if (append) "append" else "overwrite")
        // v2 data pages: DELTA_LENGTH_BYTE_ARRAY stores the (constant)
        // code-blob length once per page instead of v1 PLAIN's 4-byte
        // prefix on every value — a 25% tax on a 12-byte blob
        .option("parquet.writer.version", "v2")
        .bucketBy(nBuckets, "cell").format("parquet")
        .saveAsTable(s"${tablePrefix}_codes"),
      cells.select(col("id"), col("vec"), col("nrm"))
        .write.mode(if (append) "append" else "overwrite")
        .bucketBy(nBuckets, "id").format("parquet")
        .saveAsTable(s"${tablePrefix}_vecs"))
    cells.unpersist()
    // fingerprint each fresh BUILD (appends keep it: laws stay valid
    // under append by the a7/a8 margin contract, but are invalid the
    // moment the index they measured is rebuilt — [[saveIvfPqLaws]]
    // stores this id and [[ivfPqTopKIndexedAuto]] refuses on mismatch)
    if (!append)
      corpus.sparkSession.sql(
        s"ALTER TABLE ${tablePrefix}_codes SET TBLPROPERTIES " +
          s"('graft.build_id' = '${java.util.UUID.randomUUID()}')")
  }

  /** The build fingerprint stamped by [[saveIvfPqIndex]] on the codes
    * table — a catalog-metadata read, no scan ("" for an index
    * predating the stamp).
    */
  private def codesBuildId(spark: SparkSession, tablePrefix: String): String =
    spark.sql(s"SHOW TBLPROPERTIES ${tablePrefix}_codes")
      .filter(col("key") === "graft.build_id")
      .collect().headOption.map(_.getString(1)).getOrElse("")

  /** [[ivfPqTopK]] against a PRECOMPUTED [[saveIvfPqIndex]] index:
    * stage 1 reads ONLY `<prefix>_codes` — no vector column exists in
    * that table, so the compressed-scan property holds by storage
    * construction, not just projection (PqSpec asserts the plan).
    * Full vectors enter via the rerank join against `<prefix>_vecs`,
    * `rerank` rows per query.
    *
    * Stage-1 scoring over the packed layout: the candidate's norm is
    * RECONSTRUCTED from its codes (a second [[graft.functions
    * .PqAdcPacked]] pass over the per-code squared norms — 2·m array
    * reads per pair total, still ≪ dim multiplies) instead of read
    * from storage. Ranking by `dot(q, recon(x)) / ‖recon(x)‖` is the
    * self-consistent quantized cosine; its measured worst true-top-k
    * rank is the SAME TunePq law as the stored-norm ranking (re-
    * measured: ≤30 in-cell on the gate fixtures vs ≤31 stored-norm;
    * SCALE.md "Round 17: the PQ index at its true entropy"),
    * and the exact re-rank restores exact output under the same
    * budget. The `greatest(…, 1e-12)` floor keeps a degenerate
    * all-hole candidate finite (it ranks arbitrarily, burns one
    * rerank slot, and exact re-rank disposes of it). The scored scan
    * is [[indexedScored]], which the stored ADC law reads too.
    */
  def ivfPqTopKIndexed(spark: SparkSession, tablePrefix: String, queries: DataFrame,
                       k: Int, m: Int, ksub: Int, nprobe: Int = 2,
                       rerank: Int = 64): DataFrame =
    rerankFromVecs(adcStage(indexedScored(spark, tablePrefix, queries, m, ksub, nprobe), rerank),
      spark.table(s"${tablePrefix}_vecs").select(col("id"), col("vec"), col("nrm")),
      queries, k)

  // the stored index as the packed serving scan reads it: the codes
  // table probed at `nprobe` cells, ranked by the recon-norm quantized
  // cosine. Serving and the stored ADC law share this ONE read of the
  // centroids, books and codes tables, so a law stored next to the
  // index budgets precisely the scan that will consume it.
  private def indexedScored(spark: SparkSession, tablePrefix: String, queries: DataFrame,
                            m: Int, ksub: Int, nprobe: Int): DataFrame = {
    val b = collectBooks(spark.table(s"${tablePrefix}_books"), m, ksub)
    val cn2 = typedLit(PqCodec.codeNorms(b.arr, b.dsub).toSeq)
    val cIdx = spark.table(s"${tablePrefix}_codes")
      .select(col("cell"), col("id").as("nbr_id"), col("codes"))
    scored(cIdx,
      queryLuts(queries, b, Some(spark.table(s"${tablePrefix}_centroids") -> nprobe)),
      Seq("cell"),
      PqAdcPacked(col("codes"), col("lut"), b.m, b.ksub) /
        sqrt(greatest(PqAdcPacked(col("codes"), cn2, b.m, b.ksub), lit(1e-12))))
  }

  /** The build-time measurement sample the stored laws are derived
    * from: `sampleN` stored vectors in deterministic xxhash64(id)
    * order — spread across the whole id range, NOT the smallest ids.
    * An id-prefix sample measures whatever cohort happens to occupy
    * the low ids (in an append-ordered corpus, the oldest batch) and
    * its worst-case ranks transfer badly to population queries; the
    * hash order is id-uniform by construction, deterministic across
    * runs, and costs one bounded TopK over the vecs table. Exposed so
    * audits can serve the EXACT sampled vectors the laws measured
    * (where the stored-law contract promises exactness, not just
    * margin coverage).
    */
  def lawsSample(spark: SparkSession, tablePrefix: String, sampleN: Int): DataFrame =
    spark.table(s"${tablePrefix}_vecs").select(col("id"), col("vec"))
      .orderBy(xxhash64(col("id")), col("id")).limit(sampleN)

  /** Measure BOTH dispatch laws against a persisted [[saveIvfPqIndex]]
    * index and store them beside it as `<prefix>_laws` (one row:
    * measure_k, sample_n, cell_rank, adc_rank, nprobe, n_cells,
    * corpus_n, build_id) — the production shape of a8's recipe: laws
    * are measured ONCE, at build/tune time, and serving
    * ([[ivfPqTopKIndexedAuto]]) is pure plan construction plus two
    * tiny metadata reads. The sample is the `sampleN` smallest-id
    * stored vectors self-queried at `k = measureK`; the ADC law is
    * measured over the STORED packed tables with the recon-norm
    * ranking serving actually uses ([[indexedScored]]), not an
    * in-memory stand-in. The row also persists the DIAL the ADC
    * law was measured at (`nprobe = 2 · cell_rank`, capped) —
    * serving probes at exactly that stored dial, so a serve-time
    * margin choice can never probe cells the stored ADC law did not
    * cover — and the codes table's build fingerprint, so laws
    * measured against an index that was since REBUILT refuse loudly
    * instead of silently serving stale dials.
    *
    * Lifecycle note — why this is NOT part of the [[graft.index
    * .StoredIndex]] build/append contract: the laws are a TUNING
    * artifact of the corpus distribution at measure time, like a
    * FAISS user's tuned nprobe. `append` batches do not invalidate
    * them gradually (the margin covers drift; re-run after
    * significant growth) but a REBUILD invalidates them completely —
    * [[graft.index.IvfPqIndex]] therefore owns `<prefix>_laws` as a
    * derived table (dropped on build/drop), and the fingerprint
    * check backstops any laws table that escapes that lifecycle.
    */
  def saveIvfPqLaws(spark: SparkSession, tablePrefix: String, measureK: Int,
                    m: Int, ksub: Int, sampleN: Int = 32): Unit = {
    val corpus = spark.table(s"${tablePrefix}_vecs").select(col("id"), col("vec"))
    val centroids = spark.table(s"${tablePrefix}_centroids")
    val sample = lawsSample(spark, tablePrefix, sampleN)
    // the brute pass and the two scalar counts are independent —
    // overlap them (the ivfPqTopKAuto rationale); the law chain
    // cellRank → nprobe → adcRank is inherently sequential
    val (tops, (nCells, n)) = graft.core.Par.par2(
      Ann.bruteForceTopK(corpus, sample, measureK)
        .select(col("query_id"), col("nbr_id")).localCheckpoint(true),
      graft.core.Par.par2(centroids.count(), corpus.count()))
    // the build already persisted the exact (id → cell) assignment the
    // index serves with — <prefix>_codes carries `cell` per id — so the
    // cell law is measured against the STORED assignment instead of
    // re-running the n×cells corpus scoring pass ([[Ann.assignCells]]):
    // one corpus-sized job disappears, and the law is measured on
    // precisely the relation serving reads (the assignment is
    // deterministic, so the two are identical by construction;
    // PqSpec pins it).
    val cellNeeded = measuredCellRankFromCells(tops,
      spark.table(s"${tablePrefix}_codes").select(col("id").as("nbr_id"), col("cell")),
      sample, centroids)
    val nprobe = probeDial(cellNeeded, nCells)
    // reclaim of the laws location (the StoredIndex.resetStorage
    // rationale: a previous session may have left the directory
    // without a metastore entry, and saveAsTable would then fail the
    // CREATE with LOCATION_ALREADY_EXISTS; goes through the
    // warehouse's Hadoop FileSystem so an HDFS/S3 warehouse reclaims
    // too) touches only <prefix>_laws, which the ADC measurement
    // never reads — overlap the two
    val (adcNeeded, _) = graft.core.Par.par2(
      measuredRank(indexedScored(spark, tablePrefix, sample, m, ksub, nprobe), tops), {
        spark.sql(s"DROP TABLE IF EXISTS ${tablePrefix}_laws")
        graft.index.StoredIndex.reclaimLocation(spark, s"${tablePrefix}_laws")
      })
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(measureK, sampleN, cellNeeded,
        adcNeeded, nprobe, nCells, n, codesBuildId(spark, tablePrefix))), 1),
      StructType.fromDDL("measure_k INT NOT NULL, sample_n INT NOT NULL, " +
        "cell_rank INT NOT NULL, adc_rank INT NOT NULL, nprobe INT NOT NULL, " +
        "n_cells BIGINT NOT NULL, corpus_n BIGINT NOT NULL, build_id STRING NOT NULL"))
      .write.mode("overwrite").format("parquet")
      .saveAsTable(s"${tablePrefix}_laws")
  }

  /** Serve from the stored index with the STORED laws — a8's dispatch
    * with ZERO serve-time measurement: read the one-row `<prefix>_laws`
    * table, refuse to the exact scan (over `<prefix>_vecs`) when the
    * build-time law says the quantizer does not separate this corpus
    * (`cell_rank > probeFrac · n_cells`) or the margined rerank
    * exceeds `budgetFrac` of the corpus, else run the packed probe at
    * the stored dials. Exactness stance: the laws were measured on
    * the build-time sample at `measure_k`; serving a sampled vector
    * at `k ≤ measure_k` is exact by construction, anything else is
    * margin-covered (the a7/a8 contract). `k > measure_k` refuses
    * loudly — a stored law cannot budget a deeper search than it
    * measured — and so does a laws row whose build fingerprint no
    * longer matches the codes table (the index was rebuilt since the
    * laws were measured; the dials describe a corpus that no longer
    * exists). The probe runs at the STORED `nprobe` — the dial the
    * ADC law was measured at — so the serve-time margin pads only the
    * rerank depth, never the probe width.
    */
  def ivfPqTopKIndexedAuto(spark: SparkSession, tablePrefix: String,
                           queries: DataFrame, k: Int, m: Int, ksub: Int,
                           probeFrac: Double = 0.5, budgetFrac: Double = 0.02): DataFrame = {
    val law = spark.table(s"${tablePrefix}_laws").head()
    val storedBuild = law.getAs[String]("build_id")
    val liveBuild = codesBuildId(spark, tablePrefix)
    require(storedBuild == liveBuild,
      s"stored laws were measured against ${tablePrefix}_codes build " +
        s"'$storedBuild' but the live table is build '$liveBuild' — the index " +
        "was rebuilt since; re-run saveIvfPqLaws")
    val measureK = law.getAs[Int]("measure_k")
    require(k <= measureK,
      s"stored laws were measured at k=$measureK and cannot budget k=$k; " +
        s"re-run saveIvfPqLaws(measureK >= $k)")
    val cellRank = law.getAs[Int]("cell_rank")
    val adcRank = law.getAs[Int]("adc_rank")
    val nprobe = law.getAs[Int]("nprobe")
    val nCells = law.getAs[Long]("n_cells")
    val corpusN = law.getAs[Long]("corpus_n")
    rerankBudget(adcRank, corpusN, budgetFrac) match {
      case Some(rerank) if !refusesCells(cellRank, nCells, probeFrac) =>
        ivfPqTopKIndexed(spark, tablePrefix, queries, k, m, ksub, nprobe, rerank)
      case _ => Ann.bruteForceTopK(
        spark.table(s"${tablePrefix}_vecs").select(col("id"), col("vec")), queries, k)
    }
  }

  // the query side of every ADC join: each query's baked lookup
  // table, (query_id, lut) for a full scan or, given `probe =
  // Some(centroids -> nprobe)`, (query_id, cell, lut) over its nprobe
  // nearest cells ([[Ann.assignN]])
  private def queryLuts(queries: DataFrame, b: PqBooks,
                        probe: Option[(DataFrame, Int)] = None): DataFrame = {
    def lut(v: Column) = PqLut(v, b.arr, b.present, b.m, b.ksub, b.dsub).as("lut")
    probe match {
      case None => queries.select(col("id").as("query_id"), lut(col("vec")))
      case Some((centroids, nprobe)) =>
        Ann.assignN(queries, centroids, nprobe, "query_id", "qvec", "qnorm")
          .select(col("query_id"), col("cell"), lut(col("qvec")))
    }
  }

  // the scored-candidate join every ADC consumer reads: the (broadcast
  // query × candidate) product — equi-keyed on `joinKeys` when probing
  // cells, the full product when scanning — with its ADC score `qsim`.
  // The default reads a stored cnorm (in-memory paths, where norms are
  // free); the packed indexed path passes the recon-norm form instead.
  // (qnorm divides identically on every candidate of a query — it
  // cannot change the per-query ADC ranking, so scoring skips it.)
  private def scored(cIdx: DataFrame, qIdx: DataFrame, joinKeys: Seq[String] = Nil,
                     qsim: Column = PqAdc(col("codes"), col("lut")) / col("cnorm"))
      : DataFrame = {
    val q = broadcast(qIdx.select(
      (col("query_id") +: joinKeys.map(col)) :+ col("lut"): _*))
    val joined =
      if (joinKeys.isEmpty) cIdx.join(q, col("query_id") =!= col("nbr_id"))
      else cIdx.join(q, joinKeys).filter(col("query_id") =!= col("nbr_id"))
    joined.withColumn("qsim", qsim)
  }

  // stage 1 of a serve: keep the top `rerank` ids per query with the
  // bounded TopKAgg (map-side combine; ≤rerank rows per query per
  // partition cross the shuffle, never the scored product)
  private def adcStage(scored: DataFrame, rerank: Int): DataFrame =
    scored
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAgg.distinct(col("qsim"), col("nbr_id"), rerank).as("top"))
      .select(col("query_id"), explode(col("top.tag")).as("nbr_id"))

  /** The ADC half of every measured dispatch law: the worst rank, in
    * (qsim desc, nbr_id asc) order over the scored candidates, of any
    * true top-k answer in `tops` (query_id, nbr_id) — the law TunePq
    * measured (deleted in 8a94aaa) and SpotPq replays per scale
    * (SPOTCHECK_pq.txt). Over the full scan it budgets
    * [[pqTopKAuto]]'s rerank; over the probed cells,
    * [[ivfPqTopKAuto]]'s; over [[indexedScored]], the stored law of
    * [[saveIvfPqLaws]]. The ranked relation stays
    * distributed; only the 1-row max is collected.
    */
  private def measuredRank(scored: DataFrame, tops: DataFrame): Int = {
    val row = scored
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("qsim").desc, col("nbr_id").asc)))
      .join(broadcast(tops), Seq("query_id", "nbr_id"))
      .agg(max(col("r"))).head()
    // empty sample/corpus → no true pairs → max is null; 0 keeps the
    // caller's dispatch well-defined (budget floors at 16) instead of
    // NPE-ing the one search API that would otherwise not return
    // empty gracefully
    if (row.isNullAt(0)) 0 else row.getInt(0)
  }

  // stage 2: bare (query, nbr) id pairs pull full-precision vectors
  // back in; exact cosine; final top-k — byte-identical scoring to
  // bruteForceTopK/ivfTopK, which is what makes the exact oracles
  // transfer.
  private def rerankStage(cands: DataFrame, corpus: DataFrame,
                          queries: DataFrame, k: Int): DataFrame =
    rerankFromVecs(cands,
      corpus.select(col("id"), col("vec"), VectorOps.fnorm(col("vec")).as("nrm")),
      queries, k)

  private def rerankFromVecs(cands: DataFrame, vecs: DataFrame,
                             queries: DataFrame, k: Int): DataFrame = {
    val rescored = cands
      .join(vecs.select(col("id").as("nbr_id"), col("vec").as("cvec"),
        col("nrm").as("cnorm")), Seq("nbr_id"))
      .join(broadcast(queries.select(col("id").as("query_id"), col("vec").as("qv"),
        VectorOps.fnorm(col("vec")).as("qnorm"))), Seq("query_id"))
      .withColumn("sim",
        VectorOps.cosinePre(col("qv"), col("cvec"), col("qnorm"), col("cnorm")))
    Ann.topK(rescored, k, dedup = true)
  }
}
