package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Partitioning.spread
import graft.functions.VectorOps

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Two strategies:
  *   - [[bruteForceTopK]] — exact: broadcast the (small) query set
  *     against the corpus, one scan, windowed top-k. The correctness
  *     baseline and the right plan whenever |queries| is small enough
  *     to broadcast (the common case: a query batch vs a 100 TB
  *     corpus — embarrassingly parallel, no shuffle of the corpus).
  *   - [[cosineNearDupPairsLSH]] / [[cosineKnnGraphLSH]] — signed-
  *     random-hyperplane bucketing: vectors are bucketed by sketch and
  *     only same/near buckets are compared (a bucket equi-join instead
  *     of a cross product). Multi-probe (flipping each sketch bit)
  *     recovers most recall.
  */
object Ann {

  /** Exact top-k cosine neighbors for each query vector.
    *
    * @param corpus  (id, vec) rows
    * @param queries (id, vec) rows — must be broadcast-sized
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = spread(corpus).select(
      col("id").as("nbr_id"), col("vec").as("cvec"),
      VectorOps.fnorm(col("vec")).as("cnorm"))
    val q = queries.select(
      col("id").as("query_id"), col("vec").as("qvec"),
      VectorOps.fnorm(col("vec")).as("qnorm"))
    val scored = c
      .join(broadcast(q), col("query_id") =!= col("nbr_id"))
      .withColumn("sim",
        VectorOps.cosinePre(col("qvec"), col("cvec"), col("qnorm"), col("cnorm")))
    // bounded map-side top-k (TopKAgg), not a row_number window: the
    // window would shuffle + totally sort the |corpus|×|queries|
    // scored product; the aggregator ships ≤k rows per query per
    // partition (same (sim desc, nbr_id asc) order)
    topK(scored, k)
  }

  // shared tail of every top-k search: per-query bounded aggregation
  // over (query_id, nbr_id, sim) candidates → (query_id, nbr_id,
  // sim, rank), ranked (sim desc, nbr_id asc) exactly like the
  // row_number window it replaces. `dedupTags` additionally keeps one
  // (best) entry per nbr — subsuming a dropDuplicates(query, nbr)
  // that would otherwise shuffle the candidate multiset with its
  // wide vector payloads still attached.
  private[ann] def topK(scored: DataFrame, k: Int,
                        dedup: Boolean = false): DataFrame = {
    val agg =
      if (dedup) graft.functions.TopKAgg.distinct(col("sim"), col("nbr_id"), k)
      else graft.functions.TopKAgg(col("sim"), col("nbr_id"), k)
    scored
      .groupBy(col("query_id"))
      .agg(agg.as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), col("t.tag").as("nbr_id"),
        col("t.score").as("sim"), (col("pos") + 1).as("rank"))
  }

  /** Two-stage SQ8 search: stage 1 ranks every (query, corpus) pair
    * by the int8-quantized dot product — EXACT integer arithmetic
    * over the 4×-compressed representation ([[Quantize.int8]]), so
    * at scale the scoring scan reads a quarter of the bytes and does
    * integer (SIMD-friendly) math — and keeps the top `rerank` ids
    * per query. Stage 2 re-joins ONLY those ids to the full-precision
    * vectors (bare id pairs cross the shuffle, never payloads) and
    * re-ranks by exact cosine. With `rerank` ≫ k the quantized
    * candidate set contains the exact top-k (spec-checked against
    * [[bruteForceTopK]] on the gate fixtures), so the output EQUALS
    * brute force while the full-precision vectors are touched for
    * only `rerank` rows per query.
    */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                    rerank: Int = 64): DataFrame = {
    def enc(df: DataFrame) = df
      .join(Quantize.int8(df, "id", "vec").select(col("id"), col("scale"), col("qvec")),
        Seq("id"))
      .select(col("id"), col("vec"), col("scale"), col("qvec"),
        VectorOps.fnorm(col("vec")).as("nrm"))
    val c = enc(corpus)
    val q = enc(queries)
    // stage 1 reads only the quantized index (qvec, scale, nrm) —
    // the full float vectors stay out of the broadcast product
    val cIdx = c.select(col("id").as("nbr_id"), col("qvec").as("cq"),
      col("scale").as("cscale"), col("nrm").as("cnorm"))
    val qIdx = q.select(col("id").as("query_id"), col("qvec").as("qq"),
      col("scale").as("qscale"), col("nrm").as("qnorm"))
    // fused codegen integer dot (graft.functions.IntDotProduct): the
    // composable aggregate(zip_with(...)) form allocates per pair and
    // interprets its lambdas — stage 1 touches every (query, corpus)
    // pair, so it gets the same fused-loop treatment as the float path
    val intDot = graft.functions.IntDotProduct(col("qq"), col("cq"))
    // stage-1 candidate cut is a bounded aggregation (TopKAgg), not a
    // window: the window would shuffle + sort the full quantized
    // product; the aggregator ships ≤rerank rows per query per
    // partition
    val cands = cIdx.join(broadcast(qIdx), col("query_id") =!= col("nbr_id"))
      .withColumn("qsim", intDot.cast("double") * col("qscale") * col("cscale") /
        (col("qnorm") * col("cnorm")))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAgg(col("qsim"), col("nbr_id"), rerank).as("top"))
      .select(col("query_id"), explode(col("top.tag")).as("nbr_id"))
    // stage 2: bare (query, nbr) ids pull full vectors back in
    val rescored = cands
      .join(c.select(col("id").as("nbr_id"), col("vec").as("cvec"),
        col("nrm").as("cnorm")), Seq("nbr_id"))
      .join(broadcast(q.select(col("id").as("query_id"), col("vec").as("qv"),
        col("nrm").as("qnorm"))), Seq("query_id"))
      .withColumn("sim",
        VectorOps.cosinePre(col("qv"), col("cvec"), col("qnorm"), col("cnorm")))
    topK(rescored, k)
  }

  /** Table count needed to hold the hyperplane-LSH recall budget at a
    * given scale — the executable form of the honest-recall math in
    * SCALE.md (validated against measurement at sf1 by tools/SpotSf1:
    * predicted 309 misses vs 285 measured for 6×48 over 16,778 pairs).
    *
    * A pair at similarity `sim` collides in one `planes`-bit table
    * with probability p^planes where p = 1 − acos(sim)/π, so it is
    * missed by all `tables` tables with probability
    * (1 − p^planes)^tables — independent of corpus size. EXPECTED
    * misses therefore grow with the true-pair count, which is why a
    * config tuned to measured recall 1.0 at one scale silently drops
    * pairs at 10×. Bounding every pair by the worst case (sim = the
    * threshold `minCos`), expected misses ≤ ε needs
    *
    *   tables ≥ ln(expectedPairs / ε) / −ln(1 − p^planes)
    *
    * — LOGARITHMIC in the pair count, so exactness stays affordable
    * at any scale you can estimate (and a sampled pair-count estimate
    * is one cheap pre-pass). ε is expected MISSED PAIRS, not a rate:
    * ε = 0.05 makes a single dropped pair 20-to-1 unlikely; for a
    * recall target instead, pass ε = (1 − recall) × expectedPairs.
    */
  def tablesForRecall(minCos: Double, planes: Int,
                      expectedPairs: Double, maxExpectedMisses: Double): Int = {
    require(minCos > -1 && minCos < 1 && planes > 0 &&
      expectedPairs > 0 && maxExpectedMisses > 0, "out-of-range recall budget")
    val p = 1.0 - math.acos(minCos) / math.Pi
    val missPerTable = 1.0 - math.pow(p, planes)
    // when p^planes underflows to 0, missPerTable rounds to exactly
    // 1.0 and −log(1.0) = 0 → +Infinity → toInt saturates at
    // Int.MaxValue — a nonsensical "answer" for a configuration NO
    // table count can satisfy. Fail loudly instead.
    require(missPerTable < 1.0,
      s"unsatisfiable recall budget: a $planes-plane table at minCos=$minCos has " +
      "collision probability that underflows to 0 — use fewer planes per table")
    math.ceil(math.log(expectedPairs / maxExpectedMisses) / -math.log(missPerTable)).toInt.max(1)
  }

  // The sampled pre-flights' fixed dials: a 2000-vector sample (2 M
  // scored pairs, see [[pairSample]]) and an expected-miss budget of
  // 0.05, which makes even one dropped pair 20-to-1 unlikely.
  private val SampleSize = 2000
  private val MissBudget = 0.05

  /** The one hash-sampled pre-flight every LSH sizing law reads: the
    * corpus count `n` and a deterministic hash-sample of
    * s = min(sampleSize, n) vectors self-joined on a < b, each pair
    * with its cosine — (va, vb, sim). Hash-ordering makes the sample a
    * pure function of the ids, so every law measured on it replays
    * identically across runs and engines; the corpus itself is scanned
    * once (per-partition top-s, nothing corpus-sized shuffles), and
    * the ≤ s²/2 scored pairs are fused dots — trivial. A sampled pair
    * count scales to the corpus by n(n−1)/s(s−1) ([[PairSample.scale]]).
    * Pair counts at a fixed τ concentrate tightly under uniform
    * sampling (each sampled pair is an unbiased indicator), so
    * s = 2000 — 2 M scored pairs — bounds the relative error at the
    * few-percent level that a LOGARITHMIC consumer like
    * [[tablesForRecall]] shrugs off: ±30% on the estimate moves T by
    * ±ln(1.3)/−ln(miss) ≈ ±4 tables at the d5 gate config.
    */
  private[graft] final case class PairSample(n: Long, s: Long, pairs: DataFrame) {
    /** A count over the sampled pairs, scaled to the corpus (0 when
      * fewer than two vectors were sampled: no pair exists). */
    def scale(sampled: Long): Double =
      if (s < 2) 0.0 else sampled.toDouble * (n.toDouble * (n - 1)) / (s.toDouble * (s - 1))
  }

  private[graft] def pairSample(df: DataFrame, sampleSize: Int, seed: Long): PairSample = {
    val n = df.count()
    val s = math.min(sampleSize.toLong, n)
    val v = df.select(col("id"), col("vec"))
      .orderBy(xxhash64(col("id"), lit(seed)), col("id"))
      .limit(s.toInt)
      .select(col("id"), col("vec"), VectorOps.fnorm(col("vec")).as("nrm"))
    // spread the streamed side of the s²/2 sampled product: orderBy +
    // limit leaves ONE partition, which would run every sampled cosine
    // (and the multi-probe trial sketches of its survivors) on one
    // core (see Partitioning.spread)
    val pairs = spread(v).select(col("id").as("a"), col("vec").as("va"), col("nrm").as("na"))
      .join(broadcast(v.select(col("id").as("b"), col("vec").as("vb"), col("nrm").as("nb"))),
        col("a") < col("b"))
      .select(col("va"), col("vb"),
        VectorOps.cosinePre(col("va"), col("vb"), col("na"), col("nb")).as("sim"))
    PairSample(n, s, pairs)
  }

  // The analytic single-probe sizing: the recall-budget law at the
  // estimated pair count (at least one), floored at 8 (the historic
  // fixture default) so tiny/empty corpora still get a multi-table
  // index rather than a degenerate one.
  private def singleProbeTables(minCos: Double, planes: Int, estPairs: Double,
                                maxExpectedMisses: Double): Int =
    tablesForRecall(minCos, planes, math.max(estPairs, 1.0), maxExpectedMisses).max(8)

  /** Sampled estimate of the corpus' true ≥ `minCos` pair count — the
    * cheap pre-pass that feeds [[tablesForRecall]]: the [[pairSample]]
    * pairs at or above `minCos`, scaled to the corpus.
    */
  def estimatePairCount(df: DataFrame, minCos: Double,
                        sampleSize: Int = SampleSize, seed: Long = 42L): Double = {
    val ps = pairSample(df, sampleSize, seed)
    if (ps.s < 2) 0.0 else ps.scale(ps.pairs.filter(col("sim") >= minCos).count())
  }

  /** The measured-at-scale sizing law as a default: table count for
    * exactness-at-budget on THIS corpus, from a sampled pair-count
    * estimate fed to [[tablesForRecall]] at the 0.05 expected-miss
    * budget, floored at 8.
    */
  def autoTables(df: DataFrame, minCos: Double, planes: Int, seed: Long = 42L): Int =
    singleProbeTables(minCos, planes, estimatePairCount(df, minCos, seed = seed), MissBudget)

  /** One sampled pre-flight, four numbers: the corpus count, the
    * estimated true ≥τ pair count, the recall-budget table count for
    * it, and — the exact join's pre-flight volume
    * (`NgramJaccard.volumeOfPostings`) applied to the sketch join —
    * the expected CANDIDATE FRACTION: the probability a background
    * pair (sim drawn from the sampled all-pairs distribution) collides
    * in ≥ 1 of the `tables` tables, E[1 − (1 − p(sim)^planes)^T]. That
    * fraction is what decides whether bucketing actually prunes: at a
    * gap-less τ it approaches 1 (SCALE.md's measured 82% at the d5
    * gate — LSH then wins only by its distributable equi-join SHAPE,
    * never by comparison count), while at a real near-dup τ it
    * collapses and the index is doing its job. One hash-sample is
    * scored once (≤ 2000² fused dots) and feeds all of them.
    */
  def lshProfile(df: DataFrame, minCos: Double, planes: Int, seed: Long = 42L): LshProfile = {
    val ps = pairSample(df, SampleSize, seed)
    if (ps.s < 2) return LshProfile(ps.n, 0.0, 8, 0.0)
    val sims = ps.pairs.select(col("sim"))
      .localCheckpoint(eager = false) // consumed by two aggregates
    val estPairs = ps.scale(sims.filter(col("sim") >= minCos).count())
    val tables = singleProbeTables(minCos, planes, estPairs, MissBudget)
    val p = pow(lit(1.0) - acos(greatest(lit(-1.0), least(col("sim"), lit(1.0)))) / lit(math.Pi),
      lit(planes))
    val frac = sims.agg(avg(lit(1.0) - pow(lit(1.0) - p, lit(tables))))
      .collect().head.getDouble(0)
    LshProfile(ps.n, estPairs, tables, frac)
  }

  /** See [[lshProfile]]. */
  final case class LshProfile(n: Long, estPairs: Double, tables: Int, candidateFraction: Double)

  /** (keep…, table, bucket) rows of the width-(probes+1) hyperplane
    * emission ([[graft.functions.HyperplaneProbeSketches]]): array slot
    * `pos` belongs to table `pos DIV (probes+1)`. At probes = 0 the
    * slot IS the table, so the plan carries no division.
    */
  private def sketchRows(df: DataFrame, keep: Seq[Column], dim: Int, planes: Int,
                         tables: Int, seed: Long, probes: Int): DataFrame = {
    val sketches = graft.functions.HyperplaneProbeSketches(
      col("vec"), dim, planes, tables, seed, probes)
    if (probes == 0) df.select(keep :+ posexplode(sketches).as(Seq("table", "bucket")): _*)
    else {
      val rows = df.select(keep :+ posexplode(sketches).as(Seq("pos", "bucket")): _*)
      rows.select(rows.columns.dropRight(2).toSeq.map(col) :+
        expr(s"pos DIV ${probes + 1}").as("table") :+ col("bucket"): _*)
    }
  }

  /** EXACT candidate volume of a [[cosineNearDupPairsLSH]] config on
    * THIS corpus — the vector-side analogue of
    * `NgramJaccard.volumeOfPostings`: one sketch pass and one
    * group-by, linear in `tables × n`, no pair ever materialized.
    * Where [[lshProfile]]'s `candidateFraction` is a sampled
    * ESTIMATE of the distinct-pair collision probability, this is
    * the exact MULTISET count Σ c·(c−1)/2 over every (table, bucket)
    * — the number of fused dot products the join will actually
    * evaluate (cross-table re-collisions included, exactly as the
    * join pays for them). The two agree within the multiplicity of
    * true near-dups (few, by definition at a selective τ), so either
    * can veto a config; this one also surfaces `max_bucket`, the
    * skew bound on a single join task. One row:
    * (bucket_rows, distinct_buckets, max_bucket, candidate_volume).
    * `candidate_volume` stays in Long arithmetic end to end for the
    * same ~1e15-regime reason as the n-gram form.
    *
    * `probes` prices the widened emission: Σ e·(e−1)/2 over every
    * (table, bucket) of the width-(probes+1) multiset. A point emits
    * at most one entry per (table, bucket) (distinct single-bit flips
    * are distinct buckets), so e counts distinct points and the
    * self-pair term subtracts exactly.
    */
  def lshCandidateVolume(df: DataFrame, dim: Int, planes: Int,
                         tables: Int, seed: Long = 42L, probes: Int = 2): DataFrame =
    sketchRows(df, Nil, dim, planes, tables, seed, probes)
      .groupBy(col("table"), col("bucket")).agg(count(lit(1)).as("len"))
      .agg(sum(col("len")).as("bucket_rows"),
        count(lit(1)).as("distinct_buckets"),
        max(col("len")).as("max_bucket"),
        sum(expr("len * (len - 1) DIV 2")).as("candidate_volume"))

  /** Thresholded kNN graph via LSH: for EVERY vector, its top-k
    * neighbors among those with cosine ≥ `minCos` — the similarity
    * graph behind near-dup clustering and semantic dedup, built from
    * [[cosineNearDupPairsLSH]]'s bucket self-join (never all-pairs;
    * nothing is broadcast, so the query side may be the whole
    * corpus). Thresholding is what makes LSH *exact* here: with
    * (planes, tables) tuned to recall 1.0 at `minCos` (SCALE.md,
    * "ANN exactness gates"; the tuners, deleted in 8a94aaa, are
    * listed in FIXTURES.md), every qualifying
    * pair collides in some table, so the graph equals the brute-force
    * thresholded graph — unthresholded global top-k has no such
    * guarantee (the k-th neighbor can be near-orthogonal, which no
    * sublinear index recalls reliably).
    */
  def cosineKnnGraphLSH(df: DataFrame, minCos: Double, k: Int, dim: Int,
                        planes: Int = 10, tables: Int = -1,
                        seed: Long = 42L): DataFrame = {
    // a pinned table count keeps the single-probe emission it was
    // tuned at (a2's 48 tables); unpinned, the pair join's measured
    // multi-probe sizing applies.
    // The pair plan (48-table bucket join + verify) feeds BOTH union
    // branches; checkpoint the tiny thresholded pair set so the LSH
    // pipeline executes once, not once per direction (exchange reuse
    // does not cover the post-shuffle verify operators). The
    // checkpoint hides the bucket self-join from the returned plan;
    // PlanAuditSpec audits it from the checkpoint action's own
    // QueryExecution.
    val pairs = cosineNearDupPairsLSH(df, minCos, dim, planes, tables, seed,
      probes = if (tables > 0) 0 else 2)
    knnFromPairs(pairs.localCheckpoint(eager = false), k)
  }

  /** The top-k step of [[cosineKnnGraphLSH]] over an already-built
    * undirected (a, b, sim) pair set — factored out so cross-path
    * checks (LSH vs exact ε-graph at scale, `tools/SpotSf1`) run the
    * IDENTICAL downstream dataflow on both graphs.
    */
  def knnFromPairs(undirected: DataFrame, k: Int): DataFrame = {
    val directed = undirected
      .select(col("a").as("query_id"), col("b").as("nbr_id"), col("sim"))
      .unionByName(undirected
        .select(col("b").as("query_id"), col("a").as("nbr_id"), col("sim")))
    // bounded aggregation, not a window: the window would totally
    // sort both directions of the survivor graph; TopKAgg ships ≤k
    // rows per vector per partition
    topK(directed, k)
  }

  /** Distributed fixed-iteration spherical k-means — the coarse
    * quantizer builder for [[ivfTopK]] and SemDeDup-style semantic
    * dedup, so cell count is a real scale knob (thousands of cells
    * on a real corpus) instead of whatever labels happen to exist.
    *
    * Deterministic and cross-engine replayable by construction (the
    * v1/a3 recipe): seeds are the `k` vectors with the smallest
    * md5(id) (hash-sampled, any engine recomputes the same set),
    * assignment is [[assignCells]]' argmax cosine with ties to the
    * lowest cell, the update is the per-(cell, pos) double mean
    * ROUNDED to 6 decimals (round-6 absorbs float partial-sum
    * order), and the iteration count is FIXED — no convergence test,
    * so the recursion unrolls identically everywhere. A cell that
    * loses all members disappears (standard k-means behavior, same
    * on every engine).
    *
    * Scale shape: per iteration, one broadcast join against the
    * k×dim centroid table (vectors never shuffle for assignment) and
    * one (cell, pos)-keyed aggregate whose width is cells × dims,
    * not corpus size. Each round's centroids are lazily
    * localCheckpointed so the lineage stays flat across iterations.
    */
  def kmeansCentroids(vecs: DataFrame, k: Int, iters: Int): DataFrame = {
    val hashed = vecs.select(col("id"), col("vec"),
      graft.functions.Md5Bucket60(
        concat_ws("|", lit("km"), col("id").cast("string"))).as("hkey"))
    val seedW = Window.orderBy(col("hkey"), col("id"))
    var cents = hashed.orderBy(col("hkey"), col("id")).limit(k)
      .withColumn("cell", (row_number().over(seedW) - 1).cast("long"))
      .select(col("cell"),
        transform(col("vec"), x => round(x.cast("double"), 6)).as("vec"))
    for (_ <- 1 to iters) {
      val assigned = assignCells(vecs, cents).select(col("id"), col("cell"))
      cents = vecs.join(assigned, Seq("id"))
        .select(col("cell"), posexplode(col("vec")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(round(avg(col("x").cast("double")), 6).as("m"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell"), transform(col("pm"), p => p.getField("m")).as("vec"))
        .localCheckpoint(false)
    }
    cents
  }

  /** Nearest-cell assignment: (id, vec) rows × (cell, vec) centroids
    * → (id, cell, ccos), each vector's argmax cell (ties to the
    * lowest cell id) and its cosine to that centroid. The coarse-
    * quantizer step shared by [[ivfTopK]] and SemDeDup-style
    * semantic dedup.
    *
    * Scale shape: scoring is the broadcast (row × cell) product kept
    * entirely inside one codegen stage — [[graft.functions.DotProduct]]
    * (fused loop, float OR double centroid elements, bit-identical to
    * the HOF form the oracle replays) feeds a `max(struct(csim,
    * -cell, cell))` aggregate whose partial (map-side) combine reduces
    * the n·k scored rows to n BEFORE the exchange, so the shuffle
    * carries one narrow row per vector no matter how many cells the
    * k* = √n sizing rule asks for. The previous window form shuffled
    * all n·k rows still carrying both vector arrays — measured 8× on
    * sf1's auto-k path. The struct ordering replays the window's
    * `csim DESC, cell ASC` exactly: struct max compares csim first
    * with Spark's NaN-is-greatest total order (identical to what the
    * desc sort used), then -cell breaks ties toward the lowest cell.
    */
  def assignCells(vecs: DataFrame, centroids: DataFrame): DataFrame =
    nearestCell(cellScores(vecs, centroids, "id", "vec", "nrm")._2, "id")

  // every (row, cell) cosine of a (id, vec) side against broadcast
  // centroids: the side's base projection (idAs, vecAs, normAs) and
  // the narrow scored product (idAs, cell, csim). Scoring is the fused
  // [[graft.functions.DotProduct]] (float or double centroid elements,
  // bit-identical to the HOF form the oracle replays).
  private[ann] def cellScores(df: DataFrame, centroids: DataFrame, idAs: String,
                              vecAs: String, normAs: String): (DataFrame, DataFrame) = {
    val cents = broadcast(centroids.select(
      col("cell"), col("vec").as("centvec"),
      sqrt(VectorOps.dot(col("vec"), col("vec"))).as("centnorm")))
    val base = df.select(col("id").as(idAs), col("vec").as(vecAs),
      VectorOps.fnorm(col("vec")).as(normAs))
    (base, base.join(cents).select(col(idAs), col("cell"),
      (VectorOps.fdot(col(vecAs), col("centvec")) / (col(normAs) * col("centnorm"))).as("csim")))
  }

  // each row's argmax cell and its cosine, (idAs, cell, ccos), by the
  // struct max of [[assignCells]]' scale note
  private def nearestCell(scored: DataFrame, idAs: String): DataFrame =
    scored.select(col(idAs),
        struct(col("csim"), (-col("cell")).as("negcell"), col("cell")).as("sc"))
      .groupBy(col(idAs))
      .agg(max(col("sc")).as("best"))
      .select(col(idAs), col("best.cell").as("cell"), col("best.csim").as("ccos"))

  // each row's cells ranked `csim DESC (NaN first), cell ASC` as crank
  private[ann] def cellRanks(scored: DataFrame, idAs: String): DataFrame =
    scored.withColumn("crank", row_number().over(
      Window.partitionBy(col(idAs)).orderBy(col("csim").desc, col("cell").asc)))

  // nearest `n` cells for a (id, vec) side against broadcast
  // centroids, (idAs, vecAs, normAs, cell) out. Only narrow
  // (id, cell, csim) rows ever reach an exchange: n=1 (the corpus
  // side of every IVF build) aggregates the argmax with a map-side
  // partial combine — one row per vector crosses the wire — and
  // n>1 windows over the narrow projection; the wide vector columns
  // rejoin by id afterwards. Both forms replay the original window's
  // `csim DESC (NaN first), cell ASC` order exactly.
  private[ann] def assignN(df: DataFrame, centroids: DataFrame, n: Int,
                           idAs: String, vecAs: String, normAs: String): DataFrame = {
    val (base, scored) = cellScores(df, centroids, idAs, vecAs, normAs)
    val chosen =
      if (n == 1) nearestCell(scored, idAs)
      else cellRanks(scored, idAs).filter(col("crank") <= n)
    base.join(chosen.select(col(idAs), col("cell")), Seq(idAs))
      .select(col(idAs), col(vecAs), col(normAs), col("cell"))
  }

  /** The corpus side of an IVF index: each vector in its single
    * nearest cell, with its norm precomputed — (cell, id, vec, nrm).
    * This IS the expensive half of every [[ivfTopK]] call; the stored
    * IVF·PQ index ([[Pq.saveIvfPqIndex]]) persists it so serving
    * recomputes nothing.
    */
  def ivfAssignments(corpus: DataFrame, centroids: DataFrame): DataFrame =
    assignN(corpus, centroids, 1, "id", "vec", "nrm")
      .select(col("cell"), col("id"), col("vec"), col("nrm"))

  /** IVF (inverted-file) approximate top-k: a coarse quantizer — a
    * small broadcastable centroid table, e.g. k-means centroids or
    * per-label means — partitions the corpus into cells; each query
    * probes only its `nprobe` nearest cells. The corpus is scanned
    * once to assign cells (a broadcast join, no shuffle of vectors),
    * and scoring is a cell equi-join — the index structure behind
    * FAISS-style IVF-Flat, expressed relationally.
    *
    * @param centroids (cell, vec) rows — must be broadcast-sized
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
              k: Int, nprobe: Int = 2): DataFrame = {
    val c = ivfAssignments(corpus, centroids).select(col("cell"), col("id").as("nbr_id"),
      col("vec").as("cvec"), col("nrm").as("cnorm"))
    val q = assignN(queries, centroids, nprobe, "query_id", "qvec", "qnorm")
    // score each query's nprobe cells' members on the fused float
    // path, keep the per-query top k. (query, nbr) pairs are unique by
    // construction (each nbr lives in exactly one cell and a query's
    // probe cells are distinct) — the dedup in TopKAgg.distinct is
    // defensive; either way the old dropDuplicates + window double
    // shuffle collapses into one bounded aggregation
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("nbr_id"))
      .withColumn("sim",
        VectorOps.cosinePre(col("qvec"), col("cvec"), col("qnorm"), col("cnorm")))
    topK(scored, k, dedup = true)
  }

  /** Exact ε-graph: every (a < b) pair with cosine ≥ minCos, scored
    * by the broadcast brute-force form (the a1 baseline shape: the
    * corpus never shuffles, each partition scans against the
    * broadcast side). This is the RIGHT tool when the threshold is
    * unselective — a low-τ neighbor graph is near-quadratic however
    * it is found, and brute force skips the LSH candidate dedup that
    * then dominates ([[cosineNearDupPairsLSH]] stays the scale path
    * for selective thresholds, where bucketing actually prunes;
    * `DbscanSpec` pins both paths to identical output).
    */
  def cosinePairsExact(df: DataFrame, minCos: Double): DataFrame = {
    val v = df.select(col("id"), col("vec"), VectorOps.fnorm(col("vec")).as("nrm"))
    // spread the STREAMED side: the broadcast nested-loop product
    // evaluates |v|²/2 fused cosines, and a 1-split input runs them
    // all on one core (see Partitioning.spread)
    spread(v).select(col("id").as("a"), col("vec").as("va"), col("nrm").as("na"))
      .join(broadcast(v.select(col("id").as("b"), col("vec").as("vb"), col("nrm").as("nb"))),
        col("a") < col("b"))
      .withColumn("sim",
        VectorOps.cosinePre(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("sim") >= minCos)
      .select(col("a"), col("b"), col("sim"))
  }

  /** Scale path for embedding near-dup pairs: hyperplane-sketch
    * blocking (L tables), so candidate pairs come from bucket
    * self-joins instead of the all-pairs product; each candidate is
    * then exactly scored and thresholded. Recall depends on how far
    * τ's angle is from orthogonal — high for true near-dups
    * (cos ≥ 0.9), as the spec shows on clustered data.
    *
    * Margin-guided multi-probe emission: each vector emits, per
    * table, its base bucket plus `probes` one-bit-flips at its
    * smallest |projection| planes
    * ([[graft.functions.HyperplaneProbeSketches]]), and the self-join
    * matches on ANY emission collision — so a pair is caught not only
    * when a table's full signature agrees but also when it disagrees
    * in one straddled bit (either side's probe) or two (probe meets
    * probe). `probes = 0` is the classic single-probe join. What
    * probing buys at 100 TB: the sketch pass, the bucket-shuffle
    * bytes, and any persisted index all scale with tables × width × n
    * — the dominant cost at a selective τ where candidates track true
    * pairs (SPOTCHECK_tau) — while at a gap-less τ the candidate side
    * grows only by the in-bucket width factor.
    *
    * Sizing, three rules:
    *   - a pinned `tables > 0` keeps the caller's `probes` verbatim
    *     (gate/bench configs pin and stay pure plan construction);
    *   - unpinned with `probes > 0` (the default) sizes from THIS
    *     corpus' MEASURED per-table catch rate ([[mpSizing]]): identical
    *     (a, b, sim) output on every gated fixture, at 6–9× fewer
    *     tables for the same 0.05 expected-miss budget (sf1: 13 vs 180
    *     tables, 18.3 vs 69.0 s; sf10: 33 vs 236, 75 vs 159 s —
    *     SCALE.md). When the sample has no true pairs to measure a
    *     catch rate on, or the measured sizing fails to beat the
    *     analytic single-probe law strictly, the probes are DROPPED
    *     and the table count is the analytic one — the plan is then
    *     exactly the single-probe emission, never width× rows for no
    *     index saving;
    *   - unpinned with `probes = 0` uses the analytic [[autoTables]].
    * The un-pinned paths pay two cheap pre-flight actions, a count and
    * a 2000-vector sampled pair estimate. The r11 audit's lesson
    * governs: a fixed table count tuned to measured recall 1.0 at one
    * scale silently drops pairs at 10× (expected misses grow with the
    * true-pair count), so defaults must size to the corpus.
    *
    * `maxCandidateVolume` is the same loud-refusal guard as
    * `NgramJaccard.pairs`: when set below `Long.MaxValue`, one extra
    * linear pre-flight ([[lshCandidateVolume]] — exact, one sketch
    * pass, priced at the emission the join actually builds) counts the
    * dot products the bucket join would evaluate and throws if the
    * corpus is on the gap-less side of the cliff (SCALE.md: at τ with
    * no similarity gap, candidates are a constant fraction of n²/2 NO
    * MATTER the table sizing — the measured 82% at the d5 gate; at a
    * selective τ the same config prunes 5–70×, SPOTCHECK_tau.txt). The
    * default keeps the call pure plan construction.
    */
  def cosineNearDupPairsLSH(df: DataFrame, minCos: Double, dim: Int,
                            planes: Int = 10, tables: Int = -1,
                            seed: Long = 42L,
                            maxCandidateVolume: Long = Long.MaxValue,
                            probes: Int = 2): DataFrame = {
    val (nTables, effProbes) =
      if (tables > 0) (tables, probes)
      else if (probes > 0) {
        val p = math.min(probes, planes - 1)
        val (t, pays) = mpSizing(df, minCos, dim, planes, p, seed)
        (t, if (pays) p else 0)
      } else (autoTables(df, minCos, planes, seed), 0)
    if (maxCandidateVolume < Long.MaxValue) {
      val r = lshCandidateVolume(df, dim, planes, nTables, seed, effProbes).collect().head
      val vol = r.getAs[Long]("candidate_volume")
      if (vol > maxCandidateVolume)
        throw new IllegalStateException(
          s"cosineNearDupPairsLSH pre-flight: bucket-join candidate volume $vol exceeds " +
          s"maxCandidateVolume=$maxCandidateVolume ($nTables tables × $planes planes × " +
          s"width ${effProbes + 1}, max bucket ${r.getAs[Long]("max_bucket")}). At this τ " +
          "the corpus has no similarity gap — candidates are a constant fraction of all " +
          "pairs however the index is sized. Raise τ to a selective threshold (candidates " +
          "then track TRUE pairs — SPOTCHECK_tau.txt), add planes per table, use " +
          "SemDeDup.runAuto (cell-bounded, n^1.5 total work), or raise the budget.")
    }
    // Vectors ride INTO the bucket rows and collisions are scored
    // inline, so only τ-SURVIVORS ever reach a pair-level shuffle.
    // The shuffled volume is tables × width × n rows (each carrying
    // one vector) — linear in the corpus — while the candidate pair
    // multiset, which at a gap-less τ is a constant fraction of
    // n²/2, stays INSIDE the join's output iterator and dies in the
    // codegen'd filter. The previous shape (dedup bare-id pairs
    // first, then join vectors back per side) shuffled the
    // candidate-quadratic pair set twice — and the second join
    // shipped a vector per PAIR: measured at sf1 (20 k vectors,
    // ~1e8 candidates) 240.8 s vs 3.95 s for this form, identical
    // output. Duplicate cross-table collisions cost only redundant
    // dot products (rare pairs collide in ~1 table; only true
    // near-dups — few — collide in many), and the final distinct
    // dedups survivors, not candidates. Both sides derive from ONE
    // sketched subtree, and SHUFFLE_HASH pins the symmetric
    // self-join's Exchange-reuse shape for the same reason as
    // SimHash.pairs (the d4 drift).
    // spread before sketching: the emission costs
    // tables×width×planes×dim multiplies PER ROW — a byte-small
    // 1-split scan would compute every table's sketches for the whole
    // corpus on one core (see Partitioning.spread; a no-op at scale where the
    // scan is already split)
    val sketched = sketchRows(spread(df),
      Seq(col("id"), col("vec"), VectorOps.fnorm(col("vec")).as("nrm")),
      dim, planes, nTables, seed, effProbes)
    val l = sketched.select(col("table"), col("bucket"),
      col("id").as("a"), col("vec").as("va"), col("nrm").as("na"))
    val r = sketched.select(col("table"), col("bucket"),
      col("id").as("b"), col("vec").as("vb"), col("nrm").as("nb"))
    l.hint("shuffle_hash").join(r, Seq("table", "bucket"))
      .filter(col("a") < col("b"))
      .withColumn("sim",
        VectorOps.cosinePre(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("sim") >= minCos)
      .select("a", "b", "sim")
      // dedup cross-table collisions on the PAIR KEY, not (a, b, sim):
      // a distinct over the sim column would depend on the score being
      // bitwise-identical across tables — true today (cosinePre is a
      // pure fused dot) but not a property correctness should lean on.
      // max is order-independent, so the output stays deterministic
      // even if scoring ever became path-dependent in low bits.
      .groupBy(col("a"), col("b"))
      .agg(max(col("sim")).as("sim"))
  }

  // independent trial tables the multi-probe catch rate is measured over
  private[ann] val TrialTables = 32

  /** The multi-probe pre-flight: the [[pairSample]] pairs at or above
    * `minCos` (its TRUE pairs) and, per pair, in how many of
    * [[TrialTables]] trial tables the margin-guided probe emissions of
    * its two vectors intersect — as the histogram (catch count c →
    * pairs), ≤ TrialTables + 1 rows. The per-table catch rate is
    * measured, not modeled: the analytic multi-probe catch needs the
    * probability that the disagreeing plane ranks among a vector's
    * `probes` smallest margins, which depends on the pair-angle
    * distribution in a way no closed form captures honestly. Tables
    * are iid draws of the same Gaussian scheme the production index
    * uses, so the fraction of (pair, table) trials that catch IS the
    * per-table catch probability, unbiased. One aggregate returns both
    * the true-pair count and the catch events; splitting them scored
    * the same s² fused dots twice — measured at ~2× the sizing cost.
    * The trial sketches are interpreted HOFs over |true pairs| ×
    * TrialTables small arrays — fine OFF the hot path.
    */
  private[ann] def mpSample(df: DataFrame, minCos: Double, dim: Int, planes: Int,
                            probes: Int, seed: Long): MpSample = {
    val ps = pairSample(df, SampleSize, seed)
    if (ps.s < 2) return MpSample(ps, Map.empty)
    val width = probes + 1
    val pairs = ps.pairs.filter(col("sim") >= minCos)
      .select(
        graft.functions.HyperplaneProbeSketches(col("va"), dim, planes, TrialTables, seed, probes).as("sa"),
        graft.functions.HyperplaneProbeSketches(col("vb"), dim, planes, TrialTables, seed, probes).as("sb"))
    val catchCnt = aggregate(
      sequence(lit(0), lit(TrialTables - 1)), lit(0L),
      (acc, t) => acc + when(arrays_overlap(
        slice(col("sa"), t * width + 1, lit(width)),
        slice(col("sb"), t * width + 1, lit(width))), 1L).otherwise(0L))
    // the full per-pair catch-count HISTOGRAM, not just the sum: the
    // heterogeneity-aware sizing needs the distribution of c over pairs
    val rows = pairs.select(catchCnt.as("c"))
      .groupBy(col("c")).agg(count(lit(1)).as("cnt")).collect()
    MpSample(ps, rows.map(r => r.getLong(0).toInt -> r.getLong(1)).toMap)
  }

  /** See [[mpSample]]. */
  private[ann] final case class MpSample(sample: PairSample, hist: Map[Int, Long]) {
    def sampledPairs: Long = hist.valuesIterator.sum
    def catches: Long = hist.iterator.map { case (c, cnt) => c.toLong * cnt }.sum
  }

  /** Exactly-unbiased estimator of a pair's T-table miss probability
    * (1−r)^T from c catches in K iid trial tables: C(K−c, T)/C(K, T)
    * — the probability that T trials drawn without replacement from
    * the K observed are all misses, whose expectation over the
    * binomial draw is (1−r)^T for every T ≤ K (a U-statistic; no
    * plug-in bias, no convexity gap). 0 when T > K − c (more tables
    * demanded than observed misses — the sample can't certify a miss).
    */
  private def mpMissProb(trials: Int, c: Int, t: Int): Double =
    if (t > trials - c) 0.0
    else {
      var p = 1.0
      var j = 0
      while (j < t) { p *= (trials - c - j).toDouble / (trials - j); j += 1 }
      p
    }

  /** (table count, probes-pay) for the multi-probe pair join from ONE
    * [[mpSample]] pass: the recall-budget law of [[tablesForRecall]]
    * driven by the MEASURED per-table catch rate instead of the
    * analytic single-probe p^planes. The rate is deflated to its 95%
    * binomial lower bound before sizing (sampling noise must
    * oversize, never undersize), and the result is FLOORED by a
    * heterogeneity-aware sizing over the per-pair catch-count
    * histogram (the average-rate law alone is average-case: Jensen
    * lets τ-marginal pairs exceed the miss budget on corpora whose
    * typical dup sits well above τ), then clamped by the analytic
    * single-probe answer — probing strictly adds catch events (the
    * base sketch is emission 0), so a larger-than-analytic demand can
    * only be noise or an infeasible budget. Floors at 8 like
    * [[autoTables]], and falls back to the single-probe sizing when
    * the sample has no true pairs to measure (a super-selective τ).
    *
    * The second element is true only when the measured sizing beats
    * the analytic single-probe law STRICTLY (and a catch rate was
    * measurable at all); the auto join drops the probes otherwise, so
    * the plan is the classic single-probe emission at the analytic
    * count whenever probing wouldn't shrink the index. When it is
    * false, the first element ALWAYS equals the single-probe sizing.
    */
  private[graft] def mpSizing(df: DataFrame, minCos: Double, dim: Int, planes: Int,
                              probes: Int, seed: Long = 42L,
                              maxExpectedMisses: Double = MissBudget): (Int, Boolean) = {
    val m = mpSample(df, minCos, dim, planes, probes, seed)
    val est = m.sample.scale(m.sampledPairs)
    val tSingle = singleProbeTables(minCos, planes, est, maxExpectedMisses)
    val tMp =
      if (m.catches == 0) tSingle
      else {
        val trials = m.sampledPairs * TrialTables
        val rate = m.catches.toDouble / trials
        val low = math.max(rate - 1.96 * math.sqrt(rate * (1 - rate) / trials),
          1.0 / (2.0 * trials)) // never let the CI zero out a measured rate
        val tAvg = math.ceil(math.log(est / maxExpectedMisses) / -math.log1p(-low)).toInt
        // Heterogeneity floor (round-16 ADVICE): the average-rate law
        // under-sizes on mixed corpora — (1−r)^T is convex in r, so
        // E[(1−rᵢ)^T] ≥ (1−r̄)^T (Jensen) and τ-marginal pairs can blow
        // the budget while well-separated dups drag r̄ up. Instead of
        // one rate, size against the MEASURED per-pair distribution:
        // expected misses at T ≈ (est/s)·Σ_c hist(c)·C(K−c,T)/C(K,T),
        // each term an exactly-unbiased estimate of that pair's
        // (1−rᵢ)^T ([[mpMissProb]]). Smallest feasible T ≤ K wins; a
        // never-caught pair (c=0) keeps its term at 1 for every T, so
        // an infeasible budget falls through to the single-probe
        // analytic worst-case via the clamp below — probes stay ON
        // (they were measured to catch; they only add recall).
        val scale = est / m.sampledPairs.toDouble
        def misses(t: Int): Double =
          scale * m.hist.iterator.map { case (c, cnt) =>
            cnt * mpMissProb(TrialTables, c, t) }.sum
        val tHet = (1 to TrialTables).find(t => misses(t) <= maxExpectedMisses)
          .getOrElse(Int.MaxValue)
        math.min(math.max(tAvg, tHet), tSingle).max(8)
      }
    // Probes must PAY FOR THEMSELVES IN TABLES: width-(probes+1)
    // emission at T tables costs what single-probe emission costs at
    // width×T — so unless the measured sizing beats the analytic
    // single-probe law STRICTLY, probing is all cost and no saving
    // (round-16 sf1 sweep: d17 at planes=10 measured weak per-table
    // catch, clamped to the single law's 180 tables, and the kept
    // probes tripled the emission — 69 → 205 s for identical output).
    // Equal-or-worse sizing therefore drops the probes and emits the
    // classic single-probe plan at the analytic count.
    (tMp, m.catches > 0 && tMp < tSingle)
  }

  /** Exact-score candidate (a, b) pairs against the vector table and
    * threshold, via two equi-joins on id: the candidate rows (two
    * longs) shuffle to each side's vectors, and the vector table
    * shuffles once per side on id (one Exchange, reused) — never
    * once per PAIR, which is what a melt + groupBy(a, b) carrying
    * both vectors through the aggregate shuffle costs (measured as
    * the dominant byte-volume at 50 k vectors: each surviving pair
    * re-shipped two ~1 KB arrays through the group-by Exchange).
    *
    * Used by the stored-index path only, where it is the right
    * shape: its candidate set is bounded by the incoming batch's
    * collisions (small), while carrying the whole EXISTING corpus'
    * vectors through the index join — what in-bucket scoring would
    * require — costs a corpus-sized vector shuffle per batch. The
    * full self-join ([[cosineNearDupPairsLSH]]) has the opposite
    * asymmetry (candidate-quadratic pairs, corpus-linear buckets)
    * and scores in-bucket instead.
    */
  private def verifyCandidates(cands: DataFrame, vecSource: DataFrame,
                               minCos: Double): DataFrame = {
    val vecs = vecSource.select(col("id"), col("vec"), VectorOps.fnorm(col("vec")).as("nrm"))
    cands
      .join(vecs.select(col("id").as("a"), col("vec").as("va"), col("nrm").as("na")), Seq("a"))
      .join(vecs.select(col("id").as("b"), col("vec").as("vb"), col("nrm").as("nb")), Seq("b"))
      .withColumn("sim", VectorOps.cosinePre(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("sim") >= minCos)
      .select("a", "b", "sim")
  }

  /** The persistent hyperplane-LSH index: exploded (id, table,
    * bucket) rows of the width-(probes+1) emission — what
    * [[cosineNearDupPairsLSHIndexed]] consumes for the existing side
    * so a growing corpus is sketched ONCE. Deterministic given (dim,
    * planes, tables, seed, probes): an index row equals what a
    * recompute would produce. With probes, `probes + 1` rows per (id,
    * table) — but the measured-catch sizing needs ~6–9× fewer tables
    * for the same miss budget, so the persisted index is net ~2–3×
    * smaller than the single-probe one.
    */
  def sketchIndex(df: DataFrame, dim: Int, planes: Int = 10,
                  tables: Int = 8, seed: Long = 42L, probes: Int = 2): DataFrame =
    sketchRows(df, Seq(col("id")), dim, planes, tables, seed, probes)

  /** Incremental embedding near-dup against a PRECOMPUTED index: the
    * existing side arrives as stored (id, table, bucket) rows
    * ([[sketchIndex]]) plus the vector table; the incoming batch is
    * sketched with the SAME (dim, planes, tables, seed, probes) and
    * candidates are any emission collision. Nothing existing is
    * re-sketched and the existing×existing join never runs; only
    * existing vectors that appear in a candidate pair are read for
    * exact scoring, so per-batch cost is collisions + a semi-join.
    * New ids must sort after existing ids; every output pair's `b` is
    * a new vector. Equivalence with the full [[cosineNearDupPairsLSH]]
    * self-join at the same pinned config, restricted to new-touching
    * pairs, is spec'd, and `d19_embed_neardup_incr` gates the whole
    * dataflow against the exact all-pairs oracle.
    */
  def cosineNearDupPairsLSHIndexed(existingIndex: DataFrame,
                                   existingVecs: DataFrame,
                                   incoming: DataFrame,
                                   minCos: Double, dim: Int,
                                   planes: Int = 10, tables: Int = 8,
                                   seed: Long = 42L, probes: Int = 2): DataFrame = {
    val newSketches = sketchIndex(incoming, dim, planes, tables, seed, probes)
    val allSketches = existingIndex.select(col("id"), col("table"), col("bucket"))
      .unionByName(newSketches)
    val cands = allSketches.select(col("table"), col("bucket"), col("id").as("a"))
      .join(newSketches.select(col("table"), col("bucket"), col("id").as("b")),
        Seq("table", "bucket"))
      .filter(col("a") < col("b"))
      .select("a", "b")
      .distinct()
      // materialize the (bounded, two-long-row) candidate set once:
      // it feeds the candidate-id semi-join AND both verify joins,
      // and without the checkpoint each reference re-derives the
      // whole sketch-explode + bucket-join subtree (the d19 plan
      // carried 19 copies of the embeddings scan)
      .localCheckpoint(false)
    val candIds = cands.select(col("a").as("id"))
      .unionByName(cands.select(col("b").as("id")))
      .distinct()
    val vecsNeeded = existingVecs.select(col("id"), col("vec"))
      .join(candIds, Seq("id"), "left_semi")
      .unionByName(incoming.select(col("id"), col("vec")))
    verifyCandidates(cands, vecsNeeded, minCos)
  }
}
