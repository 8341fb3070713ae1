package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructType}

import graft.SparkTestBase

/** Product quantization ([[Pq]]) — training determinism, the ADC
  * kernel (codegen ≡ composable HOF replay), exact-equality gates vs
  * the uncompressed searches, the saved-index contract, and the
  * stage-1 compressed-scan plan property.
  */
final class PqSpec extends SparkTestBase {

  // The gate config is MEASURED, not guessed: TunePq (deleted in
  // 8a94aaa) reported,
  // per (m, ksub, iters), the worst ADC rank of any true top-5
  // neighbor on both oracle fixtures (isotropic vectors — PQ's worst
  // case, nothing for codebooks to exploit). (16, 64, 3) needs ≤64
  // full-scan / ≤31 in-cell, so the gates below hold with ≥1.5×
  // slack even at the halved-budget assertions.
  private val M = 16
  private val KSUB = 64
  private val ITERS = 3

  private lazy val vecs =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))

  private lazy val books = Pq.trainCodebooks(vecs, M, KSUB, iters = ITERS)
    .localCheckpoint(true)

  private def canon(df: DataFrame) = df
    .select(col("query_id"), col("nbr_id"), round(col("sim"), 9).as("sim"), col("rank"))
    .collect().map(_.toSeq).toSet

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  test("codebooks: deterministic retrain, global code ranges, round-6 doubles") {
    val again = Pq.trainCodebooks(vecs, M, KSUB, iters = ITERS)
    val a = books.orderBy("sub", "code").collect().map(_.toSeq)
    val b = again.orderBy("sub", "code").collect().map(_.toSeq)
    assert(a.sameElements(b), "retraining the same corpus must be bit-identical")
    val rows = books.select(col("sub"), col("code")).collect()
    assert(rows.forall { r =>
      val (s, c) = (r.getInt(0), r.getInt(1))
      c >= s * KSUB && c < (s + 1) * KSUB
    }, "codes are global lut indices inside their subspace's slot range")
    // every subspace kept a usable codebook (dead codes may drop, but
    // not a whole subspace) and centroids are round-6 quantized
    assert(books.select(countDistinct(col("sub"))).head().getLong(0) == M)
    val cents = books.select(explode(col("cent"))).collect().map(_.getDouble(0))
    assert(cents.forall(x => math.abs(x * 1e6 - math.round(x * 1e6)) < 1e-6))
  }

  test("encode: one code per subspace, in-range, deterministic") {
    val codes = Pq.encode(vecs, books, M, KSUB)
    assert(codes.count() == vecs.count())
    val rows = codes.select(col("codes")).collect().map(_.getSeq[Int](0))
    assert(rows.forall(_.length == M))
    assert(rows.forall(_.zipWithIndex.forall { case (c, s) =>
      c >= s * KSUB && c < (s + 1) * KSUB
    }))
    val again = Pq.encode(vecs, books, M, KSUB).select(col("id"), col("codes"))
      .collect().map(_.toSeq).toSet
    assert(codes.select(col("id"), col("codes")).collect().map(_.toSeq).toSet == again)
  }

  test("PqAdc codegen equals the composable HOF replay; holes and bad codes add 0") {
    import spark.implicits._
    val df = Seq(
      (Array(0, 3, 5), Array(1.5, 2.0, -0.5, 4.25, 0.0, 10.0)),
      (Array(1, 1, 1), Array(0.0, 7.0)),
      (Array(-1, 99, 2), Array(1.0, 2.0, 3.0)), // out-of-range → 0
      (Array.empty[Int], Array(1.0))
    ).toDF("codes", "lut")
    val got = df.select(
      graft.functions.PqAdc(col("codes"), col("lut")).as("fused"),
      aggregate(
        transform(col("codes"), c =>
          when(c >= 0 && c < size(col("lut")),
            element_at(col("lut"), c + 1)).otherwise(lit(0.0))),
        lit(0.0), (acc, v) => acc + v).as("hof"))
      .collect()
    got.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
      s"fused ${r.getDouble(0)} != hof ${r.getDouble(1)}"))
    assert(got(0).getDouble(0) == 1.5 + 4.25 + 10.0)
    assert(got(2).getDouble(0) == 3.0)
  }

  test("adcLut: m*ksub slots, ADC sum over own codes reconstructs the rounded dot") {
    // for any vector x, Σₘ lut_x[codes_x[m]] = dot(x, recon(x)) — the
    // ADC identity that makes stage-1 a meaningful ranking. Verify the
    // lut layout by recomputing one query's ADC against itself from
    // first principles (subspace dots vs its own assigned centroids).
    val q = vecs.filter(col("id") === 0)
    val lutRow = Pq.adcLut(q, books, M, KSUB).head()
    val lut = lutRow.getSeq[Double](lutRow.fieldIndex("lut"))
    assert(lut.length == M * KSUB)
    val codes = Pq.encode(q, books, M, KSUB).head().getSeq[Int](1)
    val adc = codes.map(lut).sum
    // recompute: dot(q_sub, cent(code)) per subspace, summed
    val qv = q.head().getSeq[Float](1).map(_.toDouble)
    val bk = books.collect().map(r =>
      r.getInt(r.fieldIndex("code")) -> r.getSeq[Double](r.fieldIndex("cent"))).toMap
    val d = qv.length / M
    val expect = codes.zipWithIndex.map { case (c, s) =>
      qv.slice(s * d, (s + 1) * d).zip(bk(c)).map { case (x, y) => x * y }.sum
    }.sum
    assert(math.abs(adc - expect) < 1e-9)
  }

  test("full-scan PQ search equals brute force, with rerank slack") {
    val queries = vecs.filter(col("id") < 20)
    val exact = canon(Ann.bruteForceTopK(vecs, queries, k = 5))
    // TunePq (deleted in 8a94aaa): worst true-top-5 ADC rank on this
    // fixture is 64 — the
    // gate budget is 2.5× that, and the halved budget (the a4 slack
    // pattern: fixture drift toward the margin fails HERE, loudly,
    // before any oracle could flip) still carries 1.5×
    assert(canon(Pq.pqTopK(vecs, queries, books, k = 5, M, KSUB, rerank = 160)) == exact)
    assert(canon(Pq.pqTopK(vecs, queries, books, k = 5, M, KSUB, rerank = 96)) == exact)
  }

  test("IVF-PQ equals IVF over the same centroids, with rerank slack") {
    val queries = vecs.filter(col("id") < 20)
    val cents = Ann.kmeansCentroids(vecs, k = 8, iters = 2).localCheckpoint(true)
    val exact = canon(Ann.ivfTopK(vecs, queries, cents, k = 5, nprobe = 2))
    // TunePq (deleted in 8a94aaa): worst in-cell rank ≤31 on both
    // fixtures → 96 is the a6
    // gate budget (3.1×), 48 the slack assertion (1.55×)
    assert(canon(Pq.ivfPqTopK(vecs, queries, cents, books, k = 5, M, KSUB,
      nprobe = 2, rerank = 96)) == exact)
    assert(canon(Pq.ivfPqTopK(vecs, queries, cents, books, k = 5, M, KSUB,
      nprobe = 2, rerank = 48)) == exact)
  }

  test("auto dispatch: both arms exact; budget picks the arm; plan proves which ran") {
    val queries = vecs.filter(col("id") < 20)
    val exact = canon(Ann.bruteForceTopK(vecs, queries, k = 5))
    // generous budget → the measured-PQ arm runs (plan carries the ADC
    // kernel) and is exact: the fixture samples every query, so the
    // measured budget IS the true worst rank, margined 2×
    val pqArm = Pq.pqTopKAuto(vecs, queries, books, k = 5, M, KSUB, budgetFrac = 0.5)
    assert(pqArm.queryExecution.executedPlan.toString.contains("pqadc"),
      "generous budget must dispatch to the compressed scan")
    assert(canon(pqArm) == exact)
    // tight budget on the isotropic fixture → the measured law comes
    // back as a whole-percent corpus fraction and the dispatch refuses
    // the index (the SPOTCHECK_pq arm-2 rule) — exact via brute
    val bruteArm = Pq.pqTopKAuto(vecs, queries, books, k = 5, M, KSUB, budgetFrac = 0.02)
    assert(!bruteArm.queryExecution.executedPlan.toString.contains("pqadc"),
      "tight budget on a structureless corpus must dispatch to the exact scan")
    assert(canon(bruteArm) == exact)
  }

  test("auto nprobe: both laws measured; both arms exact; plan proves which ran") {
    val queries = vecs.filter(col("id") < 20)
    val cents = Ann.kmeansCentroids(vecs, k = 8, iters = 2).localCheckpoint(true)
    val exact = canon(Ann.bruteForceTopK(vecs, queries, k = 5))
    val cellNeeded = Pq.measuredCellRank(vecs, queries, cents, k = 5)
    info(s"measured worst cell rank on the isotropic fixture: $cellNeeded of 8 cells")
    assert(cellNeeded >= 1 && cellNeeded <= 8)
    // generous fractions -> the index arm runs (margined nprobe capped
    // at the cell count, rerank from the in-cell law) and is exact:
    // the fixture samples every query
    val idxArm = Pq.ivfPqTopKAuto(vecs, queries, cents, books, k = 5, M, KSUB,
      probeFrac = 1.0, budgetFrac = 1.0)
    assert(idxArm.queryExecution.executedPlan.toString.contains("pqadc"),
      "generous fractions must dispatch to the IVF-PQ index")
    assert(canon(idxArm) == exact)
    // production fractions on the isotropic fixture: the cell law
    // comes back as most of the cell count (no coarse structure for
    // the quantizer to exploit) -> the dispatch refuses the index
    val bruteArm = Pq.ivfPqTopKAuto(vecs, queries, cents, books, k = 5, M, KSUB,
      probeFrac = 0.5, budgetFrac = 0.02)
    assert(!bruteArm.queryExecution.executedPlan.toString.contains("pqadc"),
      "production fractions on a structureless corpus must dispatch to the exact scan")
    assert(canon(bruteArm) == exact)
  }

  test("saved IVF-PQ index: indexed search equals recompute; append maintains; stage 1 scans no vectors") {
    val queries = vecs.filter(col("id") < 20)
    val cents = Ann.kmeansCentroids(vecs, k = 8, iters = 2).localCheckpoint(true)
    val old = vecs.filter(col("id") % 5 =!= 0)
    val add = vecs.filter(col("id") % 5 === 0)
    // clean any leftover managed-table location from an aborted run —
    // recursively: an aborted write can leave nested dirs (_temporary/)
    // that a flat listFiles().delete() silently skips, leaving the
    // location non-empty and failing the saveAsTable(overwrite) with
    // an unrelated-looking error
    for (s <- Seq("centroids", "books", "codes", "vecs", "laws")) {
      spark.sql(s"DROP TABLE IF EXISTS pqspec_idx_$s")
      deleteRecursively(new java.io.File(s"spark-warehouse/pqspec_idx_$s"))
    }
    try {
      Pq.saveIvfPqIndex(old, cents, books, "pqspec_idx", M, KSUB, nBuckets = 4)
    Pq.saveIvfPqIndex(add, cents, books, "pqspec_idx", M, KSUB, append = true, nBuckets = 4)
    val indexed = Pq.ivfPqTopKIndexed(spark, "pqspec_idx", queries,
      k = 5, M, KSUB, nprobe = 2, rerank = 96)
    val recomputed = Pq.ivfPqTopK(vecs, queries, cents, books,
      k = 5, M, KSUB, nprobe = 2, rerank = 96)
    assert(canon(indexed) == canon(recomputed))
    // the compressed-scan property is storage-level: the stage-1 table
    // has no vector column, no norm column — codes are the bit-packed
    // binary layout and the serving scan reconstructs norms from them
    val codesSchema = spark.table("pqspec_idx_codes").schema
    assert(!codesSchema.fieldNames.contains("vec"))
    assert(!codesSchema.fieldNames.contains("nrm"))
    assert(codesSchema.fieldNames.sorted.sameElements(
      Array("cell", "codes", "id")))
    assert(codesSchema("codes").dataType ==
      org.apache.spark.sql.types.BinaryType)
    // every stored code blob is exactly ceil(m*bits/8) bytes (12 at
    // the gate config — the claimed true entropy)
    val lens = spark.table("pqspec_idx_codes")
      .select(length(col("codes"))).distinct().collect().map(_.getInt(0))
    assert(lens.sameElements(Array(M * 6 / 8)))
    // and the serving plan reads the codes table, not the vecs table,
    // on its scan side (vecs enters only via the rerank join)
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("pqspec_idx_codes"))
    // stored-law serving: both dispatch laws measured ONCE against the
    // persisted tables (with the packed recon-norm ranking serving
    // uses) and persisted as <prefix>_laws; serving reads the one-row
    // law and either probes at the stored dials or refuses to brute —
    // zero measurement at serve time
    Pq.saveIvfPqLaws(spark, "pqspec_idx", measureK = 5, M, KSUB, sampleN = 32)
    val served = Pq.ivfPqTopKIndexedAuto(spark, "pqspec_idx", queries,
      k = 5, M, KSUB, probeFrac = 1.0, budgetFrac = 1.0)
    assert(served.queryExecution.executedPlan.toString.contains("pqadcpacked"),
      "generous fractions must serve from the packed index at the stored dials")
    val exactFull = canon(Ann.bruteForceTopK(vecs, queries, k = 5))
    assert(canon(served) == exactFull) // every query is inside the law sample
    // production fractions on the isotropic corpus: the STORED cell
    // law (8-of-8) refuses and the serve is the exact scan over the
    // stored vecs table
    val refused = Pq.ivfPqTopKIndexedAuto(spark, "pqspec_idx", queries,
      k = 5, M, KSUB, probeFrac = 0.5, budgetFrac = 0.02)
    assert(!refused.queryExecution.executedPlan.toString.contains("pqadc"))
    assert(canon(refused) == exactFull)
    // a stored law cannot budget a deeper search than it measured
    intercept[IllegalArgumentException] {
      Pq.ivfPqTopKIndexedAuto(spark, "pqspec_idx", queries, k = 6, M, KSUB)
    }
    // the laws row persists the dial the ADC law was measured at and
    // the build it was measured against
    val lawsSchema = spark.table("pqspec_idx_laws").schema.fieldNames
    assert(lawsSchema.contains("nprobe") && lawsSchema.contains("build_id"))
    // the cell law is measured against the PERSISTED codes table's
    // (id → cell) assignment (the build already holds exactly what
    // serving probes — no corpus re-scoring pass); pin that it equals
    // the recomputed [[Pq.measuredCellRank]] law over the same sample
    assert(spark.table("pqspec_idx_laws").head().getAs[Int]("cell_rank") ==
      Pq.measuredCellRank(
        spark.table("pqspec_idx_vecs").select(col("id"), col("vec")),
        Pq.lawsSample(spark, "pqspec_idx", 32), cents, k = 5),
      "stored-assignment cell law must equal the recomputed law")
    // rebuild staleness: a REBUILD (here via raw saveIvfPqIndex, which
    // does not own the laws lifecycle — IvfPqIndex.build would have
    // dropped the laws table) re-stamps the build fingerprint, so the
    // surviving laws row describes an index that no longer exists and
    // serving refuses loudly instead of using its dials
    Pq.saveIvfPqIndex(vecs, cents, books, "pqspec_idx", M, KSUB, nBuckets = 4)
    intercept[IllegalArgumentException] {
      Pq.ivfPqTopKIndexedAuto(spark, "pqspec_idx", queries,
        k = 5, M, KSUB, probeFrac = 1.0, budgetFrac = 1.0)
    }
    // re-measuring against the rebuilt index restores serving
    Pq.saveIvfPqLaws(spark, "pqspec_idx", measureK = 5, M, KSUB, sampleN = 32)
    assert(canon(Pq.ivfPqTopKIndexedAuto(spark, "pqspec_idx", queries,
      k = 5, M, KSUB, probeFrac = 1.0, budgetFrac = 1.0)) == exactFull)
    // append does NOT invalidate the stored laws (the documented
    // margin contract — only a rebuild re-stamps the fingerprint):
    // after appending a shifted COPY of every vector, serving still
    // takes the probe arm without refusing, and each query's new
    // true nearest neighbor — its own copy, cosine 1.0, identical
    // codes so ADC rank 1 in its own cell — surfaces as rank 1
    // through the exact rerank
    val shifted = vecs.select((col("id") + 10000).as("id"), col("vec"))
    Pq.saveIvfPqIndex(shifted, cents, books, "pqspec_idx", M, KSUB,
      append = true, nBuckets = 4)
    val afterAppend = Pq.ivfPqTopKIndexedAuto(spark, "pqspec_idx", queries,
      k = 5, M, KSUB, probeFrac = 1.0, budgetFrac = 1.0)
    assert(afterAppend.queryExecution.executedPlan.toString.contains("pqadcpacked"),
      "append must not flip stored-law serving to the brute arm")
    val top1 = afterAppend.filter(col("rank") === 1)
      .select(col("query_id"), col("nbr_id"), col("sim")).collect()
    assert(top1.nonEmpty && top1.forall(r =>
      r.getLong(1) == r.getLong(0) + 10000 && r.getDouble(2) > 0.999999),
      "each query's appended copy must surface as its exact top-1")
    } finally {
      for (s <- Seq("centroids", "books", "codes", "vecs", "laws"))
        spark.sql(s"DROP TABLE IF EXISTS pqspec_idx_$s")
    }
  }

  test("kernels degrade on malformed vectors; auto dispatch returns empty on empty queries") {
    import spark.implicits._
    // a short vector (missing elements contribute 0) and an all-NaN
    // vector (lowest present code per slot) must not abort the query —
    // the PqAdc/multi-probe degrade rule applied to the codec kernels
    val bad = Seq(
      (1L, Array.fill(64)(0.1f)),
      (2L, Array.fill(32)(0.2f)),
      (3L, Array.fill(64)(Float.NaN))
    ).toDF("id", "vec")
    val codes = Pq.encode(bad, books, M, KSUB).collect()
    assert(codes.length == 3)
    assert(codes.forall(_.getSeq[Int](1).length == M))
    val lutRow = Pq.adcLut(bad.filter(col("id") === 2), books, M, KSUB).head()
    assert(lutRow.getSeq[Double](lutRow.fieldIndex("lut")).length == M * KSUB)
    // empty query set: the ADC rank law has no true pairs (max = null)
    // → budget floors, dispatch stays defined, result is empty — not
    // an NPE from the one search API that wouldn't degrade
    assert(Pq.pqTopKAuto(vecs, vecs.filter(col("id") < 0), books,
      k = 5, M, KSUB).count() == 0)
  }

  test("packed codec: PqAdcPacked over PqPack equals PqAdc over the raw codes") {
    import graft.functions.{PqAdc, PqAdcPacked, PqPack}
    // real encoded corpus: every row's packed ADC must equal the
    // unpacked kernel bit-for-bit (same lut, same double accumulation
    // order), so the packed storage layout changes NOTHING semantically
    val lut = Pq.adcLut(vecs.filter(col("id") === 7), books, M, KSUB)
      .select(col("lut")).head().getSeq[Double](0)
    val codes = Pq.encode(vecs, books, M, KSUB)
    val both = codes.select(
      PqAdc(col("codes"), typedLit(lut)).as("raw"),
      PqAdcPacked(PqPack(col("codes"), M, KSUB), typedLit(lut), M, KSUB).as("packed"))
      .collect()
    assert(both.length == 500)
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    // degrade cases: short code arrays pack their missing slots as
    // local 0; out-of-slot-range codes clamp to local 0 — never abort
    import spark.implicits._
    val bad = Seq(
      Array(0, KSUB + 1),            // short (m=16) + in-range slot 1
      Array(-5, 999999),             // out of range both slots
      Array.empty[Int]
    ).toDF("codes")
    val packed = bad.select(PqPack(col("codes"), M, KSUB).as("p")).collect()
    assert(packed.forall(_.getAs[Array[Byte]](0).length == M * 6 / 8))
    // slot 0 packs local 0, slot 1 packs local 1 (KSUB+1 − 1·KSUB),
    // the rest local 0 — expected bytes built from first principles
    val first = packed(0).getAs[Array[Byte]](0)
    val exp2 = new Array[Byte](M * 6 / 8)
    for ((local, slot) <- Seq((0, 0), (1, 1)); b <- 0 until 6
         if ((local >> (5 - b)) & 1) != 0) {
      val bit = slot * 6 + b
      exp2(bit >> 3) = (exp2(bit >> 3) | (1 << (7 - (bit & 7)))).toByte
    }
    assert(first.sameElements(exp2))
    assert(packed(1).getAs[Array[Byte]](0).forall(_ == 0))
    assert(packed(2).getAs[Array[Byte]](0).forall(_ == 0))
  }

  test("on-disk bytes: the saved codes table is >=15x smaller than the vecs table") {
    // the compression claim, measured where it matters — parquet files
    // on disk, footers and encodings included. sf0.1's 2000 vectors in
    // one bucket amortize the per-file footer the way any production
    // file (128 MB row groups) would; the data-page arithmetic is
    // 12 B packed codes vs 256 B of floats + 8 B norm per row.
    val big = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val cents = Ann.kmeansCentroids(big, k = 8, iters = 2).localCheckpoint(true)
    val bBooks = Pq.trainCodebooks(big, M, KSUB, iters = ITERS).localCheckpoint(true)
    for (s <- Seq("centroids", "books", "codes", "vecs")) {
      spark.sql(s"DROP TABLE IF EXISTS pqsize_idx_$s")
      deleteRecursively(new java.io.File(s"spark-warehouse/pqsize_idx_$s"))
    }
    try {
      Pq.saveIvfPqIndex(big, cents, bBooks, "pqsize_idx", M, KSUB, nBuckets = 1)
      def dirBytes(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
        else if (f.getName.startsWith("part-")) f.length()
        else 0L
      val codesBytes = dirBytes(new java.io.File("spark-warehouse/pqsize_idx_codes"))
      val vecsBytes  = dirBytes(new java.io.File("spark-warehouse/pqsize_idx_vecs"))
      assert(codesBytes > 0 && vecsBytes > 0)
      val ratio = vecsBytes.toDouble / codesBytes
      info(f"codes $codesBytes B, vecs $vecsBytes B, ratio $ratio%.1f x")
      assert(ratio >= 15.0,
        f"on-disk ratio $ratio%.1f below the claimed 15x (codes $codesBytes B, vecs $vecsBytes B)")
      // and the serving path over THIS index still answers exactly
      val queries = big.filter(col("id") < 5)
      val indexed = Pq.ivfPqTopKIndexed(spark, "pqsize_idx", queries,
        k = 5, M, KSUB, nprobe = 2, rerank = 96)
      val recomputed = Pq.ivfPqTopK(big, queries, cents, bBooks,
        k = 5, M, KSUB, nprobe = 2, rerank = 96)
      assert(canon(indexed) == canon(recomputed))
    } finally {
      for (s <- Seq("centroids", "books", "codes", "vecs"))
        spark.sql(s"DROP TABLE IF EXISTS pqsize_idx_$s")
    }
  }

  test("training accepts array<double> corpora and matches the float-trained books") {
    // float widens to double exactly, so training on the cast corpus
    // must be bit-identical — and must not CCE (the seed collect read
    // getSeq[Float] through round 16, crashing any double-vector
    // caller even though the kernels themselves accept both)
    val dvecs = vecs.select(col("id"), col("vec").cast("array<double>").as("vec"))
    val dbooks = Pq.trainCodebooks(dvecs, M, KSUB, iters = ITERS)
    val a = books.orderBy("sub", "code").collect().map(_.toSeq)
    val b = dbooks.orderBy("sub", "code").collect().map(_.toSeq)
    assert(a.sameElements(b))
  }

  test("kernels from separate collectBooks calls compare equal (canonicalization)") {
    // two builds collect two distinct Array instances; reference-based
    // case-class equality would make semantically identical kernels
    // unequal, defeating CSE and ReusedExchange matching
    import org.apache.spark.sql.graft.Bridge
    val e1 = Bridge.expression(col("vec"))
    val b1 = books.collect(); val b2 = books.collect() // distinct row arrays
    def mk(rows: Array[org.apache.spark.sql.Row]) = {
      val dsub = rows.head.getSeq[Double](rows.head.fieldIndex("cent")).length
      val arr = new Array[Double](M * KSUB * dsub)
      val present = new Array[Boolean](M * KSUB)
      rows.foreach { r =>
        val code = r.getInt(r.fieldIndex("code"))
        val cent = r.getSeq[Double](r.fieldIndex("cent"))
        var d = 0
        while (d < dsub) { arr(code * dsub + d) = cent(d); d += 1 }
        present(code) = true
      }
      (arr, present, dsub)
    }
    val (a1, p1, ds) = mk(b1); val (a2, p2, _) = mk(b2)
    assert(!(a1 eq a2))
    val k1 = graft.functions.PqAssign(e1, a1, p1, M, KSUB, ds)
    val k2 = graft.functions.PqAssign(e1, a2, p2, M, KSUB, ds)
    assert(k1 == k2 && k1.hashCode == k2.hashCode)
    assert(k1.semanticEquals(k2))
    val l1 = graft.functions.PqLut(e1, a1, p1, M, KSUB, ds)
    val l2 = graft.functions.PqLut(e1, a2, p2, M, KSUB, ds)
    assert(l1 == l2 && l1.hashCode == l2.hashCode)
    assert(l1 != k1) // class still discriminates
    // a genuinely different codebook is unequal
    val a3 = a1.clone(); a3(0) += 1.0
    assert(k1 != graft.functions.PqAssign(e1, a3, p1, M, KSUB, ds))
  }

  test("index bytes: the codes row is a fraction of the vec row at the gate config") {
    // 64 floats (256 B logical) vs 16 int codes + norm (72 B as the
    // Spark array; 6 bits of true entropy per code at ksub=64, so a
    // packing writer stores 12 B + 8 B norm) — assert the schema
    // arithmetic the compression claims derive from, independent of
    // parquet encoding.
    val perRowVec = 64 * 4
    assert(perRowVec / (M * 4 + 8) >= 3)           // unpacked int array
    assert(perRowVec / (M * 6 / 8 + 8) >= 12)      // entropy-packed
  }
}
