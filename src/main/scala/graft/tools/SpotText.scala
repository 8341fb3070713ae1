package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.core.LocalDisk.dirBytes
import graft.index.TextIndex
import graft.text.Bm25

/** Decade audit of the stored text-retrieval path (x1/s10): the
  * sf0.01 oracle proves the indexed BM25 ranking is exact; this tool
  * measures what the oracle can't — that at 10²–10³× the gate corpus
  * the stored path still serves exactly, BUCKET-PRUNES its postings
  * scan to the query terms, and a lookup costs a small fraction of
  * re-deriving the ranking from the corpus text (the entire point of
  * persisting the index: at 100 TB the direct form re-tokenizes the
  * corpus per query set, the indexed form reads a few buckets of a
  * (term, doc_id, tf) table).
  *
  * Arms, per corpus:
  *   1. exactness: `Bm25.topKIndexed` ≡ `Bm25.topK` (two term sets,
  *      canonical rows) — the x1 contract re-proven off-fixture;
  *   2. append exactness: 80%-seed build + 20% append serves
  *      identically (the partial-stats-rows SUM contract at scale);
  *   3. bucket pruning: the serving plan's postings scan reports
  *      `SelectedBucketsCount` < nBuckets;
  *   4. lookup cost: min-of-3 wall of the indexed lookup vs the
  *      direct computation (collect of ≤k rows consumes the plan —
  *      no count()-pruning hazard), plus one-time build wall and
  *      on-disk bytes of the serving tables vs the corpus parquet —
  *      the amortization statement, reported not gated.
  *
  * Run: `sbt "runMain graft.tools.SpotText testdata-local/sf1"`
  * (and `testdata-local/sf10` for decade 2); output is committed as
  * `SPOTCHECK_text.txt`.
  */
object SpotText {

  private var failures = 0

  private def check(name: String)(ok: => Boolean, detail: => String): Unit = {
    val passed = try ok catch { case e: Exception =>
      println(s"FAIL $name: ${e.getClass.getSimpleName}: ${e.getMessage}"); failures += 1; return
    }
    if (passed) println(s"PASS $name ($detail)")
    else { println(s"FAIL $name ($detail)"); failures += 1 }
  }

  private def canon(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  /** Independent more-like-this recompute from the RAW text — no
    * stored table is touched; the same capped-profile/idf²-overlap
    * semantics as [[graft.text.Mlt.topKIndexed]] derived from
    * first principles, so agreement proves the stored path serves
    * what direct computation gives at this corpus size.
    */
  private def mltDirect(docs: DataFrame, srcDocId: Long, k: Int,
                        maxQueryTerms: Int = 25): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val spark = docs.sparkSession
    val tf = docs
      .select(col("doc_id"), explode(graft.text.TextOps.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val tfdl = tf.join(dl, Seq("doc_id"))
    val srcRows = tfdl.filter(col("doc_id") === srcDocId)
      .select(col("term"), col("tf").as("tf_s"), col("dl").as("dl_s"))
      .orderBy(col("tf_s").desc, col("term")).limit(maxQueryTerms).collect()
    val terms = srcRows.map(_.getString(0)).toSeq
    val src = broadcast(spark.createDataFrame(java.util.Arrays.asList(srcRows: _*),
      tfdl.select(col("term"), col("tf").as("tf_s"), col("dl").as("dl_s")).schema))
    val cand = tfdl.filter(col("term").isin(terms: _*))
    val df = cand.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = dl.agg(count(lit(1)).as("n_docs"))
    val idf = log((col("n_docs").cast(DoubleType) + lit(1.0)) /
      (col("df").cast(DoubleType) + lit(1.0)))
    def D(c: org.apache.spark.sql.Column) = c.cast(DoubleType)
    cand.filter(col("doc_id") =!= srcDocId)
      .join(src, Seq("term"))
      .join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"),
        round((D(col("tf_s")) * idf) * (D(col("tf")) * idf) /
          (D(col("dl_s")) * D(col("dl"))), 15)
          .cast(DecimalType(32, 15)).as("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_terms"),
        round(sum(col("s")).cast(DoubleType), 9).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: SpotText <sfDir>")
    val dir = args(0)
    val spark = GraftSession.build("spot-text")
    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val nBuckets = 32
    val terms1 = Seq("table", "query", "spark")
    val terms2 = Seq("data", "the")
    try {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val n = docs.count()
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      println(s"INFO n=$n corpus=$dir nBuckets=$nBuckets terms=$terms1 / $terms2")

      // positional + forward: one build serves every text surface
      // this audit covers (BM25 x1/x4, phrase x3, more-like-this x5)
      val idx = TextIndex("spottext_idx", nBuckets, positional = true, forward = true)
      idx.drop(spark)
      val (_, tBuild) = time(idx.build(docs))

      // (1) exactness at scale, both term sets
      for ((terms, i) <- Seq(terms1, terms2).zipWithIndex) {
        val (served, tServe) = time(canon(Bm25.topKIndexed(spark, "spottext_idx", terms, 20)))
        val (direct, tDirect) = time(canon(Bm25.topK(docs, terms, 20)))
        check(s"text_indexed_exact_$i")(served == direct,
          f"${served.size} rows, served $tServe%.2f s vs direct $tDirect%.2f s")
      }

      // (3) bucket pruning on the serving plan
      val plan = Bm25.topKIndexed(spark, "spottext_idx", terms1, 20)
        .queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(plan).map(m => (m.group(1).toInt, m.group(2).toInt))
      check("text_bucket_pruned")(
        sel.exists { case (s, t) => s < t && s <= terms1.size },
        s"postings scan $sel of $nBuckets buckets for ${terms1.size} terms")

      // (4) lookup cost: min-of-3 each, after the plans above warmed
      // the JIT; the collect consumes every aggregate (no count() trap)
      val tIdx = (1 to 3).map(_ =>
        time(Bm25.topKIndexed(spark, "spottext_idx", terms1, 20).collect())._2).min
      val tDir = (1 to 3).map(_ =>
        time(Bm25.topK(docs, terms1, 20).collect())._2).min
      val servingBytes = idx.tableNames.map(t =>
        dirBytes(s"spark-warehouse/$t")).sum
      val corpusBytes = dirBytes(s"$dir/documents.parquet")
      println(f"INFO lookup min-of-3: indexed $tIdx%.3f s vs direct $tDir%.3f s " +
        f"(${tDir / tIdx}%.1fx); build once $tBuild%.1f s; serving tables " +
        f"${servingBytes / 1e6}%.1f MB vs corpus ${corpusBytes / 1e6}%.1f MB")
      println("INFO per-table: " + idx.tableNames.map(t =>
        f"$t ${dirBytes(s"spark-warehouse/$t") / 1e6}%.1f MB").mkString(", ") +
        " (BM25 serves from postings alone; positions = x3, profile = x5)")
      check("text_lookup_cheaper")(tIdx < tDir,
        f"indexed $tIdx%.3f s < direct $tDir%.3f s")

      // (5) batch serving: one plan for 3 queries must beat 3 single
      // lookups (the amortization x4 exists for) and match them
      // query for query
      val batches = Map(0 -> terms1, 1 -> terms2, 2 -> Seq("hash", "merge"))
      val batchDf = {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types._
        spark.createDataFrame(
          spark.sparkContext.parallelize(
            batches.toSeq.flatMap { case (q, ts) => ts.map(t => Row(q, t)) }, 1),
          StructType(Seq(StructField("query_id", IntegerType, nullable = false),
            StructField("term", StringType, nullable = false))))
      }
      val (batchRows, tBatch) = time(
        graft.text.Bm25.topKIndexedBatch(spark, "spottext_idx", batchDf, 20).collect())
      val singles = batches.toSeq.sortBy(_._1).map { case (qid, ts) =>
        qid -> time(Bm25.topKIndexed(spark, "spottext_idx", ts, 20).collect())
      }
      val tSingles = singles.map(_._2._2).sum
      val batchEqSingles = batches.keys.forall { qid =>
        val b = batchRows.filter(_.getInt(0) == qid)
          .map(r => (r.getLong(1), r.getDouble(2))).toSet
        val s = singles.find(_._1 == qid).get._2._1
          .map(r => (r.getLong(0), r.getDouble(1))).toSet
        b == s
      }
      check("text_batch_exact")(batchEqSingles,
        s"3-query batch matches the single-query path per query")
      // the amortization claim is STRUCTURAL (wall-clock at this
      // corpus size is per-plan overhead, not I/O): the whole batch
      // issues the same 2 postings scans (df + scoring) as ONE single
      // query — 3 singles issue 6 — and both stay bucket-pruned
      val batchPlan = graft.text.Bm25
        .topKIndexedBatch(spark, "spottext_idx", batchDf, 20)
        .queryExecution.executedPlan.toString
      val nPostScans = batchPlan.linesIterator.count(l =>
        l.contains("FileScan") && l.contains("spottext_idx_postings"))
      check("text_batch_one_scan_pair")(
        nPostScans <= 2 && batchPlan.contains("SelectedBucketsCount"),
        s"$nPostScans postings scans for the whole batch (3 singles issue 6), pruned")
      println(f"INFO batch wall $tBatch%.3f s vs 3 singles $tSingles%.3f s " +
        f"(overhead-bound at this tier; the scan count is the scale claim)")

      // (6) exact phrase search (x3) from the positional tables at
      // this tier: indexed ≡ direct adjacency recompute over the raw
      // text, and the serving plan reads only the phrase terms'
      // buckets of the positions table
      for ((phrase, i) <- Seq(Seq("table", "hash"),
        Seq("the", "table", "hash")).zipWithIndex) {
        val (served, tServe) = time(canon(
          graft.text.Phrase.matchesIndexed(spark, "spottext_idx", phrase)))
        val (direct, tDirect) = time(canon(
          graft.text.Phrase.matchesDirect(docs, phrase)))
        check(s"text_phrase_exact_$i")(served == direct,
          f"${served.size} matches, served $tServe%.2f s vs direct $tDirect%.2f s")
      }
      val phrasePlan = graft.text.Phrase
        .matchesIndexed(spark, "spottext_idx", Seq("table", "hash"))
        .queryExecution.executedPlan.toString
      check("text_phrase_bucket_pruned")(
        phrasePlan.contains("spottext_idx_positions") &&
          phrasePlan.contains("SelectedBucketsCount") &&
          !phrasePlan.contains("text#"),
        "positions scans pruned to the phrase terms' buckets, no text read")

      // (7) more-like-this (x5) from the stored index at this tier:
      // indexed ≡ an independent direct recompute from the raw text,
      // the source-profile read prunes to ONE bucket of the doc_id-
      // bucketed FORWARD table, and the doc-keyed lookup is measured
      // against what the pre-fix implementation did (filter doc_id on
      // the term-bucketed postings table = unprunable corpus-sized
      // scan — the x5 serving-path scale-killer this table exists
      // to kill)
      val srcDoc = 0L
      val (mltServed, tMltServe) = time(canon(
        graft.text.Mlt.topKIndexed(spark, "spottext_idx", srcDoc, k = 10)))
      val (mltDirectRes, tMltDirect) = time(canon(mltDirect(docs, srcDoc, 10)))
      check("text_mlt_exact")(mltServed == mltDirectRes,
        f"${mltServed.size} rows, served $tMltServe%.2f s vs direct $tMltDirect%.2f s")
      val profPlan = graft.text.Mlt.withBucketedScan(spark) {
        graft.text.Mlt.sourceProfile(spark, "spottext_idx", srcDoc, 25)
          .queryExecution.executedPlan.toString
      }
      check("text_mlt_profile_pruned")(
        "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(profPlan)
          .exists(_.group(1).toInt == 1) && profPlan.contains("_profile"),
        s"profile read prunes the forward table to 1 of $nBuckets buckets")
      val tProf = (1 to 3).map(_ => time(graft.text.Mlt.withBucketedScan(spark) {
        graft.text.Mlt.sourceProfile(spark, "spottext_idx", srcDoc, 25).collect()
      })._2).min
      val tProfPostings = (1 to 3).map(_ => time(
        spark.table("spottext_idx_postings").filter(col("doc_id") === srcDoc)
          .select(col("term"), col("tf"), col("dl"))
          .orderBy(col("tf").desc, col("term")).limit(25).collect())._2).min
      println(f"INFO mlt profile read min-of-3: forward table $tProf%.3f s vs " +
        f"postings full scan $tProfPostings%.3f s (${tProfPostings / tProf}%.1fx)")
      check("text_mlt_profile_beats_postings_scan")(tProf < tProfPostings,
        f"doc-bucketed read $tProf%.3f s < term-bucketed scan $tProfPostings%.3f s")

      // (2) append ≡ fresh serving at scale (partial stats rows sum)
      val split = maxId * 4 / 5
      idx.build(docs.filter(col("doc_id") <= split))
      idx.append(docs.filter(col("doc_id") > split))
      check("text_append_exact")(
        canon(Bm25.topKIndexed(spark, "spottext_idx", terms1, 20)) ==
          canon(Bm25.topK(docs, terms1, 20)),
        s"seed<=id $split + append, stats rows = " +
          spark.table("spottext_idx_stats").count())
      check("text_append_mlt_exact")(
        canon(graft.text.Mlt.topKIndexed(spark, "spottext_idx", srcDoc, 10)) ==
          mltDirectRes,
        "more-like-this identical after seed + append")

      idx.drop(spark)
      println(if (failures == 0) "ALL PASS" else s"$failures FAILURES")
      if (failures > 0) sys.exit(1)
    } finally spark.stop()
  }
}
