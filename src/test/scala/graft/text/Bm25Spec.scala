package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.index.TextIndex

/** BM25 serving from the persisted inverted index ([[TextIndex]] +
  * [[Bm25.topKIndexed]]) vs direct computation ([[Bm25.topK]]) — the
  * x1 oracle gates the build-path on the registry fixture; this spec
  * pins what the oracle can't see: exactness UNDER APPEND (the
  * per-batch partial stats rows must SUM to the fresh corpus stats,
  * or every score is silently wrong), a disjoint term set, and the
  * serving plan's storage properties (no text column scanned, doc
  * lengths ride in the posting row — nothing doc-keyed is read).
  */
final class Bm25Spec extends SparkTestBase {

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))

  private def canon(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  /** The brute-force proximity reference: the same search computed
    * DIRECTLY from a (doc_id, text) corpus, with no index.
    */
  private def proximityDirect(docs: DataFrame, terms: Seq[String], window: Int): DataFrame =
    Phrase.proximityFrom(
      docs.select(col("doc_id"),
        posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "term"))),
      terms, window)

  test("indexed BM25 equals direct computation, including after appends") {
    val idx = TextIndex("bm25spec_idx", nBuckets = 4)
    idx.drop(spark)
    try {
      val p1 = docs.filter(col("doc_id") % 3 =!= 0)
      val p2 = docs.filter(col("doc_id") % 3 === 0)
      idx.build(p1)
      idx.append(p2)
      // two batches -> two partial stats rows; serving must SUM them
      assert(spark.table("bm25spec_idx_stats").count() == 2)
      for (terms <- Seq(Seq("table", "query", "spark"), Seq("data", "the"))) {
        val served = Bm25.topKIndexed(spark, "bm25spec_idx", terms, k = 20)
        val direct = Bm25.topK(docs, terms, k = 20)
        assert(canon(served) == canon(direct), s"terms=$terms")
      }
      // storage properties: the serving plan never touches the corpus
      // text and reads NOTHING doc-keyed — dl rides in the posting
      // row (norm-in-posting), so the only non-scalar table scanned
      // is the bucket-pruned postings (stats reduces to a broadcast
      // scalar; no doc-keyed table even exists in the index)
      val plan = Bm25.topKIndexed(spark, "bm25spec_idx",
        Seq("table", "query", "spark"), k = 20)
        .queryExecution.executedPlan.toString
      assert(plan.contains("bm25spec_idx_postings"))
      assert(!plan.contains("text#"), "serving plan reads a text column")
      assert(idx.tableNames == Seq("bm25spec_idx_postings"),
        "the pure-BM25 index owns exactly the postings table")
      assert(plan.contains("SelectedBucketsCount"),
        "query-term filter did not prune postings buckets")
    } finally idx.drop(spark)
  }

  test("batch BM25 equals the single-query serving path, query for query") {
    val idx = TextIndex("bm25spec_b", nBuckets = 4)
    idx.drop(spark)
    try {
      idx.build(docs)
      val batches = Map(
        0 -> Seq("table", "query", "spark"),
        1 -> Seq("data", "the"),
        2 -> Seq("zzz_absent"))
      import spark.implicits._
      val batchDf = batches.toSeq
        .flatMap { case (q, ts) => ts.map(q -> _) }.toDF("query_id", "term")
      val got = Bm25.topKIndexedBatch(spark, "bm25spec_b", batchDf, k = 10)
      // per query, the batch rows equal the single-query path (which
      // the x1 oracle gates) modulo the extra query_id column; an
      // absent-term query contributes nothing
      for ((qid, ts) <- batches) {
        val single = Bm25.topKIndexed(spark, "bm25spec_b", ts, k = 10)
          .select(col("doc_id"), col("score"))
        val batch = got.filter(col("query_id") === qid)
          .select(col("doc_id"), col("score"))
        assert(canon(batch) == canon(single), s"query $qid")
      }
      // the per-query tail is the bounded aggregation, not a window
      val plan = got.queryExecution.executedPlan.toString
      assert(plan.contains("topkagg") || plan.contains("TopKAgg"),
        "batch tail must be the bounded TopKAgg, not a row_number window")
      assert(plan.contains("SelectedBucketsCount"),
        "batch vocabulary did not prune postings buckets")
    } finally idx.drop(spark)
  }

  test("indexed phrase search equals direct adjacency recompute; reads only the positions buckets") {
    val idx = TextIndex("phrspec_idx", nBuckets = 4, positional = true)
    idx.drop(spark)
    try {
      idx.build(docs.filter(col("doc_id") % 3 =!= 0))
      idx.append(docs.filter(col("doc_id") % 3 === 0))
      for (phrase <- Seq(Seq("table", "hash"), Seq("the", "table", "hash"),
        Seq("zzz_absent", "hash"))) {
        val served = Phrase.matchesIndexed(spark, "phrspec_idx", phrase)
        val direct = Phrase.matchesDirect(docs, phrase)
        assert(canon(served) == canon(direct), s"phrase=$phrase")
      }
      val plan = Phrase.matchesIndexed(spark, "phrspec_idx", Seq("table", "hash"))
        .queryExecution.executedPlan.toString
      assert(plan.contains("phrspec_idx_positions"))
      assert(!plan.contains("text#"), "phrase serving reads a text column")
      assert(plan.contains("SelectedBucketsCount"),
        "phrase-term filters did not prune the positions buckets")
    } finally idx.drop(spark)
  }

  test("proximity search equals direct minimal-span recompute; window semantics pinned") {
    val idx = TextIndex("proxspec_idx", nBuckets = 4, positional = true)
    idx.drop(spark)
    try {
      idx.build(docs.filter(col("doc_id") % 3 =!= 0))
      idx.append(docs.filter(col("doc_id") % 3 === 0))
      for ((terms, w) <- Seq((Seq("the", "table", "hash"), 8),
        (Seq("table", "hash"), 1), (Seq("table", "hash"), 3),
        (Seq("zzz_absent", "hash"), 50))) {
        val served = Phrase.proximityIndexed(spark, "proxspec_idx", terms, w)
        val direct = proximityDirect(docs, terms, w)
        assert(canon(served) == canon(direct), s"terms=$terms w=$w")
      }
      // window=1 over a 2-term set = adjacency in either order — it
      // must cover at least the exact-phrase matches
      val adj = Phrase.matchesIndexed(spark, "proxspec_idx", Seq("table", "hash"))
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      val prox = Phrase.proximityIndexed(spark, "proxspec_idx",
        Seq("table", "hash"), window = 1)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      assert(adj.subsetOf(prox), "adjacent matches must qualify at window 1")
      // the plan is pinned bucket-pruned like the phrase path
      val plan = Phrase.proximityIndexed(spark, "proxspec_idx",
        Seq("the", "table", "hash"), window = 8)
        .queryExecution.executedPlan.toString
      assert(plan.contains("proxspec_idx_positions") &&
        plan.contains("SelectedBucketsCount") && !plan.contains("text#"),
        "proximity scans must stay bucket-pruned and text-free")
      // repeated terms would double-use one position — refused
      intercept[IllegalArgumentException] {
        Phrase.proximityIndexed(spark, "proxspec_idx", Seq("the", "the"), 5)
      }
    } finally idx.drop(spark)
  }

  test("proximity merge kernel: no join, exact on a heavy stopword doc") {
    import spark.implicits._
    // 600 occurrences of 'the' around one 'table' and one 'hash': the
    // former per-term position JOIN enumerated f_the·f_table·f_hash
    // combinations per doc (600 here, 10⁶+ for a long doc at corpus
    // scale); the MinSpan merge visits each position once and must
    // still return the exact minimal covering span.
    val heavy = (Seq.fill(250)("the") ++ Seq("table") ++
      Seq.fill(250)("the") ++ Seq("hash") ++ Seq.fill(100)("the"))
    val planted = Seq(
      (1L, heavy.mkString(" ")),
      (2L, "table the hash"),
      (3L, "table the the")) // no 'hash' -> excluded at any window
      .toDF("doc_id", "text")
    val terms = Seq("the", "table", "hash")

    // independent brute reference: min over every one-position-per-
    // term combination (what the old join computed)
    def brute(tokens: Seq[String]): Option[Long] = {
      val lists = tokens.indices.map(_.toLong).groupBy(i => tokens(i.toInt))
      if (terms.exists(t => !lists.contains(t))) None
      else {
        var best = Long.MaxValue
        for (a <- lists(terms(0)); b <- lists(terms(1)); c <- lists(terms(2)))
          best = math.min(best, Seq(a, b, c).max - Seq(a, b, c).min)
        Some(best)
      }
    }
    val expected = Seq(1L -> brute(heavy), 2L -> brute(Seq("table", "the", "hash")))
      .collect { case (id, Some(s)) => id -> s }.toMap

    val wide = proximityDirect(planted, terms, window = 300)
    val got = wide.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected, s"merge kernel vs brute combination: $got vs $expected")
    // tight window keeps only the adjacent doc
    val tight = proximityDirect(planted, terms, window = 8)
      .collect().map(r => r.getLong(0)).toSeq
    assert(tight == Seq(2L))
    // the linear shape is structural: one aggregation, zero joins
    val plan = wide.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), "proximity must not join position lists")
  }

  test("more-like-this: self excluded, shared-term counts bounded, absent source -> empty") {
    val idx = TextIndex("mltspec_idx", nBuckets = 4, forward = true)
    idx.drop(spark)
    try {
      idx.build(docs)
      val got = Mlt.topKIndexed(spark, "mltspec_idx", srcDocId = 0L, k = 10)
        .collect()
      assert(got.nonEmpty && got.forall(_.getLong(0) != 0L),
        "source doc must never rank in its own results")
      assert(got.forall(r => r.getLong(1) >= 1 && r.getLong(1) <= 25),
        "shared-term count must be within the maxQueryTerms cap")
      // a capped profile is what makes the scan prunable
      val plan = Mlt.topKIndexed(spark, "mltspec_idx", srcDocId = 0L, k = 10)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount"),
        "capped source profile did not bucket-prune the candidate scan")
      assert(Mlt.topKIndexed(spark, "mltspec_idx", srcDocId = -1L, k = 10)
        .count() == 0, "absent source doc must yield no results")
    } finally idx.drop(spark)
  }

  test("more-like-this profile read is doc-bucket-pruned on the FORWARD table, never the postings") {
    val idx = TextIndex("mltspec_fw", nBuckets = 4, forward = true)
    idx.drop(spark)
    try {
      idx.build(docs)
      // the doc-keyed lookup scans the doc_id-bucketed forward table
      // and prunes to ONE bucket — a doc_id predicate against the
      // term-bucketed postings table would be an unprunable full scan
      // of a corpus-sized table, the x5 serving-path scale-killer
      // plan under the same pinned-bucketed-scan conf serving uses
      // (DisableUnnecessaryBucketedScan would otherwise drop the
      // pruning from this no-join plan)
      val profPlan = Mlt.withBucketedScan(spark) {
        Mlt.sourceProfile(spark, "mltspec_fw", 0L, 25)
          .queryExecution.executedPlan.toString
      }
      assert(profPlan.contains("mltspec_fw_profile"),
        "profile read must scan the forward table")
      assert(!profPlan.contains("mltspec_fw_postings"),
        "profile read must never scan the postings table")
      assert("SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(profPlan).exists(m => m.group(1).toInt == 1),
        s"doc_id predicate must prune the forward table to one bucket: $profPlan")
      // the candidate plan consumes the profile driver-side — the
      // forward table never appears in the scoring plan itself
      val candPlan = Mlt.topKIndexed(spark, "mltspec_fw", srcDocId = 0L, k = 10)
        .queryExecution.executedPlan.toString
      assert(!candPlan.contains("mltspec_fw_profile"),
        "scoring plan must not rescan the forward table")
      // forward rows ≡ postings rows (bucketing is the only difference)
      assert(canon(spark.table("mltspec_fw_profile")) ==
        canon(spark.table("mltspec_fw_postings")
          .select(col("doc_id"), col("term"), col("tf"), col("dl"))))
      // an index built WITHOUT the forward table refuses MLT loudly
      val bare = TextIndex("mltspec_bare", nBuckets = 4)
      bare.drop(spark)
      try {
        bare.build(docs)
        val e = intercept[IllegalArgumentException] {
          Mlt.topKIndexed(spark, "mltspec_bare", srcDocId = 0L, k = 10)
        }
        assert(e.getMessage.contains("forward"))
      } finally bare.drop(spark)
    } finally idx.drop(spark)
  }

  test("batch more-like-this equals the single-source path, source for source") {
    val idx = TextIndex("mltspec_batch", nBuckets = 4, forward = true)
    idx.drop(spark)
    try {
      idx.build(docs)
      val srcs = Seq(0L, 1L, 2L, -5L) // -5: absent source contributes nothing
      val got = Mlt.topKIndexedBatch(spark, "mltspec_batch", srcs, k = 10)
      assert(got.filter(col("src_id") === -5L).count() == 0)
      for (src <- srcs.filter(_ >= 0)) {
        val single = Mlt.topKIndexed(spark, "mltspec_batch", src, k = 10)
          .select(col("doc_id"), col("n_shared_terms"), col("score"))
        val batch = got.filter(col("src_id") === src)
          .select(col("doc_id"), col("n_shared_terms"), col("score"))
        assert(canon(batch) == canon(single), s"src=$src")
      }
      val plan = Mlt.topKIndexedBatch(spark, "mltspec_batch", srcs, k = 10)
        .queryExecution.executedPlan.toString
      // the per-source tail is the bounded aggregation, and the
      // candidate scan stays bucket-pruned under the batch vocabulary
      assert(plan.contains("topkpayloadagg") || plan.contains("TopKPayloadAgg"),
        "batch tail must be the bounded TopKPayloadAgg")
      assert(plan.contains("SelectedBucketsCount"),
        "batch vocabulary did not prune the postings buckets")
      assert(!plan.contains("mltspec_batch_profile"),
        "profiles are consumed driver-side, never rescanned in the plan")
      intercept[IllegalArgumentException] {
        Mlt.topKIndexedBatch(spark, "mltspec_batch", Seq(1L, 1L), k = 10)
      }
    } finally idx.drop(spark)
  }

  test("indexed BM25: absent terms score nothing; no query terms -> empty") {
    val idx = TextIndex("bm25spec_idx2", nBuckets = 2)
    idx.drop(spark)
    try {
      idx.build(docs)
      val hit = Bm25.topKIndexed(spark, "bm25spec_idx2",
        Seq("zzz_not_a_token_zzz"), k = 10)
      assert(hit.count() == 0)
      assert(Bm25.topKIndexed(spark, "bm25spec_idx2", Nil, k = 10).count() == 0)
    } finally idx.drop(spark)
  }
}
