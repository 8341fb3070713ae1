package graft.dedup

import org.apache.spark.SpecBus
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.text.TextOps

final class DedupSpec extends SparkTestBase {
  import spark.implicits._

  // corpus with planted exact + near duplicates
  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river bank tomorrow"), // near dup of 1
    (4L, "completely different content about spark catalyst optimizer rules and physical plans"),
    (5L, "completely different content about spark catalyst optimizer rules and physical planning"), // near dup of 4
    (6L, "unrelated text mentioning neither animals nor query engines at all whatsoever")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical content") {
    val res = Dedup.exact(docs, "doc_id", "text").collect()
    assert(res.length == 5) // 1&2 merge
    val dupGroup = res.filter(_.getAs[Long]("n_copies") == 2)
    assert(dupGroup.length == 1)
    assert(dupGroup.head.getAs[Long]("keep_id") == 1L)
  }

  test("ngram jaccard finds planted near-dups and no others") {
    val pairs = NgramJaccard
      .pairs(docs, "doc_id", "text", n = 3, minJaccard = 0.5)
      .collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")))
      .toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)))
    assert(pairs.contains((2L, 3L)))
    assert(pairs.contains((4L, 5L)))
    assert(pairs.size == 4)
  }

  test("volumeOfPostings reports the exact join's pre-join pair count") {
    // three identical 3-shingle docs at tau = 0.8 post a one-shingle
    // prefix each (3 - ceil(0.8 * 3) + 1 = 1), the same rarest shingle:
    // one posting list of all three ids, C(3,2) = 3 candidate pairs
    val postings = Seq((7L, 1L), (7L, 2L), (7L, 3L)).toDF("sh", "id")
    val r = NgramJaccard.volumeOfPostings(postings).collect().head
    assert(r.getAs[Long]("distinct_sh") == 1L)
    assert(r.getAs[Long]("max_posting") == 3L)
    assert(r.getAs[Long]("postings") == 3L)
    assert(r.getAs[Long]("candidate_volume") == 3L)
    // len * (len - 1) DIV 2 stays LONG: a `/ 2` would sum doubles
    assert(r.schema("candidate_volume").dataType == org.apache.spark.sql.types.LongType)
  }

  test("pairs pre-flight guard refuses a saturated-vocabulary corpus") {
    // a closed 6-word vocabulary shared by 60 docs: every prefix
    // shingle posts a large fraction of the corpus, so the candidate
    // volume is Θ(n²) — the measured sf10 DNF regime in miniature
    val words = Array("aa", "bb", "cc", "dd", "ee", "ff")
    val saturated = (1L to 60L).map { i =>
      (i, (0 until 12).map(j => words(((i + j) % 6).toInt)).mkString(" "))
    }.toDF("doc_id", "text")
    val e = intercept[IllegalStateException] {
      NgramJaccard.pairs(saturated, "doc_id", "text", n = 3, minJaccard = 0.5,
        maxCandidateVolume = 100L)
    }
    assert(e.getMessage.contains("candidate volume"))
    assert(e.getMessage.contains("MinHashLSH.nearDuplicates"))
    // same corpus, guard disabled: the exact join still completes and
    // agrees with the LSH contract's verified-pairs semantics
    val n = NgramJaccard.pairs(saturated, "doc_id", "text", n = 3, minJaccard = 0.5,
      maxCandidateVolume = Long.MaxValue).count()
    assert(n > 0)
  }

  test("simhash joinHint typo fails fast instead of silently unpinning the plan") {
    val fps = SimHash.fingerprintsOfTokens(docs, "doc_id", array_distinct(TextOps.tokens(col("text"))))
    intercept[IllegalArgumentException] {
      SimHash.pairs(fps, maxDist = 3, matchChunks = 1, joinHint = "sort_merge")
    }
  }

  test("minhash LSH recovers the exact near-dup pairs (recall check)") {
    val exact = NgramJaccard
      .pairs(docs, "doc_id", "text", n = 3, minJaccard = 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = MinHashLSH
      .nearDuplicates(docs, "doc_id", "text",
        numHashes = 24, bands = 8, n = 3, minJaccard = 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact) // banding recall 1.0 on these similarities
  }

  test("minhash LSH on driver data matches exact pairs at tau=0.8") {
    val docs01 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exact = NgramJaccard.pairs(docs01, "doc_id", "text", 3, 0.8)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = MinHashLSH.nearDuplicates(docs01, "doc_id", "text", 24, 8, 3, 0.8)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact)
  }

  test("decontamination flags docs sharing benchmark n-grams, and only those") {
    val benchmark = Seq(
      (900L, "the capital of france is paris and the capital of italy is rome")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "students learn that the capital of france is paris every year"), // leaked
      (2L, "completely unrelated training text about spark joins and shuffles"),
      (3L, "the capital markets rallied today on strong earnings reports")   // shares no 5-gram
    ).toDF("doc_id", "text")
    val report = Decontamination.overlapReport(corpus, benchmark, "doc_id", "text", n = 5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("max_overlap"), r.getAs[Int]("contaminated"))).toMap
    assert(report(1L)._2 == 1 && report(1L)._1 >= 1)
    assert(report(2L) == ((0L, 0)))
    assert(report(3L) == ((0L, 0)))
  }

  test("incremental dedup finds exactly the pairs touching the new batch") {
    val docs01 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val split = 250L
    val full = MinHashLSH.nearDuplicates(docs01, "doc_id", "text", 24, 8, 3, 0.8)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val incr = MinHashLSH.nearDuplicatesIncremental(
        docs01.filter(col("doc_id") < split), docs01.filter(col("doc_id") >= split),
        "doc_id", "text", 24, 8, 3, 0.8)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(incr == full.filter { case (_, b) => b >= split })
    assert(incr.forall { case (_, b) => b >= split }, "no existing-only pairs may appear")
    assert(incr.nonEmpty)
  }

  test("stored band index path equals the recompute path, without re-signing existing docs") {
    val docs01 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val split = 250L
    val existing = docs01.filter(col("doc_id") < split)
    val incoming = docs01.filter(col("doc_id") >= split)
    val table = "band_index_spec"
    try {
      bucketedTable(
        MinHashLSH.bandIndex(existing, "doc_id", "text", 24, 8, 3), table, "bucket", 8)
      val indexed = MinHashLSH.nearDuplicatesIncrementalIndexed(
          spark.table(table), existing, incoming, "doc_id", "text", 24, 8, 3, 0.8)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recompute = MinHashLSH.nearDuplicatesIncremental(
          existing, incoming, "doc_id", "text", 24, 8, 3, 0.8)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(indexed == recompute && indexed.nonEmpty)

      // the whole point: the indexed plan signs ONLY the incoming batch —
      // in the ANALYZED plans (what the operator declares, before the
      // optimizer duplicates subtrees with pushed-down predicates), no
      // MinHashSignature computation may sit above the existing-side
      // filter (doc_id < split); existing bands come from the stored
      // table. The band and candidate checkpoints cut the returned
      // plan, so the lineage above them is read from the checkpoint
      // actions themselves.
      def plans(body: => org.apache.spark.sql.DataFrame): Seq[LogicalPlan] = {
        val (df, cut) = SpecBus.checkpoints(spark)(body)
        df.queryExecution.analyzed +: cut.map(_.analyzed)
      }
      def signed(plan: LogicalPlan, cond: String): Boolean =
        plan.collect {
          case p if p.expressions.exists(_.exists(
                _.isInstanceOf[graft.functions.MinHashSignature])) &&
              p.collect { case f: Filter if f.condition.toString.contains(cond) => f }
                .nonEmpty => p
        }.nonEmpty
      val indexedPlans = plans(MinHashLSH.nearDuplicatesIncrementalIndexed(
        spark.table(table), existing, incoming, "doc_id", "text", 24, 8, 3, 0.8))
      assert(indexedPlans.exists(signed(_, s">= $split")), "the batch must be signed")
      assert(!indexedPlans.exists(signed(_, s"< $split")), "existing side must not be re-signed")
      assert(indexedPlans.exists(_.toString.contains(table)),
        "existing bands must come from the stored index table")
      // positive control: the recompute form DOES sign the existing side
      assert(plans(MinHashLSH.nearDuplicatesIncremental(
        existing, incoming, "doc_id", "text", 24, 8, 3, 0.8)).exists(signed(_, s"< $split")))

      // append maintenance: after folding the batch in, the index serves
      // the NEXT batch — equivalence holds against a full recompute
      bucketedTable(
        MinHashLSH.bandIndex(incoming, "doc_id", "text", 24, 8, 3), table,
        "bucket", 8, append = true)
      val stored = spark.table(table)
      val fresh = MinHashLSH.bandIndex(docs01, "doc_id", "text", 24, 8, 3)
      assert(stored.count() == fresh.count())
      assert(stored.exceptAll(fresh).isEmpty && fresh.exceptAll(stored).isEmpty)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("prefix filtering prunes a universal hot shingle without losing pairs") {
    // 40 docs, each with its own distinct vocabulary, all sharing one
    // universal phrase ("common shared filler words appear in every
    // document") — the degenerate posting list that makes a plain
    // inverted-index join quadratic. Two planted near-dup pairs.
    val base = (0 until 40).map { i =>
      val own = (0 until 12).map(j => s"tok${i}_$j").mkString(" ")
      (i.toLong, s"common shared filler words appear everywhere $own")
    }
    val planted = Seq(
      (100L, base(0)._2 + " extra"),   // near-dup of doc 0
      (101L, base(1)._2 + " extra2")   // near-dup of doc 1
    )
    val corpus = (base ++ planted).toDF("doc_id", "text")

    val n = 3
    val tau = 0.7
    val nDocs = 42L
    val allPairs = nDocs * (nDocs - 1) / 2

    val nCand = NgramJaccard.prefixCandidatesOfSets(
      corpus.select(col("doc_id").as("id"), NgramJaccard.shingles(col("text"), n).as("shs")),
      tau).count()
    // every doc shares the universal 3-gram windows, so an unfiltered
    // posting join would candidate every pair; the prefix keeps only
    // each doc's rarest shingles, which the hot shingles never are
    assert(nCand < allPairs / 4, s"prefix candidates $nCand should be far below $allPairs")

    val found = NgramJaccard.pairs(corpus, "doc_id", "text", n, tau)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.contains((0L, 100L)))
    assert(found.contains((1L, 101L)))
  }

  test("prefix filtering is complete: randomized corpora match brute force") {
    // seeded random corpora over a small vocabulary (forcing heavy
    // shingle sharing), brute-force expected pairs computed in plain
    // Scala with the same shingle semantics
    val n = 3
    val tau = 0.6
    for (seed <- Seq(7, 23, 99)) {
      val rnd = new scala.util.Random(seed)
      val vocab = Vector.tabulate(12)(i => s"w$i")
      val docs = (0 until 60).map { id =>
        val len = 3 + rnd.nextInt(25)
        (id.toLong, Vector.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }

      def shingleSet(text: String): Set[String] = {
        val toks = text.split("\\s+").toVector
        if (toks.length < n) Set.empty
        else toks.sliding(n).map(_.mkString(" ")).toSet
      }
      val sh = docs.map { case (id, t) => id -> shingleSet(t) }.toMap
      val expected = (for {
        (a, sa) <- sh; (b, sb) <- sh if a < b && sa.nonEmpty
        i = (sa & sb).size; u = (sa | sb).size
        if u > 0 && i * 1000000L >= u * math.round(tau * 1e6)
      } yield (a, b)).toSet

      val got = NgramJaccard.pairs(docs.toDF("doc_id", "text"), "doc_id", "text", n, tau)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected, s"seed $seed: got ${got.size}, expected ${expected.size}")
    }
  }

  test("simhash: identical docs collide at distance 0, near-dups are close") {
    val fps = SimHash.fingerprintsOfTokens(docs, "doc_id", array_distinct(TextOps.tokens(col("text"))))
    val byId = fps.collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("simhash")).toMap
    assert(byId(1L) == byId(2L))
    val d13 = java.lang.Long.bitCount(byId(1L) ^ byId(3L))
    val d16 = java.lang.Long.bitCount(byId(1L) ^ byId(6L))
    assert(d13 < d16, s"near-dup dist $d13 should be < unrelated dist $d16")

    val pairs = SimHash.pairs(fps, maxDist = d13)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)))
  }

  test("simhash combination blocking (matchChunks > 1) is exact for every m") {
    import spark.implicits._
    // seeded fingerprints with planted near-dup clusters: base values
    // plus variants at small hamming distances, against a random
    // background — exercises hits at the threshold boundary
    val rnd = new scala.util.Random(7)
    val base = Seq.fill(12)(rnd.nextLong())
    val planted = base.zipWithIndex.flatMap { case (f, i) =>
      val flips = (0 until (i % 14)).map(k => 1L << ((k * 5 + i) % 64)).fold(0L)(_ | _)
      Seq(f, f ^ flips)
    }
    val all = (planted ++ Seq.fill(60)(rnd.nextLong())).zipWithIndex
      .map { case (f, i) => (i.toLong, f) }
    val fps = all.toDF("id", "simhash")
    for (maxDist <- Seq(3, 4, 8, 12)) { // 4 = d15's gated production radius
      val brute = (for {
        (a, fa) <- all; (b, fb) <- all
        if a < b && java.lang.Long.bitCount(fa ^ fb) <= maxDist
      } yield (a, b)).toSet
      for (m <- Seq(1, 2, 3)) {
        val got = SimHash.pairs(fps, maxDist, matchChunks = m)
          .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got == brute,
          s"maxDist=$maxDist m=$m: got ${got.size}, expected ${brute.size}")
      }
      // the spill-safe strategy (joinHint = "merge", used by large-
      // scale audits where SHUFFLE_HASH's non-spillable build side
      // overflows) must return the identical pair set and actually
      // plan a SortMergeJoin, not fall back to anything else
      val merged = SimHash.pairs(fps, maxDist, matchChunks = 1, joinHint = "merge")
      assert(merged.queryExecution.executedPlan.toString.contains("SortMergeJoin"),
        "joinHint=merge must plan a SortMergeJoin")
      val gotMerge = merged.select("a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(gotMerge == brute, s"maxDist=$maxDist merge-hint: got ${gotMerge.size}")
    }
  }
}
