package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.TextOps

/** Deduplication operators for corpus-scale pipelines.
  *
  * Four tiers, trading exactness for scale:
  *   - [[Dedup.exact]] — hash group-by; one shuffle, fully exact.
  *   - [[NgramJaccard]] — exact set-similarity pairs; the oracle
  *     baseline. All-pairs only when the corpus fits it.
  *   - [[MinHashLSH]] — signature + banding; candidate generation is
  *     a bucket join (shuffle on band hashes, never all-pairs), the
  *     100 TB path for text near-dup.
  *   - [[SimHash]] — 64-bit fingerprints + pigeonhole blocking for
  *     hamming-distance pairs; cheapest per-doc state.
  */
object Dedup {

  /** Exact dedup: canonicalize → md5 → group. Returns one row per
    * distinct content hash with the kept (min) id and the duplicate
    * count. A single hash-partitioned aggregation — at 100 TB this is
    * the canonical map-side-combine group-by, no other shuffle.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(trim(lower(col(textCol))).cast("binary")).as("content_hash"))
      .agg(
        min(col(idCol)).as("keep_id"),
        count(lit(1)).as("n_copies")
      )
}

/** Exact n-gram (word-shingle) Jaccard similarity pairs.
  *
  * Similarity is computed in exact integer arithmetic
  * (|A∩B|, |A∪B|) — the threshold test cross-multiplies instead of
  * dividing, so there is no floating-point boundary to disagree on
  * across engines. The all-pairs form here is the correctness
  * baseline; use [[MinHashLSH]] to generate candidates at scale and
  * verify them with this exact measure.
  */
object NgramJaccard {

  /** Distinct word n-gram set of a text column (single-pass custom
    * expression; see [[graft.functions.WordShingles]]).
    */
  def shingles(c: Column, n: Int): Column =
    graft.functions.WordShingles(TextOps.tokens(c), n)

  /** Candidate pairs (a < b) that can possibly reach Jaccard ≥ t,
    * from prefix-filtered posting lists (Chaudhuri et al. SSJoin /
    * Xiao et al. PPJoin): order each doc's shingles by ascending
    * document frequency (rarest first, ties by value) and post only
    * the first |A| − ⌈t·|A|⌉ + 1 of them — any pair with J ≥ t must
    * collide inside both prefixes, so the join stays exact while a
    * universally-shared shingle (the Σ postings² hot key) drops out
    * of every large doc's posting list entirely.
    *
    * On top of the prefix collision, PPJoin's POSITION filter runs
    * inside the posting join's codegen, before anything shuffles to
    * `distinct`: both docs order shingles by the same global
    * (dfreq, value) order, so every shared shingle of a true pair
    * sits at rank ≥ the colliding one in BOTH lists, giving
    * i ≤ min(szA − rkA, szB − rkB) + 1 for the pair's rarest shared
    * shingle; J ≥ t additionally forces i ≥ t/(1+t)·(szA+szB). A
    * collision failing that bound can still be the pair's non-rarest
    * collision, so the pair survives if ANY of its collisions passes
    * — a superset of the per-pair first-collision rule, hence still
    * complete, while killing the low-similarity bulk (measured at a
    * 50 k-doc corpus: 17.6 M distinct candidates → 2.25 M).
    *
    * The prefix-length and position tests are kept in integer
    * arithmetic (rank ≤ sz − ⌈t·sz⌉ + 1  ⇔  t·sz ≤ sz + 1 − rank,
    * scaled to millionths) — a float ⌈⌉ at the boundary would
    * silently shorten prefixes and break exactness.
    *
    * Takes an already-shingled (id, shs) table. The doc's set size
    * rides through the explode as `size(shs)` — a per-row projection —
    * instead of being re-counted with a second
    * `count().over(partitionBy(id))` window pass over the exploded
    * posting table (that window was a full extra shuffle+sort of
    * every (id, shingle) row for a value known before the explode).
    * Only the rarity `row_number` window remains, which is inherent
    * to prefix filtering.
    */
  private[dedup] def prefixCandidatesOfSets(shSets: DataFrame,
                                            minJaccard: Double): DataFrame =
    candidatesOfPostings(prefixPostings(shSets, minJaccard), minJaccard)

  /** The prefix-filtered posting table (sh, id, sz, rk) both the
    * candidate join and [[volumeOfPostings]] are built from.
    */
  private def prefixPostings(shSets: DataFrame, minJaccard: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val num   = math.round(minJaccard * 1e6)
    val denom = 1000000L
    val sh = shSets.select(col("id"), size(col("shs")).as("sz"),
      explode(col("shs")).as("sh"))
    val dfreq = sh.groupBy(col("sh")).agg(count(lit(1)).as("dfreq"))
    val byRarity = Window.partitionBy(col("id")).orderBy(col("dfreq").asc, col("sh").asc)
    sh.join(dfreq, Seq("sh"))
      .withColumn("rk", row_number().over(byRarity))
      .filter(lit(num) * col("sz") <= lit(denom) * (col("sz") + 1 - col("rk")))
  }

  /** The exact join's candidate volume Σ_sh |prefix-posting(sh)|²,
    * computed from a (possibly checkpointed) posting table WITHOUT
    * running the join — one cheap aggregation. Returns one row:
    * (postings, distinct_sh, max_posting, candidate_volume).
    * len·(len−1) DIV 2 stays in LONG arithmetic end to end: a `/ 2`
    * would divide Long by Long into a Double, whose 53-bit mantissa
    * silently rounds the running sum above ~9e15 — the enormous-n²
    * regime this volume exists to catch (sf10's closed-vocabulary
    * case is already ~1e15).
    */
  private[dedup] def volumeOfPostings(postings: DataFrame): DataFrame =
    postings
      .groupBy(col("sh")).agg(count(lit(1)).as("len"))
      .agg(sum(col("len")).as("postings"),
        count(lit(1)).as("distinct_sh"),
        max(col("len")).as("max_posting"),
        sum(expr("len * (len - 1) DIV 2")).as("candidate_volume"))

  private def candidatesOfPostings(prefix: DataFrame,
                                   minJaccard: Double): DataFrame = {
    val num   = math.round(minJaccard * 1e6)
    val denom = 1000000L
    prefix.select(col("sh"), col("id").as("a"), col("sz").as("sza"), col("rk").as("rka"))
      .join(prefix.select(col("sh"), col("id").as("b"), col("sz").as("szb"), col("rk").as("rkb")),
        Seq("sh"))
      .filter(col("a") < col("b"))
      // position filter: i ≥ t/(1+t)·(szA+szB)  ⇔  keep collisions
      // with (min remaining + 1)·(num+denom) ≥ num·(szA+szB)
      .filter((least(col("sza") - col("rka"), col("szb") - col("rkb")) + 1)
        * lit(num + denom) >= lit(num) * (col("sza") + col("szb")))
      .select("a", "b")
      .distinct()
  }

  /** All pairs (a < b) with Jaccard ≥ `minJaccard`, plus exact
    * intersection/union counts.
    *
    * Inverted-index formulation (not an O(n²) cross join):
    * [[prefixCandidatesOfSets]] generates the (provably complete) candidate
    * pairs from rarest-shingle postings, then one pass over the
    * shingle sets verifies each candidate exactly — candidates melt
    * to two (pair, id) rows, join the per-doc shingle arrays on id,
    * and the pair re-assembles in a group-by, so the corpus-sized
    * shingle table is touched once, not once per join side. All
    * shuffles are on keys (shingle, id, pair); the threshold test
    * stays exact integer arithmetic.
    *
    * The (id, shs) shingle projection is `localCheckpoint`ed LAZILY
    * (eager = false) so the candidate generator and the verifier read
    * ONE materialization of the shingling work (tokenize + n-gram set
    * per doc) instead of each re-deriving the whole subtree — while
    * building this DataFrame stays a pure plan-construction step (no
    * Spark job until an action fires, and plan audits still see the
    * subtree). Blocks live in executor memory and spill to local
    * disk, and are freed when the plan is garbage-collected — nothing
    * is pinned across queries. Trade-off (documented, accepted):
    * checkpoint blocks are non-recomputable if an executor is lost
    * under dynamic allocation — acceptable for a bounded two-reader
    * subplan; a resilient alternative is persist(DISK_ONLY) + unpersist.
    *
    * `maxCandidateVolume` is the pre-flight guard (measured at sf10:
    * a 17.9 M-candidate corpus verifies in seconds; a closed-
    * vocabulary 2.0 B-candidate one died of local-disk spill — the
    * default is half the measured DNF). Before building the join, the
    * exact Σ len·(len−1)/2 posting volume is computed (one cheap
    * aggregation over the ALREADY-checkpointed posting table — the
    * join reuses the same materialization, so the guard's scan is not
    * wasted work) and the operator fails loudly with the measured
    * number and the scale alternative ([[MinHashLSH.nearDuplicates]],
    * same verified-pairs contract at a recall budget) instead of
    * starting a join it cannot finish. Cluster callers with real
    * shuffle capacity raise it; `Long.MaxValue` disables the
    * pre-flight action entirely (pure plan construction, the old
    * behavior).
    */
  def pairs(df: DataFrame, idCol: String, textCol: String, n: Int,
            minJaccard: Double,
            maxCandidateVolume: Long = 1000000000L): DataFrame = {
    val num   = math.round(minJaccard * 1e6)
    val denom = 1000000L
    // shingles are 64-bit-hashed ONCE at shingling: posting keys,
    // document frequencies, and the verify intersects all ride on
    // longs instead of ~25-byte n-gram strings (~4× less shuffle
    // byte-volume end to end). Set semantics survive hashing modulo
    // 64-bit collisions INSIDE one pair's union (~|A∪B|²/2⁶⁴ per
    // pair — negligible); the rarity order changes with the values,
    // which prefix filtering permits (any one global order works).
    // spread before shingling: tokenize + n-gram set + per-shingle
    // hashing cost far more per byte than the scan that feeds them,
    // and a byte-small 1-split input runs the whole pass on one core
    // (graft.core.Partitioning.spread — a no-op at scale)
    val shSets = graft.core.Partitioning.spread(df)
      .select(col(idCol).as("id"),
        transform(shingles(col(textCol), n), s => xxhash64(s)).as("shs"))
      .localCheckpoint(eager = false)
    val prefix = prefixPostings(shSets, minJaccard).localCheckpoint(eager = false)
    if (maxCandidateVolume < Long.MaxValue) {
      val r = volumeOfPostings(prefix).collect().head
      val vol = r.getAs[Long]("candidate_volume")
      if (vol > maxCandidateVolume)
        throw new IllegalStateException(
          s"NgramJaccard.pairs pre-flight: exact-join candidate volume $vol exceeds " +
          s"maxCandidateVolume=$maxCandidateVolume (max posting ${r.getAs[Long]("max_posting")}, " +
          s"${r.getAs[Long]("distinct_sh")} distinct shingles). The exact PPJoin is " +
          "sub-quadratic only while prefix postings stay short; this corpus' shingle " +
          "vocabulary is too closed for that. Use MinHashLSH.nearDuplicates (same " +
          "verified-pairs contract, candidates track TRUE pairs) or raise the budget.")
    }
    // verify via two equi-joins on id — the candidate rows (two
    // longs) shuffle to each side's sets; sets themselves shuffle
    // once per side (one Exchange on id, reused for both probes),
    // never once per PAIR the way a melt + groupBy(a, b) carrying
    // both arrays through the aggregate shuffle would
    candidatesOfPostings(prefix, minJaccard)
      .join(shSets.select(col("id").as("a"), col("shs").as("sha")), Seq("a"))
      .join(shSets.select(col("id").as("b"), col("shs").as("shb")), Seq("b"))
      .withColumn("i", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("u", size(col("sha")) + size(col("shb")) - col("i"))
      // exact rational comparison: i/u >= t  ⇔  i*denom >= u*numer
      .filter(col("i") * lit(denom) >= col("u") * lit(num))
      .select(col("a"), col("b"), col("i"), col("u"),
        (col("i").cast("double") / col("u")).as("jaccard"))
  }
}

/** Benchmark decontamination: screen a training corpus for n-gram
  * overlap with a (small) evaluation/benchmark set — the standard
  * defense against test-set leakage into training data.
  */
object Decontamination {

  /** Per-corpus-doc overlap report against the benchmark: the
    * maximum number of distinct word n-grams shared with any single
    * benchmark doc (0 when none), plus the contamination flag.
    *
    * The benchmark side is broadcast — corpus n-grams that don't
    * appear in the benchmark die at the broadcast hash probe, so the
    * corpus is one shingle-scan pass and nothing corpus-sized
    * shuffles; cost scales with corpus size × benchmark hit rate,
    * not with the product.
    */
  def overlapReport(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String, n: Int = 8): DataFrame = {
    val cPost = corpus.select(col(idCol).as("doc_id"),
      explode(NgramJaccard.shingles(col(textCol), n)).as("g"))
    val bPost = benchmark.select(col(idCol).as("bench_id"),
      explode(NgramJaccard.shingles(col(textCol), n)).as("g"))
    val perPair = cPost.join(broadcast(bPost), Seq("g"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("shared"))
    val perDoc = perPair.groupBy(col("doc_id"))
      .agg(max(col("shared")).as("max_overlap"))
    corpus.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("max_overlap"), lit(0L)).as("max_overlap"))
      .withColumn("contaminated", (col("max_overlap") > 0).cast("int"))
  }
}

/** MinHash + LSH banding near-duplicate detection.
  *
  * Signature: `numHashes` min-hashes per document, hash h_i(token) =
  * xxhash64(i, token) (deterministic, no stored permutation table).
  * Banding: `bands` groups of `rowsPerBand` signature slots; each
  * band hashes to a bucket key, equal keys become candidate pairs —
  * a shuffle on (band, bucket), never an all-pairs join. Candidates
  * are then verified with the exact [[NgramJaccard]] measure.
  */
object MinHashLSH {

  /** doc → (id, sig array<long>, band bucket array<long>). The
    * signature is one [[graft.functions.MinHashSignature]] pass (a
    * single tight loop per row — the `k × array_min(transform(...))`
    * formulation pays k·n interpreted lambda calls instead).
    */
  def signatures(df: DataFrame, idCol: String, textCol: String,
                 numHashes: Int, bands: Int, n: Int = 1): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rowsPerBand = numHashes / bands
    // IMPORTANT: sign the same shingle set the verifier measures —
    // signatures over a different tokenization (e.g. unigrams of a
    // small vocabulary) collide for unrelated documents and blow the
    // candidate set up to all-pairs.
    // spread before signing: the signature pass costs numHashes ×
    // shingles work per row (see NgramJaccard.pairs' spread note)
    val sigged = graft.core.Partitioning.spread(df).select(
      col(idCol).as("id"),
      graft.functions.MinHashSignature(
        NgramJaccard.shingles(col(textCol), n), numHashes).as("sig"))
    val bandHashes = (0 until bands).map { b =>
      xxhash64(lit(b) +: (0 until rowsPerBand).map(r =>
        element_at(col("sig"), b * rowsPerBand + r + 1)): _*)
    }
    sigged.select(col("id"), col("sig"), array(bandHashes: _*).as("bands"))
  }

  /** Candidate pairs from band-bucket collisions (a < b, distinct). */
  def candidates(sigs: DataFrame): DataFrame = {
    val exploded = sigs
      .select(col("id"), posexplode(col("bands")).as(Seq("band", "bucket")))
    val l = exploded.select(col("band"), col("bucket"), col("id").as("a"))
    val r = exploded.select(col("band"), col("bucket"), col("id").as("b"))
    l.join(r, Seq("band", "bucket"))
      .filter(col("a") < col("b"))
      .select("a", "b")
      .distinct()
  }

  /** Incremental near-dup detection: find pairs that involve at
    * least one NEW document — the production shape for a corpus that
    * grows by batches, where re-checking existing×existing every day
    * is the dominant wasted cost. Candidates come from banding the
    * new batch against (existing ∪ new) band buckets, so the
    * existing×existing join never happens. This form re-signs the
    * existing corpus each call — convenient for one-off runs; the
    * production loop over a growing corpus uses
    * [[nearDuplicatesIncrementalIndexed]] with a stored
    * [[bandIndex]] so existing docs are signed once, ever.
    *
    * Requires new ids to sort after existing ids (any batch id
    * scheme does this); output is (a, b, jaccard) with a < b and b
    * always a new document.
    */
  def nearDuplicatesIncremental(existing: DataFrame, incoming: DataFrame,
                                idCol: String, textCol: String,
                                numHashes: Int = 16, bands: Int = 4, n: Int = 1,
                                minJaccard: Double = 0.8): DataFrame = {
    val allDocs = existing.select(col(idCol), col(textCol))
      .unionByName(incoming.select(col(idCol), col(textCol)))
    // materialize the exploded band rows once (narrow: id + two
    // ints): they feed BOTH sides of the candidate join (the batch
    // side via the semi-join below), and without the checkpoint each
    // side re-runs the whole signature computation — the expensive
    // numHashes x shingle hashing pass — over the corpus
    val allBands = signatures(allDocs, idCol, textCol, numHashes, bands, n)
      .select(col("id"), posexplode(col("bands")).as(Seq("band", "bucket")))
      .localCheckpoint(false)
    // the batch's bands are a semi-join of the corpus bands (batch ids
    // broadcast) — signatures are computed once, not re-derived
    val newBands = allBands.join(
      broadcast(incoming.select(col(idCol).as("id"))), Seq("id"), "left_semi")
    // l = all docs, r = new docs only: (l < r) covers old↔new and
    // new↔new exactly once and old↔old never (new ids sort last)
    val cands = allBands.select(col("band"), col("bucket"), col("id").as("a"))
      .join(newBands.select(col("band"), col("bucket"), col("id").as("b")),
        Seq("band", "bucket"))
      .filter(col("a") < col("b"))
      .select("a", "b")
      .distinct()
    verifyPairs(cands, allDocs, idCol, textCol, n, minJaccard)
      .select(col("a"), col("b"), (col("i").cast("double") / col("u")).as("jaccard"))
  }

  /** The persistent LSH index: exploded (id, band, bucket) rows for a
    * corpus — what [[nearDuplicatesIncrementalIndexed]] consumes for
    * the existing side so a growing corpus is signed ONCE, not once
    * per batch. Deterministic (xxhash64 seeds, no stored permutation
    * table), so an index row equals what a recompute would produce.
    */
  def bandIndex(df: DataFrame, idCol: String, textCol: String,
                numHashes: Int = 16, bands: Int = 4, n: Int = 1): DataFrame =
    signatures(df, idCol, textCol, numHashes, bands, n)
      .select(col("id"), posexplode(col("bands")).as(Seq("band", "bucket")))

  /** [[nearDuplicatesIncremental]] against a PRECOMPUTED index: the
    * existing side arrives as stored (id, band, bucket) rows plus the
    * raw docs table, so nothing existing is re-signed — per batch the
    * existing corpus costs one index scan for candidate generation
    * and a semi-joined text lookup for only the docs that actually
    * appear in candidate pairs. Semantics identical to the recompute
    * form (equivalence-spec'd); same contract: new ids sort after
    * existing ids, every output pair's `b` is new.
    */
  def nearDuplicatesIncrementalIndexed(existingIndex: DataFrame,
                                       existingDocs: DataFrame,
                                       incoming: DataFrame,
                                       idCol: String, textCol: String,
                                       numHashes: Int = 16, bands: Int = 4, n: Int = 1,
                                       minJaccard: Double = 0.8): DataFrame = {
    // the incoming batch's bands feed the union AND the candidate
    // join's build side — sign the batch once, not twice
    val newBands = bandIndex(incoming, idCol, textCol, numHashes, bands, n)
      .localCheckpoint(false)
    val allBands = existingIndex.select(col("id"), col("band"), col("bucket"))
      .unionByName(newBands)
    // bounded two-long-row candidate set, referenced by the id
    // semi-join (twice) and the verify melt — materialize once
    // (the cosine-path rationale)
    val cands = allBands.select(col("band"), col("bucket"), col("id").as("a"))
      .join(newBands.select(col("band"), col("bucket"), col("id").as("b")),
        Seq("band", "bucket"))
      .filter(col("a") < col("b"))
      .select("a", "b")
      .distinct()
      .localCheckpoint(false)
    // verification shingles ONLY the existing docs named in some
    // candidate pair (plus the batch) — not the whole corpus
    val candIds = cands.select(col("a").as(idCol))
      .unionByName(cands.select(col("b").as(idCol)))
      .distinct()
    val docsNeeded = existingDocs.select(col(idCol), col(textCol))
      .join(candIds, Seq(idCol), "left_semi")
      .unionByName(incoming.select(col(idCol), col(textCol)))
    verifyPairs(cands, docsNeeded, idCol, textCol, n, minJaccard)
      .select(col("a"), col("b"), (col("i").cast("double") / col("u")).as("jaccard"))
  }

  /** Exact-verify candidate (a, b) pairs against the docs' shingle
    * sets: pairs melt to (pair, id) rows so the corpus-sized shingle
    * table is joined once, then each pair reassembles with exact
    * intersection/union counts and the integer threshold test.
    */
  private[dedup] def verifyPairs(cands: DataFrame, docs: DataFrame,
                                 idCol: String, textCol: String, n: Int,
                                 minJaccard: Double): DataFrame = {
    val sh = docs.select(col(idCol).as("id"), NgramJaccard.shingles(col(textCol), n).as("shs"))
    val melted = cands.select(col("a"), col("b"),
        explode(array(
          struct(col("a").as("id"), lit(0).as("side")),
          struct(col("b").as("id"), lit(1).as("side")))).as("m"))
      .select(col("a"), col("b"), col("m.id").as("id"), col("m.side").as("side"))
    melted.join(sh, Seq("id"))
      .groupBy(col("a"), col("b"))
      .agg(
        first(when(col("side") === 0, col("shs")), ignoreNulls = true).as("sha"),
        first(when(col("side") === 1, col("shs")), ignoreNulls = true).as("shb"))
      .withColumn("i", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("u", size(col("sha")) + size(col("shb")) - col("i"))
      .filter(col("i") * lit(1000000L) >= col("u") * lit(math.round(minJaccard * 1e6)))
  }

  /** Full pipeline: signatures → banded candidates → exact verify.
    *
    * The verify step touches the (corpus-sized) shingle table exactly
    * ONCE: candidate pairs melt to two (pair, id) rows, join shingles
    * on id, and the pair re-assembles in a group-by. The naive
    * two-join form (`cands ⋈ sh ON a ⋈ sh ON b`) would re-derive the
    * whole shingling subtree per side — or force a cached copy of the
    * corpus to avoid it.
    */
  def nearDuplicates(df: DataFrame, idCol: String, textCol: String,
                     numHashes: Int = 16, bands: Int = 4, n: Int = 1,
                     minJaccard: Double = 0.8): DataFrame = {
    val cands = candidates(signatures(df, idCol, textCol, numHashes, bands, n))
    verifyPairs(cands, df, idCol, textCol, n, minJaccard)
      .select(col("a"), col("b"), (col("i").cast("double") / col("u")).as("jaccard"))
  }
}

/** SimHash near-duplicate fingerprints.
  *
  * 64-bit fingerprint: bit i is the sign of Σ_tokens ±1 where the
  * sign comes from bit i of xxhash64(token). Near-dup pairs are
  * fingerprints within hamming distance `maxDist`, found with
  * pigeonhole blocking: split the 64 bits into `maxDist+1` chunks —
  * any pair within distance d shares at least one identical chunk —
  * and bucket-join per chunk (again: shuffle on chunk value, never
  * all-pairs).
  */
object SimHash {

  /** (id, simhash long) of an arbitrary token/shingle array column:
    * one [[graft.functions.SimHash64]] pass per row, within one
    * projection — no explode, no shuffle, so fingerprints stream out
    * at scan speed.
    */
  def fingerprintsOfTokens(df: DataFrame, idCol: String, tokens: Column): DataFrame =
    // spread before fingerprinting: tokenize + per-token hash folds
    // cost far more per byte than the scan (see NgramJaccard.pairs'
    // spread note; a no-op on already-parallel or streaming inputs)
    graft.core.Partitioning.spread(df)
      .select(col(idCol).as("id"), graft.functions.SimHash64(tokens).as("simhash"))

  /** Pairs (a < b) within hamming distance `maxDist`.
    *
    * The self-join's two sides shuffle the same exploded chunk table
    * on the same (chunk, key) — Spark plans one Exchange and a
    * ReusedExchange for the other side, so fingerprints evaluate once
    * per doc without any caching (nothing to leak across queries).
    *
    * `matchChunks` (m) is the scale knob: the fingerprint splits into
    * `maxDist + m` chunks, and a pair within `maxDist` must then have
    * at least m identical chunks (each differing bit dirties at most
    * one chunk), so blocking can key on every m-chunk COMBINATION —
    * keys m× wider at C(maxDist+m, m) tables. m = 1 is plain
    * pigeonhole; at maxDist = 12 its 5-bit keys mean only 32 buckets
    * per table and ~13·n²/32 random candidates — quadratic blow-up
    * measured as a 420 s timeout at n = 50 k. m = 3 gives 15-bit
    * keys (455 tables): candidates shrink ~7×, and the explode side
    * stays one shuffle whose size is 455·n rows of (pos, key, id,
    * fp) — linear in n. The output is IDENTICAL for every m (the
    * blocking is exact), so callers tune m to corpus size without
    * touching semantics.
    *
    * `joinHint` picks the self-join's physical strategy; both
    * options shuffle the identical exploded subtree on (chunk, key)
    * — one Exchange + ReusedExchange, never a broadcast — and return
    * identical pairs. "shuffle_hash" (default) is measured 1.2–1.5×
    * faster (sf1 radius-12: m=3 13.2 s vs 17.7 s, m=4 38.6 s vs
    * 47.0 s), but its per-partition hash relation CANNOT spill: once
    * a partition's build side (C(maxDist+m, m)·n / partitions rows)
    * outgrows task execution memory it dies with a fatal
    * SparkOutOfMemoryError — measured at sf1 m=4 (109 M build rows /
    * 32 partitions) under the default 8 GiB heap. On a cluster the
    * partition count scales with the data so the bound holds, but
    * when it can't (fixed partitions, stress radii, audit tools),
    * pass "merge": SortMergeJoin sorts and buffers spillably and
    * degrades to disk instead of dying.
    */
  def pairs(fps: DataFrame, maxDist: Int = 3, matchChunks: Int = 1,
            joinHint: String = "shuffle_hash"): DataFrame = {
    require(matchChunks >= 1 && maxDist + matchChunks <= 32,
      s"matchChunks=$matchChunks out of range for maxDist=$maxDist")
    // Spark silently IGNORES unrecognized hint names and falls back
    // to cost-based join selection — a typo here would quietly
    // reintroduce the nondeterministic plan drift (broadcast of an
    // exploded corpus) the pin exists to prevent. Fail fast instead.
    require(Set("shuffle_hash", "merge").contains(joinHint),
      s"joinHint must be shuffle_hash or merge, got '$joinHint'")
    // every m-subset of chunk indices → one table; the combined key
    // all 64 bits spread over the chunks, every m-subset of chunks →
    // one packed blocking key, fanned out by ONE custom expression
    // node ([[graft.functions.SimHashComboKeys]]). Its scaladoc
    // records the two rejected plan shapes, both measured: an
    // array-of-C(chunks,m)-expressions projection balloons to a
    // 66 MiB task binary once CollapseProject inlines the shared
    // chunk array into every combination, and a `transform` over a
    // literal combo array interprets its lambda per element (HOFs
    // are CodegenFallback).
    val exploded = fps.select(col("id"), col("simhash"),
      posexplode(graft.functions.SimHashComboKeys(col("simhash"), maxDist, matchChunks))
        .as(Seq("chunk", "key")))
    val l = exploded.select(col("chunk"), col("key"), col("id").as("a"), col("simhash").as("fa"))
    val r = exploded.select(col("chunk"), col("key"), col("id").as("b"), col("simhash").as("fb"))
    // SHUFFLE_HASH pins the join shape: both sides then shuffle the
    // IDENTICAL exploded subtree on (chunk, key), Spark plans one
    // Exchange + a ReusedExchange, and fingerprinting runs once per
    // doc. Left to size estimates, a small-looking corpus file flips
    // this to a broadcast join — which re-computes the whole
    // fingerprint+explode subtree on BOTH sides and ships the
    // exploded (combos × corpus) table to every task: measured 5.2 s
    // vs 2.2 s here at sf0.1, and at real scale broadcasting an
    // exploded corpus is an OOM, not a slowdown. (This was the
    // "d4_simhash drift": data regenerations kept moving the file
    // size across the broadcast threshold, silently re-picking the
    // join shape. Pinning the strategy makes the plan — and the
    // benchmark — deterministic.)
    l.hint(joinHint).join(r, Seq("chunk", "key"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), bit_count(col("fa").bitwiseXOR(col("fb"))).as("dist"))
      // filter BEFORE distinct: random fingerprints differ on ~32
      // bits, so the distance cut drops the overwhelming majority of
      // candidates in codegen — the dedup shuffle then only carries
      // true near-pairs, not every bucket collision
      .filter(col("dist") <= maxDist)
      .distinct()
  }
}
