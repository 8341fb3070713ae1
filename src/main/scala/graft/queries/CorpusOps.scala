package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType}

import graft.ann.{Ann, Pq, Quantize}
import graft.dedup.{Dedup, MinHashLSH, NgramJaccard, SimHash}
import graft.multimodal.{MediaDecoder, Multimodal}
import graft.streaming.EventsPipeline
import graft.text.TextOps

/** The training-data-pipeline operator surface (dedup, similarity,
  * text analysis, multimodal, streaming) as named queries over the
  * driver's `documents`/`embeddings`/`events` tables.
  *
  * Queries with DuckDB-expressible semantics carry oracle SQL; the
  * hash-based ones (minhash signatures, simhash, fingerprints) are
  * deterministic but engine-specific, so they get rows-only checks
  * here and planted-duplicate recall specs in ScalaTest.
  */
object CorpusOps {

  private def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    Tables(spark, sfDir, name)

  private def par2[A, B](a: => A, b: => B): (A, B) = graft.core.Par.par2(a, b)

  /** a2's graph construction, shared verbatim by the registry entry
    * and PlanAuditSpec so the audited plan can never drift from the
    * gated one (the spec reads the LSH bucket self-join's shape from
    * the pair checkpoint's own action).
    */
  def a2KnnGraph(s: SparkSession, d: String): DataFrame =
    Ann.cosineKnnGraphLSH(
      t(s, d, "embeddings").select(col("vec_id").as("id"), col("embedding").as("vec")),
      minCos = 0.45, k = 5, dim = 64, planes = 6, tables = 48, seed = 42L)

  /** v5's ε-graph construction, shared verbatim by the registry entry
    * and PlanAuditSpec (Dbscan.fromNeighbors checkpoints internally,
    * truncating the final plan to ExistingRDD scans — this is the
    * last point where the LSH bucket self-join's shape is visible).
    */
  def v5EpsGraph(s: SparkSession, d: String): DataFrame =
    Ann.cosineNearDupPairsLSH(
      t(s, d, "embeddings").select(col("vec_id").as("id"), col("embedding").as("vec")),
      minCos = 0.45, dim = 64, planes = 6, tables = 48, seed = 42L, probes = 0)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- dedup ----
    "d1_dedup_exact" -> { (s, d) =>
      Dedup.exact(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("content_hash"))
    },

    "d2_ngram_jaccard" -> { (s, d) =>
      NgramJaccard.pairs(t(s, d, "documents"), "doc_id", "text", n = 3, minJaccard = 0.8)
        .select(col("a"), col("b"), col("i"), col("u"), col("jaccard"))
        .orderBy(col("a"), col("b"))
    },

    // Same verified output as d2, but candidates come from MinHash+LSH
    // banding instead of all pairs — at this τ the banding recall is
    // ~1, so the result matches the exact oracle.
    "d3_minhash_lsh" -> { (s, d) =>
      MinHashLSH.nearDuplicates(t(s, d, "documents"), "doc_id", "text",
          numHashes = 24, bands = 8, n = 3, minJaccard = 0.8)
        .orderBy(col("a"), col("b"))
    },

    // Duplicate clusters: connected components over the exact
    // near-dup pairs (transitive closure of "is a near-dup of"),
    // checked against a DuckDB recursive-CTE closure.
    "d6_dedup_clusters" -> { (s, d) =>
      val pairs = NgramJaccard.pairs(t(s, d, "documents"), "doc_id", "text", 3, 0.8)
      graft.dedup.Clusters.connectedComponents(pairs)
        .orderBy(col("id"))
    },

    // Canonical selection: near-dup clusters (d6's pair machinery) ×
    // quality scores (t2's metric) → exactly one survivor per
    // cluster, best quality first, ties to the lowest doc_id. The
    // full audit trail (every doc, kept or dropped) is what hashes,
    // so the drop set is pinned — not just the survivor count.
    // Ranking uses the UNROUNDED quality: t2 proves the expression is
    // bit-identical across engines, so the rank order can't drift.
    "d9_keep_best" -> { (s, d) =>
      val docs = t(s, d, "documents")
      val pairs = NgramJaccard.pairs(docs, "doc_id", "text", 3, 0.8)
      graft.dedup.Clusters.keepBest(
          docs.withColumn("q", TextOps.qualityScore(col("text"))),
          "doc_id", col("q"), pairs)
        .select(col("id"), col("cluster_rep"),
          round(col("score"), 6).as("quality"), col("kept"))
        .orderBy(col("id"))
    },

    // SimHash fingerprints + hamming-blocked pairs. The per-shingle
    // hash is the MD5 prefix, so DuckDB recomputes the fingerprints
    // bit-for-bit and oracles the pair set (the blocking is an
    // optimization; the contract is "all pairs within hamming 12").
    "d4_simhash" -> { (s, d) =>
      val fps = SimHash.fingerprintsOfTokens(
        t(s, d, "documents"), "doc_id", NgramJaccard.shingles(col("text"), 3))
      // matchChunks = 3: 15-bit combination keys — same exact pair
      // set, ~7× fewer random candidates than plain pigeonhole's
      // 5-bit keys (which measured quadratic: 420 s timeout at sf1)
      SimHash.pairs(fps, maxDist = 12, matchChunks = 3).orderBy(col("a"), col("b"))
    },

    // The PRODUCTION-radius SimHash configuration, oracle-gated in
    // its own right (mirrors what v5 does for v4): hamming ≤ 4 is
    // the regime real near-dup dedup runs at (d4's radius 12 is the
    // stress demo — 19% of bits differing — whose candidate count is
    // provably super-linear on 64-bit codes). maxDist=4/matchChunks=2
    // splits into 6 chunks and keys on every 2-chunk combination:
    // 15 tables of ~21-bit keys, so the random-collision term is
    // 15·n²/2²¹ ≈ 7e-6·n² — effectively linear through every corpus
    // size this engine will meet (1.8M candidates at n = 500k).
    "d15_simhash_prod" -> { (s, d) =>
      val fps = SimHash.fingerprintsOfTokens(
        t(s, d, "documents"), "doc_id", NgramJaccard.shingles(col("text"), 3))
      SimHash.pairs(fps, maxDist = 4, matchChunks = 2).orderBy(col("a"), col("b"))
    },

    // Incremental dedup: documents split into an "existing" corpus
    // (doc_id < 250) and a "new" batch; only pairs touching the new
    // batch are produced — the existing×existing join never runs.
    // Banding recall on this corpus is 1.0 (d3's configuration), so
    // the exact-jaccard DuckDB oracle gates it.
    "d7_dedup_incremental" -> { (s, d) =>
      val docs = t(s, d, "documents")
      MinHashLSH.nearDuplicatesIncremental(
          existing = docs.filter(col("doc_id") < 250),
          incoming = docs.filter(col("doc_id") >= 250),
          "doc_id", "text", numHashes = 24, bands = 8, n = 3, minJaccard = 0.8)
        .orderBy(col("a"), col("b"))
    },

    // Benchmark decontamination report: every 50th doc plays the
    // held-out benchmark; each remaining doc reports its max distinct
    // 5-gram overlap with any benchmark doc (zeros included — the
    // whole computation hashes, not just the hits).
    "d8_decontamination" -> { (s, d) =>
      val docs = t(s, d, "documents")
      graft.dedup.Decontamination.overlapReport(
          corpus = docs.filter(pmod(col("doc_id"), lit(50)) =!= 0),
          benchmark = docs.filter(pmod(col("doc_id"), lit(50)) === 0),
          "doc_id", "text", n = 5)
        .orderBy(col("doc_id"))
    },

    // LSH-blocked near-dup pairs: hyperplane-sketch bucket self-join,
    // never an all-pairs product. (planes=6, tables=48, seed=42,
    // single-probe: probes=0) is tuned to recall 1.0 against the
    // exact ≥τ pair set at sf0.001/0.01/0.1, so the same DuckDB
    // all-pairs oracle hash gates it; the all-pairs form survives only as the
    // recall spec's ground truth (AnnSpec). Measured recall 1.0 is
    // SCALE-CONTINGENT: per-pair miss P = (1−p^planes)^tables, so
    // expected misses grow with the true-pair count (sf1 measures
    // 0.983 for this config; tables ∝ ln(pairs) restores exactness
    // at logarithmic cost — model + knob verified by tools/SpotSf1,
    // honest math in SCALE.md).
    "d5_embed_neardup" -> { (s, d) =>
      Ann.cosineNearDupPairsLSH(
          t(s, d, "embeddings").select(col("vec_id").as("id"), col("embedding").as("vec")),
          minCos = 0.45, dim = 64, planes = 6, tables = 48, seed = 42L, probes = 0)
        .select(col("a"), col("b"), round(col("sim"), 6).as("sim"))
        .orderBy(col("a"), col("b"))
    },

    // SemDeDup (Abbas et al. 2023): semantic dedup over embeddings.
    // Vectors quantize to coarse cells (a3's rounded label-mean
    // centroids + argmax assignment — pairwise work is bounded per
    // cell, never corpus²), within-cell pairs with cosine ≥ τ form
    // duplicate groups (connected components), and each group keeps
    // the member FARTHEST from its cell centroid (the paper's best
    // retention rule) — via keepBest with score = −centroid-cosine.
    // Every value hashes: the oracle replays cells, assignment,
    // pairs, the recursive closure, and the argmin ranking.
    "d10_semdedup" -> { (s, d) =>
      val all = t(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"), col("label"))
      val cents = all
        .select(col("label").as("cell"), posexplode(col("vec")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(round(avg(col("x").cast(DoubleType)), 6).as("m"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell"), transform(col("pm"), p => p.getField("m")).as("vec"))
      val vecs = all.select(col("id"), col("vec"))
      graft.dedup.SemDeDup.run(vecs, cents, minCos = 0.45)
        .select(col("id"), col("cell"), col("cluster_rep"),
          round(col("centroid_cos"), 6).as("centroid_cos"), col("kept"))
        .orderBy(col("id"))
    },

    // SemDeDup's ZERO-CONFIG form — runAuto derives the cell count
    // from the corpus (k* = ⌈√n⌉, the measured n²/k + n·k optimum)
    // and trains its own √n-cell quantizer (kmeansCentroids: hash-
    // sampled seeds, argmax assignment, round-6 mean update, FIXED
    // 2 iterations — every step a pure function of the data). The
    // oracle replays the ENTIRE construction: the md5-ordered seed
    // draw, both unrolled k-means iterations, the final argmax
    // assignment with its cosine, the within-cell τ-pairs, the
    // recursive duplicate closure, and the farthest-from-centroid
    // retention rank. This gates the config a 100 TB user actually
    // gets — d10 gates the pinned-quantizer form.
    "d16_semdedup_auto" -> { (s, d) =>
      graft.dedup.SemDeDup.runAuto(
          t(s, d, "embeddings").select(col("vec_id").as("id"), col("embedding").as("vec")),
          minCos = 0.45)
        .select(col("id"), col("cell"), col("cluster_rep"),
          round(col("centroid_cos"), 6).as("centroid_cos"), col("kept"))
        .orderBy(col("id"))
    },

    // Duplicated-substring spans (Lee et al. 2022 recast to hashed
    // rolling windows): maximal per-doc character spans covered by
    // 40-char windows occurring >= 2 times corpus-wide, stride 10.
    // Every stage is keyed (hash group-by, semi-join, per-doc island
    // merge); the oracle replays windows, duplicate hashes, and the
    // gaps-and-islands merge.
    "d11_dup_spans" -> { (s, d) =>
      graft.dedup.Spans.duplicatedSpans(
          t(s, d, "documents"), "doc_id", "text", windowLen = 40, stride = 10)
        .orderBy(col("doc_id"), col("span_start"))
    },

    // Per-document duplication accounting over d11's spans — every
    // doc reports duplicated chars + fraction, zeros included, so the
    // whole corpus hashes (the report a corpus build cuts against).
    "d12_span_report" -> { (s, d) =>
      graft.dedup.Spans.spanReport(
          t(s, d, "documents"), "doc_id", "text", windowLen = 40, stride = 10)
        .orderBy(col("doc_id"))
    },

    // The cut itself: duplicated spans excised, every doc's cleaned
    // text pinned by hash (zero-inclusive — span-free docs pass
    // through byte-identical).
    "d13_span_cut" -> { (s, d) =>
      graft.dedup.Spans.cutSpans(
          t(s, d, "documents"), "doc_id", "text", windowLen = 40, stride = 10)
        .select(col("doc_id"), col("n_chars"), col("clean_len"), col("n_cut"),
          md5(col("clean_text").cast("binary")).as("clean_hash"))
        .orderBy(col("doc_id"))
    },

    // PMI collocation mining: adjacent-bigram vs unigram pointwise
    // mutual information — the classic collocation / multi-word-
    // expression signal. Exact integer counts (one bigram shuffle +
    // one unigram shuffle), corpus totals ride as broadcast scalars,
    // and the unbounded unigram vocabulary joins UN-hinted (the t11
    // rule); PMI itself is one identical double tree both engines
    // evaluate bit-equally.
    "t15_collocations" -> { (s, d) =>
      val docs = t(s, d, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      val uni  = docs.select(explode(col("toks")).as("w"))
      val ucnt = uni.groupBy(col("w")).agg(count(lit(1)).as("c"))
      val bi = docs.filter(size(col("toks")) >= 2)
        .select(explode(zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      val bcnt = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      val tot = uni.agg(count(lit(1)).as("n_uni"))
        .crossJoin(bi.agg(count(lit(1)).as("n_bi")))
      def dd(c: Column) = c.cast(DoubleType)
      bcnt.filter(col("c12") >= 20)
        .join(ucnt.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
        .join(ucnt.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
        .crossJoin(broadcast(tot))
        .select(col("w1"), col("w2"), col("c12"),
          round(log((dd(col("c12")) / dd(col("n_bi"))) /
            ((dd(col("c1")) / dd(col("n_uni"))) *
             (dd(col("c2")) / dd(col("n_uni"))))), 6).as("pmi"))
        .orderBy(col("w1"), col("w2"))
    },

    // Fuzzy (edit-distance) similarity join — entity resolution over
    // name-grade strings. SymSpell deletion-neighborhood blocking
    // collapses the O(n²) all-pairs into one equi-join on short
    // variant keys (complete: a lev≤k pair always shares a k-deletion
    // variant), then exact levenshtein verifies. Distinct VALUES
    // join, so row-level duplication never multiplies the join.
    "d14_fuzzy_join" -> { (s, d) =>
      import graft.operators.FuzzyJoin
      val names = t(s, d, "part").select(col("p_name"))
      FuzzyJoin.editDistanceJoin(names, "p_name", names, "p_name", k = 1)
        .filter(col("left_val") < col("right_val"))
        .select(col("left_val").as("name_a"), col("right_val").as("name_b"),
          col("dist"))
        .orderBy(col("name_a"), col("name_b"))
    },

    // Embedding analytics: per-label centroids, element-wise — the
    // relational form (posexplode → groupBy (label, pos)) shuffles
    // (label, pos) keyed partials, scaling with labels × dims, not
    // with corpus size.
    "v1_label_centroids" -> { (s, d) =>
      t(s, d, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("label"), col("pos"))
        .agg(round(avg(col("x").cast(DoubleType)), 6).as("mean_x"))
        .orderBy(col("label"), col("pos"))
    },

    // Int8 embedding quantization: per-vector scale + quantized
    // values + reconstruction error. The gate hashes scalar digests
    // (sum / L1 of the quantized ints, the scale, the L2 error) so
    // every element of every qvec is pinned without relying on
    // array-typed compare in the harness.
    // DBSCAN over the embedding ε-graph (cosine ≥ 0.35): density
    // logic as pure keyed dataflow — degree agg → core filter →
    // connected components over core–core edges → min-adjacent-core
    // border labels. A τ this low is unselective, so the ε-graph is
    // built by the exact broadcast form (LSH bucketing can't prune
    // it and its candidate dedup dominates — measured 4×; DbscanSpec
    // pins the LSH path to identical output). The oracle replays
    // everything, including the recursive closure, so every
    // core/border/noise verdict and cluster label hashes.
    "v4_dbscan" -> { (s, d) =>
      import graft.ann.{Ann, Dbscan}
      val vecs = t(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val pairs = Ann.cosinePairsExact(vecs, minCos = 0.35)
      Dbscan.fromNeighbors(vecs.select(col("id")),
          pairs.select(col("a"), col("b")), minPts = 3)
        .orderBy(col("id"))
    },

    // DBSCAN over the SELECTIVE-τ ε-graph (cosine ≥ 0.45 — on this
    // corpus similarities top out below 0.6, so 0.45 is the sparse
    // regime: 0.011% of pairs at sf0.01) built by the LSH bucket
    // self-join, NOT the brute scorer — this is the sub-quadratic
    // scale path end-to-end. (planes=6, tables=48, seed=42) is the
    // d5-tuned recall-1.0 config at this τ, so the oracle's exact
    // recursive replay hashes it verbatim (scale-contingent — see
    // the d5 comment; SpotSf1 re-verifies the DBSCAN dataflow at sf1
    // over an exact-recall graph plus graph-derived postconditions).
    // minPts=2 (core ⇔ ≥1 neighbor) because the 0.45 graph is
    // near-matching at gate scale; v4 (τ=0.35, exact graph) remains
    // the dense-regime exactness gate.
    "v5_dbscan_lsh" -> { (s, d) =>
      import graft.ann.Dbscan
      val nodes = t(s, d, "embeddings").select(col("vec_id").as("id"))
      Dbscan.fromNeighbors(nodes,
          v5EpsGraph(s, d).select(col("a"), col("b")), minPts = 2)
        .orderBy(col("id"))
    },

    // The DBSCAN a 100 TB user actually gets: Dbscan.epsCluster's
    // automatic ε-graph engine dispatch, oracle-gated on BOTH regimes
    // at the SAME (τ, minPts) so the hash match proves the dispatch
    // changes cost, never the clustering. The default arm takes the
    // brute path (n ≤ maxBruteRows and the sampled candidate fraction
    // at this gap-less τ is at least one half); the second arm pins
    // maxBruteRows below n, forcing the LSH branch with the profile's
    // recall-budget table count (maxExpectedMisses = 0.05 → a single
    // dropped pair is 20-to-1 unlikely, and the whole pre-flight is
    // deterministic hash sampling, so the outcome replays
    // bit-identically across runs). One exact all-pairs replay in
    // DuckDB gates both arms verbatim.
    "v6_dbscan_auto" -> { (s, d) =>
      import graft.ann.Dbscan
      val vecs = t(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      // The two regimes are INDEPENDENT jobs whose eager driver work
      // (pre-flight profile, CC rounds) would otherwise serialize —
      // each regime's loop leaves most executor cores idle between
      // its small stage barriers, so running the arms on two driver
      // threads lets one arm's jobs back-fill the other's idle
      // capacity (actions are only sequential because driver code
      // calls them sequentially). Each arm is deterministic in
      // isolation (hash-sampled pre-flight, fixed rounds), so
      // interleaving cannot perturb either output.
      val (brute, lsh) = par2(
        Dbscan.epsCluster(vecs, minCos = 0.45, minPts = 2, dim = 64)
          .withColumn("regime", lit("brute")),
        Dbscan.epsCluster(vecs, minCos = 0.45, minPts = 2, dim = 64,
            maxBruteRows = 100L)
          .withColumn("regime", lit("lsh")))
      brute.unionByName(lsh).orderBy(col("regime"), col("id"))
    },

    // d5's UN-PINNED form — every knob at its default. As of round 16
    // the default IS the margin-guided multi-probe join: the table
    // count comes from the corpus via the MEASURED per-table catch
    // rate (Ann.mpSizing's catch histogram over the same deterministic
    // 2000-vector hash sample, CI-deflated, heterogeneity-floored) at
    // the 0.05 expected-miss budget — 6–9× fewer tables than the analytic
    // single-probe law for identical output (SCALE.md), with the
    // unmeasurable-τ fallback dropping probes and reverting to the
    // analytic sizing. This is the config a user who types nothing
    // gets at ANY scale; the same exact all-pairs oracle as d5 gates
    // it, so the hash match proves the sizing's realized recall is
    // 1.0 here, not just expected. (Ann.cosineNearDupPairsLSH with
    // probes = 0 forces the classic single-probe auto path; d18 gates
    // the same multi-probe form at planes = 6.)
    "d17_embed_neardup_auto" -> { (s, d) =>
      Ann.cosineNearDupPairsLSH(
          t(s, d, "embeddings").select(col("vec_id").as("id"), col("embedding").as("vec")),
          minCos = 0.45, dim = 64)
        .select(col("a"), col("b"), round(col("sim"), 6).as("sim"))
        .orderBy(col("a"), col("b"))
    },

    // Margin-guided multi-probe form (Lv et al. 2007 recast for the
    // hyperplane family): per table each vector also probes its
    // `probes` smallest-|projection| one-bit flips, so a table
    // catches a pair that straddles one or two near-boundary planes
    // — and the MEASURED per-table catch rate (Ann.mpSizing on the
    // same deterministic hash sample as d17's sizing) feeds the same
    // recall-budget law, landing ~4× fewer tables than d17's
    // single-probe sizing at this τ. It is Ann.cosineNearDupPairsLSH
    // un-pinned at planes = 6 with its default probes = 2; d5 is the
    // same join pinned single-probe. The identical exact all-pairs
    // oracle gates it: a hash match proves the smaller index still
    // realizes recall 1.0 on this corpus, not just expects it.
    "d18_embed_neardup_mp" -> { (s, d) =>
      Ann.cosineNearDupPairsLSH(
          t(s, d, "embeddings").select(col("vec_id").as("id"), col("embedding").as("vec")),
          minCos = 0.45, dim = 64, planes = 6)
        .select(col("a"), col("b"), round(col("sim"), 6).as("sim"))
        .orderBy(col("a"), col("b"))
    },

    // Incremental near-dup against a STORED multi-probe index (the
    // per-batch production loop: Ann.sketchIndex builds the index and
    // Ann.cosineNearDupPairsLSHIndexed probes it, both at the same
    // pinned planes = 6, tables = 16, probes = 2): the first 80% of
    // ids (by max-id integer cut — deterministic, replayed by the
    // oracle) are the indexed corpus, the rest arrive as the
    // incoming batch. Nothing existing is re-sketched; only
    // candidate-touched existing vectors are read for scoring; every
    // output pair involves a new vector (b > cut, since new ids sort
    // last). The exact all-pairs oracle restricted to new-touching
    // pairs gates the whole dataflow — index build, widened-emission
    // collision join, semi-join vector fetch, exact verify. At 100 TB
    // this is the shape that matters: a growing corpus pays per batch
    // only collisions + a bounded semi-join, and the persisted index
    // is ~2–3× smaller than the single-probe one (6–9× fewer tables ×
    // width 3).
    "d19_embed_neardup_incr" -> { (s, d) =>
      val vecs = t(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      // 1-row scalar pre-flight: the split point (same class of
      // bounded driver action as the sizing pre-flights)
      val cut = vecs.agg(max(col("id"))).head.getLong(0) * 4 / 5
      val existing = vecs.filter(col("id") <= cut)
      val incoming = vecs.filter(col("id") > cut)
      val idx = Ann.sketchIndex(existing, dim = 64, planes = 6,
        tables = 16, seed = 42L, probes = 2)
      Ann.cosineNearDupPairsLSHIndexed(idx, existing, incoming,
          minCos = 0.45, dim = 64, planes = 6, tables = 16, probes = 2, seed = 42L)
        .select(col("a"), col("b"), round(col("sim"), 6).as("sim"))
        .orderBy(col("a"), col("b"))
    },

    // JL random projection 64→16: Achlioptas ±1/√16 signs drawn from
    // md5 parity, so DuckDB replays every matrix cell; each output
    // coordinate is one fused DotProduct loop — a pure, shuffle-free
    // map. Every projected element gates (posexplode), not a digest.
    "v3_random_projection" -> { (s, d) =>
      import graft.ann.Projection
      t(s, d, "embeddings")
        .select(col("vec_id"),
          posexplode(Projection.project(col("embedding"), 64, 16, "v3"))
            .as(Seq("pos", "y_raw")))
        .select(col("vec_id"), col("pos"), round(col("y_raw"), 6).as("y"))
        .orderBy(col("vec_id"), col("pos"))
    },

    "v2_embed_quantize" -> { (s, d) =>
      Quantize.int8(
          t(s, d, "embeddings").select(col("vec_id").as("id"), col("embedding").as("vec")))
        .select(
          col("id").as("vec_id"),
          round(col("scale"), 9).as("scale"),
          expr("aggregate(qvec, 0L, (a, x) -> a + x)").as("q_sum"),
          expr("aggregate(qvec, 0L, (a, x) -> a + abs(x))").as("q_l1"),
          round(col("recon_err"), 6).as("recon_err"))
        .orderBy(col("vec_id"))
    },

    // ---- similarity search ----
    "a1_ann_topk" -> { (s, d) =>
      val all = t(s, d, "embeddings").select(col("vec_id").as("id"), col("embedding").as("vec"))
      Ann.bruteForceTopK(all, all.filter(col("id") < 20), k = 5)
        .select(col("query_id"), col("nbr_id"), round(col("sim"), 6).as("sim"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },

    // SQ8 two-stage search: int8-quantized candidate scoring (exact
    // integer dots over the 4×-compressed index) + exact re-rank of
    // the top-64. rerank ≫ k makes the candidate set contain the
    // true top-5 (AnnSpec proves equality vs brute force with slack),
    // so a1's brute-force oracle gates it verbatim.
    "a4_ann_quantized" -> { (s, d) =>
      val all = t(s, d, "embeddings").select(col("vec_id").as("id"), col("embedding").as("vec"))
      Ann.quantizedTopK(all, all.filter(col("id") < 20), k = 5, rerank = 64)
        .select(col("query_id"), col("nbr_id"), round(col("sim"), 6).as("sim"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },

    // IVF with a LEARNED coarse quantizer: distributed fixed-iteration
    // k-means (hash-sampled seeds, argmax-cosine assignment, round-6
    // decimal means) instead of label means — cell count becomes a
    // real scale knob. The oracle replays the ENTIRE recursion:
    // same seeds, both assignment rounds, both centroid updates,
    // then the a3-style probe/score/rank replay over the learned
    // cells. k=8, iters=2 on the 500×64 fixture.
    "a5_ivf_kmeans" -> { (s, d) =>
      val all = t(s, d, "embeddings").select(col("vec_id").as("id"), col("embedding").as("vec"))
      val cents = Ann.kmeansCentroids(all, k = 8, iters = 2)
      Ann.ivfTopK(all, all.filter(col("id") < 20), cents, k = 5, nprobe = 2)
        .select(col("query_id"), col("nbr_id"), round(col("sim"), 6).as("sim"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },

    // LSH thresholded kNN graph: every vector's top-5 neighbors with
    // cosine ≥ 0.45, via the d5 bucket self-join. (planes=6,
    // tables=48, seed=42) is tuned to recall 1.0 at τ=0.45 on all
    // three fixtures (TuneAnn, deleted in 8a94aaa; SCALE.md "ANN
    // exactness gates": candidates are 40–53% of all-pairs, so the
    // index genuinely prunes), which makes the
    // approximate graph EQUAL the brute-force thresholded graph —
    // hence the same exact DuckDB oracle as a brute-force query.
    // (Equality is scale-contingent like d5's — see the d5 comment;
    // the kNN dataflow itself is exact given an exact pair graph,
    // re-verified at sf1 by tools/SpotSf1.)
    "a2_ann_lsh_knn" -> { (s, d) =>
      a2KnnGraph(s, d)
        .select(col("query_id"), col("nbr_id"), round(col("sim"), 6).as("sim"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },

    // IVF top-k with label-mean centroids, nprobe=2. IVF recall is
    // structural (a probed-cell miss is a miss), so the oracle
    // replicates the INDEX itself — the d4 pattern: DuckDB recomputes
    // the same rounded centroids, the same argmax cell assignment,
    // the same top-2 probe set, and ranks within probed cells —
    // verifying the operator's semantics end-to-end. Centroids are
    // rounded to 6 decimals so both engines quantize from identical
    // values (round-6 absorbs float partial-sum order, as v1 proves).
    "a3_ann_ivf" -> { (s, d) =>
      val all = t(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"), col("label"))
      val cents = all
        .select(col("label").as("cell"), posexplode(col("vec")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(round(avg(col("x").cast(DoubleType)), 6).as("m"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell"), transform(col("pm"), p => p.getField("m")).as("vec"))
      val vecs = all.select(col("id"), col("vec"))
      Ann.ivfTopK(vecs, vecs.filter(col("id") < 20), cents, k = 5, nprobe = 2)
        .select(col("query_id"), col("nbr_id"), round(col("sim"), 6).as("sim"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },

    // IVF·PQ — the canonical billion-scale serving index (coarse
    // cells + product-quantized in-cell scan + exact re-rank;
    // FAISS IndexIVFPQ). Same a3 label-mean coarse structure; the
    // in-cell scan ranks by the PqAdc lookup kernel over 16 codes
    // instead of 64 floats, and the exact re-rank of the ADC top-96
    // restores exact ranking WITHIN probed cells — so the
    // approximation surface is exactly IVF's structural recall and
    // a3's full-replay oracle gates the whole composition verbatim.
    // Config is MEASURED on the oracle fixtures (TunePq, deleted in
    // 8a94aaa: worst true-top-5 in-cell ADC rank ≤31 → rerank=96 is
    // a 3.1× budget;
    // PqSpec holds the equality down to 48).
    "a6_ivf_pq" -> { (s, d) =>
      val all = t(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"), col("label"))
      val cents = all
        .select(col("label").as("cell"), posexplode(col("vec")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(round(avg(col("x").cast(DoubleType)), 6).as("m"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell"), transform(col("pm"), p => p.getField("m")).as("vec"))
      val vecs = all.select(col("id"), col("vec"))
      // train ∥ centroid materialization: the codebook training's
      // bounded per-iteration collects and the label-centroid
      // aggregate are independent — overlap them on driver threads
      // (guide §2.6); cents is cell-count-sized, checkpoint trivial
      val (books, centsM) = par2(
        Pq.trainCodebooks(vecs, m = 16, ksub = 64, iters = 3),
        cents.localCheckpoint(true))
      Pq.ivfPqTopK(vecs, vecs.filter(col("id") < 20), centsM, books,
          k = 5, m = 16, ksub = 64, nprobe = 2, rerank = 96)
        .select(col("query_id"), col("nbr_id"), round(col("sim"), 6).as("sim"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },

    // Measured-budget PQ auto dispatch (the v6/d16/d17 pattern):
    // sample queries, brute their true top-k, measure the worst ADC
    // rank (the SpotPq law), run the compressed scan only when the
    // margined budget is a small corpus fraction — else the exact
    // scan. Output is exact either way, so a1's brute replay gates
    // whichever arm runs. budgetFrac=0.5 here so the GATE exercises
    // the measured-PQ arm end-to-end on the isotropic fixture (the
    // production default 0.02 refuses structureless corpora — the
    // honest-dispatch evidence is SPOTCHECK_pq's arm 2); the fixture
    // samples every query, making the arm exact by construction.
    "a7_pq_auto" -> { (s, d) =>
      val all = t(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val books = Pq.trainCodebooks(all, m = 16, ksub = 64, iters = 3)
      Pq.pqTopKAuto(all, all.filter(col("id") < 20), books,
          k = 5, m = 16, ksub = 64, budgetFrac = 0.5)
        .select(col("query_id"), col("nbr_id"), round(col("sim"), 6).as("sim"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },

    // Fully-measured IVF·PQ auto dispatch: BOTH index dials sized
    // from sampled laws instead of hand constants — nprobe from the
    // worst true-answer CELL rank (the coarse-separation law; round
    // 17), rerank from the worst in-cell ADC rank at that depth (the
    // a7 law). Either law coming back as a large fraction refuses to
    // the exact scan. Output exact either way on this fully-sampled
    // fixture, so a1's brute replay gates whichever arm runs.
    // probeFrac/budgetFrac=1.0 here so the GATE exercises the
    // measured-index arm end-to-end (on the isotropic fixture the
    // cell law measures 8-of-8 — no coarse structure — so the
    // production probeFrac=0.5 refuses: that regime is PqSpec's
    // second arm and SPOTCHECK_pq's planted-vs-isotropic evidence).
    "a8_ivf_pq_auto" -> { (s, d) =>
      val all = t(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"), col("label"))
      val cents = all
        .select(col("label").as("cell"), posexplode(col("vec")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(round(avg(col("x").cast(DoubleType)), 6).as("m"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell"), transform(col("pm"), p => p.getField("m")).as("vec"))
      val vecs = all.select(col("id"), col("vec"))
      // train ∥ centroid materialization (the a6 overlap rationale)
      val (books, centsM) = par2(
        Pq.trainCodebooks(vecs, m = 16, ksub = 64, iters = 3),
        cents.localCheckpoint(true))
      Pq.ivfPqTopKAuto(vecs, vecs.filter(col("id") < 20), centsM, books,
          k = 5, m = 16, ksub = 64, probeFrac = 1.0, budgetFrac = 1.0)
        .select(col("query_id"), col("nbr_id"), round(col("sim"), 6).as("sim"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },

    // IVF·PQ served from the STORED index (round 17): build the
    // packed index in-query through the unified StoredIndex contract
    // (vec-free, NORM-free codes table — 6-bit-packed binary, the
    // on-disk 20.5× layout), then answer the query batch from it with
    // the PqAdcPacked kernel and codes-reconstructed norms. This puts
    // the PACKED serving path — pack, unpack, recon-norm ranking,
    // bucketed probe join, rerank-only vector access — under the
    // DuckDB gate end-to-end, not just the spec: with the measured
    // rerank budget (TunePq neededIvfRecon=26 → 96 is 3.7×; SCALE.md
    // "Round 17: the PQ index at its true entropy") the
    // output equals exact IVF over the same cells, so a6's replay
    // oracle gates it verbatim.
    "a9_ivf_pq_indexed" -> { (s, d) =>
      val all = t(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"), col("label"))
      val cents = all
        .select(col("label").as("cell"), posexplode(col("vec")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(round(avg(col("x").cast(DoubleType)), 6).as("m"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell"), transform(col("pm"), p => p.getField("m")).as("vec"))
      val vecs = all.select(col("id"), col("vec"))
      // train ∥ centroid materialization (the a6 overlap rationale)
      val (books, centsM) = par2(
        Pq.trainCodebooks(vecs, m = 16, ksub = 64, iters = 3),
        cents.localCheckpoint(true))
      graft.index.IvfPqIndex("a9srv_idx", centsM, books, m = 16, ksub = 64,
        nBuckets = 4).build(vecs)
      Pq.ivfPqTopKIndexed(s, "a9srv_idx", vecs.filter(col("id") < 20),
          k = 5, m = 16, ksub = 64, nprobe = 2, rerank = 96)
        .select(col("query_id"), col("nbr_id"), round(col("sim"), 6).as("sim"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },

    // Stored-law serving (round 17): a8's measured dispatch with ZERO
    // serve-time measurement. The index is built once, BOTH laws are
    // measured once against the persisted packed tables (with the
    // recon-norm ranking serving actually uses) and stored as a
    // one-row <prefix>_laws table; the serve call reads the law and
    // either probes at the stored dials or refuses to the exact scan
    // over the stored vecs table. probeFrac/budgetFrac=1.0 exercises
    // the stored-dial probe arm (nprobe caps at the cell count on
    // this structureless fixture — the isotropic cell law is 8-of-8;
    // PqSpec pins the production refuse arm); every query is inside
    // the 32-vector law sample, so the serve is exact and a1's brute
    // replay gates it.
    "a10_ivf_pq_served" -> { (s, d) =>
      val all = t(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"), col("label"))
      val cents = all
        .select(col("label").as("cell"), posexplode(col("vec")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(round(avg(col("x").cast(DoubleType)), 6).as("m"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell"), transform(col("pm"), p => p.getField("m")).as("vec"))
      val vecs = all.select(col("id"), col("vec"))
      // train ∥ centroid materialization (the a6 overlap rationale)
      val (books, centsM) = par2(
        Pq.trainCodebooks(vecs, m = 16, ksub = 64, iters = 3),
        cents.localCheckpoint(true))
      graft.index.IvfPqIndex("a10srv_idx", centsM, books, m = 16, ksub = 64,
        nBuckets = 4).build(vecs)
      Pq.saveIvfPqLaws(s, "a10srv_idx", measureK = 5, m = 16, ksub = 64, sampleN = 32)
      Pq.ivfPqTopKIndexedAuto(s, "a10srv_idx", vecs.filter(col("id") < 20),
          k = 5, m = 16, ksub = 64, probeFrac = 1.0, budgetFrac = 1.0)
        .select(col("query_id"), col("nbr_id"), round(col("sim"), 6).as("sim"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },

    // ---- text analysis ----
    "t1_text_stats" -> { (s, d) =>
      val doc = t(s, d, "documents")
      doc.select(
        col("doc_id"),
        length(col("text")).cast(LongType).as("n_chars"),
        TextOps.nTokens(col("text")).cast(LongType).as("n_tokens"),
        TextOps.nDistinctTokens(col("text")).cast(LongType).as("n_distinct"),
        TextOps.nBpeTokens(col("text")).cast(LongType).as("n_bpe"),
        TextOps.meanTokenLen(col("text")).as("mean_tok_len")
      ).orderBy(col("doc_id"))
    },

    "t2_quality_score" -> { (s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        TextOps.stopwordRatio(col("text")).as("stop_ratio"),
        TextOps.qualityScore(col("text")).as("quality")
      ).orderBy(col("doc_id"))
    },

    // Shannon byte entropy (bits/byte) — the compressibility quality
    // signal (templated spam scores low, base64/binary noise high).
    // One fused codegen pass per row (functions.ByteEntropy); both
    // sides keep only ASCII docs (bytes ⟺ code points, the m3 rule)
    // and the oracle replays the decimal-quantized term sum exactly.
    "t16_entropy" -> { (s, d) =>
      import graft.functions.ByteEntropy
      t(s, d, "documents")
        .filter(length(col("text")) >= 1 &&
          expr("octet_length(text) = length(text)"))
        .select(col("doc_id"),
          octet_length(col("text")).cast(LongType).as("n_bytes"),
          round(ByteEntropy(col("text").cast("binary")), 6).as("entropy"))
        .orderBy(col("doc_id"))
    },

    // language ID: heuristic, engine-specific scoring → rows-only.
    "t3_lang_id" -> { (s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        col("lang").as("lang_label"),
        TextOps.langId(col("text")).getField("lang").as("lang_pred"),
        TextOps.langId(col("text")).getField("score").as("score")
      ).orderBy(col("doc_id"))
    },

    // fingerprints are MD5-prefix XOR-folds — recomputable by any
    // engine, so DuckDB oracles the exact values.
    "t4_fingerprint" -> { (s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        TextOps.contentFingerprint(col("text")).as("fp")
      ).orderBy(col("doc_id"))
    },

    // PII redaction over text augmented with deterministic synthetic
    // PII (the fixture contains none — augmenting in-query keeps the
    // oracle comparison non-vacuous while both engines construct
    // identical inputs). The scrub itself is the codegen'd
    // regexp_replace chain of TextOps.redactPii.
    "t8_redaction" -> { (s, d) =>
      val pii = concat_ws(" ", col("text"),
        concat(lit("user"), col("doc_id"), lit("@example.com")),
        concat(lit("http://ex.com/p/"), col("doc_id")),
        concat(lit("10.0.0."), pmod(col("doc_id"), lit(256))),
        lit("+1 555-123-4567"))
      t(s, d, "documents")
        .select(col("doc_id"), TextOps.redactPii(pii).as("redacted"))
        .orderBy(col("doc_id"))
    },

    // Repetition signals (Gopher-style quality rules): per doc, the
    // top-bigram share and the duplicate-bigram share of all token
    // bigrams — high values mark templated/degenerate text. One
    // explode + two keyed aggregations; exact integer ratios.
    "t9_repetition" -> { (s, d) =>
      val withToks = t(s, d, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("tokens"))
        .filter(size(col("tokens")) >= 2)
        .select(col("doc_id"),
          explode(graft.functions.WordShingles.all(col("tokens"), 2)).as("bg"))
      withToks
        .groupBy(col("doc_id"), col("bg"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("doc_id"))
        .agg(
          sum(col("cnt")).as("n_bigrams"),
          count(lit(1)).as("n_distinct"),
          max(col("cnt")).as("top_cnt"))
        .select(
          col("doc_id"), col("n_bigrams"), col("n_distinct"),
          round(col("top_cnt").cast(DoubleType) / col("n_bigrams"), 6).as("top_bigram_frac"),
          round((col("n_bigrams") - col("n_distinct")).cast(DoubleType) / col("n_bigrams"), 6)
            .as("dup_bigram_frac"))
        .orderBy(col("doc_id"))
    },

    // Sequence packing (pretraining batch layout): docs concatenated
    // per source shard in doc_id order and cut into 512-token
    // training sequences — each doc's global offset, sequence id, and
    // in-sequence offset. Per-shard windows, distributed sort.
    "t10_seq_packing" -> { (s, d) =>
      TextOps.packIntoSequences(
          t(s, d, "documents"), "text", shardCol = "source",
          orderCol = "doc_id", maxTokens = 512)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("token_offset"), col("seq_id"), col("offset_in_seq"))
        .orderBy(col("doc_id"))
    },

    // Unigram LM scoring (the CCNet-style perplexity proxy): each
    // doc's mean log corpus-probability of its tokens. Common-word
    // prose scores high, gibberish and rare-token noise score low.
    // The corpus LM is the t5 vocabulary. The token↔vocab join is a
    // deliberately UN-hinted shuffle join on term: the vocabulary is
    // an unbounded aggregate of the corpus (billions of terms on a
    // web-scale crawl), so force-broadcasting it would OOM the build
    // side at scale — AQE may still pick broadcast when the measured
    // size is small. Only the 1-row corpus-total scalar is broadcast.
    "t11_unigram_logprob" -> { (s, d) =>
      val toks = t(s, d, "documents")
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
      val vocab = toks.groupBy(col("term")).agg(count(lit(1)).as("tf_total"))
      val total = vocab.agg(sum(col("tf_total")).as("corpus_tokens"))
      // quantize each log to 12 decimals BEFORE summing — float sums
      // are order-dependent across partitions; decimal sums are exact
      val logDec = log(col("tf_total").cast(DoubleType) / col("corpus_tokens"))
        .cast(DecimalType(24, 12))
      toks.join(vocab, Seq("term"))
        .crossJoin(broadcast(total))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_tokens"),
          round(sum(logDec).cast(DoubleType) / count(lit(1)), 6).as("mean_logprob"))
        .orderBy(col("doc_id"))
    },

    // N-gram novelty (RefinedWeb-style corpus-internal duplication
    // signal): per doc, how many of its distinct 5-grams appear in
    // at least one OTHER document. Two keyed shuffles (gram, doc) —
    // the gram-frequency join is deliberately un-hinted (unbounded
    // aggregate, the t11 rule); short docs with no 5-grams report
    // zeros rather than vanishing.
    "t12_ngram_novelty" -> { (s, d) =>
      val docs  = t(s, d, "documents")
      val grams = docs.select(col("doc_id"),
        explode(NgramJaccard.shingles(col("text"), 5)).as("g"))
      val gdf = grams.groupBy(col("g"))
        .agg(countDistinct(col("doc_id")).as("gdf"))
      val agg = grams.join(gdf, Seq("g"))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_grams"),
          sum(when(col("gdf") >= 2, 1L).otherwise(0L)).as("n_dup"))
      docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left_outer")
        .select(
          col("doc_id"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("n_dup"), lit(0L)).as("n_dup"),
          round(coalesce(col("n_dup"), lit(0L)).cast(DoubleType) /
            greatest(coalesce(col("n_grams"), lit(0L)), lit(1L)), 6).as("dup_frac"))
        .orderBy(col("doc_id"))
    },

    // Corpus vocabulary: global term frequencies + document
    // frequencies — exact integer aggregation, one shuffle on term.
    "t5_vocabulary" -> { (s, d) =>
      val toks = t(s, d, "documents")
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
      toks.groupBy(col("term"))
        .agg(
          count(lit(1)).as("tf_total"),
          countDistinct(col("doc_id")).as("df"))
        .orderBy(col("term"))
    },

    // Inverted index build: term → document frequency, total term
    // frequency, and the sorted posting list (comma-joined so the
    // harness hashes it as a scalar). One shuffle on term with
    // map-side combine; posting lists are per-term state, bounded by
    // df — the search-index primitive over a corpus.
    "t13_inverted_index" -> { (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
        .groupBy(col("term"))
        .agg(
          count(lit(1)).as("tf_total"),
          countDistinct(col("doc_id")).as("df"),
          collect_set(col("doc_id")).as("ids"))
        .select(col("term"), col("tf_total"), col("df"),
          array_join(transform(array_sort(col("ids")),
            x => x.cast("string")), ",").as("postings"))
        .orderBy(col("term"))
    },

    // BM25 retrieval (Robertson k1=1.2, b=0.75): score every doc
    // against a fixed query term set from exact corpus statistics
    // (tf, df, dl, avgdl) — the ranking function behind t13's index.
    // Per-term scores are double math over exact integers with the
    // SAME expression tree both engines evaluate, quantized to
    // DECIMAL(24,9) before the order-independent per-doc sum (the
    // t11 log recipe); ties in the rounded score break by doc_id.
    // Only query-term postings join — the corpus-wide token table
    // reduces to (doc, dl) + the 1-row stats scalar, nothing
    // vocabulary-sized broadcasts.
    "t14_bm25" -> { (s, d) =>
      graft.text.Bm25.topK(t(s, d, "documents"), Seq("table", "query", "spark"),
        k = 20)
    },

    // BM25 served from the PERSISTED inverted index (graft.index
    // .TextIndex under the StoredIndex contract): the corpus text is
    // never read at serve time — query-term postings come from the
    // term-bucketed postings table, each carrying its doc's length
    // (norm-in-posting, so nothing doc-keyed is read), corpus stats
    // from the SUM of the per-batch partial rows the index maintains.
    // Scoring is the SAME expression tree as t14, so t14's exact
    // oracle gates the entire stored path — build, bucketing, stats
    // maintenance, serve — exactly like a9 gates the packed PQ path.
    "x1_bm25_indexed" -> { (s, d) =>
      graft.index.TextIndex("x1srv_idx", nBuckets = 4)
        .build(t(s, d, "documents").select(col("doc_id"), col("text")))
      graft.text.Bm25.topKIndexed(s, "x1srv_idx",
        Seq("table", "query", "spark"), k = 20)
    },

    // Batch BM25 serving: a 3-query batch ranked in ONE plan against
    // the stored index — the batch vocabulary bucket-prunes the
    // postings scan, candidates fan out per query via a broadcast of
    // the (query_id, term) pairs, and each query's top-k is the
    // bounded TopKAgg tail. Per-query scoring is the identical t14
    // expression tree, so the oracle replays every query of the
    // batch exactly.
    "x4_bm25_batch" -> { (s, d) =>
      import s.implicits._
      graft.index.TextIndex("x4srv_idx", nBuckets = 4)
        .build(t(s, d, "documents").select(col("doc_id"), col("text")))
      val batch = Seq(
        0 -> "table", 0 -> "query", 0 -> "spark",
        1 -> "data", 1 -> "the",
        2 -> "hash", 2 -> "merge").toDF("query_id", "term")
      graft.text.Bm25.topKIndexedBatch(s, "x4srv_idx", batch, k = 10)
    },

    // "More like this": sparse tf-idf similarity to one source doc,
    // served from the stored index — the Lucene MLT shape and the
    // sparse complement of the dense near-dup family. The source's
    // term profile caps at 25 terms (tf desc, term asc — Lucene's
    // maxQueryTerms) and is read from the doc_id-bucketed FORWARD
    // table (forward = true — the IvfPqIndex `_vecs` move), so the
    // doc-keyed lookup prunes to one bucket; the capped terms then
    // make the candidate scan a literal isin that bucket-prunes the
    // postings table; score = length-normalized idf²-weighted overlap.
    "x5_more_like_this" -> { (s, d) =>
      graft.index.TextIndex("x5srv_idx", nBuckets = 4, forward = true)
        .build(t(s, d, "documents").select(col("doc_id"), col("text")))
      graft.text.Mlt.topKIndexed(s, "x5srv_idx", srcDocId = 0L, k = 10)
    },

    // Batch more-like-this: related documents for THREE source docs
    // in ONE plan (the x4 batching move applied to x5 — the "related
    // items for a whole result page" serving shape). All profiles
    // come from one bucket-pruned forward-table scan, the batch
    // vocabulary bucket-prunes the candidate scan, candidates fan
    // out per source via the broadcast profile rows, and each
    // source's top-k is the bounded TopKPayloadAgg tail (shared-term
    // count riding as the payload). Per-source scoring is the
    // identical x5 tree, so the oracle replays every source exactly.
    "x8_mlt_batch" -> { (s, d) =>
      graft.index.TextIndex("x8srv_idx", nBuckets = 4, forward = true)
        .build(t(s, d, "documents").select(col("doc_id"), col("text")))
      graft.text.Mlt.topKIndexedBatch(s, "x8srv_idx", Seq(0L, 1L, 2L), k = 10)
    },

    // Exact phrase search served from the POSITIONAL stored index:
    // (term, doc_id, pos) bucketed on term, so the plan reads only
    // the phrase terms' buckets and intersects them on (doc_id,
    // pos + i) — the Lucene positional-postings shape as relational
    // algebra. The oracle recomputes the same adjacency intersection
    // from the raw text, so index build + storage + the join chain
    // are all provably output-invisible.
    "x3_phrase_search" -> { (s, d) =>
      graft.index.TextIndex("x3srv_idx", nBuckets = 4, positional = true)
        .build(t(s, d, "documents").select(col("doc_id"), col("text")))
      graft.text.Phrase.matchesIndexed(s, "x3srv_idx", Seq("table", "hash"))
    },

    // Proximity search ("all these terms within a W-token span, any
    // order" — Lucene's sloppy-phrase relaxation) served from the
    // POSITIONAL stored index: one bucket-pruned scan of the query
    // terms' position lists, per-doc sorted position arrays, minimal
    // covering span by the fused k-pointer merge (MinSpan — linear
    // in Σ tf per doc, not the Π tf cross product of per-term
    // joins), gated by the window. The oracle recomputes the same
    // minimal-span search from raw text, so index build + storage +
    // the merge kernel are output-invisible — the x3 stance for the
    // non-adjacent case.
    "x7_proximity_search" -> { (s, d) =>
      graft.index.TextIndex("x7srv_idx", nBuckets = 4, positional = true)
        .build(t(s, d, "documents").select(col("doc_id"), col("text")))
      graft.text.Phrase.proximityIndexed(s, "x7srv_idx",
        Seq("the", "table", "hash"), window = 8)
    },

    // Hybrid retrieval served ENTIRELY from stored indexes: the x2
    // fusion with both arms re-pointed at storage — BM25 from the
    // persisted inverted index (x1's serving path), cosine from the
    // persisted packed IVF·PQ index (a9's serving path, exact under
    // its rerank margin). The serve reads NO corpus text and NO raw
    // embedding outside the rerank join: query-term postings buckets
    // + pruned code buckets + ≤(rerank) full vectors. Gated by x2's
    // oracle VERBATIM — identical output proves the entire stored
    // composition (two index builds, bucketing, packed codes,
    // ADC + rerank, fusion) is output-invisible, the x1/a9 stance
    // applied to the composed serving surface.
    "x6_hybrid_served" -> { (s, d) =>
      val all = t(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"), col("label"))
      val cents = all
        .select(col("label").as("cell"), posexplode(col("vec")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(round(avg(col("x").cast(DoubleType)), 6).as("m"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell"), transform(col("pm"), p => p.getField("m")).as("vec"))
      val vecs = all.select(col("id"), col("vec"))
      // the two index CONSTRUCTIONS are independent (different source
      // tables, different storage prefixes) and each is a chain of
      // small eager jobs — overlap them on two driver threads (the
      // v6 par2 rationale); both serving reads below run after the
      // barrier, against fully-built storage
      par2(
        graft.index.TextIndex("x6srv_txt", nBuckets = 4)
          .build(t(s, d, "documents").select(col("doc_id"), col("text"))), {
          // train ∥ centroid materialization (the a6 overlap
          // rationale), nested inside the vec arm
          val (books, centsM) = par2(
            Pq.trainCodebooks(vecs, m = 16, ksub = 64, iters = 3),
            cents.localCheckpoint(true))
          graft.index.IvfPqIndex("x6srv_vec", centsM, books, m = 16, ksub = 64,
            nBuckets = 4).build(vecs)
        })
      val txt = graft.text.Bm25.topKIndexed(s, "x6srv_txt",
          Seq("table", "query", "spark"), k = 50)
        // ≤50-row input — the bounded-window x2 rationale
        .withColumn("trank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id"))).cast(IntegerType))
        .select(col("doc_id"), col("trank"))
      // x2's oracle arm is exact brute top-50, so the stored serve
      // runs at FULL dials: nprobe = 10 covers every label cell (the
      // generator's labels are 0..9 — probing 8 of 10 cost a rank-9
      // cell its candidate, found the hard way), rerank covers every
      // candidate at gate scale. Honesty note: at k = 50 over a
      // 64-dim gate fixture the measured ADC tail is corpus-deep, so
      // the margins are corpus-sized by construction — the gated
      // claim is the serving COMPOSITION (stored text arm + stored
      // packed arm + fusion is output-invisible), and the plan shape
      // (vec-free codes scan, bounded rerank join) is pinned by the
      // audit; a corpus with usable ADC structure serves the same
      // plan at a7/a8's measured dials.
      val vec = Pq.ivfPqTopKIndexed(s, "x6srv_vec", vecs.filter(col("id") === 0),
          k = 50, m = 16, ksub = 64, nprobe = 10, rerank = 1999)
        .select(col("nbr_id").as("doc_id"), col("rank").cast(IntegerType).as("vrank"))
      txt.join(vec, Seq("doc_id"), "full_outer")
        .select(col("doc_id"), col("trank"), col("vrank"),
          round(coalesce(lit(1.0) / (lit(60) + col("trank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("vrank")), lit(0.0)), 9).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(20)
    },

    // Hybrid retrieval: reciprocal-rank fusion (RRF, Cormack et al.'s
    // 1/(C + rank) with the standard C = 60) of a BM25 keyword
    // ranking and a cosine embedding ranking over the SAME id domain
    // — the standard keyword+vector serving shape. FULL OUTER on id:
    // an item found by only one arm still scores (its other
    // contribution is 0). Both arm rankings are deterministic
    // (rounded-score/raw-sim desc, id asc), the fusion is a fixed
    // two-term double expression, ties in the fused score break by
    // id. Scale: each arm is its own bounded top-N (no corpus-sized
    // intermediate), and the fusion joins two N-row lists.
    "x2_rrf_fusion" -> { (s, d) =>
      val txt = graft.text.Bm25.topK(t(s, d, "documents"),
          Seq("table", "query", "spark"), k = 50)
        // global (unpartitioned) window is safe HERE only because its
        // input is the already-limited top-50 list — a ≤50-row
        // single-partition sort, not the q43-class corpus-sized one
        .withColumn("trank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id"))).cast(IntegerType))
        .select(col("doc_id"), col("trank"))
      val emb = t(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val vec = Ann.bruteForceTopK(emb, emb.filter(col("id") === 0), k = 50)
        .select(col("nbr_id").as("doc_id"), col("rank").cast(IntegerType).as("vrank"))
      txt.join(vec, Seq("doc_id"), "full_outer")
        .select(col("doc_id"), col("trank"), col("vrank"),
          round(coalesce(lit(1.0) / (lit(60) + col("trank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("vrank")), lit(0.0)), 9).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(20)
    },

    // TF-IDF top terms per document: term frequency × inverse
    // document frequency, windowed top-3 per doc with deterministic
    // tie-breaks. DF/TF are exact ints; idf/score rounded to 6.
    // Deliberately a window, NOT a TopKAgg-style bounded aggregation:
    // the scored relation arrives hash-partitioned by (doc, term), so
    // each doc's terms are spread across every partition (~1–2 rows
    // per doc per partition) and partial aggregation reduces nothing
    // — measured 2.2× slower than the window at sf0.1. The bounded
    // form wins only where rows-per-key-per-partition ≫ k (r1, the
    // ANN tails); here the window's one narrow exchange + sort is
    // the floor.
    "t6_tfidf_top_terms" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents")
      val toks = docs.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
      // corpus size as a broadcast 1-row scalar, NOT a driver-side
      // count(): keeps the whole query one job with no mid-plan sync
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val df = toks.select(col("doc_id"), col("term")).distinct()
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term").asc)
      // un-hinted term join: df is an unbounded per-term aggregate
      // (same scale hazard as t11's vocab) — let AQE pick broadcast
      // only when the measured build side is actually small
      tf.join(df, Seq("term"))
        .crossJoin(broadcast(nDocs))
        .withColumn("score",
          round(col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)), 6))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score"), col("rank"))
        .orderBy(col("doc_id"), col("rank"))
    },

    // End-to-end corpus cleaning pipeline: language filter → quality
    // gate → exact-dedup accounting → per-source stats. The
    // composition a training-data prep DAG actually runs, as one
    // declarative plan (filters push to the scan; one shuffle per
    // aggregation).
    "c1_clean_pipeline" -> { (s, d) =>
      t(s, d, "documents")
        .withColumn("quality", TextOps.qualityScore(col("text")))
        .filter(col("lang") === "en" && col("quality") > 0.55)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(md5(trim(lower(col("text"))).cast("binary"))).as("n_unique"),
          sum(col("n_chars")).as("sum_chars"),
          round(min(col("quality")), 6).as("min_q"),
          round(max(col("quality")), 6).as("max_q"))
        .orderBy(col("source"))
    },

    // Deterministic stratified sampling (training-mix curation):
    // per-language keep-rates decided by each doc's MD5 hash bucket —
    // reproducible across runs/partitionings/engines, so DuckDB
    // selects the exact same rows. A pure predicate: no shuffle.
    "c2_stratified_sample" -> { (s, d) =>
      import graft.operators.Sampling
      Sampling.stratifiedSample(
          t(s, d, "documents"),
          keyCol = col("doc_id"), strataCol = col("lang"),
          rates = Map("en" -> 0.5, "fr" -> 0.3), defaultRate = 0.1)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    },

    // Deterministic train/valid/test split: ONE hash draw per key
    // cut into adjacent bucket intervals — exhaustive and disjoint
    // by construction (the three-independent-samples bug can't
    // happen), and a key's split never changes as the corpus grows,
    // which is what keeps eval sets uncontaminated across dataset
    // versions. Pure predicate projection, zero shuffle.
    "c9_train_split" -> { (s, d) =>
      import graft.operators.Sampling
      Sampling.trainValidTestSplit(t(s, d, "documents"),
          keyCol = col("doc_id"),
          fractions = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("lang"), col("source"), col("split"))
        .orderBy(col("doc_id"))
    },

    // The full training-data pipeline as ONE declarative plan:
    // language+quality gate → exact dedup (min doc_id per canonical
    // content hash) → deterministic 50% hash-sample → 50/10
    // sliding-window chunks. Every stage is an operator gated
    // individually elsewhere; this is the composition a real corpus
    // build runs, and it stays a single Catalyst-optimized query.
    "c3_training_pipeline" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      import graft.operators.Sampling
      val gated = t(s, d, "documents")
        .withColumn("quality", TextOps.qualityScore(col("text")))
        .filter(col("lang") === "en" && col("quality") > 0.55)
      val byContent = Window
        .partitionBy(md5(trim(lower(col("text"))).cast("binary")))
        .orderBy(col("doc_id"))
      val deduped = gated
        .withColumn("rn", row_number().over(byContent))
        .filter(col("rn") === 1)
      val sampled = Sampling.hashSample(deduped, col("doc_id"), 0.5)
      sampled
        .select(col("doc_id"),
          posexplode(TextOps.chunkStarts(col("text"), 50, 10)).as(Seq("chunk_idx", "start")),
          col("text"))
        .select(
          col("doc_id"),
          col("chunk_idx").cast("long").as("chunk_idx"),
          TextOps.chunkText(col("text"), col("start"), 50).as("chunk"))
        .withColumn("n_tokens", TextOps.nTokens(col("chunk")).cast("long"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },

    // Weight-proportional sampling (Efraimidis–Spirakis priorities):
    // the 50 documents with smallest −ln(u)/weight, u drawn
    // reproducibly from each doc's hash, weight = n_chars — the
    // quality-weighted training-mix draw, deterministic across
    // reruns/partitionings/engines. Priorities are a projection;
    // top-k is a TakeOrdered, never a full sort.
    "c7_weighted_sample" -> { (s, d) =>
      import graft.operators.Sampling
      Sampling.weightedSample(
          t(s, d, "documents").select(col("doc_id"), col("n_chars"), col("lang")),
          keyCol = col("doc_id"), weightCol = col("n_chars"), k = 50, salt = "c7")
        .select(col("doc_id"), col("n_chars"), col("lang"), col("priority"))
        .orderBy(col("priority"), col("doc_id"))
    },

    // Corpus MERGE (upsert by key): a revision batch (every 10th doc
    // re-edited, 20 brand-new ids) merges into the corpus — matched
    // docs take the batch version, the rest carry over. One keyed
    // anti-join ∪ batch; hashed via per-doc content digests.
    "c5_corpus_merge" -> { (s, d) =>
      import graft.operators.Merge
      val docs = t(s, d, "documents")
      val batch = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
        .withColumn("text", concat(col("text"), lit(" [rev2]")))
        .unionByName(docs.filter(col("doc_id") < 20)
          .withColumn("doc_id", col("doc_id") + 10000))
      Merge.upsert(docs, batch, Seq("doc_id"))
        .select(col("doc_id"), md5(col("text").cast("binary")).as("content_hash"),
          col("lang"), col("source"))
        .orderBy(col("doc_id"))
    },

    // Snapshot diff by key: old = ids < 450, new = ids >= 20 with
    // every 7th doc re-edited → added / removed / changed / unchanged
    // per key from one full-outer equi-join.
    "c6_snapshot_diff" -> { (s, d) =>
      import graft.operators.Merge
      val docs = t(s, d, "documents")
      val oldSnap = docs.filter(col("doc_id") < 450)
      val newSnap = docs.filter(col("doc_id") >= 20)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(7)) === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      Merge.diff(oldSnap, newSnap, Seq("doc_id"), "text")
        .orderBy(col("doc_id"))
    },

    // CDC changelog apply: the orders stream read as a per-customer
    // changelog (o_orderkey is the unique, monotone LSN; every 9th
    // order is a tombstone) compacts to final state — highest seq per
    // key wins, a winning delete drops the key. One hash shuffle on
    // the key into a rn=1 window: the standard Debezium/changelog
    // consumer reduction, no driver state at any scale.
    "c8_cdc_apply" -> { (s, d) =>
      import graft.operators.Merge
      val log = t(s, d, "orders").select(
        col("o_custkey").as("cust"), col("o_orderkey").as("seq"),
        when(pmod(col("o_orderkey"), lit(9)) === 0, lit("D"))
          .otherwise(lit("U")).as("op"),
        col("o_totalprice"), col("o_orderstatus"))
      Merge.applyChangelog(log, Seq("cust"), "seq", "op")
        .orderBy(col("cust"))
    },

    // Per-source token budgeting: deterministic hash-ordered greedy
    // prefix, kept iff the running token total fits 3000 tokens. The
    // two-level cumsum (within-hash-range + tiny offset table) is the
    // scale answer to "a running sum serializes the stratum"; its
    // output is identical to the naive window the oracle runs.
    "c4_token_budget" -> { (s, d) =>
      import graft.operators.Sampling
      val docs = t(s, d, "documents")
        .withColumn("n_tokens", TextOps.nTokens(col("text")).cast("long"))
      Sampling.tokenBudget(docs, col("doc_id"), col("source"),
          col("n_tokens"), budget = 3000L)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("cum_tokens"), col("kept"))
        .orderBy(col("doc_id"))
    },

    // Sliding-window document chunking (training-data / RAG prep):
    // 50-token chunks with 10-token overlap, one row per chunk.
    "t7_chunking" -> { (s, d) =>
      val doc = t(s, d, "documents")
      doc
        .select(col("doc_id"),
          posexplode(TextOps.chunkStarts(col("text"), 50, 10)).as(Seq("chunk_idx", "start")),
          col("text"))
        .select(
          col("doc_id"),
          col("chunk_idx").cast("long").as("chunk_idx"),
          col("start").cast("long").as("start_tok"),
          TextOps.chunkText(col("text"), col("start"), 50).as("chunk"))
        .withColumn("n_tokens", TextOps.nTokens(col("chunk")).cast("long"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },

    // ---- multimodal ----
    // Perceptual aHash over binary media payloads: bit i = pixel i
    // brighter than the tile mean — global brightness shifts cancel,
    // so adjusted copies collide in Hamming space (pair with the d4
    // pigeonhole blocking for corpus-scale image dedup). The gate
    // runs the expression over deterministic byte tiles (the first
    // 64 payload bytes), so DuckDB replays every pixel, mean, and
    // bit. Both sides keep only ASCII docs
    // (octet_length = length ⟺ bytes are code points), because the
    // expression tiles BYTES while the oracle walks CHARACTERS —
    // equivalent only when the two coincide; a non-ASCII doc would
    // otherwise silently diverge instead of being excluded.
    "m3_image_ahash" -> { (s, d) =>
      import graft.functions.AHash64
      val media = Multimodal.synthesize(
        t(s, d, "documents").filter(length(col("text")) >= 64 &&
          expr("octet_length(text) = length(text)")), "doc_id", "text")
      media
        .select(col("media_id").as("doc_id"),
          lpad(bin(AHash64(col("payload"))), 64, "0").as("ahash"))
        .withColumn("n_same",
          count(lit(1)).over(Window.partitionBy(col("ahash"))))
        .orderBy(col("doc_id"))
    },

    "m1_media_features" -> { (s, d) =>
      val media = Multimodal.synthesize(t(s, d, "documents"), "doc_id", "text")
      Multimodal.decodeFeatures(s, media).toDF()
        .select(col("media_id"), col("media_type"), col("byte_len"),
          col("width"), col("height"))
        .orderBy(col("media_id"))
    },

    // REAL audio decode (m4): deterministic 16-bit PCM WAV containers
    // — genuine RIFF bytes, parsed by the stock JDK's actual WAV
    // reader (javax.sound.sampled), no codec stubs — synthesized per
    // doc with samples simple enough that DuckDB replays every frame:
    // s_i = ((doc_id·31 + i·7) mod 201 − 100)·300 over n_chars-derived
    // frame counts. The decode extracts format facts (rate, channels,
    // bits), the frame count, integer-exact duration and energy, and
    // the RMS from the exact sum of squares — so the oracle pins the
    // whole container-parse + PCM-walk path bit-for-bit. A real
    // recorded-audio corpus swaps the synth for its blob column; the
    // decode, schema, and per-partition batching are unchanged.
    "m4_audio_features" -> { (s, d) =>
      import s.implicits._
      val media = t(s, d, "documents")
        .select(col("doc_id").as("media_id"), col("n_chars"))
        .as[(Long, Long)]
        .mapPartitions(_.map { case (id, nChars) =>
          (id, MediaDecoder.synthesizeWav(id, nFrames = (nChars % 1000 + 100).toInt))
        })
        .toDF("media_id", "payload")
      Multimodal.decodeAudioFeatures(s, media).toDF()
        .select(col("media_id"), col("sample_rate"), col("channels"),
          col("bits"), col("n_frames"), col("duration_ms"), col("sum_sq"),
          round(col("rms_raw"), 6).as("rms"))
        .orderBy(col("media_id"))
    },

    // Frame sampling over binary media payloads: every 4th 64-byte
    // window becomes a frame row (the video-decoder fan-out shape,
    // batched mapPartitions). Each frame's bytes are pinned by md5 —
    // the corpus is ASCII so the oracle's VARCHAR windows are
    // byte-identical to the binary frames.
    "m2_frame_sample" -> { (s, d) =>
      val media = Multimodal.synthesize(t(s, d, "documents"), "doc_id", "text")
      graft.multimodal.MultimodalFrames.sampleFrames(s, media).toDF()
        .select(col("media_id"), col("frame_idx"), col("offset_bytes"),
          md5(col("frame")).as("frame_md5"))
        .orderBy(col("media_id"), col("frame_idx"))
    },

    // ---- events: batch sessionization (lag + cumulative sum) ----
    // Boundary rule: an event at EXACTLY gap seconds after its
    // predecessor stays in the SAME session (`>` starts a new one) —
    // measured equal to Spark's session_window, which MERGES adjacent
    // windows (an event whose window starts exactly where the session
    // ends coalesces into it). Neither oracle could see a drift here
    // (the fixture has no exact-gap event), so the boundary is pinned
    // by SessionEquivalenceSpec on a synthetic exact-gap fixture and
    // the real fixture in one suite — batch islands ≡ streaming
    // session windows, event-for-event.
    "e1_sessionize" -> { (s, d) =>
      val ev = t(s, d, "events")
      val w  = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gap = unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
      ev.withColumn("is_new", when(gap.isNull || gap > 1800L * 1000000L, 1).otherwise(0))
        .withColumn("session_id",
          sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(
          count(lit(1)).as("n_events"),
          unix_micros(min(col("ts"))).as("start_us"),
          unix_micros(max(col("ts"))).as("end_us"))
        .orderBy(col("user_id"), col("session_id"))
    },

    // ---- events: incremental versioned anti-join (JN-3 at scale) ----
    "e2_incremental_antijoin" -> { (s, d) =>
      val ev = t(s, d, "events")
      // synthetic prior-runs table: every 3rd event recorded; runs for
      // every 6th carry a stale timestamp (older than the version)
      val runs = ev.filter(pmod(col("event_id"), lit(3)) === 0)
        .select(
          col("event_id").as("run_key"),
          when(pmod(col("event_id"), lit(6)) === 0,
            col("ts") - expr("INTERVAL 1 HOUR"))
            .otherwise(col("ts") + expr("INTERVAL 1 HOUR")).as("run_ts"))
      ev.join(runs,
          col("event_id") === col("run_key") && col("run_ts") > col("ts"),
          "left_anti")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_stale"))
        .orderBy(col("event_type"))
    },

    // Event-time RANGE window frame: per user, count + exact sum of
    // events in the trailing hour — the frame is defined by the
    // TIMESTAMP VALUE (micros), not row position, so simultaneous
    // events share a frame; a distinct window capability from q12's
    // ROWS frames. Partitioned by user: group width scales with
    // per-user activity, not corpus size.
    "q37_range_frame" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600000000L, 0L)
      t(s, d, "events")
        .select(col("user_id"), col("event_id"), col("ts"),
          count(lit(1)).over(w).as("n_last_hour"),
          sum(graft.queries.Num.dec2(col("value"))).over(w)
            .cast(DoubleType).as("sum_last_hour"))
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    },

    // Retention cohorts: users grouped by first-activity week, then
    // for each (cohort, weeks-since) cell the distinct users still
    // active — the standard retention matrix. Two keyed aggregations
    // and one user-keyed join; weeks are exact date_trunc multiples
    // so the week arithmetic is integer-exact in both engines.
    "q41_retention_cohorts" -> { (s, d) =>
      val uw = t(s, d, "events")
        .select(col("user_id"), date_trunc("WEEK", col("ts")).as("week"))
        .distinct()
      val first = uw.groupBy(col("user_id")).agg(min(col("week")).as("cohort"))
      uw.join(first, Seq("user_id"))
        .withColumn("k", (datediff(col("week"), col("cohort")) / 7).cast(LongType))
        .groupBy(col("cohort"), col("k"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .orderBy(col("cohort"), col("k"))
    },

    // Time-series densify + forward fill: each user's daily activity
    // on a gap-free calendar (sequence/explode generates the missing
    // days — rows scale with users × span, keyed by user), counts
    // zero-filled, the daily sum carried forward over gaps with
    // last(IGNORE NULLS). The standard resample-and-ffill shape.
    "q40_gap_fill" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, d, "events")
        .withColumn("day", date_trunc("DAY", col("ts")))
      val daily = ev.groupBy(col("user_id"), col("day"))
        .agg(count(lit(1)).as("n"),
          sum(graft.queries.Num.dec2(col("value"))).cast(DoubleType).as("day_value"))
      val days = daily.groupBy(col("user_id"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("user_id"),
          explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      days.join(daily, Seq("user_id", "day"), "left_outer")
        .select(col("user_id"), col("day"),
          coalesce(col("n"), lit(0L)).as("n"),
          last(col("day_value"), ignoreNulls = true).over(w).as("carried_value"))
        .orderBy(col("user_id"), col("day"))
    },

    // Ordered conversion funnel: first view, first click at/after
    // it, first purchase after that — per-step keyed aggregations
    // joined on user_id, no full-stream window or sort.
    "e3_funnel" -> { (s, d) =>
      graft.operators.Funnel.ordered(
          t(s, d, "events"), Seq("view", "click", "purchase"))
        .orderBy(col("user_id"))
    },

    // ---- streaming: availableNow tumbling aggregation ----
    "s1_stream_tumbling" -> { (s, d) =>
      EventsPipeline.runToCompletion(
          s, d, EventsPipeline.tumblingCounts,
          queryName = s"s1_tumbling_${System.nanoTime()}",
          glob = "events.parquet",
          stateShufflePartitions = Some(8))
        .orderBy(col("bucket_ts"), col("event_type"))
    },

    // Streaming session windows (30-min gap), run to completion and
    // gated against the batch gaps-and-islands formulation: Spark's
    // session_window end = last event + gap, and sessions merge iff
    // the next event arrives within OR EXACTLY AT the gap (adjacent
    // windows coalesce — measured in SessionEquivalenceSpec's
    // boundary fixture; e1's islands `>` rule matches) — reproduced
    // exactly in the DuckDB oracle.
    "s2_stream_sessions" -> { (s, d) =>
      EventsPipeline.runToCompletion(
          s, d, EventsPipeline.sessionCounts,
          queryName = s"s2_sessions_${System.nanoTime()}",
          glob = "events.parquet",
          stateShufflePartitions = Some(8))
        .orderBy(col("user_id"), col("session_start"))
    },

    // Stream-stream inner join (click attribution): a self-join of
    // the event stream — clicks pair with same-user views from the
    // preceding 2 hours, state bounded by watermarks on BOTH
    // sides. Run to completion in append mode (join rows emit as
    // matched) and gated against the equivalent batch join.
    "s3_stream_stream_join" -> { (s, d) =>
      EventsPipeline.runToCompletion(
          s, d, st => EventsPipeline.attributionJoin(st, st),
          queryName = s"s3_attrib_${System.nanoTime()}",
          glob = "events.parquet",
          outputMode = "append",
          stateShufflePartitions = Some(8))
        .orderBy(col("view_id"), col("click_id"))
    },

    // Stream-stream LEFT OUTER join: unmatched views must ALSO emit
    // (null click columns) once the click watermark clears their
    // window — AvailableNow's terminal watermark advance flushes
    // them, so the completed run equals the batch left join exactly.
    "s4_stream_outer_join" -> { (s, d) =>
      EventsPipeline.runToCompletion(
          s, d, st => EventsPipeline.attributionJoin(st, st, joinType = "left_outer"),
          queryName = s"s4_attrib_outer_${System.nanoTime()}",
          glob = "events.parquet",
          outputMode = "append",
          stateShufflePartitions = Some(8))
        .orderBy(col("view_id"), col("click_id"))
    },

    // Streaming sliding windows (1 h every 15 min): each event lands
    // in exactly four overlapping windows; the oracle replays the
    // window-assignment arithmetic (slide-aligned starts) and the
    // per-window counts.
    "s6_stream_sliding" -> { (s, d) =>
      EventsPipeline.runToCompletion(
          s, d, EventsPipeline.slidingCounts,
          queryName = s"s6_sliding_${System.nanoTime()}",
          glob = "events.parquet",
          stateShufflePartitions = Some(8))
        .orderBy(col("bucket_ts"), col("event_type"))
    },

    // Stateful streaming dedup, gated at the ROW level: every third
    // event is planted twice in-stream (exactly the at-least-once
    // delivery a Kafka consumer sees), dropDuplicatesWithinWatermark
    // removes the replays, and the emitted rows must equal the
    // original unique event set — the oracle is just the events
    // table. Dedup state is watermark-bounded, never stream-sized.
    "s7_stream_dedup" -> { (s, d) =>
      val plantAndDedup = (st: DataFrame) =>
        EventsPipeline.dedupedStream(
            st.withColumn("__c",
                explode(when(pmod(col("event_id"), lit(3)) === 0,
                  array(lit(1), lit(2))).otherwise(array(lit(1)))))
              .drop("__c"))
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      EventsPipeline.runToCompletion(
          s, d, plantAndDedup,
          queryName = s"s7_dedup_${System.nanoTime()}",
          glob = "events.parquet",
          outputMode = "append",
          stateShufflePartitions = Some(8))
        .orderBy(col("event_id"))
    },

    // Stream-static enrichment: each micro-batch broadcast-joins the
    // customer dimension (no streaming state for the join itself),
    // then rolls up to a dimension-bounded complete-mode aggregate.
    // Gated against the equivalent batch LEFT JOIN + GROUP BY.
    "s8_stream_enriched" -> { (s, d) =>
      val dim = t(s, d, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      EventsPipeline.runToCompletion(
          s, d, st => EventsPipeline.enrichedSegmentCounts(st, dim),
          queryName = s"s8_enriched_${System.nanoTime()}",
          glob = "events.parquet",
          stateShufflePartitions = Some(8))
        .orderBy(col("segment"), col("event_type"))
    },

    // Markov transition matrix over event streams: per user, each
    // event pairs with its successor (lead over one user-keyed sort)
    // and the (from, to) counts row-normalize into transition
    // probabilities — exact integer counts, one deterministic
    // division. The behavioral model behind next-event prediction
    // and journey analysis; one shuffle on user, one on (from, to).
    "e4_markov_transitions" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val pairs = t(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("to_type", lead(col("event_type"), 1).over(byUser))
        .filter(col("to_type").isNotNull)
        .withColumnRenamed("event_type", "from_type")
      pairs.groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p", round(col("n").cast(DoubleType) /
          sum(col("n")).over(Window.partitionBy(col("from_type"))).cast(DoubleType), 6))
        .orderBy(col("from_type"), col("to_type"))
    },

    // Sliding-window COUNT DISTINCT — the metric SQL windows can't
    // express (no DISTINCT over a frame). The trailing-6-hour range
    // join becomes a keyed equi-join: each (hour, user) row explodes
    // to the 6 target hours it covers, then one (type, hour) grouped
    // countDistinct. Offset fan-out is the window span (a constant),
    // never the data; everything shuffles on (type, hour).
    "e8_sliding_distinct" -> { (s, d) =>
      val hu = t(s, d, "events")
        .select(col("event_type"), date_trunc("hour", col("ts")).as("h"),
          col("user_id"))
        .distinct()
      val hrs = hu.select(col("event_type"), col("h")).distinct()
      val contrib = hu
        .withColumn("off", explode(sequence(lit(0), lit(5))))
        .select(col("event_type"),
          timestamp_micros(unix_micros(col("h")) +
            col("off").cast(LongType) * lit(3600000000L)).as("h"),
          col("user_id"))
      hrs.join(contrib, Seq("event_type", "h"))
        .groupBy(col("event_type"), col("h"))
        .agg(countDistinct(col("user_id")).as("n_users_6h"))
        .orderBy(col("event_type"), col("h"))
    },

    // Cohort retention matrix — the canonical events-table product
    // query (fills the e-family's e6 numbering gap, present since the
    // family was added). Users cohort by their FIRST active day; each
    // (cohort, day-offset) cell counts distinct still-active users,
    // with retention as the ratio to the cohort's day-0 size. Scale
    // shape: the raw stream first collapses to DISTINCT (user, day)
    // pairs — the minimal sufficient statistic, so the heavy shuffle
    // is bounded by active-pairs, not events — then two user-keyed
    // hash aggs (first-day min, the matrix count-distinct) and ONE
    // window over the already-tiny cohort×offset matrix (never over
    // the data) for the day-0 denominator. No window touches the raw
    // stream; everything partial-aggregates map-side.
    "e6_retention_cohorts" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val act = t(s, d, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      val fst = act.groupBy(col("user_id")).agg(min(col("day")).as("cohort"))
      val m = act.join(fst, Seq("user_id"))
        .withColumn("offset_days", datediff(col("day"), col("cohort")).cast(LongType))
        .groupBy(col("cohort"), col("offset_days"))
        .agg(countDistinct(col("user_id")).as("active_users"))
      val day0 = Window.partitionBy(col("cohort"))
      m.withColumn("retention",
          round(col("active_users").cast(DoubleType) /
            max(when(col("offset_days") === 0, col("active_users"))).over(day0)
              .cast(DoubleType), 6))
        .orderBy(col("cohort"), col("offset_days"))
    },

    // Time-series resampling to OHLC bars: one keyed aggregate where
    // open/close are min_by/max_by on the event time — the
    // downsampling shape behind every metrics/market rollup. One
    // shuffle on (type, bar); first/last are deterministic because
    // the aggregate carries a TOTAL ordering value — (ts, event_id),
    // not ts alone, so two events sharing a timestamp still pick the
    // same row on every engine — never a partition-order-dependent
    // first().
    "e7_ohlc_bars" -> { (s, d) =>
      t(s, d, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bar"))
        .agg(
          expr("min_by(value, struct(ts, event_id))").as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          expr("max_by(value, struct(ts, event_id))").as("close"),
          count(lit(1)).as("n"),
          Num.exactSum2(col("value")).as("volume_value"))
        .orderBy(col("event_type"), col("bar"))
    },

    // z-score anomaly detection: per-event-type mean/σ from exact
    // DECIMAL moment sums (the Num recipe — order-independent, so the
    // derived doubles are bit-identical across engines), broadcast
    // back onto the stream, flag |z| > 3. One keyed partial agg over
    // the full table + one broadcast join: the events never shuffle,
    // which is the only shape that survives 100 TB of telemetry.
    "e5_anomaly" -> { (s, d) =>
      val ev = t(s, d, "events")
      val x  = Num.dec2(col("value"))
      val stats = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(x * x).as("sxx"))
      def dd(c: String) = col(c).cast(DoubleType)
      val n    = dd("n")
      val mean = dd("sx") / n
      val sd   = sqrt(n * dd("sxx") - dd("sx") * dd("sx")) / n
      ev.join(broadcast(stats), Seq("event_type"))
        .withColumn("z", (col("value") - mean) / sd)
        .filter(abs(col("z")) > 3)
        .select(col("event_id"), col("event_type"), col("value"),
          round(col("z"), 6).as("z"))
        .orderBy(col("event_id"))
    },

    // Streaming MERGE sink end-to-end: update-mode per-user totals
    // upsert into a parquet serving table via foreachBatch, and the
    // TABLE'S final contents (not the stream output) gate against the
    // batch aggregate — the serving-table maintenance loop, verified
    // at its destination.
    "s5_stream_upsert" -> { (s, d) =>
      val tmp = java.nio.file.Files
        .createTempDirectory("s5-upsert").toFile.getAbsolutePath
      EventsPipeline.runUpsertSink(s, d, s"$tmp/totals",
          glob = "events.parquet", stateShufflePartitions = Some(8))
        .orderBy(col("user_id"))
    },

    // Streaming corpus ingestion with near-dup gating: documents
    // stream in (AvailableNow), each micro-batch is checked against
    // the persistent band index of everything before it and then
    // appended to that index — the d7 incremental split, run through
    // the streaming ingestion loop. The accumulated pair report
    // gates against d7's exact-jaccard oracle (banding recall 1.0 on
    // this corpus, as d3/d7 established).
    "s9_stream_neardup" -> { (s, d) =>
      val tmp = java.nio.file.Files
        .createTempDirectory("s9-neardup").toFile.getAbsolutePath
      graft.streaming.DocsPipeline.runNearDupGate(s, d, tmp,
        glob = "documents.parquet", splitId = 250,
        numHashes = 24, bands = 8, n = 3, minJaccard = 0.8)
    },

    // Streaming ingestion into the persisted inverted text index (the
    // s9 "index IS the state" shape applied to retrieval): half the
    // corpus seeds the index, the other half streams in and each
    // micro-batch APPENDS (norm-in-posting postings rows + one
    // partial stats row). The returned top-k is served from the final index and is
    // gated by t14's exact oracle over ALL documents — proving
    // seed + stream ≡ one fresh build ≡ no index, rank-for-rank.
    "s10_stream_text_index" -> { (s, d) =>
      graft.streaming.DocsPipeline.runTextIndexIngest(s, d, "s10srv_idx",
        Seq("table", "query", "spark"), k = 20, splitId = 250)
    }
  )

  private val shingleCte =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, greatest(len(toks)-2,0)+1),
      |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
      |  FROM toks)""".stripMargin

  private val jaccardPairsSql =
    s"""$shingleCte
       |SELECT a.doc_id AS a, b.doc_id AS b,
       |  CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS i,
       |  CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS BIGINT) AS u,
       |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |WHERE len(list_intersect(a.sh, b.sh)) * 1000000 >=
       |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 800000
       |ORDER BY a, b""".stripMargin

  private val cosineExpr =
    """list_sum(list_transform(list_zip(a.embedding, b.embedding),
      |    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
      |  (a.nrm * b.nrm)""".stripMargin

  /** Exact BM25 top-20 for the fixed query-term set — shared by t14
    * (direct computation over the corpus text) and x1 (the SAME
    * ranking served from the persisted inverted index: identical
    * output proves the stored path — build, bucketing, per-batch
    * stats, indexed scoring — changes nothing).
    */
  private lazy val bm25Sql =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
      |  FROM documents),
      |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
      |st AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
      |tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM toks
      |  WHERE term IN ('table', 'query', 'spark') GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |per AS (
      |  SELECT tf.doc_id,
      |    CAST(round(
      |      ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
      |         (CAST(df AS DOUBLE) + 0.5) + 1.0)
      |      * (CAST(tf AS DOUBLE) * 2.2)
      |      / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
      |         (CAST(dl.dl AS DOUBLE) * CAST(n_docs AS DOUBLE)) / CAST(sum_dl AS DOUBLE))),
      |      9) AS DECIMAL(24,9)) AS s
      |  FROM tf JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id
      |  CROSS JOIN st)
      |SELECT doc_id, round(CAST(sum(s) AS DOUBLE), 6) AS score,
      |  count(*) AS n_terms
      |FROM per GROUP BY doc_id
      |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  /** Exact brute-force top-5 per query (vec_id < 20) — shared by a1
    * and every compressed-search operator whose contract is "output
    * equals brute force" (a7's auto dispatch).
    */
  private lazy val bruteTopKSql =
    s"""WITH v AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings),
       |scored AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS nbr_id, $cosineExpr AS sim
       |  FROM v a JOIN v b ON a.vec_id < 20 AND a.vec_id <> b.vec_id),
       |ranked AS (
       |  SELECT query_id, nbr_id, round(sim, 6) AS sim,
       |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nbr_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, nbr_id, sim, CAST(rank AS INT) AS rank
       |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Full replay of the label-mean IVF structure (a3): rounded
    * centroids → argmax cell per corpus vector → top-2 probed cells
    * per query → exact rank within probed cells. Shared by a3 and
    * a6_ivf_pq — PQ + exact re-rank reproduces exact in-cell ranking,
    * so both operators' outputs are THIS query.
    */
  private lazy val ivfReplaySql =
    s"""WITH v AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings),
       |cent AS (
       |  SELECT label AS cell, i AS pos, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS m
       |  FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
       |  GROUP BY label, i),
       |cvecs AS (
       |  SELECT cell, list(m ORDER BY pos) AS cvec FROM cent GROUP BY cell),
       |cn AS (
       |  SELECT cell, cvec,
       |    sqrt(list_sum(list_transform(cvec, x -> x * x))) AS cnrm
       |  FROM cvecs),
       |csims AS (
       |  SELECT v.vec_id, c.cell,
       |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |      list_sum(list_transform(list_zip(v.embedding, c.cvec),
       |        x -> CAST(x[1] AS DOUBLE) * x[2])) / (v.nrm * c.cnrm) DESC,
       |      c.cell ASC) AS crank
       |  FROM v CROSS JOIN cn c),
       |assigned AS (SELECT vec_id, cell FROM csims WHERE crank = 1),
       |probed AS (SELECT vec_id, cell FROM csims WHERE crank <= 2 AND vec_id < 20),
       |scored AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS nbr_id, $cosineExpr AS sim
       |  FROM probed p
       |  JOIN assigned asg ON asg.cell = p.cell
       |  JOIN v a ON a.vec_id = p.vec_id
       |  JOIN v b ON b.vec_id = asg.vec_id
       |  WHERE a.vec_id <> b.vec_id),
       |ranked AS (
       |  SELECT query_id, nbr_id, round(sim, 6) AS sim,
       |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nbr_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, nbr_id, sim, CAST(rank AS INT) AS rank
       |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** All-pairs hamming-≤`maxDist` replay of the SimHash pipeline
    * (d4/d15): DuckDB recomputes every fingerprint bit-for-bit, so
    * one helper serves every radius — the Spark side's chunk
    * blocking is a plan optimization the oracle never sees.
    */
  private def simhashAllPairsSql(maxDist: Int): String = {
    val bitTerms = (0 until 64).map { i =>
      val pow = java.math.BigInteger.ONE.shiftLeft(i).toString
      s"CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN CAST('$pow' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END"
    }.mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents),
       |sh AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
       |  FROM toks),
       |hs AS (
       |  SELECT doc_id, list_transform(shingles,
       |    t -> CAST(concat('0x', substr(md5(t), 1, 16)) AS UBIGINT)) AS hs
       |  FROM sh),
       |fp AS (
       |  SELECT doc_id, CAST($bitTerms AS UBIGINT) AS f FROM hs)
       |SELECT a.doc_id AS a, b.doc_id AS b,
       |  CAST(bit_count(xor(a.f, b.f)) AS INT) AS dist
       |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.f, b.f)) <= $maxDist
       |ORDER BY a, b""".stripMargin
  }

  /** The RRF hybrid-fusion replay (both arms + the fused
    * expression) — shared by x2 (direct arms) and x6 (the same
    * fusion served from stored indexes; identical output proves the
    * stored composition output-invisible).
    */
  private lazy val rrfFusionSql: String =
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
         |  FROM documents),
         |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
         |st AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
         |tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM toks
         |  WHERE term IN ('table', 'query', 'spark') GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |per AS (
         |  SELECT tf.doc_id,
         |    CAST(round(
         |      ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
         |         (CAST(df AS DOUBLE) + 0.5) + 1.0)
         |      * (CAST(tf AS DOUBLE) * 2.2)
         |      / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
         |         (CAST(dl.dl AS DOUBLE) * CAST(n_docs AS DOUBLE)) / CAST(sum_dl AS DOUBLE))),
         |      9) AS DECIMAL(24,9)) AS s
         |  FROM tf JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id
         |  CROSS JOIN st),
         |bm AS (
         |  SELECT doc_id, round(CAST(sum(s) AS DOUBLE), 6) AS score
         |  FROM per GROUP BY doc_id),
         |tr AS (
         |  SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS trank
         |  FROM bm ORDER BY score DESC, doc_id LIMIT 50),
         |v AS (
         |  SELECT vec_id, embedding,
         |    sqrt(list_sum(list_transform(embedding,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
         |  FROM embeddings),
         |scored AS (
         |  SELECT b.vec_id AS nbr_id, $cosineExpr AS sim
         |  FROM v a JOIN v b ON a.vec_id = 0 AND a.vec_id <> b.vec_id),
         |vr AS (
         |  SELECT nbr_id AS doc_id,
         |    CAST(row_number() OVER (ORDER BY sim DESC, nbr_id) AS INT) AS vrank
         |  FROM scored ORDER BY sim DESC, nbr_id LIMIT 50),
         |f AS (
         |  SELECT coalesce(tr.doc_id, vr.doc_id) AS doc_id, trank, vrank
         |  FROM tr FULL OUTER JOIN vr ON tr.doc_id = vr.doc_id)
         |SELECT doc_id, trank, vrank,
         |  round(coalesce(CAST(1.0 AS DOUBLE) / (60 + trank), 0) +
         |        coalesce(CAST(1.0 AS DOUBLE) / (60 + vrank), 0), 9) AS rrf
         |FROM f ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin

  val oracle: Map[String, String] = Map(
    "d1_dedup_exact" ->
      """SELECT md5(trim(lower(text))) AS content_hash,
        |  min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin,

    "d2_ngram_jaccard" -> jaccardPairsSql,

    "d3_minhash_lsh" ->
      s"""$shingleCte
         |SELECT a.doc_id AS a, b.doc_id AS b,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE len(list_intersect(a.sh, b.sh)) * 1000000 >=
         |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 800000
         |ORDER BY a, b""".stripMargin,

    "d8_decontamination" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t)-3,1)),
        |    i -> array_to_string(t[i:i+4], ' '))) AS s
        |  FROM toks),
        |cpost AS (
        |  SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 50 <> 0),
        |bpost AS (
        |  SELECT doc_id AS bench_id, unnest(s) AS g FROM sh WHERE doc_id % 50 = 0),
        |ov AS (
        |  SELECT c.doc_id, b.bench_id, count(*) AS shared
        |  FROM cpost c JOIN bpost b USING (g) GROUP BY 1, 2),
        |mx AS (SELECT doc_id, max(shared) AS max_overlap FROM ov GROUP BY doc_id)
        |SELECT s.doc_id,
        |  CAST(COALESCE(m.max_overlap, 0) AS BIGINT) AS max_overlap,
        |  CAST(COALESCE(m.max_overlap, 0) > 0 AS INT) AS contaminated
        |FROM sh s LEFT JOIN mx m USING (doc_id)
        |WHERE s.doc_id % 50 <> 0
        |ORDER BY s.doc_id""".stripMargin,

    // duplicated 40-char windows (stride 10) -> gaps-and-islands
    // interval merge; replays d11's whole pipeline
    "d11_dup_spans" ->
      """WITH w0 AS (
        |  SELECT doc_id, trim(text) AS t FROM documents WHERE len(trim(text)) >= 40),
        |w AS (
        |  SELECT doc_id, unnest(range(0, len(t) - 40 + 1, 10)) AS pos, t FROM w0),
        |h AS (
        |  SELECT doc_id, pos, md5(substr(t, CAST(pos AS INT) + 1, 40)) AS h FROM w),
        |dup AS (SELECT h FROM h GROUP BY h HAVING count(*) >= 2),
        |occ AS (SELECT doc_id, pos FROM h SEMI JOIN dup USING (h)),
        |brk AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos > coalesce(max(pos + 40) OVER (
        |      PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS brk
        |  FROM occ),
        |grp AS (
        |  SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
        |  FROM brk)
        |SELECT doc_id, min(pos) AS span_start, max(pos) + 40 AS span_end,
        |  count(*) AS n_windows
        |FROM grp GROUP BY doc_id, g
        |ORDER BY doc_id, span_start""".stripMargin,

    // d11's spans aggregated per document, zero-inclusive
    "d12_span_report" ->
      """WITH w0 AS (
        |  SELECT doc_id, trim(text) AS t FROM documents WHERE len(trim(text)) >= 40),
        |w AS (
        |  SELECT doc_id, unnest(range(0, len(t) - 40 + 1, 10)) AS pos, t FROM w0),
        |h AS (
        |  SELECT doc_id, pos, md5(substr(t, CAST(pos AS INT) + 1, 40)) AS h FROM w),
        |dup AS (SELECT h FROM h GROUP BY h HAVING count(*) >= 2),
        |occ AS (SELECT doc_id, pos FROM h SEMI JOIN dup USING (h)),
        |brk AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos > coalesce(max(pos + 40) OVER (
        |      PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS brk
        |  FROM occ),
        |grp AS (
        |  SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
        |  FROM brk),
        |spans AS (
        |  SELECT doc_id, min(pos) AS span_start, max(pos) + 40 AS span_end
        |  FROM grp GROUP BY doc_id, g),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_spans,
        |    sum(span_end - span_start) AS dup_chars
        |  FROM spans GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(len(trim(d.text)) AS BIGINT) AS n_chars,
        |  CAST(coalesce(a.n_spans, 0) AS BIGINT) AS n_spans,
        |  CAST(coalesce(a.dup_chars, 0) AS BIGINT) AS dup_chars,
        |  round(CAST(coalesce(a.dup_chars, 0) AS DOUBLE)
        |    / greatest(len(trim(d.text)), 1), 6) AS dup_frac
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // d11's spans -> keep-segments (lag gaps + tail) -> ordered
    // reassembly; empty-after-cut docs distinguished from span-free
    "d13_span_cut" ->
      """WITH w0 AS (
        |  SELECT doc_id, trim(text) AS t FROM documents WHERE len(trim(text)) >= 40),
        |w AS (
        |  SELECT doc_id, unnest(range(0, len(t) - 40 + 1, 10)) AS pos, t FROM w0),
        |h AS (
        |  SELECT doc_id, pos, md5(substr(t, CAST(pos AS INT) + 1, 40)) AS h FROM w),
        |dup AS (SELECT h FROM h GROUP BY h HAVING count(*) >= 2),
        |occ AS (SELECT doc_id, pos FROM h SEMI JOIN dup USING (h)),
        |brk AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos > coalesce(max(pos + 40) OVER (
        |      PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS brk
        |  FROM occ),
        |grp AS (
        |  SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
        |  FROM brk),
        |spans AS (
        |  SELECT doc_id, min(pos) AS span_start, max(pos) + 40 AS span_end
        |  FROM grp GROUP BY doc_id, g),
        |gaps AS (
        |  SELECT doc_id,
        |    coalesce(lag(span_end) OVER (PARTITION BY doc_id ORDER BY span_start), 0) AS keep_start,
        |    span_start AS keep_end
        |  FROM spans
        |  UNION ALL
        |  SELECT s.doc_id, max(s.span_end) AS keep_start,
        |    len(trim(d.text)) AS keep_end
        |  FROM spans s JOIN documents d USING (doc_id)
        |  GROUP BY s.doc_id, len(trim(d.text))),
        |cleaned AS (
        |  SELECT g.doc_id,
        |    string_agg(substr(trim(d.text), CAST(g.keep_start AS INT) + 1,
        |      CAST(g.keep_end - g.keep_start AS INT)), '' ORDER BY g.keep_start) AS clean_text
        |  FROM gaps g JOIN documents d USING (doc_id)
        |  WHERE g.keep_end > g.keep_start
        |  GROUP BY g.doc_id),
        |hs AS (SELECT DISTINCT doc_id FROM spans)
        |SELECT d.doc_id,
        |  CAST(len(trim(d.text)) AS BIGINT) AS n_chars,
        |  CAST(len(CASE WHEN hs.doc_id IS NOT NULL THEN coalesce(c.clean_text, '')
        |            ELSE trim(d.text) END) AS BIGINT) AS clean_len,
        |  CAST(len(trim(d.text)) - len(CASE WHEN hs.doc_id IS NOT NULL
        |    THEN coalesce(c.clean_text, '') ELSE trim(d.text) END) AS BIGINT) AS n_cut,
        |  md5(CASE WHEN hs.doc_id IS NOT NULL THEN coalesce(c.clean_text, '')
        |      ELSE trim(d.text) END) AS clean_hash
        |FROM documents d
        |LEFT JOIN cleaned c USING (doc_id)
        |LEFT JOIN hs USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "t15_collocations" ->
      """WITH t1 AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |uni AS (SELECT unnest(toks) AS w FROM t1),
        |ucnt AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
        |bi AS (
        |  SELECT unnest(list_transform(range(1, len(toks)),
        |    i -> {'w1': toks[i], 'w2': toks[i+1]})) AS p
        |  FROM t1 WHERE len(toks) >= 2),
        |bcnt AS (SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
        |tot AS (SELECT (SELECT count(*) FROM uni) AS n_uni,
        |               (SELECT count(*) FROM bi) AS n_bi)
        |SELECT b.w1, b.w2, b.c12,
        |  round(ln((CAST(c12 AS DOUBLE) / CAST(n_bi AS DOUBLE)) /
        |    ((CAST(u1.c AS DOUBLE) / CAST(n_uni AS DOUBLE)) *
        |     (CAST(u2.c AS DOUBLE) / CAST(n_uni AS DOUBLE)))), 6) AS pmi
        |FROM bcnt b
        |JOIN ucnt u1 ON u1.w = b.w1
        |JOIN ucnt u2 ON u2.w = b.w2
        |CROSS JOIN tot
        |WHERE b.c12 >= 20
        |ORDER BY b.w1, b.w2""".stripMargin,

    "d14_fuzzy_join" ->
      """WITH n AS (SELECT DISTINCT p_name FROM part)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  levenshtein(a.p_name, b.p_name) AS dist
        |FROM n a, n b
        |WHERE a.p_name < b.p_name AND levenshtein(a.p_name, b.p_name) <= 1
        |ORDER BY name_a, name_b""".stripMargin,

    // same 5-gram construction as d8; gram df counted over distinct
    // per-doc grams, so df>=2 means "appears in another document"
    "t12_ngram_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t)-3,1)),
        |    i -> array_to_string(t[i:i+4], ' '))) AS s
        |  FROM toks),
        |g AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |gdf AS (SELECT g, count(DISTINCT doc_id) AS gdf FROM g GROUP BY g),
        |agg AS (
        |  SELECT g.doc_id, count(*) AS n_grams,
        |    sum(CASE WHEN gdf.gdf >= 2 THEN 1 ELSE 0 END) AS n_dup
        |  FROM g JOIN gdf USING (g) GROUP BY g.doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(a.n_grams, 0) AS BIGINT) AS n_grams,
        |  CAST(coalesce(a.n_dup, 0) AS BIGINT) AS n_dup,
        |  round(CAST(coalesce(a.n_dup, 0) AS DOUBLE)
        |    / greatest(coalesce(a.n_grams, 0), 1), 6) AS dup_frac
        |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // d3's exact-pair oracle restricted to pairs touching the new
    // batch (b >= 250 ⇔ at least one side is new, since new ids sort
    // last and a < b)
    "d7_dedup_incremental" ->
      s"""$shingleCte
         |SELECT a.doc_id AS a, b.doc_id AS b,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE b.doc_id >= 250
         |  AND len(list_intersect(a.sh, b.sh)) * 1000000 >=
         |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 800000
         |ORDER BY a, b""".stripMargin,

    // identical to d7's oracle: the streaming gate must land exactly
    // the pairs the batch incremental split produces
    "s9_stream_neardup" ->
      s"""$shingleCte
         |SELECT a.doc_id AS a, b.doc_id AS b,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE b.doc_id >= 250
         |  AND len(list_intersect(a.sh, b.sh)) * 1000000 >=
         |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 800000
         |ORDER BY a, b""".stripMargin,

    "d6_dedup_clusters" ->
      s"""WITH RECURSIVE toks AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
         |sh AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(range(1, greatest(len(toks)-2,0)+1),
         |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
         |  FROM toks),
         |pairs AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh)) * 1000000 >=
         |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 800000),
         |edges AS (
         |  SELECT a, b FROM pairs UNION SELECT b, a FROM pairs
         |  UNION SELECT a, a FROM pairs UNION SELECT b, b FROM pairs),
         |reach(src, dst) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
         |SELECT src AS id, min(dst) AS cluster_rep
         |FROM reach GROUP BY src ORDER BY id""".stripMargin,

    // d6's recursive closure + t2's quality metric + a per-cluster
    // argmax: singleton docs (no pair) coalesce to themselves
    "d9_keep_best" -> {
      val allStop = TextOps.stopwords.values.flatten.toSeq.distinct
        .map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH RECURSIVE toks AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
         |sh AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(range(1, greatest(len(toks)-2,0)+1),
         |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
         |  FROM toks),
         |pairs AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh)) * 1000000 >=
         |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 800000),
         |edges AS (
         |  SELECT a, b FROM pairs UNION SELECT b, a FROM pairs
         |  UNION SELECT a, a FROM pairs UNION SELECT b, b FROM pairs),
         |reach(src, dst) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
         |comp AS (
         |  SELECT src AS id, min(dst) AS cluster_rep FROM reach GROUP BY src),
         |dq AS (
         |  SELECT doc_id, text,
         |    list_distinct(string_split_regex(trim(lower(text)), '\\s+')) AS ltoks,
         |    len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS ndist,
         |    len(string_split_regex(trim(text), '\\s+')) AS ntok
         |  FROM documents),
         |mq AS (
         |  SELECT doc_id,
         |    (least(CAST(len(text) AS DOUBLE) / 500.0, 1.0)
         |     + least(CAST(len(list_intersect(ltoks, $allStop)) AS DOUBLE)
         |             / greatest(ndist, 1) * 4.0, 1.0)
         |     + (1.0 - least(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
         |                    / greatest(ntok, 1), 1.0))) / 3.0 AS q
         |  FROM dq),
         |j AS (
         |  SELECT m.doc_id AS id, coalesce(c.cluster_rep, m.doc_id) AS cluster_rep, m.q
         |  FROM mq m LEFT JOIN comp c ON c.id = m.doc_id),
         |r AS (
         |  SELECT id, cluster_rep, q,
         |    row_number() OVER (PARTITION BY cluster_rep ORDER BY q DESC, id ASC) AS rn
         |  FROM j)
         |SELECT id, cluster_rep, round(q, 6) AS quality, rn = 1 AS kept
         |FROM r ORDER BY id""".stripMargin
    },

    "d5_embed_neardup" ->
      s"""WITH v AS (
         |  SELECT vec_id, embedding,
         |    sqrt(list_sum(list_transform(embedding,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
         |  FROM embeddings)
         |SELECT a.vec_id AS a, b.vec_id AS b, round($cosineExpr, 6) AS sim
         |FROM v a JOIN v b ON a.vec_id < b.vec_id
         |WHERE $cosineExpr >= 0.45
         |ORDER BY a, b""".stripMargin,

    // identical exact all-pairs replay as d5 — the Spark side differs
    // only in HOW it prunes (corpus-derived table count instead of the
    // pinned 48), so a hash match proves the auto-sized index realizes
    // recall 1.0, not just expects it
    "d17_embed_neardup_auto" ->
      s"""WITH v AS (
         |  SELECT vec_id, embedding,
         |    sqrt(list_sum(list_transform(embedding,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
         |  FROM embeddings)
         |SELECT a.vec_id AS a, b.vec_id AS b, round($cosineExpr, 6) AS sim
         |FROM v a JOIN v b ON a.vec_id < b.vec_id
         |WHERE $cosineExpr >= 0.45
         |ORDER BY a, b""".stripMargin,

    // same exact all-pairs replay again: d18 changes only the INDEX
    // (measured-catch multi-probe, ~4× fewer tables) — the τ-pair
    // set it must produce is identical
    "d18_embed_neardup_mp" ->
      s"""WITH v AS (
         |  SELECT vec_id, embedding,
         |    sqrt(list_sum(list_transform(embedding,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
         |  FROM embeddings)
         |SELECT a.vec_id AS a, b.vec_id AS b, round($cosineExpr, 6) AS sim
         |FROM v a JOIN v b ON a.vec_id < b.vec_id
         |WHERE $cosineExpr >= 0.45
         |ORDER BY a, b""".stripMargin,

    // the exact replay RESTRICTED to new-touching pairs: b past the
    // same integer max-id cut the Spark side computes — proving the
    // stored-index batch loop drops nothing a full recompute finds
    "d19_embed_neardup_incr" ->
      s"""WITH v AS (
         |  SELECT vec_id, embedding,
         |    sqrt(list_sum(list_transform(embedding,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
         |  FROM embeddings),
         |cut AS (SELECT (max(vec_id) * 4) // 5 AS c FROM embeddings)
         |SELECT a.vec_id AS a, b.vec_id AS b, round($cosineExpr, 6) AS sim
         |FROM v a JOIN v b ON a.vec_id < b.vec_id
         |WHERE $cosineExpr >= 0.45 AND b.vec_id > (SELECT c FROM cut)
         |ORDER BY a, b""".stripMargin,

    // replays the whole SemDeDup structure: a3's cells + argmax
    // assignment, within-cell τ-pairs, d6's recursive closure, and
    // the farthest-from-centroid retention rank (ccos ASC, id ASC)
    "d10_semdedup" ->
      s"""WITH RECURSIVE v AS (
         |  SELECT vec_id, embedding,
         |    sqrt(list_sum(list_transform(embedding,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
         |  FROM embeddings),
         |cent AS (
         |  SELECT label AS cell, i AS pos, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS m
         |  FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
         |  GROUP BY label, i),
         |cvecs AS (
         |  SELECT cell, list(m ORDER BY pos) AS cvec FROM cent GROUP BY cell),
         |cn AS (
         |  SELECT cell, cvec,
         |    sqrt(list_sum(list_transform(cvec, x -> x * x))) AS cnrm
         |  FROM cvecs),
         |csims AS (
         |  SELECT v.vec_id, c.cell,
         |    list_sum(list_transform(list_zip(v.embedding, c.cvec),
         |      x -> CAST(x[1] AS DOUBLE) * x[2])) / (v.nrm * c.cnrm) AS csim,
         |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |      list_sum(list_transform(list_zip(v.embedding, c.cvec),
         |        x -> CAST(x[1] AS DOUBLE) * x[2])) / (v.nrm * c.cnrm) DESC,
         |      c.cell ASC) AS crank
         |  FROM v CROSS JOIN cn c),
         |assigned AS (SELECT vec_id, cell, csim AS ccos FROM csims WHERE crank = 1),
         |pairs AS (
         |  SELECT a.vec_id AS a, b.vec_id AS b
         |  FROM assigned aa
         |  JOIN assigned ab ON aa.cell = ab.cell AND aa.vec_id < ab.vec_id
         |  JOIN v a ON a.vec_id = aa.vec_id
         |  JOIN v b ON b.vec_id = ab.vec_id
         |  WHERE $cosineExpr >= 0.45),
         |edges AS (
         |  SELECT a, b FROM pairs UNION SELECT b, a FROM pairs
         |  UNION SELECT a, a FROM pairs UNION SELECT b, b FROM pairs),
         |reach(src, dst) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
         |comp AS (SELECT src AS id, min(dst) AS cluster_rep FROM reach GROUP BY src),
         |j AS (
         |  SELECT asg.vec_id AS id, asg.cell,
         |    coalesce(c.cluster_rep, asg.vec_id) AS cluster_rep, asg.ccos
         |  FROM assigned asg LEFT JOIN comp c ON c.id = asg.vec_id),
         |r AS (
         |  SELECT id, cell, cluster_rep, ccos,
         |    row_number() OVER (PARTITION BY cluster_rep
         |      ORDER BY ccos ASC, id ASC) AS rn
         |  FROM j)
         |SELECT id, cell, cluster_rep, round(ccos, 6) AS centroid_cos, rn = 1 AS kept
         |FROM r ORDER BY id""".stripMargin,

    // the zero-config SemDeDup, replayed END TO END: the ⌈√n⌉ cell
    // count (computed from the corpus, not pinned), the md5-ordered
    // seed draw, both unrolled k-means iterations (a5's recursion at
    // a data-derived k), the final argmax assignment WITH its cosine,
    // then d10's pair/closure/retention tail
    "d16_semdedup_auto" -> {
      def cn(i: Int) =
        s"cn$i AS (SELECT cell, cvec, sqrt(list_sum(list_transform(cvec, x -> x * x))) AS cnrm FROM c$i)"
      def assign(i: Int) =
        s"""as$i AS (
           |  SELECT vec_id, cell FROM (
           |    SELECT v.vec_id, c.cell, row_number() OVER (PARTITION BY v.vec_id ORDER BY
           |      list_sum(list_transform(list_zip(v.embedding, c.cvec),
           |        x -> CAST(x[1] AS DOUBLE) * x[2])) / (v.nrm * c.cnrm) DESC,
           |      c.cell ASC) AS crank
           |    FROM v CROSS JOIN cn${i - 1} c) WHERE crank = 1)""".stripMargin
      def update(i: Int) =
        s"""c$i AS (
           |  SELECT cell, list(m ORDER BY pos) AS cvec FROM (
           |    SELECT a.cell, i AS pos, round(avg(CAST(e.embedding[i] AS DOUBLE)), 6) AS m
           |    FROM as$i a JOIN embeddings e USING (vec_id), (SELECT unnest(range(1, 65)) AS i)
           |    GROUP BY a.cell, i) GROUP BY cell)""".stripMargin
      s"""WITH RECURSIVE v AS (
         |  SELECT vec_id, embedding,
         |    sqrt(list_sum(list_transform(embedding,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
         |  FROM embeddings),
         |seeds AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, row_number() OVER (ORDER BY
         |        (CAST('0x' || substr(md5('km|' || CAST(vec_id AS VARCHAR)), 1, 15) AS UBIGINT))::BIGINT ASC,
         |        vec_id ASC) - 1 AS cell
         |    FROM embeddings)
         |  WHERE cell < (SELECT greatest(2, CAST(ceil(sqrt(count(*))) AS BIGINT)) FROM embeddings)),
         |c0 AS (
         |  SELECT s.cell, list_transform(e.embedding, x -> round(CAST(x AS DOUBLE), 6)) AS cvec
         |  FROM seeds s JOIN embeddings e USING (vec_id)),
         |${cn(0)},
         |${assign(1)},
         |${update(1)},
         |${cn(1)},
         |${assign(2)},
         |${update(2)},
         |${cn(2)},
         |csims AS (
         |  SELECT v.vec_id, c.cell,
         |    list_sum(list_transform(list_zip(v.embedding, c.cvec),
         |      x -> CAST(x[1] AS DOUBLE) * x[2])) / (v.nrm * c.cnrm) AS csim,
         |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |      list_sum(list_transform(list_zip(v.embedding, c.cvec),
         |        x -> CAST(x[1] AS DOUBLE) * x[2])) / (v.nrm * c.cnrm) DESC,
         |      c.cell ASC) AS crank
         |  FROM v CROSS JOIN cn2 c),
         |assigned AS (SELECT vec_id, cell, csim AS ccos FROM csims WHERE crank = 1),
         |pairs AS (
         |  SELECT a.vec_id AS a, b.vec_id AS b
         |  FROM assigned aa
         |  JOIN assigned ab ON aa.cell = ab.cell AND aa.vec_id < ab.vec_id
         |  JOIN v a ON a.vec_id = aa.vec_id
         |  JOIN v b ON b.vec_id = ab.vec_id
         |  WHERE $cosineExpr >= 0.45),
         |edges AS (
         |  SELECT a, b FROM pairs UNION SELECT b, a FROM pairs
         |  UNION SELECT a, a FROM pairs UNION SELECT b, b FROM pairs),
         |reach(src, dst) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
         |comp AS (SELECT src AS id, min(dst) AS cluster_rep FROM reach GROUP BY src),
         |j AS (
         |  SELECT asg.vec_id AS id, asg.cell,
         |    coalesce(c.cluster_rep, asg.vec_id) AS cluster_rep, asg.ccos
         |  FROM assigned asg LEFT JOIN comp c ON c.id = asg.vec_id),
         |r AS (
         |  SELECT id, cell, cluster_rep, ccos,
         |    row_number() OVER (PARTITION BY cluster_rep
         |      ORDER BY ccos ASC, id ASC) AS rn
         |  FROM j)
         |SELECT id, cell, cluster_rep, round(ccos, 6) AS centroid_cos, rn = 1 AS kept
         |FROM r ORDER BY id""".stripMargin
    },

    "v1_label_centroids" ->
      """SELECT label, i - 1 AS pos,
        |  round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS mean_x
        |FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
        |GROUP BY label, i ORDER BY label, pos""".stripMargin,

    // mirrors Quantize.int8 element-for-element: same scale op, same
    // half-away round, same array-order error accumulation
    "v4_dbscan" ->
      s"""WITH RECURSIVE v AS (
         |  SELECT vec_id, embedding,
         |    sqrt(list_sum(list_transform(embedding,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
         |  FROM embeddings),
         |pairs AS (
         |  SELECT a.vec_id AS a, b.vec_id AS b
         |  FROM v a JOIN v b ON a.vec_id < b.vec_id
         |  WHERE $cosineExpr >= 0.35),
         |sym AS (SELECT a AS id, b AS nb FROM pairs
         |        UNION ALL SELECT b, a FROM pairs),
         |deg AS (SELECT id, count(*) AS n_nbrs FROM sym GROUP BY id),
         |core AS (SELECT id FROM deg WHERE n_nbrs >= 2),
         |ce AS (
         |  SELECT p.a, p.b FROM pairs p
         |  JOIN core ca ON ca.id = p.a JOIN core cb ON cb.id = p.b),
         |edges AS (
         |  SELECT a, b FROM ce UNION SELECT b, a FROM ce
         |  UNION SELECT a, a FROM ce UNION SELECT b, b FROM ce),
         |reach(src, dst) AS (
         |  SELECT a, b FROM edges
         |  UNION SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
         |comp AS (SELECT src AS id, min(dst) AS cluster_rep FROM reach GROUP BY src),
         |corelab AS (
         |  SELECT c.id, coalesce(cp.cluster_rep, c.id) AS cluster
         |  FROM core c LEFT JOIN comp cp ON cp.id = c.id),
         |borderlab AS (
         |  SELECT s.id, min(cl.cluster) AS cluster
         |  FROM sym s JOIN corelab cl ON cl.id = s.nb
         |  WHERE s.id NOT IN (SELECT id FROM core)
         |  GROUP BY s.id)
         |SELECT e.vec_id AS id,
         |  coalesce(d.n_nbrs, 0) AS n_nbrs,
         |  CASE WHEN c.id IS NOT NULL THEN 'core'
         |       WHEN b.id IS NOT NULL THEN 'border'
         |       ELSE 'noise' END AS role,
         |  coalesce(c.cluster, b.cluster, -1) AS cluster
         |FROM embeddings e
         |LEFT JOIN deg d ON d.id = e.vec_id
         |LEFT JOIN corelab c ON c.id = e.vec_id
         |LEFT JOIN borderlab b ON b.id = e.vec_id
         |ORDER BY id""".stripMargin,

    // v4's replay at the selective τ=0.45 / minPts=2 configuration:
    // the oracle builds the ε-graph EXACTLY (all-pairs), so a hash
    // match also proves the LSH graph's recall is 1.0 at this τ
    "v5_dbscan_lsh" ->
      s"""WITH RECURSIVE v AS (
         |  SELECT vec_id, embedding,
         |    sqrt(list_sum(list_transform(embedding,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
         |  FROM embeddings),
         |pairs AS (
         |  SELECT a.vec_id AS a, b.vec_id AS b
         |  FROM v a JOIN v b ON a.vec_id < b.vec_id
         |  WHERE $cosineExpr >= 0.45),
         |sym AS (SELECT a AS id, b AS nb FROM pairs
         |        UNION ALL SELECT b, a FROM pairs),
         |deg AS (SELECT id, count(*) AS n_nbrs FROM sym GROUP BY id),
         |core AS (SELECT id FROM deg WHERE n_nbrs >= 1),
         |ce AS (
         |  SELECT p.a, p.b FROM pairs p
         |  JOIN core ca ON ca.id = p.a JOIN core cb ON cb.id = p.b),
         |edges AS (
         |  SELECT a, b FROM ce UNION SELECT b, a FROM ce
         |  UNION SELECT a, a FROM ce UNION SELECT b, b FROM ce),
         |reach(src, dst) AS (
         |  SELECT a, b FROM edges
         |  UNION SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
         |comp AS (SELECT src AS id, min(dst) AS cluster_rep FROM reach GROUP BY src),
         |corelab AS (
         |  SELECT c.id, coalesce(cp.cluster_rep, c.id) AS cluster
         |  FROM core c LEFT JOIN comp cp ON cp.id = c.id),
         |borderlab AS (
         |  SELECT s.id, min(cl.cluster) AS cluster
         |  FROM sym s JOIN corelab cl ON cl.id = s.nb
         |  WHERE s.id NOT IN (SELECT id FROM core)
         |  GROUP BY s.id)
         |SELECT e.vec_id AS id,
         |  coalesce(d.n_nbrs, 0) AS n_nbrs,
         |  CASE WHEN c.id IS NOT NULL THEN 'core'
         |       WHEN b.id IS NOT NULL THEN 'border'
         |       ELSE 'noise' END AS role,
         |  coalesce(c.cluster, b.cluster, -1) AS cluster
         |FROM embeddings e
         |LEFT JOIN deg d ON d.id = e.vec_id
         |LEFT JOIN corelab c ON c.id = e.vec_id
         |LEFT JOIN borderlab b ON b.id = e.vec_id
         |ORDER BY id""".stripMargin,

    // v5's exact replay at (τ=0.45, minPts=2), emitted once per
    // dispatch regime: both epsCluster arms must equal the SAME
    // exact clustering — the dispatch is a cost decision only
    "v6_dbscan_auto" ->
      s"""WITH RECURSIVE v AS (
         |  SELECT vec_id, embedding,
         |    sqrt(list_sum(list_transform(embedding,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
         |  FROM embeddings),
         |pairs AS (
         |  SELECT a.vec_id AS a, b.vec_id AS b
         |  FROM v a JOIN v b ON a.vec_id < b.vec_id
         |  WHERE $cosineExpr >= 0.45),
         |sym AS (SELECT a AS id, b AS nb FROM pairs
         |        UNION ALL SELECT b, a FROM pairs),
         |deg AS (SELECT id, count(*) AS n_nbrs FROM sym GROUP BY id),
         |core AS (SELECT id FROM deg WHERE n_nbrs >= 1),
         |ce AS (
         |  SELECT p.a, p.b FROM pairs p
         |  JOIN core ca ON ca.id = p.a JOIN core cb ON cb.id = p.b),
         |edges AS (
         |  SELECT a, b FROM ce UNION SELECT b, a FROM ce
         |  UNION SELECT a, a FROM ce UNION SELECT b, b FROM ce),
         |reach(src, dst) AS (
         |  SELECT a, b FROM edges
         |  UNION SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
         |comp AS (SELECT src AS id, min(dst) AS cluster_rep FROM reach GROUP BY src),
         |corelab AS (
         |  SELECT c.id, coalesce(cp.cluster_rep, c.id) AS cluster
         |  FROM core c LEFT JOIN comp cp ON cp.id = c.id),
         |borderlab AS (
         |  SELECT s.id, min(cl.cluster) AS cluster
         |  FROM sym s JOIN corelab cl ON cl.id = s.nb
         |  WHERE s.id NOT IN (SELECT id FROM core)
         |  GROUP BY s.id)
         |SELECT e.vec_id AS id,
         |  coalesce(d.n_nbrs, 0) AS n_nbrs,
         |  CASE WHEN c.id IS NOT NULL THEN 'core'
         |       WHEN b.id IS NOT NULL THEN 'border'
         |       ELSE 'noise' END AS role,
         |  coalesce(c.cluster, b.cluster, -1) AS cluster,
         |  r.regime
         |FROM embeddings e
         |CROSS JOIN (SELECT unnest(['brute', 'lsh']) AS regime) r
         |LEFT JOIN deg d ON d.id = e.vec_id
         |LEFT JOIN corelab c ON c.id = e.vec_id
         |LEFT JOIN borderlab b ON b.id = e.vec_id
         |ORDER BY regime, id""".stripMargin,

    "v3_random_projection" ->
      """WITH proj AS (
        |  SELECT vec_id, j.j AS pos,
        |    list_sum(list_transform(range(1, 65),
        |      i -> CAST(embedding[i] AS DOUBLE) *
        |           (CASE WHEN CAST('0x' || substr(md5('v3|' || CAST(i - 1 AS VARCHAR)
        |                    || '|' || CAST(j.j AS VARCHAR)), 1, 1) AS UBIGINT) % 2 = 0
        |                 THEN 0.25 ELSE -0.25 END))) AS y_raw
        |  FROM embeddings, (SELECT unnest(range(0, 16)) AS j) j)
        |SELECT vec_id, CAST(pos AS INT) AS pos, round(y_raw, 6) AS y
        |FROM proj ORDER BY vec_id, pos""".stripMargin,

    "v2_embed_quantize" ->
      """WITH v AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
        |  FROM embeddings),
        |s AS (
        |  SELECT vec_id, embedding,
        |    CASE WHEN mx = 0 THEN 0.0 ELSE mx / 127.0 END AS scale
        |  FROM v),
        |q AS (
        |  SELECT vec_id, scale, embedding,
        |    CASE WHEN scale = 0 THEN list_transform(embedding, x -> 0)
        |         ELSE list_transform(embedding,
        |                x -> CAST(round(CAST(x AS DOUBLE) / scale) AS INT)) END AS qvec
        |  FROM s)
        |SELECT vec_id, round(scale, 9) AS scale,
        |  CAST(list_sum(qvec) AS BIGINT) AS q_sum,
        |  CAST(list_sum(list_transform(qvec, x -> abs(x))) AS BIGINT) AS q_l1,
        |  round(sqrt(coalesce(list_sum(list_transform(list_zip(embedding, qvec),
        |    p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) * scale)
        |       * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) * scale))), 0.0)), 6) AS recon_err
        |FROM q ORDER BY vec_id""".stripMargin,

    "a1_ann_topk" -> bruteTopKSql,

    // the auto dispatch's contract is "exact either way" (PQ arm at
    // the measured budget, brute fallback) — the same brute replay
    // gates it verbatim
    "a7_pq_auto" -> bruteTopKSql,
    // a8: the index arm probes ALL cells on this fixture (nprobe
    // capped at the cell count — the measured cell law says 8-of-8)
    // with a measured rerank, and the fixture samples every query, so
    // the output is exactly brute force — the same replay gates both
    // arms.
    "a8_ivf_pq_auto" -> bruteTopKSql,
    // a10: the stored-law probe arm runs at nprobe = cell count on
    // this fixture with a margined stored rerank, and every query is
    // law-sampled — exactly brute force, same replay.
    "a10_ivf_pq_served" -> bruteTopKSql,

    // identical contract to a1: the quantized two-stage search is
    // exact by construction once the rerank margin holds
    "a4_ann_quantized" ->
      s"""WITH v AS (
         |  SELECT vec_id, embedding,
         |    sqrt(list_sum(list_transform(embedding,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
         |  FROM embeddings),
         |scored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS nbr_id, $cosineExpr AS sim
         |  FROM v a JOIN v b ON a.vec_id < 20 AND a.vec_id <> b.vec_id),
         |ranked AS (
         |  SELECT query_id, nbr_id, round(sim, 6) AS sim,
         |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nbr_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, nbr_id, sim, CAST(rank AS INT) AS rank
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // brute-force thresholded kNN graph — the LSH config is tuned to
    // recall 1.0 at τ, so the approximate query must equal this
    "a2_ann_lsh_knn" ->
      s"""WITH v AS (
         |  SELECT vec_id, embedding,
         |    sqrt(list_sum(list_transform(embedding,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
         |  FROM embeddings),
         |scored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS nbr_id, $cosineExpr AS sim
         |  FROM v a JOIN v b ON a.vec_id <> b.vec_id
         |  WHERE $cosineExpr >= 0.45),
         |ranked AS (
         |  SELECT query_id, nbr_id, round(sim, 6) AS sim,
         |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nbr_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, nbr_id, sim, CAST(rank AS INT) AS rank
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // replays the whole k-means recursion (seeds → assign → update,
    // twice) and then the IVF probe/score/rank structure over the
    // learned cells — nothing about the index is taken on faith
    "a5_ivf_kmeans" -> {
      def cn(i: Int) =
        s"cn$i AS (SELECT cell, cvec, sqrt(list_sum(list_transform(cvec, x -> x * x))) AS cnrm FROM c$i)"
      def assign(i: Int) =
        s"""as$i AS (
           |  SELECT vec_id, cell FROM (
           |    SELECT v.vec_id, c.cell, row_number() OVER (PARTITION BY v.vec_id ORDER BY
           |      list_sum(list_transform(list_zip(v.embedding, c.cvec),
           |        x -> CAST(x[1] AS DOUBLE) * x[2])) / (v.nrm * c.cnrm) DESC,
           |      c.cell ASC) AS crank
           |    FROM v CROSS JOIN cn${i - 1} c) WHERE crank = 1)""".stripMargin
      def update(i: Int) =
        s"""c$i AS (
           |  SELECT cell, list(m ORDER BY pos) AS cvec FROM (
           |    SELECT a.cell, i AS pos, round(avg(CAST(e.embedding[i] AS DOUBLE)), 6) AS m
           |    FROM as$i a JOIN embeddings e USING (vec_id), (SELECT unnest(range(1, 65)) AS i)
           |    GROUP BY a.cell, i) GROUP BY cell)""".stripMargin
      s"""WITH v AS (
         |  SELECT vec_id, embedding,
         |    sqrt(list_sum(list_transform(embedding,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
         |  FROM embeddings),
         |seeds AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, row_number() OVER (ORDER BY
         |        (CAST('0x' || substr(md5('km|' || CAST(vec_id AS VARCHAR)), 1, 15) AS UBIGINT))::BIGINT ASC,
         |        vec_id ASC) - 1 AS cell
         |    FROM embeddings) WHERE cell < 8),
         |c0 AS (
         |  SELECT s.cell, list_transform(e.embedding, x -> round(CAST(x AS DOUBLE), 6)) AS cvec
         |  FROM seeds s JOIN embeddings e USING (vec_id)),
         |${cn(0)},
         |${assign(1)},
         |${update(1)},
         |${cn(1)},
         |${assign(2)},
         |${update(2)},
         |${cn(2)},
         |csims AS (
         |  SELECT v.vec_id, c.cell,
         |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |      list_sum(list_transform(list_zip(v.embedding, c.cvec),
         |        x -> CAST(x[1] AS DOUBLE) * x[2])) / (v.nrm * c.cnrm) DESC,
         |      c.cell ASC) AS crank
         |  FROM v CROSS JOIN cn2 c),
         |assigned AS (SELECT vec_id, cell FROM csims WHERE crank = 1),
         |probed AS (SELECT vec_id, cell FROM csims WHERE crank <= 2 AND vec_id < 20),
         |scored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS nbr_id, $cosineExpr AS sim
         |  FROM probed p
         |  JOIN assigned asg ON asg.cell = p.cell
         |  JOIN v a ON a.vec_id = p.vec_id
         |  JOIN v b ON b.vec_id = asg.vec_id
         |  WHERE a.vec_id <> b.vec_id),
         |ranked AS (
         |  SELECT query_id, nbr_id, round(sim, 6) AS sim,
         |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, nbr_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, nbr_id, sim, CAST(rank AS INT) AS rank
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },

    // replicates the IVF index structure: rounded label-mean
    // centroids → argmax cell per corpus vector → top-2 probed cells
    // per query → rank within probed cells
    "a3_ann_ivf" -> ivfReplaySql,

    // IVF·PQ: the PQ stage is exact after the rerank re-score inside
    // probed cells (PqSpec proves the slack), so the approximation
    // surface is identical to a3's and the SAME full-structure replay
    // gates the composition — the oracle verifies the coarse index
    // AND that compression changed nothing.
    "a6_ivf_pq" -> ivfReplaySql,
    // a9: the stored-packed-index serving path re-ranks exactly within
    // probed cells (measured budget, PqSpec), so the same full IVF
    // replay gates it — compression AND storage must change nothing.
    "a9_ivf_pq_indexed" -> ivfReplaySql,

    "t1_text_stats" ->
      """SELECT doc_id,
        |  CAST(len(text) AS BIGINT) AS n_chars,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_distinct,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe,
        |  CAST(len(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) /
        |    greatest(len(string_split_regex(trim(text), '\s+')), 1) AS mean_tok_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t2_quality_score" -> {
      val allStop = TextOps.stopwords.values.flatten.toSeq.distinct
        .map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH d AS (
         |  SELECT doc_id, text,
         |    list_distinct(string_split_regex(trim(lower(text)), '\\s+')) AS toks,
         |    len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS ndist,
         |    len(string_split_regex(trim(text), '\\s+')) AS ntok
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, text, ntok,
         |    CAST(len(list_intersect(toks, $allStop)) AS DOUBLE) / greatest(ndist, 1) AS stop_ratio,
         |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) AS npunct
         |  FROM d)
         |SELECT doc_id, stop_ratio,
         |  (least(CAST(len(text) AS DOUBLE) / 500.0, 1.0)
         |   + least(stop_ratio * 4.0, 1.0)
         |   + (1.0 - least(npunct / greatest(ntok, 1), 1.0))) / 3.0 AS quality
         |FROM m ORDER BY doc_id""".stripMargin
    },

    "t16_entropy" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE length(text) >= 1
        |    AND octet_length(encode(text)) = length(text)),
        |px AS (
        |  SELECT doc_id, text,
        |    unnest(range(1, length(text) + 1)) AS i
        |  FROM d),
        |c AS (
        |  SELECT doc_id, ascii(substr(text, CAST(i AS INT), 1)) AS code,
        |    count(*) AS c
        |  FROM px GROUP BY 1, 2),
        |s AS (
        |  SELECT doc_id, sum(c) AS n,
        |    sum(CASE WHEN c > 1
        |        THEN CAST(c * ln(CAST(c AS DOUBLE)) AS DECIMAL(24,12))
        |        ELSE CAST(0 AS DECIMAL(24,12)) END) AS s
        |  FROM c GROUP BY 1)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
        |  round((ln(CAST(n AS DOUBLE)) - CAST(s AS DOUBLE) / n) / ln(2), 6)
        |    AS entropy
        |FROM s ORDER BY doc_id""".stripMargin,

    // mirrors SimHash64 exactly: per-shingle MD5-prefix hashes, bit i
    // of the fingerprint = sign of the per-bit ±1 sum, then an
    // all-pairs hamming filter (the Spark side's pigeonhole chunk
    // blocking is a plan optimization with identical results)
    "d4_simhash" -> simhashAllPairsSql(maxDist = 12),

    // the production-radius configuration: same fingerprints, hamming
    // ≤ 4 — the oracle's all-pairs replay is radius-independent, so
    // a hash match proves the 2-of-6 combination blocking exact too
    "d15_simhash_prod" -> simhashAllPairsSql(maxDist = 4),

    // mirrors TextOps.langId: per-language distinct-stopword hits,
    // argmax by (score, lang) — DuckDB struct comparison is
    // field-order lexicographic, same as Spark's greatest(struct) —
    // with the CJK-ratio override
    "t3_lang_id" -> {
      val cands = TextOps.stopwords.keys.toSeq.sorted.map { l =>
        val list = TextOps.stopwords(l).map(w => s"'$w'").mkString("[", ", ", "]")
        s"{'score': len(list_intersect(dt, $list)), 'lang': '$l'}"
      }.mkString("[", ", ", "]")
      s"""WITH base AS (
         |  SELECT doc_id, lang AS lang_label,
         |    list_distinct(string_split_regex(trim(lower(text)), '\\s+')) AS dt,
         |    CAST(len(regexp_extract_all(text, '[一-鿿]')) AS DOUBLE)
         |      / greatest(len(text), 1) AS cjk
         |  FROM documents),
         |scored AS (
         |  SELECT doc_id, lang_label, cjk, list_aggregate($cands, 'max') AS best
         |  FROM base)
         |SELECT doc_id, lang_label,
         |  CASE WHEN cjk > 0.2 THEN 'zh' ELSE best.lang END AS lang_pred,
         |  CAST(CASE WHEN cjk > 0.2 THEN -1 ELSE best.score END AS INT) AS score
         |FROM scored ORDER BY doc_id""".stripMargin
    },

    // the fingerprint contract: xor-fold of first-8-bytes(md5(token))
    // over distinct whitespace tokens, big-endian, two's complement
    "t4_fingerprint" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_transform(
        |        list_distinct(string_split_regex(trim(text), '\s+')),
        |        t -> CAST(concat('0x', substr(md5(t), 1, 16)) AS UBIGINT)),
        |      (a, b) -> xor(a, b)) AS ufp
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(CAST(ufp AS HUGEINT)
        |    - CASE WHEN ufp >= CAST('9223372036854775808' AS UBIGINT)
        |           THEN CAST('18446744073709551616' AS HUGEINT)
        |           ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS fp
        |FROM f ORDER BY doc_id""".stripMargin,

    // identical augmentation, identical pattern chain — built from
    // TextOps.piiPatterns so Spark and oracle regexes cannot drift
    "t8_redaction" -> {
      val augmented =
        "concat_ws(' ', text, 'user' || doc_id || '@example.com', " +
          "'http://ex.com/p/' || doc_id, '10.0.0.' || (doc_id % 256), '+1 555-123-4567')"
      val chain = TextOps.piiPatterns.foldLeft(augmented) {
        case (acc, (pat, tag)) => s"regexp_replace($acc, '$pat', '$tag', 'g')"
      }
      s"""SELECT doc_id, $chain AS redacted
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "t9_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
        |  WHERE len(string_split_regex(trim(text), '\s+')) >= 2),
        |bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
        |  FROM toks),
        |cnts AS (
        |  SELECT doc_id, bg, count(*) AS cnt FROM bg GROUP BY doc_id, bg)
        |SELECT doc_id,
        |  CAST(sum(cnt) AS BIGINT) AS n_bigrams,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  round(CAST(max(cnt) AS DOUBLE) / sum(cnt), 6) AS top_bigram_frac,
        |  round(CAST(sum(cnt) - count(*) AS DOUBLE) / sum(cnt), 6) AS dup_bigram_frac
        |FROM cnts GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "t11_unigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |vocab AS (SELECT term, count(*) AS tf_total FROM toks GROUP BY term),
        |total AS (SELECT CAST(sum(tf_total) AS BIGINT) AS corpus_tokens FROM vocab)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  round(CAST(sum(CAST(ln(CAST(v.tf_total AS DOUBLE) / t.corpus_tokens)
        |                       AS DECIMAL(24,12))) AS DOUBLE) / count(*), 6) AS mean_logprob
        |FROM toks JOIN vocab v USING (term) CROSS JOIN total t
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "t10_seq_packing" ->
      """WITH n AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, source, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |                        ROWS UNBOUNDED PRECEDING) - n_tokens AS token_offset
        |  FROM n)
        |SELECT doc_id, source, n_tokens, CAST(token_offset AS BIGINT) AS token_offset,
        |  CAST(token_offset // 512 AS BIGINT) AS seq_id,
        |  CAST(token_offset % 512 AS BIGINT) AS offset_in_seq
        |FROM o ORDER BY doc_id""".stripMargin,

    "t5_vocabulary" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents)
        |SELECT term, count(*) AS tf_total,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |FROM toks GROUP BY term ORDER BY term""".stripMargin,

    "t14_bm25" -> bm25Sql,

    // x1 serves the SAME ranking from the persisted inverted index —
    // build, bucketing, per-batch stats maintenance, and the indexed
    // scoring plan are all provably output-invisible, the a9 stance
    // applied to text
    "x1_bm25_indexed" -> bm25Sql,

    // s10 serves it from an index half-seeded, half STREAMED in via
    // AvailableNow appends — same exact replay, so streaming
    // maintenance is output-invisible too
    "s10_stream_text_index" -> bm25Sql,

    // every query of the batch replayed with the t14 recipe, ranked
    // per query, top-10 each
    "x4_bm25_batch" ->
      """WITH qt AS (
        |  SELECT * FROM (VALUES (0, 'table'), (0, 'query'), (0, 'spark'),
        |    (1, 'data'), (1, 'the'), (2, 'hash'), (2, 'merge')) v(query_id, term)),
        |toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
        |st AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM toks
        |  WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |per AS (
        |  SELECT tf.doc_id, tf.term,
        |    CAST(round(
        |      ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
        |         (CAST(df AS DOUBLE) + 0.5) + 1.0)
        |      * (CAST(tf AS DOUBLE) * 2.2)
        |      / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
        |         (CAST(dl.dl AS DOUBLE) * CAST(n_docs AS DOUBLE)) / CAST(sum_dl AS DOUBLE))),
        |      9) AS DECIMAL(24,9)) AS s
        |  FROM tf JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id
        |  CROSS JOIN st),
        |scored AS (
        |  SELECT qt.query_id, per.doc_id,
        |    round(CAST(sum(per.s) AS DOUBLE), 6) AS score
        |  FROM per JOIN qt USING (term) GROUP BY 1, 2),
        |ranked AS (
        |  SELECT query_id, doc_id, score,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, doc_id) AS INT) AS rank
        |  FROM scored)
        |SELECT query_id, doc_id, score, rank
        |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // the batch MLT replay: per-source capped profiles via a
    // windowed cap, df over the UNION-vocabulary candidates (df is
    // per-term, so its values are identical to each single-source
    // computation), the x5 score tree per (source, candidate), and
    // per-source row_number ranking
    "x8_mlt_batch" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |tfq AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dlq AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM dlq),
        |srcp AS (
        |  SELECT doc_id AS src_id, term, tf AS tf_s, dl AS dl_s,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, term) AS rn
        |  FROM tfq JOIN dlq USING (doc_id)
        |  WHERE doc_id IN (0, 1, 2)),
        |src AS (SELECT src_id, term, tf_s, dl_s FROM srcp WHERE rn <= 25),
        |cand AS (
        |  SELECT tfq.doc_id, tfq.term, tfq.tf, dlq.dl
        |  FROM tfq JOIN dlq USING (doc_id)
        |  WHERE term IN (SELECT DISTINCT term FROM src)),
        |dfq AS (SELECT term, count(*) AS df FROM cand GROUP BY term),
        |per AS (
        |  SELECT src.src_id, cand.doc_id,
        |    CAST(round(
        |      (CAST(tf_s AS DOUBLE) *
        |        ln((CAST(n_docs AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0)))
        |      * (CAST(cand.tf AS DOUBLE) *
        |        ln((CAST(n_docs AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0)))
        |      / (CAST(dl_s AS DOUBLE) * CAST(cand.dl AS DOUBLE)),
        |      15) AS DECIMAL(32,15)) AS s
        |  FROM cand JOIN src USING (term) JOIN dfq USING (term) CROSS JOIN n
        |  WHERE cand.doc_id <> src.src_id),
        |agg AS (
        |  SELECT src_id, doc_id, count(*) AS n_shared_terms,
        |    round(CAST(sum(s) AS DOUBLE), 9) AS score
        |  FROM per GROUP BY src_id, doc_id),
        |ranked AS (
        |  SELECT src_id, doc_id, n_shared_terms, score,
        |    CAST(row_number() OVER (PARTITION BY src_id
        |      ORDER BY score DESC, doc_id) AS INT) AS rank
        |  FROM agg)
        |SELECT src_id, doc_id, n_shared_terms, score, rank
        |FROM ranked WHERE rank <= 10 ORDER BY src_id, rank""".stripMargin,

    // full replay of the MLT recipe from raw text: capped source
    // profile (tf desc, term asc, 25), df over candidates INCLUDING
    // the source doc, idf²-weighted length-normalized overlap
    "x5_more_like_this" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |tfq AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dlq AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM dlq),
        |src AS (
        |  SELECT term, tf AS tf_s, dl AS dl_s
        |  FROM tfq JOIN dlq USING (doc_id)
        |  WHERE doc_id = 0
        |  ORDER BY tf DESC, term LIMIT 25),
        |cand AS (
        |  SELECT tfq.doc_id, tfq.term, tfq.tf, dlq.dl
        |  FROM tfq JOIN dlq USING (doc_id)
        |  WHERE term IN (SELECT term FROM src)),
        |dfq AS (SELECT term, count(*) AS df FROM cand GROUP BY term),
        |per AS (
        |  SELECT cand.doc_id,
        |    CAST(round(
        |      (CAST(tf_s AS DOUBLE) *
        |        ln((CAST(n_docs AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0)))
        |      * (CAST(cand.tf AS DOUBLE) *
        |        ln((CAST(n_docs AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0)))
        |      / (CAST(dl_s AS DOUBLE) * CAST(cand.dl AS DOUBLE)),
        |      15) AS DECIMAL(32,15)) AS s
        |  FROM cand JOIN src USING (term) JOIN dfq USING (term) CROSS JOIN n
        |  WHERE cand.doc_id <> 0)
        |SELECT doc_id, count(*) AS n_shared_terms,
        |  round(CAST(sum(s) AS DOUBLE), 9) AS score
        |FROM per GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    // the same adjacency intersection recomputed from the raw text
    // (parallel unnests zip term with its 1-based position; Spark's
    // posexplode is 0-based — adjacency is shift-invariant)
    "x3_phrase_search" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, unnest(t) AS term, unnest(range(1, len(t)+1)) AS pos
        |  FROM toks),
        |a AS (SELECT doc_id, pos FROM pos WHERE term = 'table'),
        |b AS (SELECT doc_id, pos FROM pos WHERE term = 'hash')
        |SELECT a.doc_id, count(*) AS n_matches
        |FROM a JOIN b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin,

    // both arm rankings replayed exactly (t14's BM25 at depth 50,
    // a1's brute cosine for the one query vector), fused with the
    // identical double expression
    // x6 serves the SAME fusion entirely from stored indexes — the
    // identical expected output is the proof that both stored arms
    // (inverted-index BM25, packed IVF·PQ cosine) and the fusion are
    // output-invisible
    "x6_hybrid_served" -> rrfFusionSql,

    "x2_rrf_fusion" -> rrfFusionSql,

    "x7_proximity_search" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, unnest(t) AS term, unnest(range(1, len(t)+1)) AS pos
        |  FROM toks),
        |a AS (SELECT doc_id, pos FROM pos WHERE term = 'the'),
        |b AS (SELECT doc_id, pos FROM pos WHERE term = 'table'),
        |c AS (SELECT doc_id, pos FROM pos WHERE term = 'hash')
        |SELECT a.doc_id,
        |  CAST(min(greatest(a.pos, b.pos, c.pos) - least(a.pos, b.pos, c.pos))
        |    AS BIGINT) AS min_span
        |FROM a JOIN b ON b.doc_id = a.doc_id JOIN c ON c.doc_id = a.doc_id
        |GROUP BY a.doc_id
        |HAVING min(greatest(a.pos, b.pos, c.pos) - least(a.pos, b.pos, c.pos)) <= 8
        |ORDER BY a.doc_id""".stripMargin,


    "t13_inverted_index" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |pairs AS (SELECT DISTINCT term, doc_id FROM toks)
        |SELECT t.term, t.tf_total, p.df, p.postings
        |FROM (SELECT term, count(*) AS tf_total FROM toks GROUP BY term) t
        |JOIN (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df,
        |    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
        |  FROM pairs GROUP BY term) p USING (term)
        |ORDER BY t.term""".stripMargin,

    "t6_tfidf_top_terms" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
        |df AS (SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM toks)
        |       GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, term, tf, df, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
        |  FROM scored)
        |SELECT doc_id, term, tf, df, score, CAST(rank AS INT) AS rank
        |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    // same hash-bucket decision as the Spark side, constructed from
    // the shared Sampling.oracle* helpers so the two cannot drift
    "c2_stratified_sample" -> {
      import graft.operators.Sampling
      val b = Sampling.oracleBucketSql("CAST(doc_id AS VARCHAR)")
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE $b < CASE
         |  WHEN lang = 'en' THEN ${Sampling.oracleThreshold(0.5)}
         |  WHEN lang = 'fr' THEN ${Sampling.oracleThreshold(0.3)}
         |  ELSE ${Sampling.oracleThreshold(0.1)} END
         |ORDER BY doc_id""".stripMargin
    },

    "c9_train_split" -> {
      import graft.operators.Sampling
      val b = Sampling.oracleBucketSql("CAST(doc_id AS VARCHAR)", "graft-split")
      // cumulative cuts computed with the SAME double additions as
      // trainValidTestSplit's scanLeft (0.8 + 0.1 ≠ 0.9 exactly)
      val cut1 = 0.8
      val cut2 = 0.8 + 0.1
      s"""SELECT doc_id, lang, source,
         |  CASE WHEN $b < ${Sampling.oracleThreshold(cut1)} THEN 'train'
         |       WHEN $b < ${Sampling.oracleThreshold(cut2)} THEN 'valid'
         |       ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    // (h + 1) adds in INTEGER then casts — h is near 2^60, past
    // double precision, so h::double + 1 would round differently
    "c7_weighted_sample" ->
      """SELECT doc_id, n_chars, lang,
        |  round(-ln(CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || '|' || 'c7'), 1, 15)) AS UBIGINT) + 1 AS DOUBLE)
        |    / 1152921504606846976.0) / CAST(n_chars AS DOUBLE), 12) AS priority
        |FROM documents
        |ORDER BY priority, doc_id LIMIT 50""".stripMargin,

    "c5_corpus_merge" ->
      """WITH batch AS (
        |  SELECT doc_id, text || ' [rev2]' AS text, lang, source
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 10000, text, lang, source
        |  FROM documents WHERE doc_id < 20),
        |merged AS (
        |  SELECT doc_id, text, lang, source FROM documents d
        |  WHERE NOT EXISTS (SELECT 1 FROM batch b WHERE b.doc_id = d.doc_id)
        |  UNION ALL
        |  SELECT doc_id, text, lang, source FROM batch)
        |SELECT doc_id, md5(text) AS content_hash, lang, source
        |FROM merged ORDER BY doc_id""".stripMargin,

    "c6_snapshot_diff" ->
      """WITH o AS (SELECT doc_id, text FROM documents WHERE doc_id < 450),
        |n AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id >= 20)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN o.text IS NOT DISTINCT FROM n.text THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM o FULL JOIN n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin,

    "c8_cdc_apply" ->
      """WITH log AS (
        |  SELECT o_custkey AS cust, o_orderkey AS seq,
        |    CASE WHEN o_orderkey % 9 = 0 THEN 'D' ELSE 'U' END AS op,
        |    o_totalprice, o_orderstatus
        |  FROM orders),
        |latest AS (
        |  SELECT *, row_number() OVER (PARTITION BY cust ORDER BY seq DESC) AS rn
        |  FROM log)
        |SELECT cust, seq, o_totalprice, o_orderstatus
        |FROM latest WHERE rn = 1 AND op <> 'D'
        |ORDER BY cust""".stripMargin,

    // the naive per-stratum running sum — the Spark side's two-level
    // cumsum must reproduce it exactly
    "c4_token_budget" -> {
      import graft.operators.Sampling
      val b = Sampling.oracleBucketSql("CAST(doc_id AS VARCHAR)")
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
         |    $b AS h
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, source, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |  FROM d)
         |SELECT doc_id, source, n_tokens, cum_tokens, cum_tokens <= 3000 AS kept
         |FROM c ORDER BY doc_id""".stripMargin
    },

    "c1_clean_pipeline" -> {
      val allStop = TextOps.stopwords.values.flatten.toSeq.distinct
        .map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH d AS (
         |  SELECT doc_id, text, lang, source, n_chars,
         |    list_distinct(string_split_regex(trim(lower(text)), '\\s+')) AS ltoks,
         |    len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS ndist,
         |    len(string_split_regex(trim(text), '\\s+')) AS ntok
         |  FROM documents),
         |q AS (
         |  SELECT doc_id, text, lang, source, n_chars,
         |    (least(CAST(len(text) AS DOUBLE) / 500.0, 1.0)
         |     + least(CAST(len(list_intersect(ltoks, $allStop)) AS DOUBLE)
         |         / greatest(ndist, 1) * 4.0, 1.0)
         |     + (1.0 - least(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
         |         / greatest(ntok, 1), 1.0))) / 3.0 AS quality
         |  FROM d)
         |SELECT source, count(*) AS n_docs,
         |  CAST(count(DISTINCT md5(trim(lower(text)))) AS BIGINT) AS n_unique,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  round(min(quality), 6) AS min_q,
         |  round(max(quality), 6) AS max_q
         |FROM q WHERE lang = 'en' AND quality > 0.55
         |GROUP BY source ORDER BY source""".stripMargin
    },

    // c1's quality gate + window dedup + c2's hash-bucket sampling +
    // t7's chunk expansion, composed
    "c3_training_pipeline" -> {
      import graft.operators.Sampling
      val allStop = TextOps.stopwords.values.flatten.toSeq.distinct
        .map(w => s"'$w'").mkString("[", ", ", "]")
      val b = Sampling.oracleBucketSql("CAST(doc_id AS VARCHAR)")
      s"""WITH d AS (
         |  SELECT doc_id, text, lang,
         |    list_distinct(string_split_regex(trim(lower(text)), '\\s+')) AS ltoks,
         |    len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS ndist,
         |    len(string_split_regex(trim(text), '\\s+')) AS ntok
         |  FROM documents),
         |q AS (
         |  SELECT doc_id, text, lang,
         |    (least(CAST(len(text) AS DOUBLE) / 500.0, 1.0)
         |     + least(CAST(len(list_intersect(ltoks, $allStop)) AS DOUBLE)
         |         / greatest(ndist, 1) * 4.0, 1.0)
         |     + (1.0 - least(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
         |         / greatest(ntok, 1), 1.0))) / 3.0 AS quality
         |  FROM d),
         |gated AS (
         |  SELECT doc_id, text FROM q WHERE lang = 'en' AND quality > 0.55),
         |deduped AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |      row_number() OVER (PARTITION BY md5(trim(lower(text))) ORDER BY doc_id) AS rn
         |    FROM gated) WHERE rn = 1),
         |samp AS (
         |  SELECT doc_id, text FROM deduped
         |  WHERE $b < ${Sampling.oracleThreshold(0.5)}),
         |toks AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM samp),
         |chunks AS (
         |  SELECT doc_id, unnest(range(0, CAST(ceil(len(toks)/40.0) AS BIGINT))) AS n
         |  FROM toks)
         |SELECT c.doc_id, CAST(c.n AS BIGINT) AS chunk_idx,
         |  array_to_string(list_slice(t.toks, c.n * 40 + 1, c.n * 40 + 50), ' ') AS chunk,
         |  CAST(len(list_slice(t.toks, c.n * 40 + 1, c.n * 40 + 50)) AS BIGINT) AS n_tokens
         |FROM chunks c JOIN toks t USING (doc_id)
         |ORDER BY doc_id, chunk_idx""".stripMargin
    },

    "t7_chunking" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |chunks AS (
        |  SELECT doc_id, unnest(range(0, CAST(ceil(len(toks)/40.0) AS BIGINT))) AS n
        |  FROM toks)
        |SELECT c.doc_id, CAST(c.n AS BIGINT) AS chunk_idx,
        |  CAST(c.n * 40 AS BIGINT) AS start_tok,
        |  array_to_string(list_slice(t.toks, c.n * 40 + 1, c.n * 40 + 50), ' ') AS chunk,
        |  CAST(len(list_slice(t.toks, c.n * 40 + 1, c.n * 40 + 50)) AS BIGINT) AS n_tokens
        |FROM chunks c JOIN toks t USING (doc_id)
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    "m2_frame_sample" ->
      """WITH idx AS (
        |  SELECT doc_id AS media_id,
        |    unnest(range(0, greatest(len(text) // 64, 0), 4)) AS frame_idx,
        |    text
        |  FROM documents)
        |SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
        |  frame_idx * 64 AS offset_bytes,
        |  md5(substr(text, CAST(frame_idx * 64 + 1 AS INT), 64)) AS frame_md5
        |FROM idx ORDER BY media_id, frame_idx""".stripMargin,

    "m3_image_ahash" ->
      """WITH d AS (SELECT doc_id, text FROM documents
        |           WHERE length(text) >= 64
        |             AND octet_length(encode(text)) = length(text)),
        |px AS (
        |  SELECT doc_id, i, ascii(substr(text, CAST(i AS INT), 1)) AS code
        |  FROM d, (SELECT unnest(range(1, 65)) AS i) g),
        |m AS (SELECT doc_id, CAST(sum(code) AS DOUBLE) / 64.0 AS mean
        |      FROM px GROUP BY 1),
        |bits AS (
        |  SELECT p.doc_id,
        |    string_agg(CASE WHEN CAST(code AS DOUBLE) > mean
        |                    THEN '1' ELSE '0' END, '' ORDER BY i) AS ahash
        |  FROM px p JOIN m USING (doc_id) GROUP BY p.doc_id)
        |SELECT doc_id, ahash, count(*) OVER (PARTITION BY ahash) AS n_same
        |FROM bits ORDER BY doc_id""".stripMargin,

    // the oracle replays every PCM frame of the synthesized WAVs
    // arithmetically (the sample formula is the contract); the Spark
    // side must recover the identical facts by actually PARSING the
    // RIFF container and walking the frames through javax.sound
    "m4_audio_features" ->
      """WITH f AS (
        |  SELECT doc_id AS media_id, n_chars % 1000 + 100 AS n_frames
        |  FROM documents),
        |s AS (
        |  SELECT media_id, n_frames,
        |    unnest(range(0, n_frames)) AS i
        |  FROM f),
        |a AS (
        |  SELECT media_id, n_frames,
        |    sum(((media_id * 31 + i * 7) % 201 - 100) * 300
        |      * (((media_id * 31 + i * 7) % 201 - 100) * 300)) AS sum_sq
        |  FROM s GROUP BY media_id, n_frames)
        |SELECT media_id, 8000 AS sample_rate, 1 AS channels, 16 AS bits,
        |  CAST(n_frames AS BIGINT) AS n_frames,
        |  CAST(n_frames * 1000 // 8000 AS BIGINT) AS duration_ms,
        |  CAST(sum_sq AS BIGINT) AS sum_sq,
        |  round(sqrt(CAST(sum_sq AS DOUBLE) / n_frames), 6) AS rms
        |FROM a ORDER BY media_id""".stripMargin,

    "m1_media_features" ->
      """SELECT doc_id AS media_id,
        |  ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |  CAST(octet_length(encode(text)) % 640 AS INT) AS width,
        |  CAST((octet_length(encode(text)) * 7) % 480 AS INT) AS height
        |FROM documents ORDER BY media_id""".stripMargin,

    "e1_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END AS is_new
        |  FROM g),
        |sid AS (
        |  SELECT user_id, ts,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM s)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  count(*) AS n_events,
        |  CAST(min(epoch_us(ts)) AS BIGINT) AS start_us,
        |  CAST(max(epoch_us(ts)) AS BIGINT) AS end_us
        |FROM sid GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "e2_incremental_antijoin" ->
      """WITH runs AS (
        |  SELECT event_id AS run_key,
        |    CASE WHEN event_id % 6 = 0 THEN ts - INTERVAL 1 HOUR
        |         ELSE ts + INTERVAL 1 HOUR END AS run_ts
        |  FROM events WHERE event_id % 3 = 0)
        |SELECT event_type, count(*) AS n_stale
        |FROM events e
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM runs r WHERE r.run_key = e.event_id AND r.run_ts > e.ts)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q41_retention_cohorts" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events),
        |first AS (
        |  SELECT user_id, min(week) AS cohort FROM uw GROUP BY user_id)
        |SELECT f.cohort, date_diff('day', f.cohort, uw.week) // 7 AS k,
        |  CAST(count(DISTINCT uw.user_id) AS BIGINT) AS n_active
        |FROM uw JOIN first f USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort, k""".stripMargin,

    "q40_gap_fill" ->
      """WITH daily AS (
        |  SELECT user_id, date_trunc('day', ts) AS day,
        |    count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_value
        |  FROM events GROUP BY 1, 2),
        |cal AS (
        |  SELECT user_id,
        |    unnest(generate_series(min(day), max(day), INTERVAL 1 DAY)) AS day
        |  FROM daily GROUP BY user_id)
        |SELECT c.user_id, c.day,
        |  CAST(coalesce(d.n, 0) AS BIGINT) AS n,
        |  last_value(d.day_value IGNORE NULLS) OVER (
        |    PARTITION BY c.user_id ORDER BY c.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried_value
        |FROM cal c LEFT JOIN daily d ON d.user_id = c.user_id AND d.day = c.day
        |ORDER BY c.user_id, c.day""".stripMargin,

    "q37_range_frame" ->
      """SELECT user_id, event_id, ts,
        |  count(*) OVER w AS n_last_hour,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_last_hour
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts, event_id""".stripMargin,

    "e3_funnel" ->
      """WITH s0 AS (
        |  SELECT user_id, min(ts) AS step_ts_0
        |  FROM events WHERE event_type = 'view' GROUP BY user_id),
        |s1 AS (
        |  SELECT e.user_id, min(e.ts) AS step_ts_1
        |  FROM events e JOIN s0 ON e.user_id = s0.user_id AND e.ts >= s0.step_ts_0
        |  WHERE e.event_type = 'click' GROUP BY e.user_id),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS step_ts_2
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts >= s1.step_ts_1
        |  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        |SELECT s0.user_id, s0.step_ts_0, s1.step_ts_1, s2.step_ts_2,
        |  CAST(1 + CAST(s1.step_ts_1 IS NOT NULL AS INT)
        |         + CAST(s2.step_ts_2 IS NOT NULL AS INT) AS INT) AS stages
        |FROM s0
        |LEFT JOIN s1 ON s1.user_id = s0.user_id
        |LEFT JOIN s2 ON s2.user_id = s0.user_id
        |ORDER BY s0.user_id""".stripMargin,

    "s1_stream_tumbling" ->
      """SELECT time_bucket(INTERVAL 1 HOUR, ts) AS bucket_ts, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY bucket_ts, event_type""".stripMargin,

    "s2_stream_sessions" ->
      """WITH g AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |i AS (
        |  SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                   ROWS UNBOUNDED PRECEDING) AS grp
        |  FROM g)
        |SELECT min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  user_id, CAST(count(*) AS BIGINT) AS n_events
        |FROM i GROUP BY user_id, grp
        |ORDER BY user_id, session_start""".stripMargin,

    // the batch form of the streaming attribution join — inner
    // stream-stream joins must emit exactly the batch join's rows
    "s3_stream_stream_join" ->
      """WITH v AS (
        |  SELECT event_id AS view_id, user_id, ts AS view_ts
        |  FROM events WHERE event_type = 'view'),
        |c AS (
        |  SELECT event_id AS click_id, user_id, ts AS click_ts
        |  FROM events WHERE event_type = 'click')
        |SELECT v.view_id, c.click_id, v.user_id, v.view_ts, c.click_ts
        |FROM v JOIN c ON v.user_id = c.user_id
        |  AND c.click_ts >= v.view_ts
        |  AND c.click_ts <= v.view_ts + INTERVAL 2 HOUR
        |ORDER BY view_id, click_id""".stripMargin,

    // the WHERE mirrors streaming outer-join finalization: the query
    // watermark is the MIN across both watermark operators (each
    // sees only its own filtered side), so a null row exists iff
    // least(max view_ts, max click_ts) - 4h strictly passed the
    // view's join window
    "s4_stream_outer_join" ->
      """WITH v AS (
        |  SELECT event_id AS view_id, user_id, ts AS view_ts
        |  FROM events WHERE event_type = 'view'),
        |c AS (
        |  SELECT event_id AS click_id, user_id, ts AS click_ts
        |  FROM events WHERE event_type = 'click'),
        |wm AS (SELECT least((SELECT max(view_ts) FROM v),
        |                    (SELECT max(click_ts) FROM c)) - INTERVAL 4 HOUR AS w)
        |SELECT v.view_id, c.click_id, v.user_id, v.view_ts, c.click_ts
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        |  AND c.click_ts >= v.view_ts
        |  AND c.click_ts <= v.view_ts + INTERVAL 2 HOUR
        |WHERE c.click_id IS NOT NULL
        |   OR v.view_ts + INTERVAL 2 HOUR < (SELECT w FROM wm)
        |ORDER BY view_id, click_id""".stripMargin,

    // each event belongs to the four slide-aligned windows covering
    // its timestamp: starts time_bucket(15min, ts) − k·15min, k 0..3
    "s6_stream_sliding" ->
      """WITH wins AS (
        |  SELECT time_bucket(INTERVAL 15 MINUTE, ts) - k * INTERVAL 15 MINUTE AS bucket_ts,
        |    event_type
        |  FROM events, unnest([0, 1, 2, 3]) AS t(k))
        |SELECT bucket_ts, event_type, count(*) AS n
        |FROM wins GROUP BY 1, 2
        |ORDER BY bucket_ts, event_type""".stripMargin,

    "s7_stream_dedup" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,

    "s8_stream_enriched" ->
      """SELECT c_mktsegment AS segment, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events LEFT JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2 ORDER BY segment, event_type""".stripMargin,

    "e4_markov_transitions" ->
      """WITH seq AS (
        |  SELECT user_id, event_type AS from_type,
        |    lead(event_type) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |cnt AS (
        |  SELECT from_type, to_type, count(*) AS n
        |  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  round(CAST(n AS DOUBLE) /
        |    CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p
        |FROM cnt ORDER BY from_type, to_type""".stripMargin,

    "e8_sliding_distinct" ->
      """WITH hu AS (
        |  SELECT DISTINCT event_type, date_trunc('hour', ts) AS h, user_id
        |  FROM events),
        |hrs AS (SELECT DISTINCT event_type, h FROM hu)
        |SELECT a.event_type, a.h,
        |  CAST(count(DISTINCT b.user_id) AS BIGINT) AS n_users_6h
        |FROM hrs a JOIN hu b
        |  ON b.event_type = a.event_type
        | AND b.h >= a.h - INTERVAL 5 HOUR AND b.h <= a.h
        |GROUP BY 1, 2
        |ORDER BY a.event_type, a.h""".stripMargin,

    "e6_retention_cohorts" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |fst AS (SELECT user_id, min(day) AS cohort FROM act GROUP BY 1),
        |m AS (
        |  SELECT f.cohort,
        |    CAST(date_diff('day', f.cohort, a.day) AS BIGINT) AS offset_days,
        |    CAST(count(DISTINCT a.user_id) AS BIGINT) AS active_users
        |  FROM act a JOIN fst f ON a.user_id = f.user_id
        |  GROUP BY 1, 2)
        |SELECT cohort, offset_days, active_users,
        |  round(CAST(active_users AS DOUBLE) /
        |    CAST(max(CASE WHEN offset_days = 0 THEN active_users END)
        |           OVER (PARTITION BY cohort) AS DOUBLE), 6) AS retention
        |FROM m ORDER BY cohort, offset_days""".stripMargin,

    "e7_ohlc_bars" ->
      """WITH e AS (
        |  SELECT event_type, date_trunc('hour', ts) AS bar, value,
        |    row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
        |                       ORDER BY ts, event_id) AS rn_a,
        |    row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
        |                       ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM events)
        |SELECT event_type, bar,
        |  max(CASE WHEN rn_a = 1 THEN value END) AS open,
        |  max(value) AS high,
        |  min(value) AS low,
        |  max(CASE WHEN rn_d = 1 THEN value END) AS close,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume_value
        |FROM e GROUP BY 1, 2
        |ORDER BY event_type, bar""".stripMargin,

    "e5_anomaly" ->
      """WITH stats AS (
        |  SELECT event_type, count(*) AS n,
        |    sum(CAST(value AS DECIMAL(18,2))) AS sx,
        |    sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS sxx
        |  FROM events GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.value,
        |  round((e.value - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) /
        |    (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)),
        |    6) AS z
        |FROM events e JOIN stats s USING (event_type)
        |WHERE abs((e.value - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) /
        |    (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE))) > 3
        |ORDER BY e.event_id""".stripMargin,

    // the serving table the streaming MERGE sink maintains must equal
    // the plain batch aggregate over the same events
    "s5_stream_upsert" ->
      """SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
  )
}
