package graft.queries

import graft.SparkTestBase

/** Scale-shape regression guard: no gated query may plan a
  * CartesianProduct, and BroadcastNestedLoopJoin is allowed only
  * where a genuinely tiny (1-row scalar) side makes it the right
  * plan. This is the class of regression that turns a correct query
  * into a 100 TB scale-killer while every value-level gate stays
  * green — so the *plan* is the asserted artifact.
  *
  * Planning only (`executedPlan` string) — nothing executes.
  */
final class PlanAuditSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  // queries whose plan legitimately contains a BroadcastNestedLoopJoin:
  //   - a broadcast of a 1-row aggregate (scalar count / corpus size):
  //     t6, q23
  //   - brute-force ANN, where "score the broadcast query batch
  //     against every corpus row" IS the operator — the corpus side
  //     never shuffles and each partition scans independently: a1
  //   - IVF's coarse quantizer: every vector scores against the
  //     broadcast |cells|-row centroid table (a3, a5 — a5's k-means
  //     training assigns against the same broadcast centroids)
  //   - the bloom filter: a 1-row occupied-slot array (≤ m ints)
  //     broadcast to every fact partition — the filter being tiny
  //     and shuffle-free is the operator's entire point: q46
  private val scalarBroadcastOk =
    Set("t6_tfidf_top_terms", "t11_unigram_logprob", "q23_correlated_subquery",
      "a1_ann_topk", "a3_ann_ivf", "a4_ann_quantized", "a5_ivf_kmeans",
      "d10_semdedup", "q46_bloom_prune",
      "t14_bm25",  // 1-row (n_docs, sum_dl) corpus-stats scalar
      "x1_bm25_indexed",      // t14's 1-row stats scalar, summed from
                              // the stored per-batch partial rows
      "s10_stream_text_index",// same serving plan as x1 (the index
                              // arrived by streaming appends)
      "x2_rrf_fusion", // both arms' allowed shapes: t14's 1-row stats
                       // scalar and a1's broadcast-query brute scan
      "x4_bm25_batch", // t14's 1-row stats scalar, shared by every
                       // query of the batch
      "x5_more_like_this", // the same 1-row n_docs scalar (the src
                           // profile broadcast is a ≤25-row
                           // LocalRelation, not an aggregate)
      "t15_collocations", // 1-row (n_uni, n_bi) corpus-totals scalar
      "q52_skyline", // dominance is non-equi by nature; the NLJ sides
                     // are the broadcast sample-skyline / pruned
                     // candidate set (skyline-sized, never the table)
      "v4_dbscan",   // exact ε-graph at an unselective τ is the a1
                     // brute-force shape: broadcast side, corpus
                     // never shuffles (LSH ≡-spec'd in DbscanSpec)
      "v6_dbscan_auto",     // the auto dispatch's brute arm IS v4's
                            // gated shape (taken only when n fits the
                            // broadcast bound); the forced-LSH arm's
                            // ε-graph is the d5 equi-join
      "d16_semdedup_auto",  // d10's broadcast-quantizer argmax, at
                            // k-means cells: row × cell scoring is a
                            // broadcast product reduced map-side —
                            // the corpus never shuffles for assignment
      "a6_ivf_pq",          // the NLJ product is a3's own shape: the
                            // (rows × cells) coarse-assignment scan
                            // against broadcast centroids (codebooks
                            // are BAKED into the PqAssign/PqLut
                            // kernels, never joined); the ADC scan
                            // stays an equi-join on cell
      "a7_pq_auto",         // both dispatch arms are the a1 broadcast
                            // full-scan shape (query batch broadcast,
                            // corpus never shuffles beyond the codes
                            // exchange) — the measurement pass and
                            // the chosen arm alike
      "a8_ivf_pq_auto",     // the two measurement passes are a1's and
                            // a3's own shapes (sample brute scan +
                            // coarse scoring vs broadcast centroids),
                            // and the gate's index arm probes a3's
                            // cell equi-join — the only NLJ sides are
                            // the broadcast sample/centroid relations
      "a9_ivf_pq_indexed",  // the served plan's only non-equi product
                            // is the query batch's coarse assignment
                            // against the broadcast centroid table
                            // (a3's shape); the codes scan joins
                            // equi-keyed on cell, vectors enter only
                            // through the rerank equi-join
      "a10_ivf_pq_served",  // a9's served shapes plus the build-time
                            // law measurement (a1's sample brute scan
                            // + a3's coarse scoring) — all broadcast
                            // sides are the sample/centroid relations
      "x6_hybrid_served",   // the composed serving arms own only the
                            // allowed shapes: x1's 1-row stats scalar
                            // (text arm) and a9's coarse assignment
                            // against the broadcast centroid table
                            // (vec arm)
      "x8_mlt_batch")       // x5's 1-row n_docs scalar, shared by
                            // every source of the batch

  // the streaming queries execute on construction; everything else
  // plans lazily and is audited here
  private val skipped = Set("s1_stream_tumbling", "s2_stream_sessions",
    "s3_stream_stream_join", "s4_stream_outer_join")

  test("filters and pruning reach the parquet scan (q1)") {
    val plan = graft.SparkEntry.queries("q1_pricing_summary")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("l_shipdate"),
      "q1's shipdate filter must push down to the scan")
    // column pruning: the scan must not read the widest lineitem columns
    assert(!plan.contains("l_comment"), "q1 must not scan l_comment")
  }

  test("dimension joins broadcast (q5, q17)") {
    Seq("q5_join_broadcast", "q17_snowflake_join").foreach { name =>
      val plan = graft.SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"$name must broadcast its dim side")
    }
  }

  // queries whose broadcast hint covers a KEYED aggregate whose key
  // domain is a bounded constant of the data model, not corpus-sized:
  //   - e5: per-event-type moment sums — |event types| is a domain
  //     enum (handfuls), never corpus-cardinality
  //   - a3/d10: the IVF/SemDeDup coarse quantizer — the aggregate is
  //     keyed by cell, whose cardinality is the k-means parameter k
  //     (centroids are k×dim by construction), a config constant
  //   - r1: the item-support table — the hint is dispatch-guarded: a
  //     metadata-only row-count pre-flight (part.count() reads parquet
  //     footers, no column decode) proves the catalog under a fixed
  //     row bound before the hint is applied (SMJ above it), so the
  //     build side is bounded by construction
  private val keyedBroadcastOk =
    Set("e5_anomaly", "a3_ann_ivf", "d10_semdedup", "r1_item_similarity",
      "a6_ivf_pq", // broadcast keyed aggregates are a3's label-mean
                   // centroids (cell-count-bounded) and the per-query
                   // probe/lut side (query-batch-sized, the a1
                   // broadcast contract)
      "a7_pq_auto", // the broadcast keyed aggregate is the sampled
                    // queries' brute top-k (≤ sample × k rows by
                    // construction — the measurement side of the
                    // dispatch)
      "a8_ivf_pq_auto", // a7's sampled-tops broadcast plus a6's
                        // cell-count-bounded centroid aggregate and
                        // query-batch probe/lut side — all three
                        // bounded by construction (sample × k, k
                        // cells, query batch)
      "a9_ivf_pq_indexed", // a6's bounded sides: the cell-count-keyed
                           // centroid aggregate (build) and the
                           // query-batch probe/lut side (serve)
      "a10_ivf_pq_served", // a9's bounded sides plus a7's sampled-tops
                           // broadcast (the law measurement, sample×k
                           // rows by construction)
      "x1_bm25_indexed",      // the broadcast keyed aggregate is the
                              // per-term df over QUERY-TERM postings —
                              // ≤ |query terms| rows by construction
                              // (the term list is a literal)
      "s10_stream_text_index", // same serving plan as x1
      "x4_bm25_batch", // x1's df plus the distinct (query_id, term)
                       // batch pairs — both request-sized by
                       // construction, never corpus-keyed
      "x5_more_like_this", // per-term df over the ≤25 capped source
                           // terms' postings — maxQueryTerms-bounded
                           // by construction
      "x6_hybrid_served",  // x1's query-term-bounded df (text arm)
                           // plus a9's cell-count-bounded centroid
                           // aggregate and query-batch probe/lut
                           // side (vec arm)
      "x8_mlt_batch")      // per-term df over the batch's capped
                           // union vocabulary — ≤ |batch| ×
                           // maxQueryTerms rows by construction

  test("no broadcast hint on an unbounded aggregate (full registry)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, ResolvedHint}
    // a force-broadcast of a keyed aggregate over the corpus (a term
    // vocabulary, per-doc frequencies) is unbounded at scale and OOMs
    // the build side; only grouping-key-less (1-row scalar) aggregates
    // — or allowlisted bounded-domain keys — may carry the hint
    val offenders = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, _) if skipped(name) || keyedBroadcastOk(name) => Nil
      case (name, fn) =>
        fn(spark, sfDir).queryExecution.analyzed.collect {
          case h: ResolvedHint if !h.child.collectFirst { case a: Aggregate => a }
              .forall(_.groupingExpressions.isEmpty) =>
            s"$name: ${h.simpleString(80)}"
        }
    }
    assert(offenders.isEmpty,
      s"keyed (unbounded) aggregates force-broadcast:\n${offenders.mkString("\n")}")
  }

  test("pushable literal predicates reach their parquet scan (full registry)") {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.execution._
    // mechanical form of "the filter reaches the scan": wherever a
    // FilterExec sits directly over a parquet scan (through projects/
    // codegen glue) and a conjunct is a plain comparison between a
    // SCANNED column and a literal, the scan's PushedFilters must
    // mention that column. Residual filters legitimately remain (the
    // parquet reader's pushdown is page-level, not exact) — what may
    // not happen is the pushable predicate vanishing from the scan.
    def scanBelow(p: SparkPlan): Option[FileSourceScanExec] = p match {
      case s: FileSourceScanExec => Some(s)
      case p: ProjectExec        => scanBelow(p.child)
      case w: WholeStageCodegenExec => scanBelow(w.child)
      case i: InputAdapter       => scanBelow(i.child)
      case c: ColumnarToRowExec  => scanBelow(c.child)
      case _                     => None
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other     => Seq(other)
    }
    def pushableCol(e: Expression): Option[String] = e match {
      case b: BinaryComparison => (b.left, b.right) match {
        case (a: AttributeReference, _: Literal) => Some(a.name)
        case (_: Literal, a: AttributeReference) => Some(a.name)
        case _ => None
      }
      case _ => None
    }
    val offenders = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, _) if skipped(name) => Nil
      case (name, fn) =>
        val plan = fn(spark, sfDir).queryExecution.executedPlan
        plan.collect { case f: FilterExec => f }.flatMap { f =>
          scanBelow(f.child).toSeq.flatMap { scan =>
            val scanCols = scan.output.map(_.name).toSet
            val pushed   = scan.metadata.getOrElse("PushedFilters", "")
            conjuncts(f.condition).flatMap(pushableCol)
              .filter(scanCols)
              .filterNot(pushed.contains)
              .map(c => s"$name: predicate on '$c' not in PushedFilters [$pushed]")
          }
        }
    }
    assert(offenders.isEmpty,
      s"pushable predicates failed to reach their scans:\n${offenders.distinct.mkString("\n")}")
  }

  test("simhash pigeonhole self-join stays a shuffle join (d4 drift pin)") {
    // The round-8/9 "d4 drift": as regenerated data moved the corpus
    // file size across the broadcast estimate, the optimizer flipped
    // this self-join to broadcast — recomputing the fingerprint+
    // explode subtree per side and shipping the exploded
    // (combos × corpus) table to every task (5.2 s vs 2.2 s at
    // sf0.1; an OOM shape at real scale). SimHash.pairs pins
    // SHUFFLE_HASH; this test pins the pin.
    val plan = graft.SparkEntry.queries("d4_simhash")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      "d4's pigeonhole self-join must plan as a shuffle join")
    assert(!plan.contains("BroadcastHashJoin"),
      "d4 must never broadcast the exploded fingerprint table")
  }

  test("production-radius simhash self-join stays a shuffle join (d15)") {
    // d15 is the same pipeline at maxDist=4/matchChunks=2 — the
    // configuration whose collision term (15·n²/2²¹) stays linear
    // at every realistic corpus size; the plan contract is identical
    // to d4's (one Exchange + ReusedExchange, never broadcast).
    val plan = graft.SparkEntry.queries("d15_simhash_prod")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      "d15's combination self-join must plan as a shuffle join")
    assert(!plan.contains("BroadcastHashJoin"),
      "d15 must never broadcast the exploded fingerprint table")
  }

  test("LSH bucket self-join stays a shuffle join (d5 drift pin)") {
    // Same failure class as d4: the in-bucket-scoring self-join in
    // cosineNearDupPairsLSH must shuffle the linear sketched-vector
    // table, never broadcast it (a broadcast recomputes the sketch
    // subtree per side and ships tables × corpus vector rows to
    // every task). SHUFFLE_HASH is pinned in code; this pins the
    // pin.
    val plan = graft.SparkEntry.queries("d5_embed_neardup")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      "d5's bucket self-join must plan as a shuffle join")
    assert(!plan.contains("BroadcastHashJoin"),
      "d5 must never broadcast the sketched-vector table")
  }

  test("multi-probe bucket self-join stays a shuffle join with one reused exchange (d18)") {
    // same pin as d5 for the probe join, plus the shape multi-probe
    // exists to preserve: both sides derive from ONE sketched subtree,
    // so the symmetric join must reuse a single Exchange — losing the
    // reuse would recompute the probe-sketch pass per side
    val df = graft.SparkEntry.queries("d18_embed_neardup_mp")(spark, sfDir)
    df.collect() // AQE materializes reuse only in THIS plan's final form
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      "d18's probe self-join must plan as a shuffle join")
    assert(!plan.contains("BroadcastHashJoin"),
      "d18 must never broadcast the probe-sketched table")
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage"),
      "d18's symmetric probe join must reuse the sketched Exchange")
  }

  test("a2's pair plan (pre-checkpoint) stays a shuffle join") {
    // a2's production form wraps the pair plan behind a lazy
    // localCheckpoint whose lineage truncation hides the join from
    // the executed-plan string — an un-audited plan is exactly how
    // the d4 drift lived for three rounds. The checkpoint action
    // itself runs over the pair plan, so its QueryExecution is the
    // registry's own construction above the cut, not a spec-local copy.
    val (_, cut) = org.apache.spark.SpecBus.checkpoints(spark)(
      graft.queries.CorpusOps.a2KnnGraph(spark, sfDir))
    val plans = cut.map(_.executedPlan.toString)
    assert(plans.exists(_.contains("ShuffledHashJoin")),
      "a2's bucket self-join must plan as a shuffle join")
    assert(!plans.exists(_.contains("BroadcastHashJoin")),
      "a2 must never broadcast the sketched-vector table")
  }

  test("v5's LSH epsilon-graph plans as a shuffle join (pre-DBSCAN)") {
    // v5 is the harness-gated sub-quadratic DBSCAN path. The final
    // v5 plan is all ExistingRDD scans (Dbscan.fromNeighbors
    // checkpoints internally), so the audit point is the ε-graph the
    // registry entry feeds it — v5EpsGraph IS that construction, not
    // a spec-local copy.
    val plan = graft.queries.CorpusOps.v5EpsGraph(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      "v5's bucket self-join must plan as a shuffle join")
    assert(!plan.contains("BroadcastHashJoin"),
      "v5 must never broadcast the sketched-vector table")
  }

  test("no gated query plans a cartesian product") {
    val offenders = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, _) if skipped(name) => None
      case (name, fn) =>
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        val cartesian = plan.contains("CartesianProduct")
        val bnl = plan.contains("BroadcastNestedLoopJoin") && !scalarBroadcastOk(name)
        if (cartesian || bnl)
          Some(s"$name: ${if (cartesian) "CartesianProduct" else "BroadcastNestedLoopJoin"}")
        else None
    }
    assert(offenders.isEmpty, s"scale-killer plans detected:\n${offenders.mkString("\n")}")
  }
}
