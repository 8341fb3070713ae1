package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution: near-dup *pairs* (from
  * [[NgramJaccard]] / [[MinHashLSH]] / [[SimHash]]) are edges; the
  * canonical-document choice needs the *connected components* —
  * transitive closure of "is a near-dup of".
  *
  * [[Clusters.connectedComponents]] resolves them (pairs → (id,
  * cluster_rep)) by min-label propagation with pointer jumping.
  * Iterations ≈ log(diameter); the right engine for dedup graphs
  * (shallow, star-ish clusters).
  */
object Clusters {

  /** pairs(a, b) → (id, cluster_rep) for every node appearing in a
    * pair, where cluster_rep is the minimum node id of its component.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    // materialize the edge list BEFORE the symmetrizing self-union —
    // `pairs` may itself be an expensive plan (e.g. a similarity
    // join), and both union branches would otherwise execute it
    // (exchange reuse does not cover post-shuffle operators); the
    // loop below then reads one cheap checkpointed relation per round
    val base = pairs.select(col("a").cast("long").as("src"), col("b").cast("long").as("dst"))
      .localCheckpoint(true)
    // the symmetric view is MATERIALIZED pre-partitioned by dst
    // (guide §2.4): every round's neighbor-min join reads sym keyed
    // on dst, and this was the only edge-sized exchange per round
    // (the groupBy(src) min partial-aggregates to node size before
    // its shuffle) — one up-front shuffle of 2|E| rows replaces one
    // per round. Reads base's finished blocks, so the (possibly
    // expensive) pair plan still executes exactly once.
    val sym = base.union(base.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("dst"))
      .localCheckpoint(true)

    // localCheckpoint (not persist): iterative algorithms must
    // truncate lineage every iteration or the logical plan deepens
    // geometrically (plan rendering alone OOMs after ~10 rounds)
    //
    // seed each node with min(id, min neighbor) — one aggregation,
    // same shuffle the identity-seeded distinct() would cost, but it
    // starts the loop one propagation round ahead
    // graft.plans.Lineage.truncate, NOT bare localCheckpoint, on the
    // loop-carried relation every round: localCheckpoint propagates
    // origin statistics, and the pointer-jump self-join below SQUARES
    // them each round — bit length doubles per round (SCALE.md,
    // "Iterative algorithms"; LineageSpec) until join planning
    // stalls the driver in BigInteger arithmetic on deep-diameter
    // graphs (found at sf10, round 11). truncate's leaf is the
    // checkpoint's own RDD without origin stats, so the reset costs
    // nothing per row.
    var labels = sym.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("label"))
      .select(col("src").as("id"), col("label"))
      .localCheckpoint(true)

    var changed = 1L
    var iter    = 0
    while (changed > 0 && iter < maxIter) {
      // (1) adopt the minimum label among self + neighbors, carrying
      // the previous label so convergence detection below is a plain
      // filter on the checkpointed rows (no extra shuffle join)
      val nbrMin = sym
        .join(labels.select(col("id").as("dst"), col("label").as("nlabel")), Seq("dst"))
        .groupBy(col("src"))
        .agg(min(col("nlabel")).as("nbr_label"))
        .select(col("src").as("id"), col("nbr_label"))
      val afterNbr = labels.join(nbrMin, Seq("id"), "left_outer")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
      // (2) pointer jump: label ← label(label) — path halving makes
      // convergence O(log diameter) instead of O(diameter)
      //
      // convergence detection rides the checkpoint materialization as
      // an observed metric instead of a second per-round count job.
      // Exactness stance: a resubmitted task could in principle
      // double-count into the observation, which only ever INFLATES
      // `changed` — the loop runs an extra (idempotent, fixpoint)
      // round; it can never read 0 while a label still moved, so the
      // result is unaffected.
      //
      // The metric is read from the materializing action's own
      // QueryExecution (CollectMetrics accumulator state — populated
      // the moment the checkpoint's job completes), NOT through an
      // `Observation`, whose get() blocks on LISTENER-BUS delivery of
      // the query-end event after each round's checkpoint — a
      // per-round wait that scales with bus load, not with the data
      // (r20 verdict item 1; instrumented in tools/ProfileCc, deleted
      // in 8a94aaa: the wait measured ~0–1 ms/round on a quiet box —
      // the adjudicated v5 driver regression was host noise — but
      // the accumulator read is load-independent by construction
      // where the bus path is not). A missing metric (a future
      // execution path that bypasses CollectMetrics) falls back to an
      // explicit count job over the checkpointed rows — never a silent
      // early exit.
      val mName = s"cc_changed_$iter"
      val observed = afterNbr
        .join(afterNbr.select(col("id").as("label"), col("label").as("jump")),
          Seq("label"), "left_outer")
        .select(col("id"), col("old"),
          least(col("label"), coalesce(col("jump"), col("label"))).as("label"))
        .observe(mName, sum(when(col("old") =!= col("label"), 1L).otherwise(0L))
          .as("changed"))
      val next = graft.plans.Lineage.truncate(observed)
      changed = observed.queryExecution.observedMetrics.get(mName) match {
        case Some(r) => if (r.isNullAt(0)) 0L else r.getLong(0)
        case None    => next.filter(col("old") =!= col("label")).count()
      }
      labels = next.select(col("id"), col("label"))
      iter += 1
    }
    labels.select(col("id"), col("label").as("cluster_rep"))
  }

  /** Canonical-document selection — the step that turns near-dup
    * detection into an actual smaller corpus. Given the full document
    * table and the near-dup pair list, resolve the pairs to duplicate
    * clusters and keep exactly ONE document per cluster: the highest-
    * scoring one (ties to the lowest id). Documents in no pair are
    * their own singleton cluster and always survive.
    *
    * Returns every input document as
    * `(id, cluster_rep, score, kept)` — the full audit trail a data
    * lineage system wants (what was dropped and in favor of what),
    * from which `filter(kept)` is the deduplicated corpus.
    *
    * Scale shape: the cluster resolution is [[connectedComponents]]
    * (O(log d) keyed-shuffle rounds); the docs⟕clusters join is an
    * equi-join on id; the argmax is one window over `cluster_rep` —
    * a single shuffle whose groups are duplicate clusters (small by
    * construction; singletons dominate). Nothing is quadratic in the
    * corpus and no driver-side data movement occurs.
    */
  def keepBest(docs: DataFrame, idCol: String, scoreCol: Column,
               pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comps = connectedComponents(pairs)
    val w = Window.partitionBy(col("cluster_rep"))
      .orderBy(col("score").desc, col("id").asc)
    docs.select(col(idCol).cast("long").as("id"), scoreCol.as("score"))
      .join(comps, Seq("id"), "left_outer")
      .withColumn("cluster_rep", coalesce(col("cluster_rep"), col("id")))
      .withColumn("kept", row_number().over(w) === 1)
      .select(col("id"), col("cluster_rep"), col("score"), col("kept"))
  }
}
