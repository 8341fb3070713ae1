package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DBSCAN density clustering over an ε-neighbor graph — the
  * outlier-aware clustering step for embedding corpora (topic
  * islands, near-dup families, noise screening before expensive
  * per-cluster work).
  *
  * Decomposition: the ε-graph (cosine ≥ threshold pairs) comes from
  * [[Ann.cosineNearDupPairsLSH]] (bucketed candidates + exact verify,
  * recall tuned to 1.0 on the gate's config) or any exact pair
  * source; this operator then runs the density logic as pure keyed
  * dataflow:
  *   - core: |N_ε(p)| ≥ minPts, neighborhood INCLUDING p itself —
  *     one degree aggregate;
  *   - clusters: connected components over core–core edges (density
  *     reachability restricted to cores IS component connectivity),
  *     labeled by minimum core id via [[graft.dedup.Clusters]];
  *   - border: non-core adjacent to ≥ 1 core. Classic DBSCAN assigns
  *     the FIRST core's cluster (scan-order-dependent); this variant
  *     takes the MINIMUM adjacent core cluster, making the output a
  *     pure function of the graph — reproducible across runs,
  *     partitionings, and engines;
  *   - noise: everything else, cluster −1.
  *
  * Scale shape: degree count, two semi-joins, the CC loop
  * (O(log diameter) keyed rounds), one border min-aggregate — every
  * step keyed on node ids; vectors are never touched here at all.
  */
object Dbscan {

  /** ε-graph engine dispatch (VERDICT r11 #6): whether the brute
    * broadcast scorer (the v4 regime) or the LSH bucket self-join
    * (the v5 regime) should build the graph, decided from
    * [[Ann.lshProfile]]'s sampled CANDIDATE FRACTION instead of by
    * hand. The fraction — the probability a background pair collides
    * in ≥ 1 recall-budget-sized table — is what the sketch join's
    * candidate volume is to the PPJoin's posting volume: when it
    * approaches 1 (an unselective τ with no similarity gap),
    * bucketing cannot prune below all-pairs comparisons and the
    * index build + per-table scoring is pure overhead over the brute
    * scan, so a corpus small enough to broadcast takes the brute
    * path once the fraction reaches one half. When the fraction is
    * small (a real near-dup τ), or when
    * the corpus cannot broadcast AT ALL (n > maxBruteRows — at 100 TB
    * the theta-product isn't slow, it's impossible), the LSH
    * equi-join is the only shape that distributes.
    */
  def dispatchBrute(n: Long, candidateFraction: Double,
                    maxBruteRows: Long = 2000000L): Boolean =
    n <= maxBruteRows && candidateFraction >= 0.5

  /** End-to-end DBSCAN over (id, vec) rows with automatic ε-graph
    * engine selection — the 100 TB user calls THIS and gets the v4
    * brute scorer or the v5 LSH path per [[dispatchBrute]], fed by
    * one sampled pre-flight ([[Ann.lshProfile]]: corpus count, pair
    * estimate, recall-budget table count, candidate fraction). The
    * LSH branch uses the profile's table count, so its recall budget
    * is sized to THIS corpus, not a fixture. Both branches feed the identical
    * [[fromNeighbors]] density dataflow and both graphs are exact at
    * the budget (DbscanSpec pins them to identical output), so the
    * dispatch changes COST, never the clustering.
    */
  def epsCluster(vecs: DataFrame, minCos: Double, minPts: Int, dim: Int,
                 planes: Int = 6, seed: Long = 42L,
                 maxBruteRows: Long = 2000000L): DataFrame = {
    val profile = Ann.lshProfile(vecs, minCos, planes, seed = seed)
    val pairs =
      if (dispatchBrute(profile.n, profile.candidateFraction, maxBruteRows))
        Ann.cosinePairsExact(vecs, minCos)
      else
        Ann.cosineNearDupPairsLSH(vecs, minCos, dim, planes,
          tables = profile.tables, seed = seed, probes = 0)
    fromNeighbors(vecs.select(col("id")), pairs.select(col("a"), col("b")), minPts)
  }

  /** nodes(id), pairs(a, b) — undirected distinct ε-neighbor pairs.
    * Returns (id, n_nbrs, role ∈ core|border|noise, cluster; −1 for
    * noise), one row per node.
    */
  def fromNeighbors(nodes: DataFrame, pairs: DataFrame, minPts: Int): DataFrame = {
    require(minPts >= 1, s"minPts must be >= 1, got $minPts")
    val p = pairs.select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
      .localCheckpoint(eager = false)
    val sym = p.select(col("a").as("id"), col("b").as("nb"))
      .unionByName(p.select(col("b").as("id"), col("a").as("nb")))
    // degrees over the full node universe (an isolated node has 0 —
    // and IS core when minPts = 1, since the neighborhood includes
    // the point itself: core ⇔ n_nbrs ≥ minPts − 1)
    val deg = nodes.select(col("id"))
      .join(sym.groupBy(col("id")).agg(count(lit(1)).as("n_nbrs")),
        Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("n_nbrs"), lit(0L)).as("n_nbrs"))
      .localCheckpoint(eager = false)
    val core = deg.filter(col("n_nbrs") >= minPts - 1).select(col("id"))
      .localCheckpoint(eager = false)

    val coreEdges = p
      .join(core.select(col("id").as("a")), Seq("a"), "left_semi")
      .join(core.select(col("id").as("b")), Seq("b"), "left_semi")
    val comps = graft.dedup.Clusters.connectedComponents(coreEdges)
    // isolated cores (no core neighbor) are their own cluster
    val coreLabeled = core
      .join(comps, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("cluster_rep"), col("id")).as("cluster"),
        lit("core").as("role"))
      .localCheckpoint(eager = false)

    val borderLabeled = sym
      .join(coreLabeled.select(col("id").as("nb"), col("cluster")), Seq("nb"))
      .join(core, Seq("id"), "left_anti")
      .groupBy(col("id"))
      .agg(min(col("cluster")).as("cluster"))
      .withColumn("role", lit("border"))

    deg
      .join(coreLabeled.select(col("id"), col("cluster"), col("role"))
          .unionByName(borderLabeled.select(col("id"), col("cluster"), col("role"))),
        Seq("id"), "left_outer")
      .select(col("id"), col("n_nbrs"),
        coalesce(col("role"), lit("noise")).as("role"),
        coalesce(col("cluster"), lit(-1L)).as("cluster"))
  }
}
