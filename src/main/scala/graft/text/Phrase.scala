package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exact phrase search — "these tokens, adjacent, in order" — two
  * ways that must agree: directly from the corpus text, and served
  * from a POSITIONAL [[graft.index.TextIndex]] (`positional = true`,
  * which persists `(term, doc_id, pos)` bucketed on `term`). The
  * indexed form is the Lucene positional-postings intersection as
  * relational algebra: one bucket-pruned scan of the phrase terms'
  * positions, then an (n−1)-fold self-join on `(doc_id, pos + i)`.
  * At 100 TB the joined relations are term-frequency-sized (the
  * phrase's terms only), never corpus-sized, and the corpus text is
  * never read.
  */
object Phrase {

  /** (doc_id, n_matches) for documents containing the exact phrase,
    * computed DIRECTLY from a (doc_id, text) corpus.
    */
  def matchesDirect(docs: DataFrame, phrase: Seq[String]): DataFrame =
    matchesFrom(
      docs.select(col("doc_id"),
        posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "term"))),
      phrase)

  /** (doc_id, n_matches) served from the positional index — reads
    * ONLY the phrase terms' buckets of `<prefix>_positions`.
    *
    * The physical plan is forced HERE, under a pinned bucketed-scan
    * conf: the adjacency join runs on `(doc_id, pos)`, so the
    * planner sees the `term` bucketing as useless for distribution
    * and `DisableUnnecessaryBucketedScan` would switch the scans to
    * unbucketed — silently discarding the BUCKET PRUNING that bounds
    * a phrase lookup to its terms' buckets (the rule models exchange
    * elimination, not pruning benefit; at the sf1 tier a broadcast
    * join masked this, at sf10 the audit caught the full-table
    * read). Forcing `executedPlan` inside the scope pins the scans
    * (AQE re-optimizes exchanges above them, never the leaves), so
    * later actions on the returned frame keep the pruned plan.
    */
  def matchesIndexed(spark: SparkSession, prefix: String,
                     phrase: Seq[String]): DataFrame = {
    val out = matchesFrom(spark.table(s"${prefix}_positions"), phrase)
    Mlt.withBucketedScan(spark) { out.queryExecution.executedPlan }
    out
  }

  /** Proximity search served from the positional index — reads ONLY
    * the terms' buckets of `<prefix>_positions` (plan forced under
    * the pinned bucketed-scan conf, the [[matchesIndexed]] rationale:
    * the per-doc aggregation runs on `doc_id`, so the planner would
    * drop the term-bucket pruning as distribution-useless).
    */
  def proximityIndexed(spark: SparkSession, prefix: String,
                       terms: Seq[String], window: Int): DataFrame = {
    val out = proximityFrom(spark.table(s"${prefix}_positions"), terms, window)
    Mlt.withBucketedScan(spark) { out.queryExecution.executedPlan }
    out
  }

  // Proximity search — all `terms` within a `window`-token span, any
  // order (Lucene's sloppy-phrase relaxation) — over any (term,
  // doc_id, pos) relation. Output: (doc_id, min_span) for qualifying
  // docs, min_span = the tightest span containing one occurrence of
  // every term.
  //
  // ONE scan of the terms' positions (a single `isin` bucket-prunes
  // to the terms' buckets), grouped per doc into one sorted position
  // list per term, minimal covering span by the fused k-pointer
  // merge ([[graft.functions.MinSpan]]). The doc's min span over one
  // choice per term is exactly the merge's minimal window, so the
  // output is identical to the former (n−1)-fold join of position
  // lists on doc_id — which enumerated Π tfᵢ combinations per doc
  // (cubic on a 3-term query with a stopword term) where the merge
  // is linear in Σ tfᵢ, and whose n scans + joins this single
  // aggregation replaces. Docs lacking a term yield an empty list →
  // MinSpan NULL → dropped by the window gate, matching the former
  // inner joins. Repeated terms would let one position satisfy two
  // slots, so the term set must be distinct.
  private[text] def proximityFrom(positions: DataFrame, terms: Seq[String],
                                  window: Int): DataFrame = {
    require(terms.nonEmpty, "proximity needs at least one term")
    require(terms.distinct == terms, "proximity terms must be distinct")
    require(window >= 0, "window must be >= 0")
    val perTerm = terms.zipWithIndex.map { case (term, i) =>
      sort_array(collect_list(when(col("term") === term, col("pos"))
        .cast("long"))).as(s"ps$i")
    }
    positions
      .filter(col("term").isin(terms: _*))
      .select(col("doc_id"), col("term"), col("pos"))
      .groupBy(col("doc_id"))
      .agg(perTerm.head, perTerm.tail: _*)
      .select(col("doc_id"),
        graft.functions.MinSpan(
          array(terms.indices.map(i => col(s"ps$i")): _*)).as("min_span"))
      .filter(col("min_span") <= window)
      .orderBy(col("doc_id"))
  }

  // the n-fold adjacency intersection over any (term, doc_id, pos)
  // relation: anchor on the first term's positions, then each
  // subsequent term must appear at pos + i. Distinct column names per
  // step keep the self-join unambiguous.
  private def matchesFrom(positions: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    val anchor = positions.filter(col("term") === phrase.head)
      .select(col("doc_id"), col("pos"))
    val matched = phrase.zipWithIndex.drop(1).foldLeft(anchor) {
      case (acc, (term, i)) =>
        acc.join(
          positions.filter(col("term") === term)
            .select(col("doc_id"), (col("pos") - i).as("pos")),
          Seq("doc_id", "pos"))
    }
    matched.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"))
      .orderBy(col("doc_id"))
  }
}
