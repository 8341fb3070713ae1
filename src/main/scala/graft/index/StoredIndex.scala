package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ann.Pq

/** One maintenance contract over every persisted index the library
  * ships — IVF·PQ (a6) and the BM25 text index (x1). Each persists
  * bucketed catalog tables with its own build/append step; a 100 TB
  * deployment runs ONE maintenance loop, so the shared invariants
  * live here, spec'd once (`StoredIndexSpec`), instead of once per
  * index family:
  *
  *   - **Frozen parameters.** Everything that determines an index
  *     row's value is fixed at construction (case-class fields), or —
  *     for trained state like PQ centroids/codebooks — persisted at
  *     `build` and READ BACK from the catalog on `append`, so a batch
  *     can never be encoded against drifted parameters.
  *   - **append ≡ fresh.** `build(p₁); append(p₂); …; append(pₙ)`
  *     leaves every table equal (as a bag of rows) to
  *     `build(p₁ ∪ … ∪ pₙ)`: an existing corpus is signed/encoded
  *     once, ever, and batch order cannot change what the serving
  *     scan sees.
  *   - **Vec-free scan side.** The tables a serving/candidate scan
  *     reads ([[scanTableNames]]) carry NO raw vector or text column
  *     — the compressed representation is the storage format, not
  *     a projection of it (PQ: bit-packed codes; text: term
  *     postings).
  *   - **Bucketed for shuffle-free probes.** Each scan table is
  *     hash-bucketed on (a prefix of) its candidate-join key, so the
  *     stored side of every per-batch probe joins without an
  *     exchange.
  *
  * `compact` rewrites each table's current contents in place (same
  * bucketing, same writer options) — the small-file maintenance step
  * after many appends; contents are unchanged by contract.
  */
trait StoredIndex {

  /** Every catalog table this index owns. */
  def tableSpecs: Seq[StoredIndex.TableSpec]

  final def tableNames: Seq[String] = tableSpecs.map(_.name)

  /** The subset a serving/candidate scan reads — the tables the
    * vec-free invariant is asserted on (metadata tables like PQ
    * centroids/codebooks are broadcast-tiny and exempt).
    */
  def scanTableNames: Seq[String]

  /** Tables the index OWNS but does not write at build — derived
    * tuning artifacts measured against a specific build (PQ's
    * `<prefix>_laws`). They are invalid the moment the build they
    * measured is gone, so [[resetStorage]] and [[drop]] reclaim them
    * alongside the built tables; `compact` and the append-≡-fresh
    * contract skip them (they may legitimately not exist).
    */
  def derivedTableNames: Seq[String] = Nil

  /** Build from scratch (overwrite every table). Implementations call
    * [[resetStorage]] first, so build is idempotent ACROSS SESSIONS:
    * a managed-table location left by an aborted write or a previous
    * session's catalog (whose metastore no longer registers it) would
    * otherwise fail every future build with LOCATION_ALREADY_EXISTS —
    * the index owns its storage, so it may reclaim it.
    */
  def build(corpus: DataFrame): Unit

  /** Drop each owned table AND clear its orphaned warehouse location
    * (DROP TABLE alone cannot remove a location the current
    * metastore never registered). Deletion is confined to the
    * session warehouse directory joined with the owned table names —
    * nothing an index does not own is touched.
    */
  protected final def resetStorage(spark: SparkSession): Unit =
    (tableNames ++ derivedTableNames).foreach { name =>
      spark.sql(s"DROP TABLE IF EXISTS $name")
      StoredIndex.reclaimLocation(spark, name)
    }

  /** Encode ONE batch against the frozen parameters and append its
    * rows. Contract: after any build/append sequence, every table
    * equals the fresh build over the union of the batches.
    */
  def append(batch: DataFrame): Unit

  /** Rewrite each table — one pass per table, same bucketing/options
    * — to collapse the small files many appends leave. Contents
    * unchanged (spec'd), and `graft.*` table properties (the build
    * fingerprint stored-law serving checks) survive the rewrite.
    *
    * Stage-and-swap, never materialize: the rewrite streams the old
    * table's files into a STAGED table (storage to storage — nothing
    * index-sized is pinned in the block manager, which is what a
    * 100 TB compaction requires), then swaps it in via catalog
    * rename. A crash between the drop and the rename leaves the
    * staged table holding the complete contents — recoverable by
    * hand, never a lost index; the in-place overwrite this replaced
    * needed the whole table eagerly checkpointed into executor
    * memory first (Spark refuses to overwrite a relation it is
    * still reading).
    */
  final def compact(spark: SparkSession): Unit =
    tableSpecs.foreach { ts =>
      val staged = s"${ts.name}__compacting"
      spark.sql(s"DROP TABLE IF EXISTS $staged")
      StoredIndex.reclaimLocation(spark, staged)
      val props = spark.sql(s"SHOW TBLPROPERTIES ${ts.name}").collect()
        .map(r => (r.getString(0), r.getString(1)))
        .filter(_._1.startsWith("graft."))
      val w0 = spark.table(ts.name).write.mode("overwrite").format("parquet")
      val w1 = ts.options.foldLeft(w0) { case (w, (k, v)) => w.option(k, v) }
      ts.bucketCol.fold(w1)(c => w1.bucketBy(ts.nBuckets, c)).saveAsTable(staged)
      spark.sql(s"DROP TABLE ${ts.name}")
      StoredIndex.reclaimLocation(spark, ts.name)
      spark.sql(s"ALTER TABLE $staged RENAME TO ${ts.name}")
      props.foreach { case (k, v) =>
        spark.sql(s"ALTER TABLE ${ts.name} SET TBLPROPERTIES ('$k' = '$v')")
      }
    }

  final def drop(spark: SparkSession): Unit =
    (tableNames ++ derivedTableNames)
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
}

object StoredIndex {
  /** One owned catalog table: its name, the bucketing that makes the
    * stored side join shuffle-free (None for unbucketed metadata
    * tables), and writer options `compact` must preserve.
    */
  case class TableSpec(name: String, bucketCol: Option[String], nBuckets: Int,
                       options: Map[String, String] = Map.empty)

  /** Delete an owned table's warehouse location through the Hadoop
    * `FileSystem` of the configured warehouse — a `java.io.File`
    * delete silently no-ops on an HDFS/S3 warehouse, leaving the
    * orphaned directory to brick every future `saveAsTable` CREATE
    * with LOCATION_ALREADY_EXISTS. Deletion is confined to
    * `<warehouse>/<table>`.
    */
  private[graft] def reclaimLocation(spark: SparkSession, table: String): Unit = {
    val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val loc = new org.apache.hadoop.fs.Path(wh, table)
    if (fs.exists(loc)) fs.delete(loc, true)
  }
}

/** a6's persisted IVF·PQ index under the shared contract: the
  * vec-free bit-packed codes table (cell-bucketed — the scan side),
  * the id-bucketed full-vector table the rerank join touches, and
  * the two broadcast-tiny metadata tables. The trained state
  * (centroids + codebooks) is supplied ONCE at construction for
  * `build`; `append` deliberately re-reads both from the CATALOG —
  * the frozen-parameter invariant is enforced by storage, not by the
  * caller holding the right DataFrames. Serving path:
  * [[graft.ann.Pq.ivfPqTopKIndexed]].
  */
case class IvfPqIndex(prefix: String, centroids: DataFrame, codebooks: DataFrame,
                      m: Int, ksub: Int, nBuckets: Int = 32) extends StoredIndex {
  override def tableSpecs: Seq[StoredIndex.TableSpec] = Seq(
    StoredIndex.TableSpec(s"${prefix}_centroids", None, nBuckets),
    StoredIndex.TableSpec(s"${prefix}_books", None, nBuckets),
    StoredIndex.TableSpec(s"${prefix}_codes", Some("cell"), nBuckets,
      Map("parquet.writer.version" -> "v2")),
    StoredIndex.TableSpec(s"${prefix}_vecs", Some("id"), nBuckets))
  override def scanTableNames: Seq[String] = Seq(s"${prefix}_codes")
  // the stored-law tuning row (graft.ann.Pq.saveIvfPqLaws) measures a
  // SPECIFIC build; a rebuild on a different corpus would otherwise
  // leave it behind to silently serve stale dials
  override def derivedTableNames: Seq[String] = Seq(s"${prefix}_laws")
  override def build(corpus: DataFrame): Unit = {
    resetStorage(corpus.sparkSession)
    Pq.saveIvfPqIndex(corpus, centroids, codebooks, prefix, m, ksub, nBuckets)
  }
  override def append(batch: DataFrame): Unit = {
    val spark = batch.sparkSession
    Pq.saveIvfPqIndex(batch,
      spark.table(s"${prefix}_centroids"),
      spark.table(s"${prefix}_books"),
      prefix, m, ksub, nBuckets, append = true)
  }
}

/** A persisted inverted text index (the t13/t14 retrieval surface as
  * STORAGE) under the shared contract — the Lucene/ES posting-list
  * primitive re-expressed as two bucketed catalog tables:
  *
  *   - `<prefix>_postings` (term, doc_id, tf, dl), bucketed on
  *     `term`: a ranked lookup's scan reads ONLY the query terms'
  *     buckets and never the corpus text (the vec-free invariant,
  *     text edition). The doc length rides IN the posting row
  *     (Lucene's norm-in-posting): BM25's denominator needs dl per
  *     candidate, and storing it beside tf makes serving touch
  *     NOTHING doc-keyed — measured at sf10, the doclens join was
  *     the entire serving floor (the pruned postings read was
  *     already negligible). 8 bytes/posting buys a serve cost
  *     bounded by the query terms' buckets alone.
  *   - `<prefix>_stats` (derived): ONE (n_docs, sum_dl) PARTIAL row
  *     per build/append batch. Serving SUMs the rows, so the corpus
  *     statistics are exact under any append history with no
  *     re-measurement — these are sufficient statistics, not tuning
  *     margins like PQ's laws, which is why append maintains them
  *     instead of invalidating them. Derived (outside the bag-of-rows
  *     append≡fresh check) because a fresh build writes one row where
  *     build+appends wrote several; the SUM is the spec'd invariant.
  *
  * Tokenization is the shared [[graft.text.TextOps.tokens]] (blank
  * text → no tokens → the doc carries no postings and no length row,
  * matching the direct t14 computation exactly). Serving:
  * [[graft.text.Bm25.topKIndexed]].
  */
case class TextIndex(prefix: String, nBuckets: Int = 32,
                     positional: Boolean = false,
                     forward: Boolean = false) extends StoredIndex {
  import org.apache.spark.sql.functions._

  override def tableSpecs: Seq[StoredIndex.TableSpec] = Seq(
    StoredIndex.TableSpec(s"${prefix}_postings", Some("term"), nBuckets)) ++
    (if (positional)
      Seq(StoredIndex.TableSpec(s"${prefix}_positions", Some("term"), nBuckets))
    else Nil) ++
    (if (forward)
      Seq(StoredIndex.TableSpec(s"${prefix}_profile", Some("doc_id"), nBuckets))
    else Nil)
  override def scanTableNames: Seq[String] = tableNames
  // Beyond `_stats`, the CONFIG-OFF optional tables are listed here
  // so a rebuild that flips `positional`/`forward` off reclaims the
  // previous build's table instead of leaving it to silently serve
  // stale rows (Phrase/Mlt would happily read an orphan that no
  // build maintains). `_ingest_log` is the streaming ingester's
  // committed-batch marker (graft.streaming.DocsPipeline): its batch
  // ids are meaningless across a rebuild, so the index owns its
  // lifecycle the same way.
  override def derivedTableNames: Seq[String] =
    Seq(s"${prefix}_stats", s"${prefix}_ingest_log") ++
      (if (positional) Nil else Seq(s"${prefix}_positions")) ++
      (if (forward) Nil else Seq(s"${prefix}_profile"))

  override def build(corpus: DataFrame): Unit = {
    resetStorage(corpus.sparkSession)
    write(corpus, append = false)
  }
  override def append(batch: DataFrame): Unit = write(batch, append = true)

  /** One tokenize pass feeds every table, but the reuse point differs
    * by path. BUILD: the relation is corpus-sized, so STORAGE is the
    * reuse point — the first table (positions when positional, else
    * postings) is written straight from the tokenize lineage, and
    * every other table derives by reading the just-written catalog
    * table back; nothing corpus-sized ever enters the block manager.
    * APPEND: the batch is micro-batch-sized by the streaming trigger,
    * so its aggregated tf pins in the block manager (bounded) — the
    * read-back trick is unavailable because appended rows mix with
    * the existing table's.
    */
  private def write(docs0: DataFrame, append: Boolean): Unit = {
    // BUILD only: spread before tokenizing — the corpus-sized
    // tokenize + explode pass costs far more per byte than the scan
    // feeding it, and a byte-small 1-split corpus runs it on one core
    // (graft.core.Partitioning.spread — a no-op on already-parallel
    // inputs, e.g. any at-scale corpus scan). APPEND batches stay
    // untouched: a micro-batch is bounded by the trigger, so the
    // extra exchange would cost more than the single-core tokenize
    // it parallelizes.
    val docs = if (append) docs0 else graft.core.Partitioning.spread(docs0)
    val spark = docs.sparkSession
    val mode = if (append) "append" else "overwrite"
    // (term, doc_id, tf, dl) with dl via a doc_id window — the
    // norm-in-posting layout serving relies on
    def withDl(tf: DataFrame): DataFrame =
      tf.withColumn("dl", sum(col("tf")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))))
    def writePostings(rows: DataFrame): Unit = rows
      .write.mode(mode).format("parquet")
      .bucketBy(nBuckets, "term").saveAsTable(s"${prefix}_postings")
    def writeProfile(rows: DataFrame): Unit = rows
      .select(col("doc_id"), col("term"), col("tf"), col("dl"))
      .write.mode(mode).format("parquet")
      .bucketBy(nBuckets, "doc_id").saveAsTable(s"${prefix}_profile")
    def writeStats(perDoc: DataFrame): Unit = perDoc
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .write.mode(mode).format("parquet").saveAsTable(s"${prefix}_stats")

    if (append) {
      val tf = (if (positional) {
        val pos = docs
          .select(col("doc_id"),
            posexplode(graft.text.TextOps.tokens(col("text"))).as(Seq("pos", "term")))
          .localCheckpoint(false)
        pos.select(col("term"), col("doc_id"), col("pos"))
          .write.mode(mode).format("parquet")
          .bucketBy(nBuckets, "term").saveAsTable(s"${prefix}_positions")
        pos.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      } else docs
        .select(col("doc_id"), explode(graft.text.TextOps.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      ).localCheckpoint(false)
      writePostings(withDl(tf))
      if (forward) writeProfile(withDl(tf))
      writeStats(tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl")))
    } else {
      if (positional) {
        docs.select(col("doc_id"),
            posexplode(graft.text.TextOps.tokens(col("text"))).as(Seq("pos", "term")))
          .select(col("term"), col("doc_id"), col("pos"))
          .write.mode(mode).format("parquet")
          .bucketBy(nBuckets, "term").saveAsTable(s"${prefix}_positions")
        writePostings(withDl(
          spark.table(s"${prefix}_positions")
            .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))))
      } else {
        writePostings(withDl(docs
          .select(col("doc_id"), explode(graft.text.TextOps.tokens(col("text"))).as("term"))
          .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))))
      }
      val post = spark.table(s"${prefix}_postings")
      // profile and stats both derive from the WRITTEN postings table
      // (finished storage, not a shared lazy plan) and are
      // independent of each other — overlap their writes
      // dl is constant per doc by construction; max() is the
      // per-doc projection of it
      def statsFromPost(): Unit =
        writeStats(post.groupBy(col("doc_id")).agg(max(col("dl")).as("dl")))
      if (forward) graft.core.Par.par2(writeProfile(post), statsFromPost())
      else statsFromPost()
      // the read-backs above cached these tables' FILE LISTINGS in
      // this session's relation cache; drop the entries now, or an
      // append issued from a DIFFERENT session (e.g. the streaming
      // micro-batch clone in DocsPipeline — its write refreshes only
      // its own cache) stays invisible to every later read here
      spark.catalog.refreshTable(s"${prefix}_postings")
      if (positional) spark.catalog.refreshTable(s"${prefix}_positions")
    }
  }
}
