package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.ann.{Ann, Pq}

/** The ONE spec for the shared [[StoredIndex]] invariants, run
  * against both implementations (a6 IVF·PQ, x1 text index): append ≡
  * fresh at the table level, compact
  * preserves contents, and the scan side carries no raw vector/text
  * column. The per-index SERVING equivalences (indexed search equals
  * recompute) stay in their own suites — this spec pins the
  * maintenance contract a 100 TB deployment runs one loop of.
  */
final class StoredIndexSpec extends SparkTestBase {

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
  private lazy val vecs =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))

  /** Bag-of-rows snapshot with array/binary values normalized to Seqs
    * (Array[Byte] equality is reference-based in a raw Row.toSeq).
    */
  private def snapshot(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq
      .map(_.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case x => x
      })
      .groupBy(identity).view.mapValues(_.size).toMap

  private def contract(idx: StoredIndex, p1: DataFrame, p2: DataFrame): Unit = {
    idx.drop(spark)
    try {
      // append ≡ fresh: build(p1) + append(p2) leaves every table equal
      // (as a bag of rows) to build(p1 ∪ p2)
      idx.build(p1)
      idx.append(p2)
      val appended = idx.tableNames.map(t => t -> snapshot(spark.table(t))).toMap
      idx.build(p1.unionByName(p2))
      val fresh = idx.tableNames.map(t => t -> snapshot(spark.table(t))).toMap
      for (t <- idx.tableNames)
        assert(appended(t) == fresh(t), s"append != fresh for $t")
      // compact preserves contents (and keeps the tables readable)
      idx.compact(spark)
      for (t <- idx.tableNames)
        assert(snapshot(spark.table(t)) == fresh(t), s"compact changed $t")
      // the scan side is representation-only: no raw vector/text column
      for (t <- idx.scanTableNames; f <- spark.table(t).schema.fieldNames)
        assert(f != "vec" && f != "text" && f != "embedding",
          s"scan table $t carries raw column $f")
    } finally idx.drop(spark)
  }

  test("compact actually collapses the small files appends leave") {
    // the content-preservation half is in contract(); this is the
    // point of compact — N appends leave O(N × buckets) part files,
    // one rewrite pass collapses them back to O(buckets)
    val idx = TextIndex("sidx_compact", nBuckets = 2)
    idx.drop(spark)
    def partFiles(t: String): Int = {
      val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      Option(new java.io.File(wh, t).listFiles())
        .map(_.count(_.getName.startsWith("part-"))).getOrElse(0)
    }
    try {
      idx.build(docs.filter(col("doc_id") % 4 === 0))
      (1 to 3).foreach(r => idx.append(docs.filter(col("doc_id") % 4 === r)))
      val before = partFiles("sidx_compact_postings")
      val rows = snapshot(spark.table("sidx_compact_postings"))
      idx.compact(spark)
      val after = partFiles("sidx_compact_postings")
      assert(after < before, s"compact did not reduce files: $before -> $after")
      assert(snapshot(spark.table("sidx_compact_postings")) == rows)
    } finally idx.drop(spark)
  }

  test("build reclaims an orphaned warehouse location (cross-session idempotence)") {
    // the a9 gate found this in the wild: session A plans/builds the
    // index (location created), session B's fresh metastore does not
    // register the table, so saveAsTable is a CREATE that fails with
    // LOCATION_ALREADY_EXISTS — every future build bricked until
    // someone hand-deletes the directory. build() reclaims its own
    // storage instead.
    val idx = TextIndex("sidx_orphan", nBuckets = 2)
    idx.drop(spark)
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val loc = new java.io.File(wh, "sidx_orphan_postings/_temporary/0")
    assert(loc.mkdirs() || loc.isDirectory)
    try {
      idx.build(docs.filter(col("doc_id") < 50))
      assert(spark.table("sidx_orphan_postings").count() > 0)
    } finally {
      idx.drop(spark)
    }
  }

  test("IVF-PQ index (a6) honors the shared contract; append uses the FROZEN catalog state") {
    val cents = Ann.kmeansCentroids(vecs, k = 8, iters = 2).localCheckpoint(true)
    val books = Pq.trainCodebooks(vecs, m = 16, ksub = 64, iters = 3)
      .localCheckpoint(true)
    contract(
      IvfPqIndex("sidx_pq", cents, books, m = 16, ksub = 64, nBuckets = 4),
      vecs.filter(col("id") % 5 =!= 0),
      vecs.filter(col("id") % 5 === 0))
  }

  /** Executed-plan capture around `body`: QueryExecutionListener
    * events arrive async on the listener bus, so poll until the
    * captured set is quiet for 500 ms (suites run sequentially in the
    * forked test JVM — nothing else executes concurrently).
    */
  private def capturePlans(body: => Unit): Seq[String] = {
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString; () }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      var last = -1
      var quietMs = 0
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (quietMs < 500 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val now = plans.synchronized(plans.size)
        if (now == last) quietMs += 100 else { quietMs = 0; last = now }
      }
      plans.synchronized(plans.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  test("inverted text index (x1) honors the shared contract; stats rows sum across batches") {
    // positional + forward = true so the contract covers all three
    // built tables (postings, positions, profile)
    val idx = TextIndex("sidx_text", nBuckets = 4, positional = true, forward = true)
    contract(idx,
      docs.filter(col("doc_id") % 3 =!= 0),
      docs.filter(col("doc_id") % 3 === 0))
    // the derived stats table is outside the bag-of-rows check (one
    // partial row per batch); its SUM is the invariant serving relies on
    idx.drop(spark)
    try {
      idx.build(docs.filter(col("doc_id") % 3 =!= 0))
      idx.append(docs.filter(col("doc_id") % 3 === 0))
      val summed = spark.table("sidx_text_stats")
        .agg(sum("n_docs"), sum("sum_dl")).head()
      idx.build(docs)
      val fresh = spark.table("sidx_text_stats")
        .agg(sum("n_docs"), sum("sum_dl")).head()
      assert(summed == fresh, "partial stats rows do not sum to the fresh stats")
    } finally idx.drop(spark)
  }

  test("a config-flipped TextIndex rebuild reclaims the previous build's optional tables") {
    // a positional/forward build followed by a rebuild WITHOUT those
    // flags must not leave the old `_positions`/`_profile` tables
    // behind — Phrase/Mlt would silently serve rows no build
    // maintains (the same staleness class the laws fingerprint
    // guards against)
    val full = TextIndex("sidx_flip", nBuckets = 2, positional = true, forward = true)
    val bare = TextIndex("sidx_flip", nBuckets = 2)
    bare.drop(spark); full.drop(spark)
    try {
      full.build(docs.filter(col("doc_id") < 100))
      assert(spark.catalog.tableExists("sidx_flip_positions"))
      assert(spark.catalog.tableExists("sidx_flip_profile"))
      bare.build(docs.filter(col("doc_id") < 100))
      assert(!spark.catalog.tableExists("sidx_flip_positions"),
        "rebuild with positional=false left a stale positions table")
      assert(!spark.catalog.tableExists("sidx_flip_profile"),
        "rebuild with forward=false left a stale profile table")
      // and the reclaim cleared the location too: flipping back on
      // rebuilds from scratch without LOCATION_ALREADY_EXISTS
      full.build(docs.filter(col("doc_id") < 100))
      assert(spark.table("sidx_flip_profile").count() > 0)
    } finally { full.drop(spark); bare.drop(spark) }
  }

  test("compact stages through storage: no block-manager materialization in its plans") {
    // the rewrite must stream table -> staged table -> rename; an
    // index-sized localCheckpoint/cache (the old implementation)
    // cannot survive a 100 TB compaction
    val idx = TextIndex("sidx_cplan", nBuckets = 2)
    idx.drop(spark)
    try {
      idx.build(docs.filter(col("doc_id") % 2 === 0))
      idx.append(docs.filter(col("doc_id") % 2 =!= 0))
      val before = snapshot(spark.table("sidx_cplan_postings"))
      val plans = capturePlans(idx.compact(spark))
      assert(plans.nonEmpty)
      for (p <- plans) {
        assert(!p.contains("ExistingRDD"),
          s"compact materialized through the block manager:\n$p")
        assert(!p.contains("InMemoryTableScan"),
          s"compact cached the table:\n$p")
      }
      assert(snapshot(spark.table("sidx_cplan_postings")) == before)
    } finally idx.drop(spark)
  }

  test("compact preserves graft.* table properties (the stored-law build fingerprint)") {
    // saveIvfPqLaws pins the codes table's graft.build_id and serving
    // refuses on mismatch; a compaction does not change contents, so
    // it must carry the fingerprint across the rewrite or every
    // compacted PQ index would refuse its own valid laws
    val idx = TextIndex("sidx_cprops", nBuckets = 2)
    idx.drop(spark)
    try {
      idx.build(docs.filter(col("doc_id") < 100))
      spark.sql(
        "ALTER TABLE sidx_cprops_postings SET TBLPROPERTIES ('graft.build_id' = 'bid-123')")
      idx.compact(spark)
      val prop = spark.sql("SHOW TBLPROPERTIES sidx_cprops_postings")
        .filter(col("key") === "graft.build_id").collect()
      assert(prop.length == 1 && prop(0).getString(1) == "bid-123",
        "compact dropped the graft.build_id fingerprint")
      // the bucketing survived the stage-and-swap rename as well
      val staged = spark.catalog.tableExists("sidx_cprops_postings__compacting")
      assert(!staged, "compact left its staging table behind")
    } finally idx.drop(spark)
  }

  test("TextIndex build reads the corpus text exactly once and materializes nothing") {
    // the build path's reuse point is STORAGE (write the first table
    // from the tokenize lineage, derive the rest by reading it back)
    // — a corpus-sized localCheckpoint in the block manager is the
    // thing a fresh 100 TB build cannot afford
    for (positional <- Seq(false, true)) {
      val idx = TextIndex("sidx_onepass", nBuckets = 2,
        positional = positional, forward = true)
      idx.drop(spark)
      try {
        val plans = capturePlans(idx.build(docs))
        val textScans = plans.count(p =>
          p.contains("FileScan") && p.contains("documents.parquet"))
        assert(textScans == 1,
          s"positional=$positional: corpus text scanned $textScans times (want 1)")
        for (p <- plans)
          assert(!p.contains("ExistingRDD"),
            s"positional=$positional: build materialized a corpus-sized relation:\n$p")
      } finally idx.drop(spark)
    }
  }

  test("IVF-PQ index owns its derived laws table: rebuild and drop reclaim it") {
    // the stored-law row (saveIvfPqLaws) measures a SPECIFIC build; a
    // rebuild on a different corpus must not leave it behind to serve
    // stale dials, and drop must not orphan it
    val cents = Ann.kmeansCentroids(vecs, k = 8, iters = 2).localCheckpoint(true)
    val books = Pq.trainCodebooks(vecs, m = 16, ksub = 64, iters = 3)
      .localCheckpoint(true)
    val idx = IvfPqIndex("sidx_laws", cents, books, m = 16, ksub = 64, nBuckets = 4)
    idx.drop(spark)
    try {
      idx.build(vecs.filter(col("id") < 200))
      Pq.saveIvfPqLaws(spark, "sidx_laws", measureK = 5, m = 16, ksub = 64,
        sampleN = 16)
      assert(spark.catalog.tableExists("sidx_laws_laws"))
      idx.build(vecs.filter(col("id") >= 200))
      assert(!spark.catalog.tableExists("sidx_laws_laws"),
        "rebuild left a stale laws table behind")
      Pq.saveIvfPqLaws(spark, "sidx_laws", measureK = 5, m = 16, ksub = 64,
        sampleN = 16)
      idx.drop(spark)
      assert(!spark.catalog.tableExists("sidx_laws_laws"),
        "drop orphaned the laws table")
    } finally idx.drop(spark)
  }
}
