package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus snapshot evolution: the relational MERGE INTO / diff pair
  * for immutable-file corpora (the corpus-scale analogue of
  * `runs.ParquetTable.upsert`, which merges the KB-scale runs ledger
  * by key set on the driver — and of the MERGE a Delta/Iceberg table
  * format would run transactionally).
  *
  * Scale shape: `upsert` is one keyed anti-join (target rows not
  * replaced) plus a union — the target never shuffles more than
  * once, and with both sides bucketed on the key it plans
  * shuffle-free. `diff` is one full-outer equi-join on the key.
  * Nothing driver-side at any size.
  */
object Merge {

  /** MERGE semantics by key: matched target rows take the source
    * version, unmatched target rows carry over, source-only rows
    * insert. Schemas must align by name. The source must be
    * key-unique (dedupe first if not) — duplicate source keys all
    * insert, which is the same contract SQL MERGE enforces with an
    * error.
    */
  def upsert(target: DataFrame, source: DataFrame, keyCols: Seq[String]): DataFrame =
    target.join(source, keyCols, "left_anti").unionByName(source)

  /** Snapshot diff by key: one row per key in either snapshot with
    * `status` ∈ added | removed | changed | unchanged, where
    * changed/unchanged compares `contentCol` null-safely.
    */
  def diff(oldSnap: DataFrame, newSnap: DataFrame, keyCols: Seq[String],
           contentCol: String): DataFrame = {
    // explicit presence flags: a null CONTENT value must not read as
    // an absent ROW (they'd be indistinguishable from join nullness)
    val o = oldSnap.select(
      keyCols.map(col) :+ col(contentCol).as("__old") :+ lit(true).as("__in_old"): _*)
    val n = newSnap.select(
      keyCols.map(col) :+ col(contentCol).as("__new") :+ lit(true).as("__in_new"): _*)
    o.join(n, keyCols, "full_outer")
      .withColumn("status",
        when(col("__in_new").isNull, "removed")
          .when(col("__in_old").isNull, "added")
          .when(col("__old") <=> col("__new"), "unchanged")
          .otherwise("changed"))
      .select(keyCols.map(col) :+ col("status"): _*)
  }

  /** CDC changelog compaction: reduce an ordered stream of
    * insert/update/delete entries to the final table state. Per key,
    * the entry with the highest `seqCol` wins (the (key, seq) pair
    * must be unique — the usual CDC LSN/offset contract); if that
    * winning entry's `opCol` equals `deleteOp` the key is absent from
    * the result, so a later re-insert after a delete resurrects the
    * key naturally.
    *
    * Scale shape: one `max_by(struct(values), seq)` hash aggregation
    * on the key — the standard "compact the changelog" reduction
    * Debezium/Delta CDF consumers run, but with a map-side partial
    * combine: a hot key's burst of updates collapses to one row per
    * partition BEFORE the exchange, where the equivalent
    * `row_number() = 1` window would shuffle and sort every entry.
    * No driver-side state; (key, seq) uniqueness (the CDC contract
    * above) makes the two formulations row-identical.
    *
    * A null `seqCol` ranks LOWEST (= the window form's `desc nulls
    * last`): any non-null entry beats it, and a key whose entries are
    * ALL null-seq still keeps a row (bare `max_by(v, seq)` would
    * silently drop the key — max_by ignores rows whose ordering value
    * is null). Which row wins among all-null ties is unspecified,
    * exactly as it is for the window; the CDC contract makes seq
    * non-null and (key, seq) unique, so neither case arises in
    * conforming input.
    *
    * `keyCols` resolve against the changelog's columns
    * CASE-INSENSITIVELY (matching Spark's default analyzer
    * resolution) — a `KEY` spelled `key` must not leak into the
    * value struct and come back as a duplicate output column.
    */
  def applyChangelog(changelog: DataFrame, keyCols: Seq[String],
                     seqCol: String, opCol: String,
                     deleteOp: String = "D"): DataFrame = {
    val resolvedKeys = keyCols.map(k =>
      changelog.columns.find(_.equalsIgnoreCase(k)).getOrElse(k))
    val valueCols = changelog.columns.filterNot(c =>
      resolvedKeys.exists(_.equalsIgnoreCase(c)))
    val winner = changelog
      .groupBy(resolvedKeys.map(col): _*)
      .agg(max_by(struct(valueCols.map(col): _*),
        struct(col(seqCol).isNotNull.as("nn"), col(seqCol).as("s"))).as("__w"))
      .select(resolvedKeys.map(col) ++
        valueCols.map(c => col(s"__w.`$c`").as(c)): _*)
    winner
      .filter(col(opCol) =!= deleteOp)
      .select(changelog.columns.filterNot(_ == opCol).map(col).toIndexedSeq: _*)
  }

  /** CDC apply over a base snapshot: base rows behave as seq = −∞
    * inserts, so any changelog entry for a key supersedes the base
    * row (including a delete, which removes it). Base keys never
    * touched by the log carry over unchanged — one key-only
    * anti-join; the log compacts exactly as [[applyChangelog]].
    */
  def applyChangelog(base: DataFrame, changelog: DataFrame, keyCols: Seq[String],
                     seqCol: String, opCol: String, deleteOp: String): DataFrame = {
    val touched = changelog.select(keyCols.map(col): _*).distinct()
    val carried = base.join(touched, keyCols, "left_anti")
    carried.unionByName(
      applyChangelog(changelog, keyCols, seqCol, opCol, deleteOp)
        .select(base.columns.map(col).toIndexedSeq: _*))
  }

  /** Partition column of the upsert-table layout: a fixed hash of
    * the key space (`pmod(xxhash64(keys), nParts)`), materialized as
    * hive-style `__part=K` directories. Fixed — never derived from
    * data values — so any batch's keys map to a STABLE, enumerable
    * set of directories.
    */
  val PartCol = "__part"

  /** Read an upsert table back without its internal layout column. */
  def readUpsertTable(spark: org.apache.spark.sql.SparkSession,
                      tablePath: String): DataFrame = {
    val df = spark.read.parquet(tablePath)
    if (df.columns.contains(PartCol)) df.drop(PartCol) else df
  }

  private def partExpr(keyCols: Seq[String], nParts: Int) =
    pmod(xxhash64(keyCols.map(col): _*), lit(nParts.toLong)).cast("int")

  /** Upsert a batch into a parquet table laid out as `nParts` fixed
    * hash partitions of the key space — the merge-on-read-lite form
    * of a mutable table: only partitions CONTAINING BATCH KEYS are
    * read, merged, and swapped; every other partition directory is
    * never opened, so upsert cost scales with the batch's key
    * locality (≤ min(|batch|, nParts) partitions), not table size.
    * At 100 TB this is the difference between a micro-batch touching
    * a few hundred GB and rewriting the corpus.
    *
    * Each touched partition swaps via rename-aside (live → .bak,
    * tmp → live, delete .bak), so a crash at any point leaves every
    * partition recoverable — crash mid-loop leaves some partitions
    * new and some old (partition-level, not snapshot-level,
    * atomicity; `runs.ParquetTable` is the snapshot-isolated
    * primitive when readers need a consistent cut). On raw object
    * storage the renames want a table format's commit, such as
    * `ParquetTable`'s create-if-absent manifest.
    *
    * A pre-existing FLAT table (written by an older version of this
    * function) is migrated in one full rewrite on its first upsert,
    * after which pruning applies. `nParts` is fixed at table
    * creation; later calls with a different value are rejected (the
    * layout remembers its own fan-out).
    */
  def upsertParquet(batch: DataFrame, tablePath: String, keyCols: Seq[String],
                    nParts: Int = 32): Unit = {
    require(nParts > 0, s"nParts must be positive, got $nParts")
    val spark = batch.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val path  = new org.apache.hadoop.fs.Path(tablePath)
    val fs    = path.getFileSystem(hconf)
    val batchP = batch.withColumn(PartCol, partExpr(keyCols, nParts))

    def partDirs(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.filter(s =>
        s.isDirectory && s.getPath.getName.startsWith(PartCol + "="))

    def swapIn(tmp: org.apache.hadoop.fs.Path, live: org.apache.hadoop.fs.Path): Unit = {
      val bak = new org.apache.hadoop.fs.Path(live.toString + s".bak-${System.nanoTime()}")
      val hadOld = fs.exists(live)
      if (hadOld && !fs.rename(live, bak))
        throw new java.io.IOException(s"rename $live -> $bak failed")
      if (!fs.rename(tmp, live)) {
        if (hadOld) fs.rename(bak, live) // best-effort restore
        throw new java.io.IOException(s"rename $tmp -> $live failed")
      }
      if (hadOld) fs.delete(bak, true)
    }

    if (!fs.exists(path)) {
      // first write: materialize the partitioned layout wholesale
      val tmp = new org.apache.hadoop.fs.Path(tablePath + s".tmp-${System.nanoTime()}")
      batchP.write.partitionBy(PartCol).parquet(tmp.toString)
      swapIn(tmp, path)
    } else if (partDirs(path).isEmpty) {
      // legacy flat layout: one-time migration to the partitioned form
      val merged = upsert(spark.read.parquet(tablePath), batch, keyCols)
        .withColumn(PartCol, partExpr(keyCols, nParts))
      val tmp = new org.apache.hadoop.fs.Path(tablePath + s".tmp-${System.nanoTime()}")
      merged.write.partitionBy(PartCol).parquet(tmp.toString)
      swapIn(tmp, path)
    } else {
      val existingParts: Map[Int, org.apache.hadoop.fs.Path] = partDirs(path)
        .map(s => s.getPath.getName.stripPrefix(PartCol + "=").toInt -> s.getPath)
        .toMap
      val maxPart = existingParts.keys.max
      require(maxPart < nParts,
        s"table $tablePath has partition $PartCol=$maxPart but nParts=$nParts — " +
          "the layout's fan-out is fixed at creation; pass the original nParts")
      // the batch's touched partitions: a bounded driver list (≤ nParts ints)
      val touched = batchP.select(col(PartCol)).distinct()
        .collect().map(_.getInt(0)).sorted
      if (touched.nonEmpty) {
        val touchedExisting = touched.filter(existingParts.contains)
        // read ONLY the touched partition directories (basePath keeps
        // the __part column); untouched directories are never opened
        val merged =
          if (touchedExisting.isEmpty) batchP
          else {
            val existing = spark.read
              .option("basePath", tablePath)
              .parquet(touchedExisting.map(existingParts(_).toString).toIndexedSeq: _*)
            existing.join(batchP, keyCols, "left_anti").unionByName(batchP)
          }
        val tmp = new org.apache.hadoop.fs.Path(tablePath + s".tmp-${System.nanoTime()}")
        merged.write.partitionBy(PartCol).parquet(tmp.toString)
        // swap each touched partition dir; untouched dirs stay byte-identical
        touched.foreach { k =>
          val tmpPart = new org.apache.hadoop.fs.Path(tmp, s"$PartCol=$k")
          if (fs.exists(tmpPart)) // every touched k has batch rows, but guard anyway
            swapIn(tmpPart, new org.apache.hadoop.fs.Path(path, s"$PartCol=$k"))
        }
        fs.delete(tmp, true) // _SUCCESS and the emptied tmp shell
      }
    }
  }
}
