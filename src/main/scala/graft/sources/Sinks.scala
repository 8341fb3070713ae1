package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Sink utilities covering the reference's post-processing surface. */
object Sinks {

  /** Single-file CSV with exactly one header (SNK-5): the reference
    * shells out to `hadoop fs -getmerge` plus an awk header-dedup
    * (scripts/getmerge-strip-headers.sh:12-21); with Spark writing
    * the file, `coalesce(1)` + `header=true` makes the dedup
    * unnecessary by construction.
    */
  def singleCsv(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite")
      .option("header", "true")
      .csv(path)

  /** Merge pre-existing headered CSV part files (the getmerge case
    * where parts were written by something else): multi-file read
    * dedups the repeated headers, then write once.
    */
  def mergePartCsvs(spark: SparkSession, partsGlob: String, outPath: String): Unit = {
    val parts = spark.read.option("header", "true").csv(partsGlob)
    singleCsv(parts, outPath)
  }
}
