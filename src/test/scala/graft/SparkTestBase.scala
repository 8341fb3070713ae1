package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per suite, lazy). */
trait SparkTestBase extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestBase.session

  /** Driver fixture location — single edit point if the fixtures move. */
  def testDataRoot: String = SparkTestBase.TestDataRoot
  def testDataSfs: Seq[String] = SparkTestBase.TestDataSfs
  def testData(sf: String): String = s"$testDataRoot/$sf"

  def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  /** Writes `df` as a parquet catalog table hash-bucketed on
    * `bucketCol`, replacing the table or, with `append`, adding to it.
    */
  def bucketedTable(df: DataFrame, table: String, bucketCol: String, nBuckets: Int,
                    append: Boolean = false): Unit =
    df.write.mode(if (append) "append" else "overwrite")
      .bucketBy(nBuckets, bucketCol).format("parquet").saveAsTable(table)
}

object SparkTestBase {
  /** Where the driver writes its parquet fixtures, and which scale
    * factors it ships — shared by every spec that reads them.
    */
  val TestDataRoot: String = "/root/testdata"
  val TestDataSfs: Seq[String] = Seq("sf0.001", "sf0.01", "sf0.1")

  lazy val session: SparkSession = {
    val s = GraftSession.build("graft-test", "local[4]", "4")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
