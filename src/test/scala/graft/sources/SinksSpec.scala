package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkTestBase

final class SinksSpec extends SparkTestBase {
  import spark.implicits._

  test("singleCsv writes exactly one part file with one header") {
    val out = tmpDir("sink-csv") + "/out"
    Sinks.singleCsv(Seq((1, "a"), (2, "b")).toDF("id", "v"), out)
    val parts = Files.list(Paths.get(out)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".csv")).toList
    assert(parts.size == 1)
    val lines = Files.readAllLines(parts.head).asScala
    assert(lines.head == "id,v")
    assert(lines.count(_ == "id,v") == 1)
    assert(lines.size == 3)
  }

  test("mergePartCsvs dedups repeated headers across parts") {
    val dir = tmpDir("sink-parts")
    Files.write(Paths.get(dir, "part-0.csv"), "id,v\n1,a\n2,b\n".getBytes)
    Files.write(Paths.get(dir, "part-1.csv"), "id,v\n3,c\n".getBytes)
    val out = dir + "/merged"
    Sinks.mergePartCsvs(spark, s"$dir/part-*.csv", out)
    val merged = spark.read.option("header", "true").csv(out)
    assert(merged.count() == 3)
    assert(merged.columns.toSeq == Seq("id", "v"))
  }
}
