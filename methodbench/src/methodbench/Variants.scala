package methodbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import com.fasterxml.jackson.databind.ObjectMapper

/** Input shape of one frequency-analysis workload: every input
  * `variants/<dataset>/<ancestry>/` holds a `metadata` marker and
  * `parts` JSON-lines part files. `variants` is the per-ancestry
  * variant universe; each dataset carries a fixed ~80% of it with one
  * or two phenotype rows per variant.
  */
final case class Shape(variants: Int, parts: Int)

object Shape {
  /** Every workload has `Ancestries × Datasets` inputs, one output per
    * ancestry, and a refresh touches one input in each of `Touched`
    * distinct ancestries.
    */
  val Ancestries = 4
  val Datasets   = 6
  val Touched    = 2
}

/** One phenotype row of one variant; `None` is a JSON null. */
final case class VariantRow(variant: Int, phenotype: Int, eaf: Option[Double], maf: Option[Double])

/** Seeded, deterministic variant inputs for `FrequencyAnalysisStage`,
  * written with plain file I/O. The rows of input `(dataset,
  * ancestry)` at revision `r` are a pure function of `(seed, dataset,
  * ancestry, r)`: a touch bumps the revision and rewrites every row
  * value, so an output built from stale rows cannot match the
  * reference. Dataset sample sizes are fixed per seed, so a touch
  * never changes an untouched output's result.
  */
final class Variants(val root: Path, val shape: Shape, seed: Long) {

  val ancestries: IndexedSeq[String] = (0 until Shape.Ancestries).map(i => f"A$i%02d")
  val datasets: IndexedSeq[String]   = (0 until Shape.Datasets).map(i => f"D$i%02d")

  private val revision = mutable.Map.empty[(String, String), Int].withDefaultValue(0)

  private def rng(parts: Any*): SplittableRandom =
    new SplittableRandom(seed * 0x9e3779b97f4a7c15L ^ MurmurHash3.stringHash(parts.mkString("/")).toLong)

  /** Samples per dataset (the reference takes the max over a dataset's
    * metadata markers; every marker of a dataset carries the same N).
    */
  val samples: Map[String, Int] =
    datasets.map(d => d -> (500 + rng("samples", d).nextInt(50000))).toMap

  private def varId(i: Int): String = s"${1 + i % 22}:${100000 + 37 * i}:A:G"

  /** A frequency with a few NaN and null values mixed in, as in the
    * DIG inputs the reference filters (frequencyAnalysis.py:20-21).
    */
  private def freq(r: SplittableRandom, max: Double): Option[Double] = {
    val u = r.nextDouble()
    if (u < 0.02) None
    else if (u < 0.05) Some(Double.NaN)
    else Some(r.nextDouble() * max)
  }

  def rows(dataset: String, ancestry: String): IndexedSeq[VariantRow] = {
    val member = rng("member", dataset, ancestry)
    val values = rng("values", dataset, ancestry, revision((dataset, ancestry)))
    val out    = IndexedSeq.newBuilder[VariantRow]
    for (i <- 0 until shape.variants if member.nextDouble() < 0.8) {
      val phenotypes = 1 + member.nextInt(2)
      for (p <- 0 until phenotypes) out += VariantRow(i, p, freq(values, 1.0), freq(values, 0.5))
    }
    out.result()
  }

  private def dir(dataset: String, ancestry: String): Path =
    root.resolve(s"variants/$dataset/$ancestry")

  private def json(v: Option[Double]): String = v.fold("null")(x => if (x.isNaN) "NaN" else x.toString)

  /** (Re)write one input: its part files first, then the `metadata`
    * marker whose modification time is the input's version.
    */
  def write(dataset: String, ancestry: String): Unit = {
    val d = dir(dataset, ancestry)
    Files.createDirectories(d)
    val parts = Array.fill(shape.parts)(new java.lang.StringBuilder)
    rows(dataset, ancestry).zipWithIndex.foreach { case (r, j) =>
      parts(j % shape.parts)
        .append("{\"varId\":\"").append(varId(r.variant))
        .append("\",\"dataset\":\"").append(dataset)
        .append("\",\"ancestry\":\"").append(ancestry)
        .append("\",\"phenotype\":\"t").append(r.phenotype)
        .append("\",\"eaf\":").append(json(r.eaf))
        .append(",\"maf\":").append(json(r.maf))
        .append("}\n")
    }
    parts.zipWithIndex.foreach { case (sb, j) =>
      Files.write(d.resolve(f"part-$j%05d"), sb.toString.getBytes(UTF_8))
    }
    Files.write(d.resolve("metadata"),
      s"""{"name":"$dataset","samples":${samples(dataset)},"ancestry":"$ancestry"}""".getBytes(UTF_8))
  }

  def writeAll(): Unit = for (d <- datasets; a <- ancestries) write(d, a)

  /** Touch schedule of cycle `c`: one input in each of `Touched`
    * distinct ancestries, chosen from the seed. Returns the touched
    * outputs (ancestries).
    */
  def touch(c: Int): Set[String] = {
    val r      = rng("touch", c)
    val chosen = new scala.util.Random(r.nextLong()).shuffle(ancestries).take(Shape.Touched)
    chosen.foreach { a =>
      val d = datasets(r.nextInt(datasets.size))
      revision((d, a)) += 1
      write(d, a)
    }
    chosen.toSet
  }

  private def files(): Seq[Path] =
    Files.walk(root.resolve("variants")).iterator().asScala.filter(Files.isRegularFile(_)).toSeq

  /** Files, rows and bytes of the current inputs. */
  def size(): (Long, Long, Long) = {
    val files = this.files()
    val rowCount = for (d <- datasets; a <- ancestries) yield rows(d, a).size.toLong
    (files.size.toLong, rowCount.sum, files.map(Files.size).sum)
  }

  /** The benchmark's own sample-weighted EAF/MAF for one ancestry, as
    * `FrequencyAnalysisSpec` states it: per dataset, the average over
    * phenotypes with NaN and null dropped; across datasets,
    * `sum(x·n)/sum(n)`. MAF drives the result; EAF may be absent.
    */
  def reference(ancestry: String): Map[String, (Option[Double], Double)] = {
    final class Acc { var num = 0.0; var den = 0.0 }
    val eaf = mutable.Map.empty[Int, Acc]
    val maf = mutable.Map.empty[Int, Acc]
    def valid(x: Option[Double]) = x.filterNot(_.isNaN)
    for (d <- datasets) {
      val n    = samples(d).toDouble
      val byId = rows(d, ancestry).groupBy(_.variant)
      for ((id, rs) <- byId) {
        def addAvg(into: mutable.Map[Int, Acc], xs: Seq[Double]): Unit =
          if (xs.nonEmpty) {
            val acc = into.getOrElseUpdate(id, new Acc)
            acc.num += xs.sum / xs.size * n
            acc.den += n
          }
        addAvg(eaf, rs.flatMap(r => valid(r.eaf)))
        addAvg(maf, rs.flatMap(r => valid(r.maf)))
      }
    }
    maf.map { case (id, m) =>
      varId(id) -> (eaf.get(id).map(e => e.num / e.den), m.num / m.den)
    }.toMap
  }

  /** Whether the written output of `ancestry` equals [[reference]]. */
  def outputMatches(ancestry: String): Boolean = {
    val expected = reference(ancestry)
    val dir      = root.resolve(s"out/frequencyanalysis/$ancestry")
    val mapper   = new ObjectMapper
    val got = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(p => Files.readAllLines(p, UTF_8).asScala)
      .filter(_.nonEmpty)
      .map { line =>
        val n = mapper.readTree(line)
        require(n.get("ancestry").asText == ancestry, s"row of ${n.get("ancestry")} in output $ancestry")
        n.get("varId").asText -> (Option(n.get("eaf")).filterNot(_.isNull).map(_.asDouble), n.get("maf").asDouble)
      }.toSeq
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9
    got.size == expected.size && got.map(_._1).distinct.size == got.size && got.forall { case (id, (e, m)) =>
      expected.get(id).exists { case (ee, em) =>
        close(m, em) && e.size == ee.size && e.zip(ee).forall { case (x, y) => close(x, y) }
      }
    }
  }

  /** Modification time of each output's `_SUCCESS` marker: a rebuilt
    * output shows as a changed time.
    */
  def outputStamps(): Map[String, Long] =
    ancestries.flatMap { a =>
      val p = root.resolve(s"out/frequencyanalysis/$a/_SUCCESS")
      if (Files.exists(p)) Some(a -> Files.getLastModifiedTime(p).toMillis) else None
    }.toMap
}
