package graft.pipeline

import java.io.InputStream
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.json4s.{JInt, JString}
import org.json4s.jackson.JsonMethods.parseOpt

import graft.core.{Input, Outputs}
import graft.functions.WeightedMean
import graft.stage.{Context, Method, SparkJob, Stage}

/** The reference's flagship analytics job re-expressed as one
  * declarative Dataset pipeline (reference:
  * src/main/resources/pipeline/frequencyanalysis/frequencyAnalysis.py).
  *
  * Differences from the PySpark original, by design:
  *   - the two hand-rolled RDD `aggregateByKey` weighted means
  *     (py:55-75) are the [[WeightedMean]] typed Aggregator;
  *   - N is read on the driver: the per-dataset max `samples` over
  *     every `metadata` marker (py:24, :31-35) is a map that each row
  *     looks up, instead of a Spark scan, aggregate and broadcast join
  *     (py:54, :66); a dataset without a marker is dropped, as the
  *     inner join drops it;
  *   - one `varId` exchange: the scoped rows are hash-partitioned on
  *     `varId` once, which satisfies both the per-(variant, dataset)
  *     and the per-variant aggregate, where the reference shuffles
  *     once per `aggregateByKey` (py:55-75);
  *   - scoped read: one ancestry's job reads only the part files
  *     under `variants/<dataset>/<ancestry>/`, the dirnames of its own
  *     inputs, not the whole corpus (py:109). A row whose `ancestry`
  *     column disagrees with its directory therefore lands in no
  *     output: its directory's job filters it out (py:14) and its
  *     column's job never reads it;
  *   - a fixed variants schema, so no job infers one by reading the
  *     JSON first;
  *   - one scan and one final aggregate serve EAF and MAF: per
  *     (variant, dataset) a conditional average of each column's
  *     valid values (the NaN/null filters py:20-21, avg-across-traits
  *     py:38-51), then one weighted mean per column across datasets.
  *     MAF still drives the result (py:77-78): a variant without a
  *     valid MAF is dropped, one without a valid EAF keeps a null EAF;
  *   - observed empty: an ancestry with no variants has no output
  *     (py:16-17), decided by a row count observed on the write
  *     instead of a separate `isEmpty` job; an empty rebuild deletes
  *     the output it would have replaced;
  *   - the literal ancestry column (py:85) is a 1:1 mapping.
  */
object FrequencyAnalysis {

  private val variantsSchema =
    StructType.fromDDL("varId STRING, dataset STRING, ancestry STRING, phenotype STRING, eaf DOUBLE, maf DOUBLE")

  /** Per-variant weighted EAF/MAF for one ancestry (py:13-85), with N
    * the max samples per dataset ([[readSamples]]).
    */
  def calcFreq(variants: DataFrame, samples: Map[String, Long], ancestry: String): DataFrame = {
    def valid(c: String): Column = when(col(c).isNotNull && !isnan(col(c)), col(c))

    // average across traits per (variant, dataset) (py:38-51); null
    // where the dataset has no valid value. Partitioned on varId once:
    // that satisfies this grouping and the per-variant one below, so
    // neither adds an exchange
    val perDataset = variants
      .filter(col("ancestry") === ancestry)
      .repartition(col("varId"))
      .groupBy(col("varId"), col("dataset"))
      .agg(avg(valid("eaf")).as("eaf"), avg(valid("maf")).as("maf"))

    // sample-weighted average across datasets (py:55-75): a null
    // weight skips a dataset without a value, and a variant with no
    // value in any dataset stays null
    def weighted(c: String): Column =
      when(count(col(c)) > 0, WeightedMean(col(c), when(col(c).isNotNull, col("n"))))

    perDataset
      // a dataset without a metadata marker has no N and is dropped (py:54)
      .withColumn("n", element_at(typedLit(samples), col("dataset")))
      .filter(col("n").isNotNull)
      .groupBy(col("varId"))
      .agg(weighted("eaf").as("eaf"), weighted("maf").as("maf"))
      // MAF should always be present, EAF is optional (py:77-78)
      .filter(col("maf").isNotNull)
      .select(col("varId"), col("eaf"), col("maf"), lit(ancestry).as("ancestry"))
  }

  /** Load one ancestry's variant part-files: every
    * `variants/<dataset>/<ancestry>/`, the inverse of the stage rule
    * (py:109 globs every ancestry). The directories are expanded on
    * the driver and passed as plain paths, so Spark never looks up a
    * glob as a file.
    */
  def readVariants(spark: SparkSession, root: String, ancestry: String): DataFrame = {
    val dirs = glob(spark, s"$root/variants/*/$ancestry").filter(_.isDirectory).map(_.getPath.toString)
    if (dirs.isEmpty) spark.createDataFrame(java.util.List.of[Row](), variantsSchema)
    else spark.read.schema(variantsSchema).option("pathGlobFilter", "part-*").json(dirs: _*)
  }

  /** N per dataset: the max `samples` over every one of its
    * `variants/<dataset>/<ancestry>/metadata` markers (py:24, :31-35),
    * read on the driver. A marker line without a `name` or an integer
    * `samples` is skipped.
    */
  def readSamples(spark: SparkSession, root: String): Map[String, Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val marks = for {
      st   <- glob(spark, s"$root/variants/*/*/metadata") if st.isFile
      line <- readLines(st.getPath.getFileSystem(conf).open(st.getPath))
      m    <- parseOpt(line)
      (JString(name), JInt(n)) <- Some((m \ "name", m \ "samples"))
    } yield name -> n.toLong
    marks.groupMapReduce(_._1)(_._2)(math.max)
  }

  private def glob(spark: SparkSession, pattern: String): Seq[FileStatus] = {
    val path = new Path(pattern)
    val fs   = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(path)).fold(Seq.empty[FileStatus])(_.toSeq)
  }

  private def readLines(in: InputStream): Seq[String] =
    try new String(in.readAllBytes(), UTF_8).linesIterator.filter(_.trim.nonEmpty).toList
    finally in.close()
}

/** Stage wiring: inputs are `variants/<dataset>/<ancestry>/` marker
  * objects; each ancestry is one output (the reference submits one
  * EMR job per ancestry — here one [[SparkJob]] per ancestry on the
  * shared session).
  */
class FrequencyAnalysisStage(implicit context: Context) extends Stage {

  val variants: Input.Source = Input.Source.Dataset("variants/*/*/")

  override val sources: Seq[Input.Source] = Seq(variants)

  override val rules: PartialFunction[Input, Outputs] = {
    case variants(_, ancestry) => Outputs.Named(ancestry)
  }

  override def make(output: String): SparkJob = SparkJob { (spark, env) =>
    val vars = FrequencyAnalysis.readVariants(spark, env.inputRoot, output)
    val n    = FrequencyAnalysis.readSamples(spark, env.inputRoot)
    val dir  = s"${env.outputRoot}/${env.prefix}/frequencyanalysis/$output"
    val rows = Observation()
    FrequencyAnalysis.calcFreq(vars, n, ancestry = output)
      .observe(rows, count(lit(1)).as("rows"))
      .write.mode("overwrite").json(dir)
    // an ancestry without variants has no output (py:16-17)
    if (rows.get("rows") == 0L) {
      val path = new Path(dir)
      path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
    }
  }

  override def getName: String = "FrequencyAnalysisStage"
}

object FrequencyAnalysisMethod extends Method {
  override def getName: String = "frequencyanalysis"
  override def initStages(implicit context: Context): Unit =
    addStage(new FrequencyAnalysisStage)
}
