package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Input, Outputs}
import graft.functions.WeightedMean
import graft.stage.{Context, Method, SparkJob, Stage}

/** The reference's flagship analytics job re-expressed as one
  * declarative Dataset pipeline (reference:
  * src/main/resources/pipeline/frequencyanalysis/frequencyAnalysis.py).
  *
  * Differences from the PySpark original, by design:
  *   - the two hand-rolled RDD `aggregateByKey` weighted means
  *     (py:55-75) are the [[WeightedMean]] typed Aggregator — Catalyst
  *     plans partial+final hash aggregation, so the extra RDD
  *     shuffles collapse into the group-by shuffle;
  *   - the tiny per-dataset N table (py:31-35) is broadcast
  *     explicitly at the join (py:54, :66);
  *   - scoped read: one ancestry's job reads only the part files
  *     under `variants/<dataset>/<ancestry>/`, the dirnames of its own
  *     inputs, not the whole corpus (py:109). A row whose `ancestry`
  *     column disagrees with its directory therefore lands in no
  *     output: its directory's job filters it out (py:14) and its
  *     column's job never reads it;
  *   - fixed schemas for variants and metadata, so no job infers one
  *     by reading the JSON first;
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

  /** Per-variant weighted EAF/MAF for one ancestry (py:13-85). */
  def calcFreq(variants: DataFrame, datasets: DataFrame, ancestry: String): DataFrame = {
    def valid(c: String): Column = when(col(c).isNotNull && !isnan(col(c)), col(c))

    // max samples per dataset across all traits (py:31-35)
    val n = datasets
      .select(col("name").as("dataset"), col("samples").as("n"))
      .groupBy("dataset")
      .agg(max(col("n")).as("n"))

    // average across traits per (variant, dataset) (py:38-51); null
    // where the dataset has no valid value
    val perDataset = variants
      .filter(col("ancestry") === ancestry)
      .groupBy(col("varId"), col("dataset"))
      .agg(avg(valid("eaf")).as("eaf"), avg(valid("maf")).as("maf"))

    // sample-weighted average across datasets (py:55-75): a null
    // weight skips a dataset without a value, and a variant with no
    // value in any dataset stays null
    def weighted(c: String): Column =
      when(count(col(c)) > 0, WeightedMean(col(c), when(col(c).isNotNull, col("n"))))

    perDataset
      .join(broadcast(n), Seq("dataset"))
      .groupBy(col("varId"))
      .agg(weighted("eaf").as("eaf"), weighted("maf").as("maf"))
      // MAF should always be present, EAF is optional (py:77-78)
      .filter(col("maf").isNotNull)
      .select(col("varId"), col("eaf"), col("maf"), lit(ancestry).as("ancestry"))
  }

  /** Load one ancestry's variant part-files: every
    * `variants/<dataset>/<ancestry>/`, the inverse of the stage rule
    * (py:109 globs every ancestry).
    */
  def readVariants(spark: SparkSession, root: String, ancestry: String): DataFrame =
    spark.read
      .schema("varId STRING, dataset STRING, ancestry STRING, phenotype STRING, eaf DOUBLE, maf DOUBLE")
      .option("pathGlobFilter", "part-*")
      .json(s"$root/variants/*/$ancestry/")

  /** Load every dataset metadata marker (py:24): N is a max over all
    * of a dataset's markers.
    */
  def readMetadata(spark: SparkSession, root: String): DataFrame =
    spark.read.schema("name STRING, samples BIGINT, ancestry STRING").json(s"$root/variants/*/*/metadata")
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
    val meta = FrequencyAnalysis.readMetadata(spark, env.inputRoot)
    val dir  = s"${env.outputRoot}/${env.prefix}/frequencyanalysis/$output"
    val rows = Observation()
    FrequencyAnalysis.calcFreq(vars, meta, ancestry = output)
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
