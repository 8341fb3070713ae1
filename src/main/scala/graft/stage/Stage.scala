package graft.stage

import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.{Input, Outputs}

/** A job is in-process Spark work: the reference submits PySpark
  * steps to an EMR cluster per output (Stage.scala:157); here
  * `make(output)` returns a function run on the shared session, with
  * bounded parallelism standing in for the ≤N concurrent clusters.
  */
trait SparkJob {
  def run(spark: SparkSession, env: JobEnv): Unit
}

object SparkJob {
  def apply(f: (SparkSession, JobEnv) => Unit): SparkJob = (s, e) => f(s, e)
}

/** One unit of the pipeline: discovers inputs from `sources`, maps
  * them to named outputs via `rules`, diffs against the runs table,
  * and builds each stale output (reference: Stage.scala).
  */
abstract class Stage(implicit val context: Context) {

  /** Where this stage's inputs come from. */
  def sources: Seq[Input.Source]

  /** Which output(s) each input contributes to. Inputs the rules map
    * to `Outputs.Null` are intentionally ignored; an input matched by
    * no rule aborts planning (coverage validation).
    */
  def rules: PartialFunction[Input, Outputs]

  /** Build the job for one output. */
  def make(output: String): SparkJob

  /** Callback after an output is successfully built (Stage.scala:83). */
  def success(output: String): Unit = ()

  def getName: String = getClass.getSimpleName.stripSuffix("$")

  private val resourceCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Copy a classpath resource to `<outputRoot>/resources/<method>/
    * <name>` once per stage instance and return its path, memoized —
    * the reference uploads job scripts/jars to S3 the same way
    * (Stage.scala:96-107).
    */
  def resourceUri(resource: String): String =
    resourceCache.getOrElseUpdate(resource, {
      val name = resource.substring(resource.lastIndexOf('/') + 1)
      val dest = new org.apache.hadoop.fs.Path(
        s"${context.outputRoot}/resources/${context.methodName}/$name")
      val fs = dest.getFileSystem(context.spark.sparkContext.hadoopConfiguration)
      val in = Option(getClass.getClassLoader.getResourceAsStream(resource))
        .getOrElse(throw new IllegalArgumentException(s"no such resource: $resource"))
      try {
        val out = fs.create(dest, true)
        try in.transferTo(out)
        finally out.close()
      } finally in.close()
      dest.toString
    })

  /** Map inputs to the outputs they build (reference:
    * Stage.scala:168-216). Faithful semantics:
    *   - `Named` inputs group by output name;
    *   - `All` inputs are appended to *every* named output but create
    *     none of their own;
    *   - `Null` inputs are intentionally ignored;
    *   - if any input is in no output and not ignored, planning fails
    *     with an *empty* map (not an exception);
    *   - `--only` / `--exclude` globs filter output names last.
    */
  def buildOutputMap(inputs: Seq[Input], opts: Opts): Map[String, Set[Input]] = {
    // single pass classifying every input by the rule it matched:
    // per-output groups, the shared everywhere-set, and the drops
    var byOutput = Map.empty[String, Set[Input]]
    var shared   = Set.empty[Input]
    var dropped  = Set.empty[Input]
    inputs.foreach { in =>
      rules.apply(in) match {
        case Outputs.Named(names @ _*) =>
          names.foreach(n => byOutput = byOutput.updated(n, byOutput.getOrElse(n, Set.empty) + in))
        case Outputs.All  => shared = shared + in
        case Outputs.Null => dropped = dropped + in
      }
    }

    val plan = byOutput.map { case (name, ins) => name -> (ins ++ shared) }

    // coverage validation: every input must land in some output or be
    // dropped on purpose — note an `All` input with zero named
    // outputs lands nowhere and is uncovered, same as the reference
    val landed    = plan.values.foldLeft(dropped)(_ ++ _)
    val uncovered = inputs.filterNot(landed.contains)
    if (uncovered.nonEmpty) {
      uncovered.foreach { in =>
        System.err.println(s"[${getName}] input not represented in any output: ${in.key}")
      }
      Map.empty // planning fails closed: no work at all
    } else {
      plan.filter { case (name, _) => opts.selects(name) }
    }
  }

  /** The incremental planner (reference: Stage.scala:221-267): list
    * inputs, map to outputs, then per output drop inputs whose
    * recorded run timestamp is strictly after the input's version —
    * equal timestamps reprocess (`isAfter`, Stage.scala:256).
    */
  def getWork(opts: Opts): Map[String, Set[Input]] = {
    val lastOutputs =
      if (opts.reprocess()) Seq.empty else context.runs.of(getName)

    val inputs    = sources.flatMap(_.inputs(context.inputRoot)(context.spark))
    val outputMap = buildOutputMap(inputs, opts)

    if (opts.showInputs()) inputs.foreach(i => println(s"...found input ${i.key}"))

    // the stage's run rows by `(output, input)`, unique within a stage
    // (the runs table's key)
    val built = lastOutputs.iterator.map(r => (r.output, r.input) -> r.timestamp).toMap

    val updatedOutputMap = outputMap.map { case (output, ins) =>
      output -> ins.filterNot(input => built.get((output, input.key)).exists(_.isAfter(input.version)))
    }

    updatedOutputMap.filter { case (_, ins) => ins.nonEmpty }
  }

  /** Record what was built (reference: Stage.scala:269-276) in 2
    * commits whatever the output count: 1 `runs` upsert of every
    * output's inputs, then 1 `runstatus` update ending them all.
    */
  def insertRuns(outputs: Map[String, Set[Input]]): Unit = {
    context.runs.insert(getName, outputs.toSeq: _*)
    context.runStatus.end(getName, outputs.keys.toSeq: _*)
  }

  /** Log the work that would run; true if any (Stage.scala:282-295). */
  def showWork(opts: Opts): Boolean = {
    val outputMap = getWork(opts)
    if (outputMap.isEmpty) println(s"Stage $getName is up to date.")
    else outputMap.foreach { case (o, ins) =>
      println(s"Output $o has ${ins.size} new/updated inputs")
    }
    outputMap.nonEmpty
  }

  /** Build every stale output with ≤ `--clusters` in flight
    * (reference: Stage.scala:110-162 provisions ≤N EMR clusters; here
    * a bounded pool shares the SparkSession — the scheduler
    * interleaves the jobs' stages across executors).
    *
    * The ledger sees 1 commit before dispatch (every output started)
    * and, via [[insertRuns]], 2 after all jobs succeed. A failed job
    * writes no `runs` row and leaves every output started, not ended.
    * The call returns only once every job has ended, so a failed run
    * leaves no sibling job still writing; it then rethrows the first
    * failure (in output order).
    */
  def processOutputs(outputMap: Map[String, Set[Input]], opts: Opts): Unit = {
    val outputs = outputMap.keys.toList.sorted
    context.runStatus.begin(getName, outputs: _*)

    val jobs = outputs.map { output =>
      val job: Callable[Unit] = () => {
        val env = JobEnv(
          project = context.project,
          method = context.methodName,
          stage = getName,
          output = output,
          inputRoot = context.inputRoot,
          outputRoot = context.outputRoot,
          prefix = context.outPrefix,
          dryRun = opts.dryRun()
        )
        make(output).run(context.spark, env)
      }
      job
    }
    val pool = Executors.newFixedThreadPool(math.min(opts.clusters(), math.max(outputs.size, 1)))
    val results =
      try pool.invokeAll(jobs.asJava).asScala
      finally pool.shutdown()
    results.foreach { r =>
      try r.get()
      catch { case e: ExecutionException => throw e.getCause }
    }
    outputs.foreach(success)
  }

  /** Run the stage (reference: Stage.scala:298-318). */
  def run(opts: Opts): Unit = {
    getWork(opts) match {
      case outputMap if outputMap.isEmpty => ()
      case outputMap if opts.insertRuns() =>
        context.runStatus.begin(getName, outputMap.keys.toSeq: _*)
        insertRuns(outputMap)
        outputMap.keys.foreach(success)
      case outputMap =>
        processOutputs(outputMap, opts)
        if (!opts.noInsertRuns()) insertRuns(outputMap)
    }
  }
}
