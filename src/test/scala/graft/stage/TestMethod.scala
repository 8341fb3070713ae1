package graft.stage

import org.apache.spark.sql.SparkSession

import graft.core.{Input, Outputs}

/** Spec fixture method: two ingest channels — service metrics and
  * service logs — each mapping an input to the output named by the
  * captured service, with everything else (e.g. shared config)
  * feeding every output via `Outputs.All`. Exercises the same rule
  * surface the reference's test harness does (TestMethod.scala:5-30)
  * over a different domain.
  */
object TestMethod extends Method {

  class TestStage(implicit context: Context) extends Stage {
    val metricsSrc: Input.Source = Input.Source("metrics/*/", "*")
    val logsSrc: Input.Source    = Input.Source("logs/*/", "*")

    override val sources: Seq[Input.Source] = Seq.empty

    override def make(output: String): SparkJob = (_, _) => ()

    override val rules: PartialFunction[Input, Outputs] = {
      case metricsSrc(service, _) => Outputs.Named(service)
      case logsSrc(service, _)    => Outputs.Named(service)
      case _                      => Outputs.All
    }

    override def getName: String = "TestStage"
  }

  override def initStages(implicit context: Context): Unit =
    addStage(new TestStage)

  def context(spark: SparkSession, root: String): Context =
    new Context(
      project = "test",
      methodName = getName,
      spark = spark,
      inputRoot = root,
      outputRoot = root,
      runsRoot = s"$root/.graft"
    )
}
