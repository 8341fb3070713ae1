package graft.stage

import java.time.Instant

import org.apache.spark.SpecBus

import graft.SparkTestBase
import graft.core.{Input, Outputs}

/** Behavior ported from reference StageTest.scala:33-70, plus
  * coverage-validation and only/exclude semantics
  * (Stage.scala:195-214), over the metrics/logs fixture domain.
  */
final class StageSpec extends SparkTestBase {

  private lazy implicit val context: Context =
    TestMethod.context(spark, tmpDir("stage-spec"))

  private lazy val testStage = new TestMethod.TestStage()

  def input(name: String): Input = Input(name, Instant.now)

  val apiMetrics1 = input("metrics/api/cpu")
  val apiMetrics2 = input("metrics/api/mem")
  val webLogs1    = input("logs/web/access")
  val webLogs2    = input("logs/web/error")
  val sharedConf  = input("shared/config/global")

  private val opts = new Opts(Seq.empty)

  def routesTo(in: Input, expectedOutput: String): Boolean =
    testStage.rules(in) match {
      case Outputs.Named(seq @ _*) => seq == Seq(expectedOutput)
      case _                       => false
    }

  test("input -> outputs") {
    assert(routesTo(apiMetrics1, "api"))
    assert(routesTo(apiMetrics2, "api"))
    assert(routesTo(webLogs1, "web"))
    assert(routesTo(webLogs2, "web"))
  }

  test("all outputs") {
    assert(testStage.rules(sharedConf) == Outputs.All)
  }

  test("simple (output -> inputs)") {
    val inputs    = Seq(apiMetrics1, apiMetrics2, webLogs1, webLogs2)
    val outputMap = testStage.buildOutputMap(inputs, opts)

    assert(outputMap.keys.size == 2)
    assert(outputMap.contains("api"))
    assert(outputMap.contains("web"))
    assert(outputMap("api") == Set(apiMetrics1, apiMetrics2))
    assert(outputMap("web") == Set(webLogs1, webLogs2))
  }

  test("all (output -> inputs)") {
    val inputs    = Seq(apiMetrics1, webLogs1, sharedConf)
    val outputMap = testStage.buildOutputMap(inputs, opts)

    assert(outputMap.keys.size == 2)
    assert(outputMap("api").contains(sharedConf))
    assert(outputMap("web").contains(sharedConf))
  }

  test("coverage validation failure yields empty map, not an exception") {
    // a stage whose rules ignore nothing and miss input "x/..."
    val stage = new TestMethod.TestStage() {
      override val rules: PartialFunction[Input, Outputs] = {
        case i if i.key.startsWith("metrics/") => Outputs.Named("api")
        case _                                 => Outputs.Named() // named-nothing: not ignored
      }
    }
    val outputMap = stage.buildOutputMap(Seq(apiMetrics1, input("x/unmatched")), opts)
    assert(outputMap.isEmpty)
  }

  test("Null-ignored inputs do not fail coverage") {
    val stage = new TestMethod.TestStage() {
      override val rules: PartialFunction[Input, Outputs] = {
        case i if i.key.startsWith("metrics/") => Outputs.Named("api")
        case _                                 => Outputs.Null
      }
    }
    val outputMap = stage.buildOutputMap(Seq(apiMetrics1, input("x/skipme")), opts)
    assert(outputMap == Map("api" -> Set(apiMetrics1)))
  }

  test("an Outputs.All input with no named outputs fails coverage closed") {
    val outputMap = testStage.buildOutputMap(Seq(sharedConf), opts)
    assert(outputMap.isEmpty)
  }

  test("only/exclude output filtering") {
    val inputs = Seq(apiMetrics1, webLogs1)
    val only   = testStage.buildOutputMap(inputs, new Opts(Seq("--only", "a*")))
    assert(only.keySet == Set("api"))
    val excl = testStage.buildOutputMap(inputs, new Opts(Seq("--exclude", "a*")))
    assert(excl.keySet == Set("web"))
  }

  test("runs.of reads the ledger in no Spark job") {
    context.runs.migrate()
    context.runs.insert("TestStage", "api" -> Seq(apiMetrics1, apiMetrics2), "web" -> Seq(webLogs1))
    val (rows, jobs) = SpecBus.jobs(spark.sparkContext)(context.runs.of("TestStage"))
    assert(rows.size == 3)
    assert(jobs == 0)
  }
}
