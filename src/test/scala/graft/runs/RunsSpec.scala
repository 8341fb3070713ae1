package graft.runs

import java.time.Instant
import java.time.temporal.ChronoUnit

import graft.SparkTestBase
import graft.core.Input

/** Behavior ported from reference RunsTest.scala:20-101 (upsert
  * semantics at :70-101).
  */
final class RunsSpec extends SparkTestBase {

  private lazy val runs =
    new Runs(spark, tmpDir("runs-spec") + "/runs", "test", "TestMethod")

  private val stage = "TestStage"

  // truncate to millis so round-tripped equality works (the reference
  // truncates for MySQL; parquet stores micros)
  def input(name: String): Input =
    Input(name, Instant.now.truncatedTo(ChronoUnit.MILLIS))

  test("migrate") {
    runs.migrate()
    assert(runs.all().isEmpty)
  }

  test("insert/delete - single input") {
    runs.migrate()
    runs.insert(stage, "o1" -> Seq(input("i1")))
    assert(runs.all().size == 1)
    runs.delete(stage, "o1")
    assert(runs.all().isEmpty)
  }

  test("insert/delete - multiple inputs/outputs") {
    val inputs = (1 to 6).map(_.toString).map(input)
    runs.migrate()
    runs.insert(stage, "o1" -> inputs.take(3))
    runs.insert(stage, "o2" -> inputs.drop(3))

    val results = runs.of(stage)
    assert(results.size == 6)

    val o1 = results.filter(_.output == "o1")
    val o2 = results.filter(_.output == "o2")
    val i1 = o1.map(r => Input(r.input, r.version)).toSet
    val i2 = o2.map(r => Input(r.input, r.version)).toSet
    assert(i1 == inputs.take(3).toSet)
    assert(i2 == inputs.drop(3).toSet)

    runs.delete(stage, "o1")
    runs.delete(stage, "o2")
    assert(runs.all().isEmpty)
  }

  test("update output with changed inputs (upsert)") {
    val inputs = (1 to 3).map(_.toString).map(input)
    runs.migrate()
    runs.insert(stage, "o" -> inputs)

    val i1 = runs.all().map(r => Input(r.input, r.version)).toSet
    assert(i1 == inputs.toSet)

    val newInputs = (4 to 6).map(_.toString).map(input)
    runs.insert(stage, "o" -> newInputs)
    val i2 = runs.all().map(r => Input(r.input, r.version)).toSet
    assert(i2 == (inputs ++ newInputs).toSet)

    // same keys, different versions — must replace, not duplicate
    val updatedInputs = inputs.map(i => input(i.key))
    runs.insert(stage, "o" -> updatedInputs)
    val i3 = runs.all().map(r => Input(r.input, r.version)).toSet
    assert(i3 == (newInputs ++ updatedInputs).toSet)
    assert(runs.all().size == 6)

    runs.delete(stage, "o")
    assert(runs.all().isEmpty)
  }
}
