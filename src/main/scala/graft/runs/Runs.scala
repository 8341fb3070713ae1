package graft.runs

import java.time.Instant

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.{Encoder, Encoders, SparkSession}

import graft.core.Input

/** One completed (stage input → output) record. Unique key
  * `(project, method, stage, input, output)` (reference: Runs.scala:19-27,
  * DDL runs.sql:1-12).
  */
final case class RunRow(
    project: String,
    method: String,
    stage: String,
    input: String,
    version: Instant,
    output: String,
    timestamp: Instant
)

/** Lifecycle record per stage output. Unique key
  * `(project, method, stage, output)` (reference: RunStatus.scala:8-16,
  * DDL runstatus.sql:1-12).
  */
final case class RunStatusRow(
    project: String,
    method: String,
    stage: String,
    output: String,
    started: Option[Instant],
    ended: Option[Instant],
    created: Instant
)

/** The `runs` bookkeeping table: which input versions each output was
  * last built from (reference: Runs.scala).
  */
final class Runs(spark: SparkSession, path: String, project: String, method: String) {

  private implicit val enc: Encoder[RunRow] = Encoders.product[RunRow]

  val table = new ParquetTable[RunRow](
    spark, path, Seq("project", "method", "stage", "input", "output"))

  def migrate(): Unit = table.migrate()

  def all(): Seq[RunRow] = table.all()

  /** All prior runs of a stage (reference: Runs.scala:106-116). */
  def of(stage: String): Seq[RunRow] =
    table.ds
      .filter(col("project") === project && col("method") === method &&
        col("stage") === stage)
      .collect()
      .toSeq

  /** Batch upsert of each output's inputs, all in one commit: on
    * duplicate key, the row's `version` and `timestamp` are replaced
    * (reference: Runs.scala:77-103, one output per call).
    */
  def insert(stage: String, outputs: (String, Iterable[Input])*): Unit = {
    val now = Instant.now
    table.upsert(outputs.flatMap { case (output, inputs) =>
      inputs.map(i => RunRow(project, method, stage, i.key, i.version, output, now))
    })
  }

  /** Delete all rows of one output (reference: Runs.scala:62-73). */
  def delete(stage: String, output: String): Unit =
    table.delete(
      col("project") === project && col("method") === method &&
        col("stage") === stage && col("output") === output)
}

/** The `runstatus` table: started/ended lifecycle per output, with the
  * reference's conflict-reset semantics (RunStatus.scala:63-85): an
  * insert over an existing output NULLs `started`/`ended` and
  * refreshes `created` — a MERGE with explicit NULL assignment, not a
  * plain upsert.
  */
final class RunStatus(spark: SparkSession, path: String, project: String, method: String) {

  private implicit val enc: Encoder[RunStatusRow] = Encoders.product[RunStatusRow]

  val table = new ParquetTable[RunStatusRow](
    spark, path, Seq("project", "method", "stage", "output"))

  def migrate(): Unit = table.migrate()

  def all(): Seq[RunStatusRow] = table.all()

  def of(stage: String): Seq[RunStatusRow] =
    table.ds
      .filter(col("project") === project && col("method") === method &&
        col("stage") === stage)
      .collect()
      .toSeq

  /** Insert (or conflict-reset) output rows, in one commit. */
  def insert(stage: String, outputs: String*): Unit = reset(stage, outputs, started = None)

  /** Insert (or conflict-reset) output rows already marked started, in
    * one commit: the end state of [[insert]] followed by [[start]],
    * with `started == created`.
    */
  def begin(stage: String, outputs: String*): Unit = reset(stage, outputs, Some(Instant.now))

  private def reset(stage: String, outputs: Seq[String], started: Option[Instant]): Unit = {
    val now = started.getOrElse(Instant.now)
    table.upsert(outputs.map(o => RunStatusRow(project, method, stage, o, started, None, now)))
  }

  private def keyPred(stage: String, outputs: Seq[String]) =
    col("project") === project && col("method") === method &&
      col("stage") === stage && col("output").isin(outputs: _*)

  /** Mark outputs as started, in one commit (reference:
    * RunStatus.scala:88-99, one output per call).
    */
  def start(stage: String, outputs: String*): Unit = {
    val now = Some(Instant.now)
    if (outputs.nonEmpty) table.update(keyPred(stage, outputs))(_.copy(started = now))
  }

  /** Mark outputs as ended, in one commit (reference:
    * RunStatus.scala:102-113, one output per call).
    */
  def end(stage: String, outputs: String*): Unit = {
    val now = Some(Instant.now)
    if (outputs.nonEmpty) table.update(keyPred(stage, outputs))(_.copy(ended = now))
  }

  def delete(stage: String, output: String): Unit =
    table.delete(keyPred(stage, Seq(output)))
}
