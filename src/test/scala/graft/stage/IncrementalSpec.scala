package graft.stage

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SpecBus

import graft.SparkTestBase
import graft.core.{Input, Outputs}

/** End-to-end incremental planning over a real filesystem listing:
  * list → plan → execute → runs committed → rerun is a no-op →
  * touched input reruns exactly its output (reference:
  * Stage.scala:221-267 + §3.2 lifecycle).
  */
final class IncrementalSpec extends SparkTestBase {

  private val jobRuns = new AtomicInteger(0)

  private def writeFile(root: String, key: String): Unit = {
    val p = Paths.get(root, key)
    Files.createDirectories(p.getParent)
    Files.write(p, s"data for $key".getBytes)
  }

  /** Bump an input's version past every recorded run, then let the
    * clock move on so the next run's timestamp is strictly after it.
    */
  private def touch(root: String, key: String): Unit = {
    Thread.sleep(50)
    Files.setLastModifiedTime(
      Paths.get(root, key),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    Thread.sleep(50)
  }

  /** Latest committed version, summed over both ledger tables: the
    * number of ledger commits made so far.
    */
  private def ledgerVersion(context: Context): Long =
    Seq(context.runs.table, context.runStatus.table).map(_.versions.lastOption.getOrElse(0L)).sum

  /** Output `g` is built from the inputs `a/<g>/part-*`; the jobs of
    * the `failing` outputs throw at once, the others take `delayMs`.
    */
  private def groupStage(root: String, failing: Set[String] = Set.empty, delayMs: Long = 0)(
      implicit context: Context): Stage =
    new Stage() {
      val source = Input.Source("a/*/", "part-*")
      override val sources = Seq(source)
      override val rules: PartialFunction[Input, Outputs] = {
        case source(group, _) => Outputs.Named(group)
      }
      override def make(output: String): SparkJob = SparkJob { (_, env) =>
        if (failing(output)) throw new IllegalStateException(s"job for $output failed")
        Thread.sleep(delayMs)
        writeFile(root, s"${env.prefix}/${env.method}/${env.stage}/$output/_SUCCESS")
      }
      override def getName: String = "GroupStage"
    }

  private val groups = Seq("g1", "g2", "g3")

  test("a run commits the ledger 3 times, whatever the number of stale outputs") {
    val root = tmpDir("commits-spec")
    implicit val context: Context = TestMethod.context(spark, root)
    groups.foreach(g => writeFile(root, s"a/$g/part-1"))
    val stage = groupStage(root)
    context.runs.migrate()
    context.runStatus.migrate()

    def refresh(touched: Seq[String], flags: String*): Unit = {
      touched.foreach(g => touch(root, s"a/$g/part-1"))
      assert(stage.getWork(new Opts(Seq("--yes"))).keySet == touched.toSet)
      val v0 = ledgerVersion(context)
      stage.run(new Opts("--yes" +: flags))
      assert(ledgerVersion(context) - v0 == 3, s"commits of a run over $touched")
      assert(stage.getWork(new Opts(Seq("--yes"))).isEmpty)
      val statuses = context.runStatus.of("GroupStage")
      assert(statuses.map(_.output).toSet == groups.toSet)
      assert(statuses.forall(s => s.started.exists(st => s.ended.exists(e => !st.isAfter(e)))))
    }

    refresh(groups)         // cold build, k = 3
    refresh(Seq("g2"))      // k = 1
    refresh(groups)         // k = 3
    refresh(Seq("g3"), "--insert-runs")
  }

  test("Method.runWith of job-free outputs launches no Spark job: cold, refresh and no-op") {
    val root = tmpDir("nojob-spec")
    groups.foreach(g => writeFile(root, s"a/$g/part-1"))
    val method = new Method {
      override def getName: String = "NoopMethod"
      override def initStages(implicit context: Context): Unit = addStage(new Stage() {
        val source = Input.Source("a/*/", "part-*")
        override val sources = Seq(source)
        override val rules: PartialFunction[Input, Outputs] = {
          case source(group, _) => Outputs.Named(group)
        }
        override def make(output: String): SparkJob = (_, _) => ()
        override def getName: String = "NoopStage"
      })
    }
    // the ledger as runWith's own context sees it
    val ledger = new Context("NoopMethod", "NoopMethod", spark, root, root, s"$root/.graft")
    def run(): Int = SpecBus.jobs(spark.sparkContext)(method.runWith(spark, root, Seq("--yes")))._2
    def ended: Map[String, Option[java.time.Instant]] =
      ledger.runStatus.of("NoopStage").map(s => s.output -> s.ended).toMap

    assert(run() == 0, "cold build over a fresh ledger")
    assert(ledger.runs.of("NoopStage").map(_.output).toSet == groups.toSet)
    val cold = ended
    assert(cold.keySet == groups.toSet && cold.values.forall(_.isDefined))

    Seq("g1", "g3").foreach(g => touch(root, s"a/$g/part-1"))
    assert(run() == 0, "refresh of 2 stale outputs")
    val refreshed = ended
    assert(groups.filter(g => refreshed(g) != cold(g)) == Seq("g1", "g3"))

    val v = ledgerVersion(ledger)
    assert(run() == 0, "no-op")
    assert(ledgerVersion(ledger) == v && ended == refreshed)
  }

  test("a failed job leaves runs unchanged and every output started, not ended") {
    val root = tmpDir("fail-spec")
    implicit val context: Context = TestMethod.context(spark, root)
    groups.foreach(g => writeFile(root, s"a/$g/part-1"))
    groupStage(root).run(new Opts(Seq("--yes")))
    val before = context.runs.all().toSet

    Seq("g1", "g2").foreach(g => touch(root, s"a/$g/part-1"))
    intercept[IllegalStateException] {
      groupStage(root, failing = Set("g2")).run(new Opts(Seq("--yes")))
    }
    assert(context.runs.all().toSet == before)
    val status = context.runStatus.of("GroupStage").map(s => s.output -> s).toMap
    Seq("g1", "g2").foreach(g => assert(status(g).started.isDefined && status(g).ended.isEmpty, g))
    assert(status("g3").ended.isDefined)
  }

  test("a failed run returns only after its sibling jobs have ended") {
    val root = tmpDir("sibling-spec")
    implicit val context: Context = TestMethod.context(spark, root)
    groups.foreach(g => writeFile(root, s"a/$g/part-1"))
    intercept[IllegalStateException] {
      groupStage(root, failing = Set("g1"), delayMs = 500).run(new Opts(Seq("--yes")))
    }
    val built = groups.filter(g => Files.exists(Paths.get(root, s"out/TestMethod/GroupStage/$g/_SUCCESS")))
    assert(built == Seq("g2", "g3"))
  }

  test("resourceUri copies a classpath resource once, memoized") {
    val root = tmpDir("res-spec")
    implicit val context: Context = TestMethod.context(spark, root)
    val stage = new TestMethod.TestStage()
    val uri1  = stage.resourceUri("test_upload.txt")
    val uri2  = stage.resourceUri("test_upload.txt")
    assert(uri1 == uri2)
    assert(uri1.endsWith("resources/TestMethod/test_upload.txt"))
    val content = new String(Files.readAllBytes(
      Paths.get(new java.net.URI(uri1).getPath)))
    assert(content.contains("hello graft resource"))
    assertThrows[IllegalArgumentException](stage.resourceUri("nope.txt"))
  }

  test("source rootOverride lists from a different root") {
    val rootA = tmpDir("root-a")
    val rootB = tmpDir("root-b")
    implicit val context: Context = TestMethod.context(spark, rootA)
    writeFile(rootB, "a/foo/part-1")
    val src = Input.Source("a/*/", "part-*", rootOverride = Some(rootB))
    val listed = src.inputs(rootA)(spark)
    assert(listed.map(_.key) == Seq("a/foo/part-1"))
  }

  test("full incremental lifecycle") {
    val root = tmpDir("incr-spec")
    implicit val context: Context = TestMethod.context(spark, root)

    writeFile(root, "a/foo/part-1")
    writeFile(root, "a/foo/part-2")
    writeFile(root, "a/wow/part-1")

    val stage = new Stage() {
      val sourceA = Input.Source("a/*/", "part-*")
      override val sources = Seq(sourceA)
      override val rules: PartialFunction[Input, Outputs] = {
        case sourceA(group, _) => Outputs.Named(group)
      }
      override def make(output: String): SparkJob = SparkJob { (_, env) =>
        jobRuns.incrementAndGet()
        writeFile(root, s"${env.prefix}/${env.method}/${env.stage}/$output/_SUCCESS")
      }
      override def getName: String = "IncrStage"
    }

    context.runs.migrate()
    context.runStatus.migrate()

    // plan: two outputs (foo: 2 inputs, wow: 1 input)
    val work = stage.getWork(new Opts(Seq.empty))
    assert(work.keySet == Set("foo", "wow"))
    assert(work("foo").size == 2)
    assert(work("wow").size == 1)

    // run for real
    stage.run(new Opts(Seq("--yes")))
    assert(jobRuns.get == 2)
    assert(Files.exists(Paths.get(root, "out/TestMethod/IncrStage/foo/_SUCCESS")))
    assert(context.runs.of("IncrStage").size == 3)
    val statuses = context.runStatus.of("IncrStage")
    assert(statuses.size == 2 && statuses.forall(s => s.started.isDefined && s.ended.isDefined))

    // rerun: up to date — no work, no job invocations
    assert(stage.getWork(new Opts(Seq("--yes"))).isEmpty)
    stage.run(new Opts(Seq("--yes")))
    assert(jobRuns.get == 2)

    // touch one input (newer than the recorded run timestamps, but in
    // the past so a fresh run supersedes it): only its output is stale
    touch(root, "a/wow/part-1")
    val work2 = stage.getWork(new Opts(Seq("--yes")))
    assert(work2.keySet == Set("wow"))

    stage.run(new Opts(Seq("--yes")))
    assert(jobRuns.get == 3)
    assert(stage.getWork(new Opts(Seq("--yes"))).isEmpty)

    // --reprocess ignores the runs table entirely
    val reproc = stage.getWork(new Opts(Seq("--reprocess", "--yes")))
    assert(reproc.keySet == Set("foo", "wow"))

    // --insert-runs writes bookkeeping without running jobs
    touch(root, "a/wow/part-1")
    assert(stage.getWork(new Opts(Seq("--yes"))).keySet == Set("wow"))
    stage.run(new Opts(Seq("--yes", "--insert-runs")))
    assert(jobRuns.get == 3) // unchanged
    assert(stage.getWork(new Opts(Seq("--yes"))).isEmpty)
  }
}
