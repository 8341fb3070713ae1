package graft.pipeline

import java.net.URI
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.SpecBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.stage.{Context, JobEnv, Opts}

/** End-to-end: synthetic variant JSON → method run → per-ancestry
  * weighted frequencies, checked against the independent SQL form of
  * the weighted mean (`sum(x*n)/sum(n)`), plus incremental no-op on
  * rerun. This is the SURVEY §7 step-6 "minimum end-to-end slice".
  * The other cases pin the scoped read (each output reads only the
  * part files of its own inputs, in at most 2 Spark jobs, and an
  * ancestry without rows has no output) and N, read on the driver.
  */
final class FrequencyAnalysisSpec extends SparkTestBase {

  private def write(root: String, key: String, lines: Seq[String]): Unit = {
    val p = Paths.get(root, key)
    Files.createDirectories(p.getParent)
    Files.write(p, lines.mkString("\n").getBytes)
  }

  private def variant(varId: String, ds: String, anc: String, pheno: String,
                      eaf: String, maf: String): String =
    s"""{"varId":"$varId","dataset":"$ds","ancestry":"$anc","phenotype":"$pheno","eaf":$eaf,"maf":$maf}"""

  private def metadata(root: String, ds: String, anc: String, samples: Int): Unit =
    write(root, s"variants/$ds/$anc/metadata",
      Seq(s"""{"name":"$ds","samples":$samples,"ancestry":"$anc"}"""))

  private def context(root: String) = new Context(
    "frequencyanalysis", "frequencyanalysis", spark, root, root, s"$root/.graft")

  private def varIds(root: String, ancestry: String): Set[String] =
    spark.read.json(s"$root/out/frequencyanalysis/$ancestry")
      .collect().map(_.getAs[String]("varId")).toSet

  test("frequency analysis end-to-end with incremental rerun") {
    val root = tmpDir("freq-spec")

    // dataset d1 (N=100): two traits → eaf averaged across traits first
    write(root, "variants/d1/EU/part-00000", Seq(
      variant("v1", "d1", "EU", "t2d", "0.10", "0.10"),
      variant("v1", "d1", "EU", "bmi", "0.30", "0.30"),
      variant("v2", "d1", "EU", "t2d", "NaN", "0.25"),
      variant("v3", "d1", "EU", "t2d", "null", "0.40")
    ))
    write(root, "variants/d1/EU/metadata",
      Seq("""{"name":"d1","samples":100,"ancestry":"EU"}"""))

    // dataset d2 (N=300): one trait
    write(root, "variants/d2/EU/part-00000", Seq(
      variant("v1", "d2", "EU", "t2d", "0.50", "0.50"),
      variant("v2", "d2", "EU", "t2d", "0.20", "0.20")
    ))
    write(root, "variants/d2/EU/metadata",
      Seq("""{"name":"d2","samples":300,"ancestry":"EU"}"""))

    // a second ancestry in its own dataset dir
    write(root, "variants/d3/AF/part-00000", Seq(
      variant("v9", "d3", "AF", "t2d", "0.40", "0.40")
    ))
    write(root, "variants/d3/AF/metadata",
      Seq("""{"name":"d3","samples":50,"ancestry":"AF"}"""))

    // run the whole method for real
    FrequencyAnalysisMethod.runWith(spark, root, Seq("--yes"))

    val eu = spark.read.json(s"$root/out/frequencyanalysis/EU")
    val byVar = eu.collect().map(r =>
      r.getAs[String]("varId") -> (r.getAs[Any]("eaf"), r.getAs[Any]("maf"))).toMap

    // v1: eaf d1 = avg(0.1,0.3)=0.2 (N=100), d2 = 0.5 (N=300)
    //     weighted = (0.2*100 + 0.5*300)/400 = 0.425
    assert(math.abs(byVar("v1")._1.asInstanceOf[Double] - 0.425) < 1e-12)
    assert(math.abs(byVar("v1")._2.asInstanceOf[Double] - 0.425) < 1e-12)

    // v2: eaf — NaN filtered from d1, so only d2: 0.2
    //     maf — (0.25*100 + 0.2*300)/400 = 0.2125
    assert(math.abs(byVar("v2")._1.asInstanceOf[Double] - 0.2) < 1e-12)
    assert(math.abs(byVar("v2")._2.asInstanceOf[Double] - 0.2125) < 1e-12)

    // v3: eaf null in its only dataset → left-outer keeps row, eaf null
    assert(byVar("v3")._1 == null)
    assert(math.abs(byVar("v3")._2.asInstanceOf[Double] - 0.40) < 1e-12)

    // second ancestry written separately
    val af = spark.read.json(s"$root/out/frequencyanalysis/AF")
    assert(af.count() == 1)

    // UDAF result equals the SQL weighted-mean form (AGG-3 cross-check)
    // with N from Spark's own read of the markers, not the driver's
    val vars = FrequencyAnalysis.readVariants(spark, root, "EU")
    val n = spark.read.schema("name STRING, samples BIGINT").json(s"$root/variants/*/*/metadata")
      .groupBy(col("name").as("dataset")).agg(max("samples").as("n"))
    val sqlForm = vars
      .filter(col("ancestry") === "EU" && col("eaf").isNotNull && !isnan(col("eaf")))
      .groupBy(col("varId"), col("dataset")).agg(avg("eaf").as("eaf"))
      .join(n, Seq("dataset"))
      .groupBy(col("varId"))
      .agg((sum(col("eaf") * col("n")) / sum(col("n"))).as("eaf"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(sqlForm("v1") - byVar("v1")._1.asInstanceOf[Double]) < 1e-12)

    // rerun: incremental planner reports nothing to do
    val stage = new FrequencyAnalysisStage()(context(root))
    assert(stage.getWork(new Opts(Seq("--yes"))).isEmpty)
  }

  /** Three ancestries over two datasets, plus one row filed under
    * `d1/EU/` whose `ancestry` column says AF.
    */
  private def scopedCorpus(): String = {
    val root = tmpDir("freq-scoped")
    for ((ds, n) <- Seq("d1" -> 100, "d2" -> 300); anc <- Seq("EU", "AF", "SA")) {
      for (p <- 0 until 2) write(root, s"variants/$ds/$anc/part-0000$p",
        (0 until 20).map(i => variant(s"v$i", ds, anc, s"t$p", s"0.${i % 9 + 1}", s"0.${i % 5 + 1}")))
      metadata(root, ds, anc, n)
    }
    write(root, "variants/d1/EU/part-00002", Seq(variant("stray", "d1", "AF", "t2d", "0.9", "0.4")))
    root
  }

  private def realPath(p: Path): String = p.toRealPath().toString

  test("scoped read: each output reads exactly the part files under its own inputs' dirnames") {
    val root = scopedCorpus()
    val stage = new FrequencyAnalysisStage()(context(root))
    val plan = stage.buildOutputMap(stage.sources.flatMap(_.inputs(root)(spark)), new Opts(Seq("--yes")))
    assert(plan.keySet == Set("EU", "AF", "SA"))
    plan.foreach { case (output, inputs) =>
      val expected = inputs.flatMap { in =>
        Files.list(Paths.get(root, in.dirname)).iterator().asScala
          .filter(_.getFileName.toString.startsWith("part-")).map(realPath)
      }
      val read = FrequencyAnalysis.readVariants(spark, root, output).inputFiles
        .map(f => realPath(Paths.get(new URI(f)))).toSet
      assert(read == expected, s"output $output")
    }
  }

  test("a row whose ancestry disagrees with its directory lands in neither output") {
    // The decision: an output is built from its own inputs only, so the
    // AF-labelled row under d1/EU/ is filtered out of EU by its column
    // and never read by AF. Touching d1/EU marks only EU stale, so an
    // AF output that read it would depend on an input the planner does
    // not track for AF.
    val root = scopedCorpus()
    FrequencyAnalysisMethod.runWith(spark, root, Seq("--yes"))
    assert(varIds(root, "EU") == (0 until 20).map(i => s"v$i").toSet)
    assert(varIds(root, "AF") == (0 until 20).map(i => s"v$i").toSet)
  }

  test("an ancestry whose inputs hold no rows has no output, cold and on a rebuild") {
    val root = tmpDir("freq-empty")
    def out(ancestry: String): Path = Paths.get(root, "out", "frequencyanalysis", ancestry)
    write(root, "variants/d1/EU/part-00000", Seq(variant("v1", "d1", "EU", "t2d", "0.1", "0.1")))
    metadata(root, "d1", "EU", 100)
    // a dataset of SA with a metadata marker and no part file
    metadata(root, "d2", "SA", 200)
    write(root, "variants/d3/NA/part-00000", Seq(variant("v2", "d3", "NA", "t2d", "0.2", "0.2")))
    metadata(root, "d3", "NA", 50)

    FrequencyAnalysisMethod.runWith(spark, root, Seq("--yes"))
    assert(Files.exists(out("EU")) && Files.exists(out("NA")))
    assert(!Files.exists(out("SA")))

    // NA's only input loses its rows: the rebuild removes the output
    // it would have replaced
    write(root, "variants/d3/NA/part-00000", Seq.empty)
    metadata(root, "d3", "NA", 50)
    val stage = new FrequencyAnalysisStage()(context(root))
    assert(stage.getWork(new Opts(Seq("--yes"))).keySet == Set("NA"))
    FrequencyAnalysisMethod.runWith(spark, root, Seq("--yes"))
    assert(!Files.exists(out("NA")))
    assert(Files.exists(out("EU")) && !Files.exists(out("SA")))
  }

  test("one output's job runs at most 2 Spark jobs and reads less than the corpus") {
    val root = scopedCorpus()
    val corpusBytes = Files.walk(Paths.get(root, "variants")).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum
    val stage = new FrequencyAnalysisStage()(context(root))
    val env = JobEnv("frequencyanalysis", "frequencyanalysis", stage.getName, "EU",
      root, root, "out", dryRun = false)

    // every job and task between two drained listener-bus points, as
    // in ann.JobCountSpec: suites run one at a time in the test JVM
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val bytesRead = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => bytesRead.addAndGet(m.inputMetrics.bytesRead))
    }
    SpecBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      stage.make("EU").run(spark, env)
      SpecBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    info(s"EU: ${jobs.get} jobs, ${bytesRead.get} of $corpusBytes corpus bytes read")
    assert(jobs.get <= 2, s"ran ${jobs.get} jobs")
    assert(bytesRead.get > 0 && bytesRead.get < corpusBytes, s"read ${bytesRead.get} of $corpusBytes bytes")
    assert(varIds(root, "EU").size == 20)
  }

  /** `body`'s result and the WARN-or-worse events that Spark's
    * `FileStreamSink` logged while it ran, kept off the console; that
    * logger warns, with a stack trace, whenever a read's single path
    * is a glob.
    */
  private def sinkWarnings[A](body: => A): (A, Seq[String]) = {
    val name   = classOf[FileStreamSink].getName
    val logger = LogManager.getLogger(name).asInstanceOf[CoreLogger]
    val level  = logger.getLevel
    val seen   = new ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("freq-spec-sink", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN)) seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    Configurator.setLevel(name, Level.WARN)
    logger.addAppender(appender)
    logger.setAdditive(false)
    try {
      val out = body
      (out, seen.asScala.toList)
    } finally {
      logger.setAdditive(true)
      logger.removeAppender(appender)
      Configurator.setLevel(name, level)
      appender.stop()
    }
  }

  test("N is the max samples over a dataset's markers, read on the driver; a dataset without one is dropped") {
    val root = tmpDir("freq-n")
    write(root, "variants/d1/EU/part-00000", Seq(
      variant("v1", "d1", "EU", "t2d", "0.2", "0.2"),
      // dx has no metadata marker anywhere: its rows carry no weight
      variant("v1", "dx", "EU", "t2d", "0.9", "0.9"),
      variant("orphan", "dx", "EU", "t2d", "0.5", "0.5")))
    metadata(root, "d1", "EU", 100)
    // d1's second marker, under another ancestry, holds the larger N
    write(root, "variants/d1/AF/part-00000", Seq(variant("v7", "d1", "AF", "t2d", "0.1", "0.1")))
    metadata(root, "d1", "AF", 400)
    write(root, "variants/d2/EU/part-00000", Seq(variant("v1", "d2", "EU", "t2d", "0.6", "0.6")))
    metadata(root, "d2", "EU", 300)

    val (n, jobs) = SpecBus.jobs(spark.sparkContext)(FrequencyAnalysis.readSamples(spark, root))
    assert(n == Map("d1" -> 400L, "d2" -> 300L))
    assert(jobs == 0, s"readSamples ran $jobs Spark jobs")

    // the logger does catch a glob read: Spark's own read of the markers
    val (_, globWarnings) = sinkWarnings(spark.read.json(s"$root/variants/*/*/metadata").count())
    assert(globWarnings.nonEmpty)

    val stage = new FrequencyAnalysisStage()(context(root))
    val env = JobEnv("frequencyanalysis", "frequencyanalysis", stage.getName, "EU",
      root, root, "out", dryRun = false)
    val (_, warnings) = sinkWarnings(stage.make("EU").run(spark, env))
    assert(warnings.isEmpty, warnings.mkString("\n"))

    val eu = spark.read.json(s"$root/out/frequencyanalysis/EU").collect()
    assert(eu.map(_.getAs[String]("varId")).toSet == Set("v1"))
    // (0.2*400 + 0.6*300) / 700
    assert(math.abs(eu.head.getAs[Double]("eaf") - 260.0 / 700) < 1e-12)
    assert(math.abs(eu.head.getAs[Double]("maf") - 260.0 / 700) < 1e-12)
  }
}
