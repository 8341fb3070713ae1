package methodbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.core.Input
import graft.pipeline.{FrequencyAnalysisMethod, FrequencyAnalysisStage}
import graft.stage.{Context, Method, Opts, SparkJob}

/** `FrequencyAnalysisStage` with its own calls wrapped in timers: the
  * dispatch of stale outputs, each output's job and the ledger
  * commit. Each job runs under [[SparkCounter.JobTag]], so its Spark
  * input is counted apart from the ledger's. Behaviour is the
  * parent's; only clocks and the tag are added.
  */
final class TracedStage(trace: StageTrace)(implicit context: Context) extends FrequencyAnalysisStage {

  override def processOutputs(outputMap: Map[String, Set[Input]], opts: Opts): Unit = {
    trace.dispatchStart.set(System.nanoTime)
    super.processOutputs(outputMap, opts)
  }

  override def make(output: String): SparkJob = {
    val job = super.make(output)
    SparkJob { (spark, env) =>
      val t0 = System.nanoTime
      trace.firstJobStart.compareAndSet(0, t0)
      spark.sparkContext.setLocalProperty(SparkCounter.JobTag, output)
      try job.run(spark, env)
      finally {
        spark.sparkContext.setLocalProperty(SparkCounter.JobTag, null)
        trace.jobNs.updateAndGet(_ :+ (System.nanoTime - t0))
      }
    }
  }

  override def insertRuns(outputs: Map[String, Set[Input]]): Unit = {
    val t0 = System.nanoTime
    try super.insertRuns(outputs)
    finally trace.commitNs.addAndGet(System.nanoTime - t0)
  }
}

/** `FrequencyAnalysisMethod` running a [[TracedStage]]. */
final class TracedMethod(trace: StageTrace) extends Method {
  override def getName: String = FrequencyAnalysisMethod.getName
  override def initStages(implicit context: Context): Unit = addStage(new TracedStage(trace))
}

/** Per-operation samples of one run, in the order they were taken. */
final class Samples {
  private val byName = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def add(name: String, v: Double): Unit = byName.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def get(name: String): Seq[Double] = byName.get(name).fold(Seq.empty[Double])(_.toSeq)

  def median(name: String): Double = Samples.median(get(name))

  /** Median of the second half of the samples over that of the first. */
  def drift(name: String): Double = {
    val xs = get(name)
    Samples.median(xs.drop(xs.size / 2)) / Samples.median(xs.take(xs.size / 2))
  }

  def series: Seq[(String, Seq[Double])] = byName.toSeq.map { case (k, v) => k -> v.toSeq }
}

object Samples {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** One run of a frequency-analysis workload in a warm session.
  *
  * Set-up: generate the inputs, build every output cold, then one
  * untimed no-op. Measurement: cycles of touch → refresh → two
  * no-ops, and in traced runs full reprocesses after the last cycle.
  * Every operation is checked: the outputs it rebuilt must be exactly
  * the stale ones, and each rebuilt output must equal the benchmark's
  * reference computation.
  */
final class FreqBench(spark: SparkSession, work: Path, shape: Shape, seed: Long) {

  private val stageName = "FrequencyAnalysisStage"
  private val counter   = new SparkCounter(spark.sparkContext)
  private val trace     = new StageTrace
  private val plain     = FrequencyAnalysisMethod
  private val tracedM   = new TracedMethod(trace)

  val samples            = new Samples
  var attempted, failed = 0
  var peakHeapMb        = Double.NaN

  private var variants: Variants = _
  private def root: String       = variants.root.toString

  private def seconds(ns: Long): Double = ns / 1e9

  private def fail(what: String): Unit = {
    failed += 1
    System.err.println(s"methodbench: FAILED $what")
  }

  def generate(): Unit = {
    variants = new Variants(work.resolve("root"), shape, seed)
    variants.writeAll()
  }

  /** Build every output cold, then check them. */
  def coldBuild(): Unit = {
    plain.runWith(spark, root, Seq("--yes"))
    val bad = variants.ancestries.filterNot(variants.outputMatches)
    if (bad.nonEmpty) throw new IllegalStateException(s"cold build outputs differ from the reference: $bad")
  }

  private def probeContext =
    new Context(plain.getName, plain.getName, spark, root, root, s"$root/.graft")

  private def ledgerVersion(ctx: Context): Long =
    Seq(ctx.runs.table, ctx.runStatus.table).map(_.versions.lastOption.getOrElse(0L)).sum

  /** Time the layers' public read paths ahead of an operation:
    * listing, the ledger read and the whole plan. Returns the number
    * of stale outputs the planner sees.
    */
  private def probeLayers(opts: Seq[String], timed: Boolean): Int = {
    def add(name: String, v: Double): Unit = if (timed) samples.add(name, v)
    val ctx   = probeContext
    val stage = new FrequencyAnalysisStage()(ctx)
    val e0    = Listing.entries.get
    var t0    = System.nanoTime
    val inputs = stage.sources.map(_.inputs(ctx.inputRoot)(spark).size).sum
    add("core.list_s", seconds(System.nanoTime - t0))
    add("core.inputs", inputs)
    add("core.files_listed", Listing.entries.get - e0)
    t0 = System.nanoTime
    ctx.runs.of(stageName)
    add("runs.read_s", seconds(System.nanoTime - t0))
    t0 = System.nanoTime
    val stale = stage.getWork(new Opts(opts)).size
    add("stage.plan_s", seconds(System.nanoTime - t0))
    stale
  }

  /** Run the method once and check it: `rebuilt` is every output the
    * operation must rebuild, `timed` names the sample it records.
    */
  private def operation(phase: String, opts: Seq[String], rebuilt: Set[String], timed: Boolean,
                        withTrace: Boolean): Unit = {
    val stale = if (withTrace) probeLayers(opts, timed) else -1
    if (withTrace && stale != rebuilt.size) fail(s"$phase: planner saw $stale stale outputs, expected ${rebuilt.size}")
    val ctx     = if (withTrace) Some(probeContext) else None
    val v0      = ctx.map(ledgerVersion)
    val stamps0 = variants.outputStamps()
    trace.reset()
    val c0 = counter.snapshot()
    val t0 = System.nanoTime
    val ok =
      try { (if (withTrace) tracedM else plain).runWith(spark, root, opts); true }
      catch { case NonFatal(e) => e.printStackTrace(); false }
    val dt = seconds(System.nanoTime - t0)
    val c  = counter.snapshot() - c0
    attempted += 1
    val stamps1 = variants.outputStamps()
    val changed = stamps1.keySet.filter(a => !stamps0.get(a).contains(stamps1(a)))
    if (!ok) fail(s"$phase threw")
    else if (changed != rebuilt) fail(s"$phase rebuilt ${changed.toSeq.sorted}, expected ${rebuilt.toSeq.sorted}")
    else rebuilt.filterNot(variants.outputMatches).foreach(a => fail(s"$phase: output $a differs from the reference"))
    if (timed) {
      samples.add(if (withTrace) s"trace.${phase}_s" else s"${phase}_s", dt)
      if (withTrace) recordTrace(phase, c, stale, ctx.get, v0.get)
    }
  }

  private def recordTrace(phase: String, c: SparkCounts, stale: Int, ctx: Context, v0: Long): Unit = {
    def add(name: String, v: Double): Unit = samples.add(name, v)
    add(s"spark.$phase.jobs", c.jobs.toDouble)
    add(s"spark.$phase.stages", c.stages.toDouble)
    add(s"spark.$phase.tasks", c.tasks.toDouble)
    add(s"spark.$phase.cpu_s", seconds(c.cpuNs))
    add(s"spark.$phase.gc_s", c.gcMs / 1e3)
    add(s"spark.$phase.shuffle_mb", c.shuffleBytes / 1048576.0)
    add(s"stage.$phase.outputs_stale", stale.toDouble)
    add(s"runs.$phase.commits", (ledgerVersion(ctx) - v0).toDouble)
    if (stale > 0) {
      val jobs = trace.jobNs.get
      add(s"runs.$phase.commit_s", seconds(trace.commitNs.get))
      add(s"stage.$phase.dispatch_wait_s", seconds(trace.firstJobStart.get - trace.dispatchStart.get))
      add(s"pipeline.$phase.job_s", seconds(jobs.sum))
      add(s"pipeline.$phase.job_max_s", seconds(jobs.max))
      add(s"pipeline.$phase.input_mb", c.jobInputBytes / 1048576.0 / stale)
    }
  }

  /** One touch → refresh → no-op cycle. */
  def cycle(c: Int, timed: Boolean, withTrace: Boolean): Unit = {
    val touched = variants.touch(c)
    operation("refresh", Seq("--yes"), touched, timed, withTrace)
    // a no-op is short, so two per cycle give its median more samples
    for (_ <- 1 to 2) operation("noop", Seq("--yes"), Set.empty, timed, withTrace)
    // the retained heap grows with the session's history, so its peak
    // is read once, after the same work in every run: set-up and three
    // timed cycles
    if (c == 2) peakHeapMb = Heap.retainedMb()
  }

  /** An untimed no-op: the cold build ran every other path once. */
  def warmUp(): Unit = operation("noop", Seq("--yes"), Set.empty, timed = false, withTrace = false)

  /** One traced full reprocess of every output. */
  def rebuild(): Unit =
    operation("rebuild", Seq("--reprocess", "--yes"), variants.ancestries.toSet, timed = true, withTrace = true)

  def inputShape: (Long, Long, Long) = variants.size()
}

object Main {

  val Workloads: Map[String, Shape] = Map(
    "freq_heavy" -> Shape(variants = 3000, parts = 1),
    "freq_wide"  -> Shape(variants = 20, parts = 2))

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(name)
    require(i >= 0 && i + 1 < args.length, s"missing $name")
    args(i + 1)
  }

  /** Args: `--workload W --seed N --seconds S --trace 0|1 --work DIR
    * --start-ms EPOCH_MS --result FILE`. `--start-ms` is when the
    * benchmark process started; set-up time counts from it.
    */
  def main(args: Array[String]): Unit = {
    val shape   = Workloads(arg(args, "--workload"))
    val seed    = arg(args, "--seed").toLong
    val budget  = arg(args, "--seconds").toDouble
    val traced  = arg(args, "--trace") == "1"
    val work    = Paths.get(arg(args, "--work"))
    val startMs = arg(args, "--start-ms").toLong
    val cpus    = Runtime.getRuntime.availableProcessors

    // traced runs count what the program's listings enumerate
    if (traced) System.setProperty("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val spark = graft.GraftSession.build("methodbench", s"local[$cpus]", cpus.toString)
    try {
      val fs = new org.apache.hadoop.fs.Path(work.toString).getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(!traced || fs.isInstanceOf[CountingFileSystem], s"traced run lists through ${fs.getClass.getName}")
      val bench  = new FreqBench(spark, work, shape, seed)
      val phases = mutable.ArrayBuffer("session" -> System.currentTimeMillis)
      bench.generate()
      phases += "generate" -> System.currentTimeMillis
      bench.coldBuild()
      phases += "cold_build" -> System.currentTimeMillis
      bench.warmUp()
      phases += "warm_up" -> System.currentTimeMillis
      val setupS = (System.currentTimeMillis - startMs) / 1e3
      val starts = startMs +: phases.map(_._2)
      System.err.println("methodbench: setup " + phases.zip(starts).map {
        case ((name, end), begin) => f"$name=${(end - begin) / 1e3}%.2fs"
      }.mkString(" "))

      // Timed cycles until the budget is spent. A traced run traces
      // every other cycle and leaves the rest untraced, so both see the
      // same history and their difference is the tracing overhead; it
      // then reprocesses every output three times.
      val t0 = System.nanoTime
      var i  = 0
      while ((System.nanoTime - t0) / 1e9 < budget || i < minCycles(traced)) {
        bench.cycle(i, timed = true, withTrace = traced && i % 2 == 0)
        i += 1
      }
      if (traced) for (_ <- 1 to 3) bench.rebuild()
      val s = bench.samples
      s.add("setup_s", setupS)
      s.series.foreach { case (k, v) => System.err.println(s"methodbench: $k ${v.map(x => f"$x%.4f").mkString(" ")}") }

      val metrics: Seq[(String, Double)] =
        if (!traced) Seq(
          "setup_s"      -> setupS,
          "peak_heap_mb" -> bench.peakHeapMb,
          "refresh_s"    -> s.median("refresh_s"),
          "noop_s"       -> s.median("noop_s"))
        else {
          def m(n: String) = s.median(n)
          PerLayer.map(n => n -> m(n)) ++ Seq(
            "trace.refresh_overhead_s" -> (m("trace.refresh_s") - m("refresh_s")),
            "drift.refresh"            -> s.drift("refresh_s"),
            "drift.noop"               -> s.drift("noop_s"),
            // shares of a traced operation's time spent in one layer
            "share.refresh.job"        -> m("pipeline.refresh.job_max_s") / m("trace.refresh_s"),
            "share.refresh.ledger"     ->
              (m("runs.refresh.commit_s") + m("stage.refresh.dispatch_wait_s")) / m("trace.refresh_s"),
            "share.noop.list"          -> m("core.list_s") / m("trace.noop_s"),
            "share.noop.ledger_read"   -> m("runs.read_s") / m("trace.noop_s"))
        }
      val missing = metrics.collect { case (n, v) if v.isNaN || v.isInfinite => n }
      require(missing.isEmpty, s"no samples for ${missing.mkString(", ")}")
      val (files, rows, bytes) = bench.inputShape
      System.err.println(s"methodbench: inputs files=$files rows=$rows bytes=$bytes")
      val body = metrics.map { case (n, v) => s""""$n":{"value":$v,"unit":"${unitOf(n)}"}""" }.mkString(",")
      val json =
        s"""{"correct":${bench.failed == 0},"attempted":${bench.attempted},"failed":${bench.failed},"metrics":{$body}}"""
      Files.write(Paths.get(arg(args, "--result")), json.getBytes(UTF_8))
    } finally spark.stop()
  }

  /** Timed cycles of a run, at least: every end-to-end median has
    * five refreshes behind it, and a traced run traces three of its
    * six.
    */
  def minCycles(traced: Boolean): Int = if (traced) 6 else 5

  /** Per-layer metrics of a traced run, each the median of its samples. */
  val PerLayer: Seq[String] =
    Seq("core.list_s", "core.inputs", "core.files_listed", "runs.read_s", "stage.plan_s") ++
      Seq("refresh", "rebuild").flatMap(p => Seq(
        s"stage.$p.outputs_stale", s"stage.$p.dispatch_wait_s", s"runs.$p.commit_s", s"runs.$p.commits",
        s"pipeline.$p.job_s", s"pipeline.$p.job_max_s", s"pipeline.$p.input_mb", s"spark.$p.shuffle_mb")) ++
      // task GC time is often exactly 0 for the small refresh; the
      // full reprocess gives a reading every run
      Seq("spark.rebuild.gc_s") ++
      Seq("refresh", "noop", "rebuild").flatMap(p => Seq(
        s"spark.$p.jobs", s"spark.$p.stages", s"spark.$p.tasks", s"spark.$p.cpu_s", s"trace.${p}_s"))

  private def unitOf(name: String): String =
    if (name.endsWith("_s")) "s" else if (name.endsWith("_mb")) "MB"
    else if (name.startsWith("drift.") || name.startsWith("share.")) "ratio" else "count"
}
