package graft.core

/** Wall-clock instrumentation for driver-side phases (the reference
  * wraps method runs the same way; Util.scala:9-21).
  */
object Stopwatch {

  /** Evaluate `body`, reporting "<label> took N ms" through `report`
    * whether or not `body` throws.
    */
  def logged[A](label: String, report: String => Unit = Console.out.println)(body: => A): A = {
    val t0 = System.nanoTime()
    var failed = true
    try {
      val value = body
      failed = false
      value
    } finally {
      val ms = (System.nanoTime() - t0) / 1000000L
      report(s"$label took $ms ms" + (if (failed) " (failed)" else ""))
    }
  }
}

/** Sizes on the local disk, for the spot-check tools' reports. */
object LocalDisk {

  /** Bytes under a local path: a file's length, or a directory's
    * files summed recursively (0 for a missing path).
    */
  def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new java.io.File(path))
  }
}

/** Partitioning helpers for compute-dense bounded relations. */
object Partitioning {

  /** Spread a compute-dense input across the session's
    * shuffle-partition count before a heavy map/sketch/broadcast-
    * product pass. Spark sizes scan splits by BYTES, but passes like
    * per-row sketching (tables × planes × dim multiplies), shingle
    * hashing (numHashes × tokens), or a broadcast nested-loop product
    * (|broadcast| × dim) cost orders of magnitude more work per byte
    * than a plain scan — a byte-small input (one parquet split, or
    * the 1-partition result of an orderBy+limit sample) serializes
    * the WHOLE pass onto one core (measured at sf0.1: v4's 2M-cosine
    * exact pair scoring ran as one 1.2 s task on a 32-core session;
    * d17's 601-table sketch emission likewise).
    *
    * A no-op whenever the input already has at least the configured
    * parallelism — at 100 TB the scan arrives with thousands of
    * splits and nothing is shuffled — so the extra exchange exists
    * exactly where it buys core-count speedup over a bounded
    * relation (guide §2.5 "input skew": one unsplittable input —
    * repartition immediately after the read). Streaming frames are
    * returned unchanged (micro-batch sources size their own
    * partitions, and the physical-plan probe below is unavailable
    * pre-materialization).
    */
  def spread(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    if (df.isStreaming) df
    else {
      val target = df.sparkSession.conf
        .get("spark.sql.shuffle.partitions", "32").toInt
      if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
    }
}
