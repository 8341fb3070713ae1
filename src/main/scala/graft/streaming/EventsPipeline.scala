package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Structured Streaming surface over the `events` table shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The reference has no streaming code; this is the greenfield
  * north-star surface (SURVEY.md §2.7): file source →
  * watermark → windowed/sessionized aggregation → sink, with
  * `Trigger.AvailableNow` giving the batch-incremental semantics the
  * Stage/Runs planner provides for files (checkpoint dir = runs
  * table). In production the source line becomes
  * `readStream.format("kafka")...`; everything downstream is
  * unchanged.
  */
object EventsPipeline {

  /** Events schema with `ts` as raw nanos longs — the driver's
    * ORIGINAL layout (Spark cannot map parquet TIMESTAMP(NANOS); see
    * graft.queries.Tables). Kept as the no-files-yet fallback and for
    * specs that generate that layout; live reads infer the schema
    * from the files actually on disk (see [[readStream]]).
    */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)
  ))

  /** Events schema in the driver's CURRENT layout (`ts` as
    * TIMESTAMP_NTZ micros) — the no-files-yet fallback for streams
    * started before their first input arrives. The file source fixes
    * its schema at query start, so a stream that guessed wrong must
    * be restarted once real files land; guessing the current layout
    * (rather than the legacy nanos one) makes that the rare case.
    * TestDataLayoutSpec pins which layout the driver actually ships.
    */
  val currentSchema: StructType = StructType(
    rawSchema.fields.map {
      case StructField("ts", _, n, m) => StructField("ts", TimestampNTZType, n, m)
      case f                          => f
    })

  /** Streaming source over event parquet files under `dir` matching
    * `glob`, with `ts` normalized to TimestampType micros. The
    * file-stream source requires a directory, so callers pass the
    * containing dir plus a glob filter for the file(s).
    *
    * The file source needs an explicit schema, and hard-coding one is
    * how round 9 broke (the driver's layout moved from nanos-as-long
    * to TIMESTAMP_NTZ micros and every streamed timestamp shrank
    * 1000×): instead, take the schema from BATCH inference over the
    * same files, so the stream always sees the layout actually on
    * disk, then normalize `ts` exactly like the batch loader
    * ([[graft.queries.Tables.normalizeEventTs]]). Stream-read ≡
    * batch-read is pinned by EventsPipelineSpec on the driver's own
    * files, so the next layout change fails loudly in one place.
    */
  def readStream(spark: SparkSession, dir: String,
                 glob: String = "*.parquet",
                 maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    // set at build time by GraftSession; idempotent foreign-session fallback
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val onDisk =
      try spark.read.option("pathGlobFilter", glob).parquet(dir).schema
      catch {
        // dir exists but matches no files yet (a stream may start
        // before its first input arrives): nothing to infer from —
        // fall back to the driver's CURRENT layout (not the legacy
        // nanos one: the file source pins its schema at query start,
        // so guessing a layout the driver no longer ships would
        // guarantee a restart once files arrive)
        case _: org.apache.spark.sql.AnalysisException => currentSchema
      }
    val reader = spark.readStream.schema(onDisk).option("pathGlobFilter", glob)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n.toString))
    graft.queries.Tables.normalizeEventTs(reader.parquet(dir))
  }

  /** Tumbling 1-hour windows per event type: count + exact value sum.
    * Output column shapes match the batch/oracle form (window start
    * as `bucket_ts`).
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
      .select(col("window.start").as("bucket_ts"), col("event_type"), col("n"), col("sum_value"))

  /** Sliding windows (1 hour every 15 min) per event type. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("bucket_ts"), col("event_type"), col("n"))

  /** Session windows per user (30-minute inactivity gap). */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"))

  /** Stream-stream inner join (click attribution): each click pairs
    * with every view by the same user in the 2 hours before it.
    * Both sides carry watermarks, which is what lets Spark BOUND the
    * join state: a buffered view can stop waiting once the click
    * watermark passes `view_ts + 2 h`, so state is
    * watermark-sized, not stream-sized — the property that keeps a
    * forever-running attribution job at a fixed memory footprint.
    * The join itself shuffles both sides on `user_id` (a keyed
    * equi-join with a range residual, never a cross product).
    *
    * Works as a self-join of one source stream: the two sides are
    * derived by filtering the same input. `joinType` may be
    * "left_outer": unmatched views emit with null click columns once
    * the click watermark passes their join window — under
    * `AvailableNow` the terminal watermark advance flushes them all,
    * so the run-to-completion result equals the batch left join.
    */
  def attributionJoin(views: DataFrame, clicks: DataFrame,
                      joinType: String = "inner"): DataFrame = {
    val v = views.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "4 hours")
    val c = clicks.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "4 hours")
    v.join(c,
        col("user_id") === col("click_user") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr("INTERVAL 2 HOURS"),
        joinType)
      .select(col("view_id"), col("click_id"), col("user_id"),
        col("view_ts"), col("click_ts"))
  }

  /** Exactly-once event stream: watermarked dedup on event_id. */
  def dedupedStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-static enrichment join: each micro-batch joins against
    * the (broadcastable) static dimension — no streaming state at
    * all, the standard shape for dimension lookup at any scale.
    */
  def enriched(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim), Seq("user_id"), "left_outer")

  /** Enrichment join rolled up to per-(segment, event_type) counts and
    * exact value sums — the gated form of [[enriched]]: dimension
    * lookup per micro-batch (broadcast, no streaming state), then a
    * complete-mode aggregation whose key space is dimension-bounded
    * (segments × event types), so the memory sink holds a constant-
    * size table no matter how many events stream through. `dim` must
    * carry (user_id, c_mktsegment); events missing from the dimension
    * roll up under a NULL segment (left-outer semantics, same as the
    * batch oracle's LEFT JOIN).
    */
  def enrichedSegmentCounts(events: DataFrame, dim: DataFrame): DataFrame =
    enriched(events, dim)
      .groupBy(col("c_mktsegment").as("segment"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))

  /** Streaming MERGE sink — the "stream maintains a serving table"
    * pattern: per-user totals aggregate in update mode, and each
    * micro-batch's delta (the keys whose aggregate changed, at their
    * new values) upserts into a parquet table via `foreachBatch` +
    * [[graft.operators.Merge.upsertParquet]]. Upsert REPLACES a key
    * with its newest aggregate, so each run's table reflects that
    * run's input; pass a persistent `checkpoint` to make successive
    * runs incremental over only-new files while the aggregation
    * state carries forward (the runs-table semantics, on streams).
    * Returns the table's current contents.
    */
  def runUpsertSink(spark: SparkSession, dir: String, tablePath: String,
                    glob: String = "*.parquet",
                    stateShufflePartitions: Option[Int] = None,
                    checkpoint: Option[String] = None): DataFrame = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    stateShufflePartitions.foreach(n =>
      spark.conf.set("spark.sql.shuffle.partitions", n.toString))
    val agg = readStream(spark, dir, glob)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
    try {
      val writer = agg.writeStream
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          graft.operators.Merge.upsertParquet(batch, tablePath, Seq("user_id"))
        }
      checkpoint.foreach(writer.option("checkpointLocation", _))
      val q = writer.start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    // An input dir matching no files completes the stream without any
    // foreachBatch invocation, so the table path was never created —
    // return an empty result with the aggregate schema rather than
    // throwing path-not-found.
    val p  = new org.apache.hadoop.fs.Path(tablePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) graft.operators.Merge.readUpsertTable(spark, tablePath)
    else spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), agg.schema)
  }

  /** Run a streaming aggregation to completion over the files that
    * exist now (`Trigger.AvailableNow` + memory sink, complete mode)
    * and return the result table — the streaming analogue of the
    * Stage planner's "process everything new, then stop".
    */
  /** `stateShufflePartitions` sizes the stateful-operator partition
    * count for THIS query (captured at query start, then the session
    * conf is restored). Stateful streaming cost scales with state
    * store INSTANCES — partitions × stores-per-operator (4 for a
    * symmetric-hash stream-stream join) — each paying per-batch
    * lifecycle + commit regardless of how little state it holds, so
    * the right setting tracks live-state volume (keys in flight), not
    * the batch-scan width the session default is sized for. Measured
    * at sf0.1: the attribution join runs 7.6 s at 32 partitions vs
    * 3.1 s at 8 for identical results. A restarted production query
    * must keep this constant per checkpoint (Spark pins it in the
    * checkpoint metadata).
    */
  def runToCompletion(spark: SparkSession, dir: String,
                      agg: DataFrame => DataFrame,
                      queryName: String,
                      glob: String = "*.parquet",
                      outputMode: String = "complete",
                      stateShufflePartitions: Option[Int] = None): DataFrame = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    stateShufflePartitions.foreach(n =>
      spark.conf.set("spark.sql.shuffle.partitions", n.toString))
    try {
      val q = agg(readStream(spark, dir, glob))
        .writeStream
        .outputMode(outputMode)
        .format("memory")
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val out = spark.table(queryName)
    sanityCheckStreamedResult(spark, dir, glob, agg, out)
    out
  }

  /** Defense in depth against silent ingestion skew: a run-to-
    * completion stream over a finite file set should produce a result
    * in the same ballpark as the identical plan run in batch (under
    * AvailableNow the terminal watermark flush makes most aggs
    * exactly equal; ±2× leaves room for append-mode edge semantics).
    * Round 9's failure mode — timestamps compressed 1000×, 3,385
    * hourly windows collapsing to 10 rows — fails THIS check with a
    * readable message instead of hash-mismatching downstream.
    *
    * The batch replay is counts-only and cheap relative to the
    * streaming run (no state store), but it IS extra work, so perf
    * harnesses can opt out via `spark.graft.streamSanityCheck=false`.
    * Aggs that only exist on streams (dropDuplicatesWithinWatermark)
    * throw when replayed in batch — the check skips those.
    */
  private def sanityCheckStreamedResult(spark: SparkSession, dir: String,
                                        glob: String, agg: DataFrame => DataFrame,
                                        streamed: DataFrame): Unit = {
    val enabled = spark.conf
      .getOption("spark.graft.streamSanityCheck").forall(_.toBoolean)
    if (!enabled) return
    // Narrow catch: only the two KNOWN benign cases may disable the
    // check — no input files, or an agg that exists only on streams
    // (dropDuplicatesWithinWatermark and friends), both surfacing as
    // AnalysisException. A runtime failure of the batch replay itself
    // is a regression in the very pipeline this check guards, so it
    // propagates instead of silently disarming the check.
    val batchRows =
      try {
        val batch = graft.queries.Tables.normalizeEventTs(
          spark.read.option("pathGlobFilter", glob).parquet(dir))
        Some(agg(batch).count())
      } catch { case _: org.apache.spark.sql.AnalysisException => None }
    batchRows.foreach { b =>
      val s = streamed.count()
      // b == 0 with a non-empty streamed result is the same
      // read-divergence failure mode, not a skippable no-data case
      require(s * 2 >= b && s <= b * 2,
        s"streamed result has $s rows but the same plan in batch produces $b — " +
        "the stream source is reading the input differently than the batch " +
        "reader (most likely a data-layout change in the `ts` column; see " +
        "graft.queries.Tables.normalizeEventTs)")
    }
  }
}
