package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkTestBase
import graft.queries.Tables

final class EventsPipelineSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  // single PLAIN parquet file with the stream source's wire schema
  // (ts as nanos longs) — the file-stream source lists files, not
  // parquet directories
  private def writeRawFile(df: org.apache.spark.sql.DataFrame, dest: String): Unit = {
    val stage = dest + ".stage"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dest).getParent)
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(dest))
  }

  test("stream-read(ts) equals batch-read(ts) on the driver's actual files") {
    // THE round-9 regression, pinned at its root: the streaming source
    // must see the exact same event timeline as the batch loader on
    // whatever layout the driver currently ships. If the driver
    // regenerates the data in a new layout, THIS test names the
    // problem before 12 queries hash-mismatch downstream.
    val src = EventsPipeline.readStream(spark, sfDir, glob = "events.parquet")
    assert(src.schema("ts").dataType == org.apache.spark.sql.types.TimestampType,
      s"streamed ts arrived as ${src.schema("ts").dataType}, not the " +
      "normalized TimestampType — Tables.normalizeEventTs missed a layout")
    val q = src.select(col("event_id"), col("ts"))
      .writeStream.outputMode("append").format("memory")
      .queryName("spec_ts_parity").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    def summary(df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)), min(col("ts")).cast("string"),
        max(col("ts")).cast("string")).head.toSeq
    val s = summary(spark.table("spec_ts_parity"))
    val b = summary(Tables.events(spark, sfDir))
    assert(s == b,
      s"stream sees (count,min,max)=$s but batch sees $b — the stream " +
      "source is decoding `ts` differently than Tables.events")
  }

  test("availableNow tumbling aggregation equals the batch computation") {
    val streamed = EventsPipeline.runToCompletion(
      spark, sfDir, EventsPipeline.tumblingCounts,
      queryName = "spec_tumbling", glob = "events.parquet")

    val batch = EventsPipeline.tumblingCounts(Tables.events(spark, sfDir))

    assert(streamed.count() == batch.count())
    val s = streamed.collect().map(_.toSeq).toSet
    val b = batch.collect().map(_.toSeq).toSet
    assert(s == b)
  }

  test("stream-stream attribution join equals the batch join") {
    val streamed = EventsPipeline.runToCompletion(
      spark, sfDir, st => EventsPipeline.attributionJoin(st, st),
      queryName = "spec_attrib", glob = "events.parquet",
      outputMode = "append")

    val ev = Tables.events(spark, sfDir)
    val batch = EventsPipeline.attributionJoin(ev, ev)

    val s = streamed.collect().map(_.toSeq).toSet
    val b = batch.collect().map(_.toSeq).toSet
    assert(s == b && s.nonEmpty)
  }

  test("foreachBatch upsert sink maintains a parquet serving table across runs") {
    val tmp = tmpDir("stream-upsert")
    val table = s"$tmp/totals"
    // raw file (ts as nanos longs) — the stream source's wire schema
    val raw = spark.read.parquet(s"$sfDir/events.parquet")

    // run 1: only half the users have arrived
    writeRawFile(raw.filter(col("user_id") < 75), s"$tmp/in1/events.parquet")
    val after1 = EventsPipeline.runUpsertSink(spark, s"$tmp/in1", table,
      stateShufflePartitions = Some(4))
    assert(after1.select("user_id").distinct().count() ==
      raw.filter(col("user_id") < 75).select("user_id").distinct().count())

    // run 2: the full stream — existing keys REPLACED with new
    // totals, new keys inserted; final table equals the batch agg
    writeRawFile(raw, s"$tmp/in2/events.parquet")
    val after2 = EventsPipeline.runUpsertSink(spark, s"$tmp/in2", table,
      stateShufflePartitions = Some(4))
    val want = raw.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_value"))
    assert(after2.collect().map(_.toSeq).toSet == want.collect().map(_.toSeq).toSet)
  }

  test("checkpoint recovery: a restarted stream resumes exactly where it stopped") {
    val tmp = tmpDir("stream-ckpt")
    val table = s"$tmp/totals"; val ck = s"$tmp/ck"; val in = s"$tmp/in"
    val raw = spark.read.parquet(s"$sfDir/events.parquet")

    writeRawFile(raw.filter(col("user_id") < 75), s"$in/batch1.parquet")
    EventsPipeline.runUpsertSink(spark, in, table,
      stateShufflePartitions = Some(4), checkpoint = Some(ck))

    // DELETE the already-processed file: after this, only the
    // checkpoint (file log + aggregation state) knows batch1 ever
    // existed — a restart that failed to recover state could not
    // produce batch1's totals from the inputs on disk
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$in/batch1.parquet"))
    writeRawFile(raw.filter(col("user_id") >= 75), s"$in/batch2.parquet")
    val after = EventsPipeline.runUpsertSink(spark, in, table,
      stateShufflePartitions = Some(4), checkpoint = Some(ck))

    val want = raw.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_value"))
    assert(after.collect().map(_.toSeq).toSet == want.collect().map(_.toSeq).toSet)
  }

  test("upsert sink over an input dir with no matching files returns an empty frame") {
    val tmp = tmpDir("stream-upsert-empty")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$tmp/in"))
    // no foreachBatch ever fires, so the table path is never created —
    // the sink must hand back an empty aggregate-shaped frame, not throw
    val out = EventsPipeline.runUpsertSink(spark, s"$tmp/in", s"$tmp/totals")
    assert(out.columns.toSeq == Seq("user_id", "n_events", "sum_value"))
    assert(out.count() == 0)
  }

  test("watermarked dedup drops duplicate event ids") {
    // duplicate the stream: the same raw file twice under one dir
    // (the file-stream source lists plain files, not parquet dirs)
    val tmp = tmpDir("stream-dedup")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      java.nio.file.Paths.get(s"$tmp/a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      java.nio.file.Paths.get(s"$tmp/b.parquet"))
    val nDistinct = Tables.events(spark, sfDir).count()

    val q = EventsPipeline.dedupedStream(
        EventsPipeline.readStream(spark, tmp, glob = "*.parquet"))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("spec_dedup")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val got = spark.table("spec_dedup")
    assert(got.count() == nDistinct) // 2n rows in, n distinct ids out
    assert(got.select("event_id").distinct().count() == nDistinct)
  }

  test("session windows merge events within the gap") {
    val sessions = EventsPipeline.runToCompletion(
      spark, sfDir, EventsPipeline.sessionCounts,
      queryName = "spec_sessions", glob = "events.parquet")
    assert(sessions.count() > 0)
    // session invariant: end - start >= 0 and every session has events
    val bad = sessions.filter(col("session_end") < col("session_start") ||
      col("n_events") <= 0)
    assert(bad.isEmpty)
  }

  test("stream-stream join state plateaus: watermark cleanup evicts expired rows") {
    import spark.implicits._
    val tmp = tmpDir("stream-state-bound")

    // 16 hourly files; watermark 4h + join window 2h means live state
    // is a sliding ~6-7h band (eviction sees the watermark one batch
    // late), while cumulative input grows linearly — state must
    // plateau well below total input, and rows must be evicted along
    // the way.
    def writeRaw(hour: Int): Unit = {
      val rows = (0 until 40).map { i =>
        val typ = if (i % 2 == 0) "view" else "click"
        (hour * 1000L + i, f"2024-01-01 $hour%02d:${i % 60}%02d:00", ((i / 2) % 8).toLong, typ, 1.0, "{}")
      }
      val dest  = f"$tmp/h$hour%02d.parquet"
      val stage = dest + ".stage"
      rows.toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
        .withColumn("ts", unix_timestamp(col("ts_s")).cast("long") * 1000000000L)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(dest))
    }
    (0 until 16).foreach(writeRaw)

    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val q = try {
      val src = spark.readStream.schema(EventsPipeline.rawSchema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(tmp)
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      val joined = EventsPipeline.attributionJoin(src, src)
      val query = joined.writeStream.outputMode("append").format("memory")
        .queryName("spec_state_bound")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      query.awaitTermination()
      query
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)

    val stateProgress = q.recentProgress.toSeq
      .filter(_.stateOperators.nonEmpty)
      .map(p => (p.numInputRows, p.stateOperators.map(_.numRowsTotal).sum,
                 p.stateOperators.map(_.numRowsRemoved).sum))
    val totalInput   = stateProgress.map(_._1).sum
    val finalState   = stateProgress.last._2
    val totalRemoved = stateProgress.map(_._3).sum
    // cleanup actually fired, and live state is a bounded band, not
    // the whole stream
    assert(totalRemoved > 0, s"no state rows were ever evicted: $stateProgress")
    assert(finalState < (totalInput * 7) / 10,
      s"state ($finalState) tracks total input ($totalInput) — not bounded")
    assert(spark.table("spec_state_bound").count() > 0)
  }

  test("stream-static enrichment join carries dimension values") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val dim = (0L until 50L).map(u => (u, if (u % 2 == 0) "even" else "odd"))
      .toDF("user_id", "tier")
    val q = EventsPipeline.enriched(
        EventsPipeline.readStream(spark, sfDir, glob = "events.parquet"), dim)
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("spec_enriched").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("spec_enriched").collect()
      .map(r => Option(r.getString(0)).getOrElse("null") -> r.getLong(1)).toMap
    val batch = Tables.events(spark, sfDir).join(dim, Seq("user_id"), "left_outer")
      .groupBy(col("tier")).agg(count(lit(1)).as("n")).collect()
      .map(r => Option(r.getString(0)).getOrElse("null") -> r.getLong(1)).toMap
    assert(got == batch)
    assert(got.keySet.contains("even") && got.keySet.contains("odd"))
  }

  test("sliding windows produce more buckets than tumbling") {
    val slide = EventsPipeline.runToCompletion(
      spark, sfDir, EventsPipeline.slidingCounts,
      queryName = "spec_sliding", glob = "events.parquet")
    val tumble = EventsPipeline.runToCompletion(
      spark, sfDir, EventsPipeline.tumblingCounts,
      queryName = "spec_tumbling2", glob = "events.parquet")
    assert(slide.count() > tumble.count())
  }
}
