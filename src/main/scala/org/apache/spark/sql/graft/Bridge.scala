package org.apache.spark.sql.graft

import java.util.UUID

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.api.InitContext
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.spark.sql.{Column, DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.{encoderFor, ExpressionEncoder}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetReadSupport, ParquetUtils}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Column ⇄ Expression bridge. Spark 4's Column wraps a ColumnNode
  * (Connect refactor) and the converters are `private[sql]`, so
  * extension libraries expose them from inside the sql namespace —
  * the established pattern for custom-Expression packages. It also
  * holds the stat-free checkpoint leaf and the runs ledger's
  * driver-side parquet read and write.
  */
object Bridge {
  def column(e: Expression): Column    = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a hand-built logical plan (for custom operators
    * that construct their own [[LogicalPlan]] nodes); `ofRows` is
    * `private[sql]` for the same Connect-refactor reason.
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Analyzed logical plan of a DataFrame. */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.analyzed

  /** A checkpointed DataFrame's own leaf, re-wrapped without the
    * origin statistics `checkpoint` copies into it: same RDD, output,
    * partitioning, ordering and constraints, so nothing is converted
    * or recomputed and the leaf plans at the engine's default size.
    * The constraints stay: they are predicates over the leaf's own
    * columns, so they do not compound, and dropping them lets the
    * optimizer infer `isnotnull` filters on some references of a
    * self-joined leaf but not others, which breaks exchange reuse.
    */
  def statFree(ck: DataFrame): DataFrame = analyzed(ck) match {
    case r: LogicalRDD =>
      ofRows(ck.sparkSession, LogicalRDD(r.output, r.rdd, r.outputPartitioning,
        r.outputOrdering, r.isStreaming, r.stream)(
        ck.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
        originStats = None, originConstraints = Some(r.constraints)))
    case p => throw new IllegalArgumentException(
      s"statFree expects a checkpointed DataFrame, got ${p.nodeName}")
  }

  private def sessionState(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState

  /** One encoder's bound serializer and deserializer. Both hold
    * mutable projections, so a caller holds the codec's lock while it
    * uses them; building them once per encoder, not per call, spares
    * each ledger read and commit an analysis and a code generation.
    */
  private final class Codec[T](enc: ExpressionEncoder[T]) {
    val schema: StructType                         = enc.schema
    val toRow: ExpressionEncoder.Serializer[T]     = enc.createSerializer()
    val fromRow: ExpressionEncoder.Deserializer[T] = enc.resolveAndBind().createDeserializer()
  }

  private val codecs = TrieMap.empty[Encoder[_], Codec[_]]

  private def codec[T: Encoder]: Codec[T] =
    codecs.getOrElseUpdate(implicitly[Encoder[T]], new Codec(encoderFor[T])).asInstanceOf[Codec[T]]

  /** The rows of parquet `files`, decoded on the driver with no Spark
    * job: parquet-hadoop's file reader hands each record to Spark's
    * own `ParquetReadSupport` (the row converter of the row-based
    * scan, with the rebase modes the file and the session ask for),
    * and `T`'s encoder deserializes the row.
    */
  def readParquet[T: Encoder](spark: SparkSession, files: Seq[FileStatus]): Seq[T] = {
    val state   = sessionState(spark)
    val sql     = state.conf
    val c       = codec[T]
    val options = new ParquetOptions(Map.empty[String, String], sql)
    val conf    = state.newHadoopConf()
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, c.schema.json)
    // the read support's schema converter reads these without a default
    Seq(SQLConf.CASE_SENSITIVE, SQLConf.PARQUET_BINARY_AS_STRING, SQLConf.PARQUET_INT96_AS_TIMESTAMP,
      SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED, SQLConf.LEGACY_PARQUET_NANOS_AS_LONG)
      .foreach(e => conf.set(e.key, sql.getConfString(e.key)))
    // built once: `open` without options builds default ones per file
    val readOptions = HadoopReadOptions.builder(conf).build()
    files.flatMap { file =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf), readOptions)
      try {
        val meta    = reader.getFooter.getFileMetaData
        val kv      = meta.getKeyValueMetaData
        val support = new ParquetReadSupport(None, false,
          DataSourceUtils.datetimeRebaseSpec(kv.get, options.datetimeRebaseModeInRead),
          DataSourceUtils.int96RebaseSpec(kv.get, options.int96RebaseModeInRead))
        val read = support.init(new InitContext(conf,
          kv.asScala.map { case (k, v) => k -> java.util.Set.of(v) }.asJava, meta.getSchema))
        reader.setRequestedSchema(read.getRequestedSchema)
        val materializer = support.prepareForRead(conf, kv, meta.getSchema, read)
        val columns = new ColumnIOFactory(meta.getCreatedBy)
          .getColumnIO(read.getRequestedSchema, meta.getSchema, true)
        val rows  = Vector.newBuilder[T]
        var pages = reader.readNextRowGroup()
        while (pages != null) {
          val records = columns.getRecordReader(pages, materializer, FilterCompat.NOOP)
          var n       = pages.getRowCount
          c.synchronized { while (n > 0) { rows += c.fromRow(records.read()); n -= 1 } }
          pages = reader.readNextRowGroup()
        }
        rows.result()
      } finally reader.close()
    }
  }

  /** Write `rows` as one parquet file in `dir`, on the driver with no
    * Spark job, through the output writer `Dataset.write.parquet`
    * would use under this session's conf (`ParquetUtils.prepareWrite`):
    * the same schema, codec, timestamp type and footer metadata, with
    * no commit protocol and so no `_SUCCESS` file.
    *
    * Returns the rows as a read of the file decodes them: each one
    * round-tripped through `T`'s encoder, so an `Instant` comes back
    * truncated to the microsecond a parquet timestamp holds.
    */
  def writeParquet[T: Encoder](spark: SparkSession, dir: Path, rows: Seq[T]): Seq[T] = {
    val state   = sessionState(spark)
    val c       = codec[T]
    val job     = Job.getInstance(state.newHadoopConf())
    val factory = ParquetUtils.prepareWrite(state.conf, job, c.schema,
      new ParquetOptions(Map.empty[String, String], state.conf))
    val task = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID(new TaskID(new JobID(), TaskType.MAP, 0), 0))
    val file   = new Path(dir, s"part-00000-${UUID.randomUUID()}-c000${factory.getFileExtension(task)}")
    val writer = factory.newInstance(file.toString, c.schema, task)
    try c.synchronized {
      rows.iterator.map { r =>
        val row = c.toRow(r)
        writer.write(row)
        c.fromRow(row)
      }.toVector
    } finally writer.close()
  }
}
