package graft

import org.apache.spark.sql.SparkSession

/** Standard session factory: local[32] sized for the test rig, AQE
  * on, shuffle partitions matched to cores (not the 200 default),
  * UTC, Kryo. On a real cluster the same settings apply except
  * master, which spark-submit provides.
  *
  * Session-scoped compatibility settings live HERE, not as hidden
  * side effects inside readers/operators:
  *   - `nanosAsLong`: the events table carries parquet
  *     TIMESTAMP(NANOS), which Spark 4 otherwise refuses; reading the
  *     nanos as longs lets [[graft.queries.Tables.events]] convert
  *     them explicitly (truncating, matching DuckDB).
  *   - State store provider: left at Spark's default (HDFS-backed,
  *     in-memory maps) — the right store for bounded watermark-sized
  *     state like windowed counts, with none of RocksDB's per-batch
  *     open/commit overhead. A query that needs RocksDB (e.g.
  *     `transformWithState`'s multi-column-family state) or holds
  *     larger-than-heap state opts in per query.
  *   - `spark.hadoop.fs.file.impl`: [[graft.core.NioLocalFileSystem]],
  *     Hadoop's local FS with a `java.nio` permission change in place
  *     of the `chmod` it forks per created file or directory when no
  *     native libhadoop is loaded. A value the JVM's Spark properties
  *     already carry (a `-D` flag, or `spark-submit --conf`) is kept,
  *     so a caller can still install its own local FS.
  */
object GraftSession {

  private val LocalFsKey = "spark.hadoop.fs.file.impl"

  def build(
      appName: String = "graft",
      master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
      // Partition count decouples from the core count via
      // SPARK_GRAFT_SHUFFLE_PARTITIONS: shuffle partitions must scale
      // with DATA (so per-partition state — sort runs, hash-join build
      // sides — stays bounded as input grows), while cores are a
      // machine property. The sf10 scale sweep runs 128 partitions on
      // the same 32 cores for exactly this reason; on a cluster the
      // same number rides spark-submit --conf.
      shufflePartitions: String = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
  ): SparkSession = {
    val builder = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    if (!sys.props.contains(LocalFsKey))
      builder.config(LocalFsKey, classOf[graft.core.NioLocalFileSystem].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
