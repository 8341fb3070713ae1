package graft.core

import java.time.Instant

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import paths.KeyOps

/** One unit of upstream data: an object-store key plus its version
  * (last-modified time). Everything incremental keys off this pair
  * (reference: src/main/scala/.../Input.scala:8).
  *
  * `version` is a UTC [[java.time.Instant]]; Spark encodes it as
  * `TimestampType` (session time zone is pinned to UTC), so a
  * `Dataset[Input]` of listed objects join/anti-joins against the
  * runs table with plain timestamp comparisons.
  */
final case class Input(key: String, version: Instant) {
  lazy val basename: String = key.basename
  lazy val dirname: String  = key.dirname
}

object Input {

  /** Where a stage's inputs come from: a directory-prefix glob plus a
    * basename glob (reference: Input.scala:29-85).
    *
    * The listing strategy mirrors the reference's hand-rolled
    * partition pruning: list only under the literal `commonPrefix`
    * (everything before the first `*`), then glob-filter the listed
    * keys.
    */
  final case class Source(prefix: String, basename: String,
                          rootOverride: Option[String] = None) {
    require(prefix.endsWith("/"), s"source prefix must end with '/': $prefix")
    require(!basename.endsWith("/"), s"source basename must not end with '/': $basename")

    val prefixGlob: Glob   = Glob(prefix)
    val basenameGlob: Glob = Glob(basename)

    /** Full key glob for this source (prefix + basename). */
    def glob: String = prefix + basename

    /** True if an input belongs to this source: the basename glob
      * full-matches the basename and the prefix glob prefix-matches
      * the dirname (reference: Input.scala:48-50).
      */
    def matches(input: Input): Boolean =
      basenameGlob.matches(input.basename) &&
        prefixGlob.matches(input.dirname, partial = true)

    /** Extractor for pattern matching inputs against this source:
      * yields the prefix-glob captures followed by the basename-glob
      * captures (reference: Input.scala:58-62).
      */
    def unapplySeq(input: Input): Option[List[String]] =
      prefixGlob.unapplySeq(input.dirname).flatMap { prefixCaptures =>
        basenameGlob.unapplySeq(input.basename).map(prefixCaptures ++ _)
      }

    /** Driver-side listing: enumerate matching objects under `root`
      * on whatever Hadoop filesystem `root` resolves to (local dir in
      * tests, HDFS/S3A in production) and return them as inputs with
      * keys relative to `root` (reference: Input.scala:38-45).
      */
    def inputs(root: String)(implicit spark: SparkSession): Seq[Input] = {
      // per-source root override (the reference's s3BucketOverride,
      // Input.scala:29: a source may read from a different bucket)
      val rootPath = new Path(rootOverride.getOrElse(root))
      val fs: FileSystem =
        rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val listRoot = new Path(rootPath, prefix.commonPrefix)
      if (!fs.exists(listRoot)) return Seq.empty
      val it  = fs.listFiles(listRoot, true)
      val buf = Seq.newBuilder[Input]
      val rootUri = fs.makeQualified(rootPath).toUri.getPath.stripSuffix("/") + "/"
      while (it.hasNext) {
        val st  = it.next()
        val key = st.getPath.toUri.getPath.stripPrefix(rootUri)
        val in  = Input(key, Instant.ofEpochMilli(st.getModificationTime))
        if (matches(in)) buf += in
      }
      buf.result()
    }
  }

  object Source {

    /** A source matching one exact key. */
    def Raw(key: String): Source = {
      val n = key.lastIndexOf('/')
      require(n >= 0, s"invalid raw source: $key")
      val (prefix, name) = key.splitAt(n + 1)
      Source(prefix, name)
    }

    /** A dataset source: prefix + `metadata` marker object. */
    def Dataset(prefix: String): Source = Source(prefix, "metadata")

    /** A finished-job source: prefix + Spark's own `_SUCCESS` marker. */
    def Success(prefix: String): Source = Source(prefix, "_SUCCESS")
  }
}
