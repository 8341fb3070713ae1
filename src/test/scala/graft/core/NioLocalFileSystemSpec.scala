package graft.core

import java.lang.management.ManagementFactory
import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.{GraftSession, SparkTestBase}

/** The local FS [[GraftSession.build]] installs: it is the session's
  * `file` FS, it leaves the modes Hadoop's own local FS leaves, and it
  * never replaces a local FS the JVM's Spark properties already name.
  */
final class NioLocalFileSystemSpec extends SparkTestBase {

  test("after GraftSession.build the session's file FS is NioLocalFileSystem") {
    val fs = new Path(tmpDir("nio-fs")).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass.getName)
    assert(spark.conf.get("spark.hadoop.fs.file.impl") == classOf[NioLocalFileSystem].getName)
  }

  test("mkdirs, create and setPermission leave the modes stock LocalFileSystem leaves") {
    val conf  = spark.sparkContext.hadoopConfiguration
    val nio   = FileSystem.get(URI.create("file:///"), conf)
    val stock = new LocalFileSystem()
    stock.initialize(URI.create("file:///"), conf)
    assert(nio.isInstanceOf[NioLocalFileSystem] && !stock.isInstanceOf[NioLocalFileSystem])
    val root = tmpDir("nio-modes")

    // the same calls under two sibling dirs, one through each FS; the
    // result is each created path's full mode, sticky bit included
    def modes(fs: FileSystem, base: String): Seq[(String, Int)] = {
      val b = new Path(root, base)
      fs.mkdirs(new Path(b, "d/nested"))
      fs.create(new Path(b, "d/f")).close()
      fs.mkdirs(new Path(b, "e"), new FsPermission("750"))
      fs.create(new Path(b, "e/g"), new FsPermission("640"), false, 4096, 1.toShort, 1L << 20, null).close()
      fs.create(new Path(b, "e/h")).close()
      fs.setPermission(new Path(b, "e/h"), new FsPermission("604"))
      fs.mkdirs(new Path(b, "s"))
      fs.setPermission(new Path(b, "s"), new FsPermission("1777"))
      Seq("d", "d/nested", "d/f", "e", "e/g", "e/h", "s").map { p =>
        p -> Files.getAttribute(Paths.get(root, base, p), "unix:mode").asInstanceOf[Int]
      }
    }
    val got = modes(nio, "nio")
    assert(got == modes(stock, "stock"))
    // the explicit modes took, so the comparison is not vacuous
    assert((got.toMap.apply("e/h") & 0x1ff) == Integer.parseInt("604", 8))
    assert((got.toMap.apply("s") & 0x200) != 0, "sticky bit")
  }

  test("an fs.file.impl the JVM's Spark properties already set is kept") {
    // a session is one per JVM, so the check runs in a child JVM with
    // this one's options (add-opens), classpath and a small heap
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val jvm  = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.filterNot(_.startsWith("-Xm"))
    val cmd = Seq(java) ++ jvm ++ Seq("-Xmx512m",
      s"-Dspark.hadoop.fs.file.impl=${classOf[LocalFileSystem].getName}",
      "-cp", System.getProperty("java.class.path"), LocalFsProbe.getClass.getName.stripSuffix("$"))
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out  = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    assert(proc.waitFor() == 0, out)
    assert(out.linesIterator.contains(s"file FS: ${classOf[LocalFileSystem].getName}"), out)
  }
}

/** Builds a graft session and prints the class of its `file` FS. */
object LocalFsProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build("local-fs-probe", "local[1]", "1")
    try {
      val fs = new Path("file:///").getFileSystem(spark.sparkContext.hadoopConfiguration)
      println(s"file FS: ${fs.getClass.getName}")
    } finally spark.stop()
  }
}
