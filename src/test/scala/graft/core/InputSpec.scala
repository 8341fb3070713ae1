package graft.core

import java.net.URI
import java.nio.file.{Files, Paths}
import java.time.Instant
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{LocalFileSystem, LocatedFileStatus, Path, RawLocalFileSystem, RemoteIterator}

import graft.SparkTestBase

/** Behavior ported from reference InputTest.scala:13-77, plus the
  * listing: the `listStatus` walk of `Source.inputs` against a
  * located-listing oracle, and that it makes no located listing.
  */
final class InputSpec extends SparkTestBase {

  def input(name: String): Input = Input(name, Instant.now)

  test("input parts") {
    val i = input("a/foo/bar/baz")
    assert(i.basename == "baz")
    assert(i.dirname == "a/foo/bar/")
  }

  test("source prefix must end with /") {
    assertThrows[IllegalArgumentException] {
      Input.Source("foo", "bar")
    }
  }

  test("source basename must not end with /") {
    assertThrows[IllegalArgumentException] {
      Input.Source("foo/", "bar/")
    }
  }

  test("source match inputs") {
    val a = Input.Source("a/*/", "bar")
    val b = Input.Source("b/test=*/", "*")
    assert(a.matches(input("a/foo/bar")))
    assert(b.matches(input("b/test=foo/any")))
  }

  test("source pattern matching prefix") {
    val source = Input.Source("a/test=*/bar/*/", "baz")
    input("a/test=foo/bar/test/baz") match {
      case source(foo, test) => assert(foo == "foo" && test == "test")
      case _                 => fail("match failed")
    }
  }

  test("source pattern matching basename") {
    val source = Input.Source("a/test=*/bar/*/", "b*")
    input("a/test=foo/bar/test/baz") match {
      case source(foo, test, az) =>
        assert(foo == "foo" && test == "test" && az == "az")
      case _ => fail("match failed")
    }
  }

  test("source factories") {
    assert(Input.Source.Raw("a/b/c") == Input.Source("a/b/", "c"))
    assert(Input.Source.Dataset("x/*/") == Input.Source("x/*/", "metadata"))
    assert(Input.Source.Success("out/*/") == Input.Source("out/*/", "_SUCCESS"))
    assertThrows[IllegalArgumentException](Input.Source.Raw("nokey"))
  }

  // ---- listing ----

  /** Files of the listing fixture, each with its own mtime. */
  private val fixtureFiles = Seq(
    "v/part-7",                // above the prefix depth
    "v/d1/xab/part-0",
    "v/d1/xab/other.txt",      // non-matching basename
    "v/d1/xab/deep/part-1",    // deeper than the prefix
    "v/d1/xab/deep/er/part-2",
    "v/d1/xaab/part-3",        // `*ab/` is possessive: no match
    "v/d1/yab/part-4",
    "v/d1/nomatch/part-9",     // non-matching sibling at depth 3
    "v/d2/part-6",             // intermediate depth
    "v/d2/zab/part-5",
    "v/e1/xab/part-10",        // non-matching sibling at depth 2
    "w/d1/xab/part-8"          // non-matching sibling at depth 1
  )

  /** A fresh fixture tree (plain java.nio writes, so no `.crc` files),
    * with two empty directories.
    */
  private def fixture(name: String): String = {
    val root = tmpDir(name)
    fixtureFiles.zipWithIndex.foreach { case (key, i) =>
      val p = Paths.get(root, key)
      Files.createDirectories(p.getParent)
      Files.write(p, key.getBytes("UTF-8"))
      assert(p.toFile.setLastModified(1700000000000L + i * 1000L))
    }
    Seq("v/d3", "v/d2/zab/empty").foreach(d => Files.createDirectories(Paths.get(root, d)))
    root
  }

  /** The oracle: a located listing of the whole root, filtered by
    * `matches`.
    */
  private def oracle(src: Input.Source, root: String): Set[Input] = {
    val rootPath = new Path(src.rootOverride.getOrElse(root))
    val fs       = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootUri  = fs.makeQualified(rootPath).toUri.getPath.stripSuffix("/") + "/"
    val it       = fs.listFiles(rootPath, true)
    val all      = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .map(st => Input(st.getPath.toUri.getPath.stripPrefix(rootUri),
                       Instant.ofEpochMilli(st.getModificationTime)))
    all.filter(src.matches).toSet
  }

  test("inputs returns exactly the matching (key, version) set of a full located listing") {
    val root  = fixture("input-walk")
    val other = tmpDir("input-walk-other")
    val xab = Set("v/d1/xab/part-0", "v/d1/xab/deep/part-1", "v/d1/xab/deep/er/part-2")
    val cases = Seq(
      (Input.Source("v/d*/*ab/", "part-*"), root, xab ++ Set("v/d1/yab/part-4", "v/d2/zab/part-5")),
      (Input.Source("v/d*/*ab/", "*"), root,
        xab ++ Set("v/d1/xab/other.txt", "v/d1/yab/part-4", "v/d2/zab/part-5")),
      (Input.Source("v/d*/", "part-*"), root,
        xab ++ Set("v/d2/part-6", "v/d1/xaab/part-3", "v/d1/yab/part-4", "v/d1/nomatch/part-9",
                   "v/d2/zab/part-5")),
      (Input.Source("v/", "part-7"), root, Set("v/part-7")),
      (Input.Source.Raw("v/d1/xab/part-0"), root, Set("v/d1/xab/part-0")),
      // the literal prefix ends inside a segment
      (Input.Source("v/d1/x*/", "part-*"), root, xab + "v/d1/xaab/part-3"),
      // no literal prefix at all
      (Input.Source("*/", "part-7"), root, Set("v/part-7")),
      (Input.Source("*/d1/*/", "part-8"), root, Set("w/d1/xab/part-8")),
      // a root override wins over the root passed in
      (Input.Source("v/d*/*ab/", "part-*", rootOverride = Some(root)), other,
        xab ++ Set("v/d1/yab/part-4", "v/d2/zab/part-5")),
      // a missing commonPrefix lists nothing
      (Input.Source("missing/*/", "part-*"), root, Set.empty[String])
    )
    cases.foreach { case (src, listRoot, expected) =>
      val listed = src.inputs(listRoot)(spark)
      assert(listed.size == listed.toSet.size, s"$src listed a key twice")
      assert(listed.toSet == oracle(src, listRoot), s"$src")
      assert(listed.map(_.key).toSet == expected, s"$src")
    }
    // versions are the files' own mtimes
    val part5 = Input.Source("v/d*/*ab/", "part-5").inputs(root)(spark)
    assert(part5.map(_.version) ==
      Seq(Instant.ofEpochMilli(1700000000000L + fixtureFiles.indexOf("v/d2/zab/part-5") * 1000L)))
  }

  test("inputs never makes a located listing") {
    val conf = spark.sparkContext.hadoopConfiguration
    val impl = s"fs.${CountingLocalFs.Scheme}.impl"
    conf.set(impl, classOf[CountingLocalFs].getName)
    conf.setBoolean(s"$impl.disable.cache", true)
    try {
      val root = fixture("input-count")
      val src  = Input.Source("v/d*/*ab/", "part-*")
      CountingLocalFs.located.set(0)
      val listed = src.inputs(s"${CountingLocalFs.Scheme}://$root")(spark)
      assert(listed.toSet == src.inputs(root)(spark).toSet && listed.size == 5)
      assert(CountingLocalFs.located.get == 0, "listFiles/listLocatedStatus were called")
    } finally {
      conf.unset(impl)
      conf.unset(s"$impl.disable.cache")
    }
  }
}

/** The local filesystem under its own scheme, counting every located
  * listing.
  */
final class CountingLocalFs extends LocalFileSystem(new CountingLocalFs.Raw) {
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    CountingLocalFs.located.incrementAndGet()
    super.listLocatedStatus(f)
  }
  override def listFiles(f: Path, recursive: Boolean): RemoteIterator[LocatedFileStatus] = {
    CountingLocalFs.located.incrementAndGet()
    super.listFiles(f, recursive)
  }
}

object CountingLocalFs {
  val Scheme  = "graftcount"
  val located = new AtomicLong

  final class Raw extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$Scheme:///")
  }
}
