package graft.core

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

final class ConfigSpec extends AnyFunSuite {

  test("parse json config") {
    val c = Config.parse(
      """{"project":"p1","inputRoot":"/in","outputRoot":"/out",
        |"shufflePartitions":64}""".stripMargin)
    assert(c.project == "p1")
    assert(c.resolvedRunsRoot == "/out/.graft")
    assert(c.shufflePartitions.contains(64))
  }

  test("load from file, defaults applied") {
    val f = Files.createTempFile("cfg", ".json")
    Files.writeString(f, """{"project":"x","inputRoot":"/a","outputRoot":"/b","runsRoot":"/r"}""")
    val c = Config.load(f.toFile)
    assert(c.resolvedRunsRoot == "/r")
    assert(c.shufflePartitions.isEmpty)
  }

  test("stopwatch.logged reports elapsed and returns the body value") {
    var logged = ""
    val r = Stopwatch.logged("op", s => logged = s) { 41 + 1 }
    assert(r == 42)
    assert(logged.startsWith("op took") && logged.endsWith("ms"))
  }
}
