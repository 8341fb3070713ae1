package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's noise defense (round 12: a machine-load spike wrote a
  * contaminated artifact that took a full round to adjudicate):
  * queries measuring far above their prior committed number are
  * re-measured min-of-3 before the artifact is written. These specs
  * pin the trigger predicate and the prior-artifact parse — the two
  * pieces a wrong implementation would silently break.
  */
final class BenchSelfCheckSpec extends AnyFunSuite {

  test("needsRerun fires only past BOTH the ratio and absolute floors") {
    assert(Bench.needsRerun(Some(1.0), 1.5))        // 1.5x and +0.5 s
    assert(!Bench.needsRerun(Some(1.0), 1.25))      // under the 1.3x ratio
    // the absolute floor screens only sub-50 ms scheduler noise — the
    // r14 0.2 s floor waved a 1.9x regression on a 0.37 s query
    // (t7) straight into the artifact, so sub-second queries must
    // trip the check too
    assert(Bench.needsRerun(Some(0.10), 0.25))      // 2.5x and +0.15 s: fires now
    assert(Bench.needsRerun(Some(0.37), 0.71))      // the r14 t7 case: fires now
    assert(!Bench.needsRerun(Some(0.02), 0.06))     // +0.04 s: genuine noise floor
    assert(Bench.needsRerun(Some(0.60), 0.85))      // 1.42x and +0.25 s
    assert(!Bench.needsRerun(Some(2.0), 1.0))       // faster is never an outlier
    assert(!Bench.needsRerun(None, 99.0))           // no prior, nothing to check
  }

  test("loadAvg1m reads /proc and the load tag never parses as a query prior") {
    assert(Bench.loadAvg1m() >= 0.0) // Linux host: /proc/loadavg exists
    // the artifact's "load":[a,b] array must not pollute prior parsing
    val line = """{"metric":"total","value":9.1,"unit":"sec","nq":2,""" +
      """"queries":{"q1_pricing_summary":0.493},"load":[31.5,2.0],"load15":[3.3,2.1],"sf":0.1}"""
    assert(Bench.parsePriorQueries(line).get("load").isEmpty)
    assert(Bench.parsePriorQueries(line).get("load15").isEmpty)
    assert(Bench.parsePriorQueries(line)("q1_pricing_summary") == 0.493)
  }

  test("cpuStealTotal reads /proc/stat and the steal tag never parses as a prior") {
    val (steal, total) = Bench.cpuStealTotal()
    assert(steal >= 0 && total > 0 && steal <= total)
    // the tag rides along in prior parsing like value/nq — harmless
    // (never looked up by a query name), but must not explode the parse
    val line = """{"queries":{"q1_pricing_summary":0.49},"steal_pct":4.25,"sf":0.1}"""
    assert(Bench.parsePriorQueries(line)("q1_pricing_summary") == 0.49)
  }

  test("idle gate blocks on EITHER load window (the r16 15-min lesson)") {
    assert(Bench.loadAvg15m() >= 0.0)
    // the two adjudicated contaminated shapes from round 16: a struck
    // sweep at 1-min 0.8 / 15-min 3.7 (+28% on untouched queries), and
    // the BENCH_r16.json re-run at 1-min 1.9 / 15-min 3.3 that the
    // 1-min-only gate waved through — both must block now
    assert(Bench.idleGateBlocked(0.8, 3.7))
    assert(Bench.idleGateBlocked(1.9, 3.3))
    // live co-tenant with a clean 15-min history still blocks
    assert(Bench.idleGateBlocked(5.0, 1.0))
    // the committed clean anchor's band [0.9, 2.0] passes
    assert(!Bench.idleGateBlocked(0.9, 2.0))
    assert(!Bench.idleGateBlocked(2.0, 2.5)) // thresholds are strict >
    // no /proc (-1) never blocks — the gate cannot stall a host that
    // cannot report load
    assert(!Bench.idleGateBlocked(-1.0, -1.0))
  }

  test("the committed-anchor path is viable: BENCH.out must not be gitignored") {
    // Round-15 lesson: the self-check anchors to `git show HEAD:BENCH.out`,
    // but BENCH.out had been .gitignore'd since an early round — so the
    // anchor could never resolve, AND the working-dir artifact (the only
    // copy) was erased by the driver's fresh checkout at the round
    // boundary. An ignored anchor file is a silent double failure:
    // no committed prior for the check, no survivor for the next round.
    val gi = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(".gitignore")),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(!gi.linesIterator.map(_.trim).contains("BENCH.out"),
      ".gitignore lists BENCH.out — the bench self-check's committed " +
        "anchor (git show HEAD:BENCH.out) can never resolve, and the " +
        "artifact dies with the round's working tree")
  }

  test("parsePriorQueries reads a BENCH.out line; non-query keys ride along") {
    val line = """{"metric":"total","value":72.278,"unit":"sec","nq":130,""" +
      """"queries":{"q1_pricing_summary":0.493,"d6_dedup_clusters":2.104},"sf":0.1}"""
    val m = Bench.parsePriorQueries(line)
    assert(m("q1_pricing_summary") == 0.493)
    assert(m("d6_dedup_clusters") == 2.104)
    assert(m("value") == 72.278) // harmless: never looked up by a query name
    assert(m.get("unit").isEmpty) // non-numeric values don't parse as queries
  }

  test("priorFloor: an inflated committed prior cannot silence the check (no upward ratchet)") {
    // Round-15 lesson: anchoring to HEAD's artifact alone ratchets
    // upward — m1_media_features entered the anchor at 0.59 s via a
    // mid-round commit, so its 0.525 s gate measurement (2.28x the
    // r13 0.23 s) shipped with no re-run. The floor is the MIN over
    // the committed-artifact window: the clean 0.23 stays the anchor
    // while it remains in the window, and the inflated number flags.
    val clean    = """{"metric":"total","value":9.0,"unit":"sec","nq":2,""" +
      """"queries":{"m1_media_features":0.23,"q1_pricing_summary":0.493},"cpus":4,"sf":0.1}"""
    val inflated = """{"metric":"total","value":9.5,"unit":"sec","nq":2,""" +
      """"queries":{"m1_media_features":0.59,"q1_pricing_summary":0.49},"cpus":4,"sf":0.1}"""
    val floor = Bench.priorFloor(Seq(inflated, clean), "0.1", "4")
    assert(floor("m1_media_features") == 0.23)
    assert(floor("q1_pricing_summary") == 0.49) // min is per-query, not per-artifact
    // the inflated-prior query still re-measures at the gate
    assert(Bench.needsRerun(floor.get("m1_media_features"), 0.525))
    // queries only one artifact carries still get a floor
    val newer = """{"queries":{"d18_embed_neardup_mp":0.83},"cpus":4,"sf":0.1}"""
    assert(Bench.priorFloor(Seq(clean, newer), "0.1", "4")("d18_embed_neardup_mp") == 0.83)
  }

  test("priorFloor admits only same-sf artifacts") {
    // a BENCH.out committed after an sf0.01 iteration run must not
    // floor the sf0.1 gate at ~10x too fast (every query would
    // pointlessly re-run min-of-3)
    val sf001 = """{"queries":{"q1_pricing_summary":0.05},"cpus":4,"sf":0.01}"""
    val sf01  = """{"queries":{"q1_pricing_summary":0.493},"cpus":4,"sf":0.1}"""
    val noSf  = """{"queries":{"q1_pricing_summary":0.01},"cpus":4}"""
    val floor = Bench.priorFloor(Seq(sf001, sf01, noSf), "0.1", "4")
    assert(floor("q1_pricing_summary") == 0.493)
    assert(Bench.priorFloor(Seq(sf001), "0.1", "4").isEmpty)
    // the driver's escaped format carries its sf through too
    val escaped = """{"tail":"{\"queries\":{\"q1_pricing_summary\":0.51},\"cpus\":4,\"sf\":0.1}"}"""
    assert(Bench.priorFloor(Seq(escaped, sf01), "0.1", "4")("q1_pricing_summary") == 0.493)
    assert(Bench.artifactSf(escaped).contains("0.1"))
  }

  test("priorFloor admits only same-cpus artifacts: a 32-core floor is off for cpus=4") {
    // the driver's JSON keys its core count at the top level, with a
    // space after the colon; its tail line predates the cpus tag
    val driver32 = """{"n":21,"rc":0,"cpus": 32,"sf": 0.1,""" +
      """"tail":"{\"queries\":{\"q1_pricing_summary\":0.21},\"sf\":0.1}"}"""
    val run4 = """{"queries":{"q1_pricing_summary":0.493},"cpus":4,"sf":0.1}"""
    val noCpus = """{"queries":{"q1_pricing_summary":0.11},"sf":0.1}""" // pre-tag BENCH.out
    assert(Bench.artifactCpus(driver32).contains("32"))
    assert(Bench.artifactCpus(run4).contains("4"))
    assert(Bench.artifactCpus(noCpus).isEmpty)
    assert(Bench.priorFloor(Seq(driver32, noCpus), "0.1", "4").isEmpty)
    assert(Bench.priorFloor(Seq(driver32, run4, noCpus), "0.1", "4")("q1_pricing_summary") == 0.493)
    assert(Bench.priorFloor(Seq(driver32, run4), "0.1", "32")("q1_pricing_summary") == 0.21)
  }

  test("the cpus tag never parses as a query prior") {
    val line = """{"metric":"total","value":9.1,"unit":"sec","nq":1,""" +
      """"queries":{"q1_pricing_summary":0.493},"cpus":4,"sf":0.1}"""
    val m = Bench.parsePriorQueries(line)
    assert(m.get("cpus").isEmpty)
    assert(m("q1_pricing_summary") == 0.493)
    val escaped = """{"tail":"{\"queries\":{\"q1_pricing_summary\":0.51},\"cpus\":4,\"sf\":0.1}"}"""
    assert(Bench.parsePriorQueries(escaped).get("cpus").isEmpty)
  }

  test("parsePriorQueries reads the driver's ESCAPED artifact format too") {
    // BENCH_r{N}.json stores the stdout line as an escaped JSON string
    // ("tail": "...\"q1\":0.49..."); before round 15 this yielded zero
    // priors and the self-check silently skipped every outlier re-run
    val driverJson =
      """{"n":13,"rc":0,"tail":"{\"queries\":{\"q1_pricing_summary\":0.493,""" +
        """\"d6_dedup_clusters\":2.104},\"sf\":0.1}"}"""
    val m = Bench.parsePriorQueries(driverJson)
    assert(m("q1_pricing_summary") == 0.493)
    assert(m("d6_dedup_clusters") == 2.104)
  }
}
