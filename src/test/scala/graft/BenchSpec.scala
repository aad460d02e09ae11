package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench-protocol contract that gates driver parsing: the
  * emitted JSON line must stay under the harness's ~2000-char stdout
  * tail even as the inventory grows (rounds 1-4 were blind because
  * the line outgrew the tail), and failed queries must be visibly
  * marked rather than recorded as ordinary-looking fast times. */
class BenchSpec extends AnyFunSuite {

  private def fakeResults(n: Int): Map[String, Double] =
    (1 to n).map(i => f"very_long_operator_name_family_$i%03d" -> (i * 0.37 + 0.123)).toMap

  test("emitted line stays under budget at 200 queries") {
    val line = Bench.emitLine(fakeResults(200), "/root/testdata/sf0.1")
    assert(line.length <= Bench.budget,
      s"bench line ${line.length} chars exceeds ${Bench.budget} budget")
    assert(line.startsWith("{\"metric\":\"total\""))
    assert(line.endsWith("}}"))
  }

  test("emitted line stays under budget at 300 queries with errors") {
    val r = fakeResults(300) ++ Map("broken_query_a" -> -1.0, "broken_query_b" -> -1.0)
    val line = Bench.emitLine(r, "/root/testdata/sf0.1")
    assert(line.length <= Bench.budget)
    assert(line.contains("\"errors\":[\"broken_query_a\",\"broken_query_b\"]"))
  }

  test("failed queries excluded from total, present as -1 sentinel in full map") {
    val r = Map("ok_one" -> 2.0, "ok_two" -> 3.0, "broken" -> -1.0)
    val line = Bench.emitLine(r, "sfX")
    assert(line.contains("\"value\":5.000"), line)
    assert(line.contains("\"errors\":[\"broken\"]"))
    val full = Bench.emitFullLine(r, "sfX")
    assert(full.contains("\"broken\":-1.000"), full)
    assert(full.contains("\"value\":5.000"))
  }

  test("no errors array when all queries succeed") {
    val line = Bench.emitLine(fakeResults(5), "sfX")
    assert(!line.contains("errors"))
  }

  test("watchdog: 3x threshold on a quiet session, 1.5x when it started loaded") {
    val baseline = Map("a" -> 1.0, "b" -> 1.0, "c" -> 0.2, "d" -> 1.0)
    // a: 2x over baseline; b: 4x; c: 4x but under the 1s absolute floor;
    // d: flat; e: no baseline recorded
    val results = Map("a" -> 2.0, "b" -> 4.0, "c" -> 0.8, "d" -> 1.05, "e" -> 9.0)
    assert(Bench.suspects(results, baseline, load1 = 1.0) == Seq("b"))
    assert(Bench.suspects(results, baseline, load1 = 3.5) == Seq("a", "b"))
    // unreadable loadavg (-1) stays on the quiet-session rule
    assert(Bench.suspects(results, baseline, load1 = -1.0) == Seq("b"))
  }

  test("watchdog baseline: only a line recorded at the same sf and core count") {
    val full = Bench.emitFullLine(Map("a" -> 1.5, "b" -> 0.25), "sfX", cpus = 8)
    assert(full.contains("\"sf\":\"sfX\",\"cpus\":8,"), full)
    assert(Bench.emitLine(Map("a" -> 1.5), "sfX", cpus = 8).contains("\"cpus\":8,"))
    assert(Bench.baselineOf(full, "sfX", 8) == Map("a" -> 1.5, "b" -> 0.25))
    // an 8-core baseline must not watchdog a 32-core (or 80-core) run
    assert(Bench.baselineOf(full, "sfX", 32).isEmpty)
    assert(Bench.baselineOf(full.replace("\"cpus\":8,", "\"cpus\":80,"), "sfX", 8).isEmpty)
    assert(Bench.baselineOf(full, "sfY", 8).isEmpty)
    // a line written before the cpus field existed matches no core count
    assert(Bench.baselineOf(full.replace("\"cpus\":8,", ""), "sfX", 8).isEmpty)
  }

  test("loadAvg1 parses the 1-minute element and tolerates garbage") {
    assert(Bench.loadAvg1("[2.15,3.09,3.08]") == 2.15)
    assert(Bench.loadAvg1("[-1,-1,-1]") == -1.0)
    assert(Bench.loadAvg1("garbage") == -1.0)
  }

  test("header names its commit after cpus; the watchdog baseline ignores it") {
    val full = Bench.emitFullLine(Map("a" -> 1.5), "sfX", cpus = 8)
    assert(Bench.commit == "unknown" || Bench.commit.matches("[0-9a-f]{40}"), Bench.commit)
    assert(full.contains("\"cpus\":8,\"commit\":\"" + Bench.commit + "\","), full)
    assert(Bench.emitLine(Map("a" -> 1.5), "sfX", cpus = 8)
      .contains("\"commit\":\"" + Bench.commit + "\","))
    assert(Bench.baselineOf(full, "sfX", 8) == Map("a" -> 1.5))
    assert(Bench.baselineOf(full.replace(Bench.commit, "0" * 40), "sfX", 8) == Map("a" -> 1.5))
    assert(Bench.commitOf(Seq("echo", "ab" * 20)) == "ab" * 20)
    assert(Bench.commitOf(Seq("git", "-C", "/nonexistent-graft-dir", "rev-parse", "HEAD")) ==
      "unknown")
  }
}
