package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the per-query timing contract `Bench.timeRuns` applies to every
  * headline entry: median of three runs, min-of-2 for a heavy first run,
  * no repeat after a throwing first run, and the reported run's profile
  * record kept with its seconds. The runs are scripted, so no Spark
  * session is needed; each run's "profile" is its index in the script.
  */
class BenchRunsSpec extends AnyFunSuite {

  /** A `once` that replays `script` (seconds, throws) and counts calls. */
  private final class Script(script: (Double, Boolean)*) {
    var calls = 0
    def once(): Bench.Run[Int] = {
      val (t, failed) = script(calls)
      calls += 1
      Bench.Run(t, failed, calls - 1)
    }
  }

  test("three runs report their median") {
    val s = new Script((0.9, false), (0.3, false), (0.5, false))
    val timed = Bench.timeRuns(heavyCutoff = 2.5)(() => s.once())
    assert(s.calls == Bench.Runs)
    assert(timed.kept.seconds == 0.5)
    assert(!timed.failed && timed.heavyPair.isEmpty)
  }

  test("a first run at or above the cutoff gets one confirming run and reports min-of-2") {
    for (first <- Seq(2.5, 4.0)) {
      val s = new Script((first, false), (3.0, false), (0.1, false))
      val timed = Bench.timeRuns(heavyCutoff = 2.5)(() => s.once())
      assert(s.calls == 2, s"first=$first")
      assert(timed.kept.seconds == math.min(first, 3.0))
      assert(timed.heavyPair.contains((first, 3.0)))
      assert(!timed.failed)
    }
    // cutoff 0 disables the trim: the full median contract applies
    val s = new Script((4.0, false), (3.0, false), (5.0, false))
    val timed = Bench.timeRuns(heavyCutoff = 0)(() => s.once())
    assert(s.calls == 3 && timed.kept.seconds == 4.0 && timed.heavyPair.isEmpty)
  }

  test("a throwing first run is not repeated, is left out of _all and is listed under failed") {
    val s = new Script((0.01, true), (0.5, false), (0.5, false))
    val timed = Bench.timeRuns(heavyCutoff = 2.5)(() => s.once())
    assert(s.calls == 1)
    assert(timed.failed)
    val done = Seq(("q1_agg", 0.4, false),
      ("boom", timed.kept.seconds, timed.failed))
    val (results, failed) = Bench.report(done)
    assert(results == Seq("q1_agg" -> 0.4))
    assert(failed == Seq("boom"))
    val partial = Bench.partialLine(done, nPlanned = 2, sfDir = "sf",
      runs = Bench.Runs, compact = true)
    assert(partial.contains("\"queries\":{\"_all\":0.400}"), partial)
    assert(partial.contains("\"failed\":[\"boom\"]"), partial)
    // a later run's throw fails the whole entry too
    val late = new Script((0.2, false), (0.3, true), (0.4, false))
    assert(Bench.timeRuns(heavyCutoff = 2.5)(() => late.once()).failed)
  }

  test("the kept query_profile is the reported run's") {
    val median = new Script((0.9, false), (0.3, false), (0.5, false))
    val m = Bench.timeRuns(heavyCutoff = 2.5)(() => median.once())
    assert(m.kept.profile == 2 && m.kept.seconds == 0.5)
    val heavy = new Script((4.0, false), (3.0, false))
    val h = Bench.timeRuns(heavyCutoff = 2.5)(() => heavy.once())
    assert(h.kept.profile == 1 && h.kept.seconds == 3.0)
    val heavyFirstWins = new Script((3.0, false), (4.0, false))
    val f = Bench.timeRuns(heavyCutoff = 2.5)(() => heavyFirstWins.once())
    assert(f.kept.profile == 0 && f.kept.seconds == 3.0)
  }
}
