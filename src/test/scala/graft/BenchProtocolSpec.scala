package graft

import org.scalatest.funsuite.AnyFunSuite

/** The steal-aware resample protocol, pinned as pure functions: the
  * quiet-minority trigger (round-19) and the quiet-preferring median
  * must agree on the min(runs, 2) condition, so a resample is measured
  * exactly when the report would otherwise rest on stormy runs.
  */
class BenchProtocolSpec extends AnyFunSuite {
  private def st(sec: Double, steal: Double) =
    Bench.RunStamp(sec, steal, 0.0, 0.0, 0.0, 0.0, 0.0)

  test("quiet-minority trigger: 2-of-3 stormy resamples; 1-of-3 does not") {
    // the r18 gap: q_heavy_stream runs stamped [6.6, 5.7, 1.8]% steal —
    // only one quiet run, so the old all-stormy trigger never fired and
    // the plain median was a stormy run
    val twoStormy = Seq(st(3.4, 6.6), st(3.2, 5.7), st(2.3, 1.8))
    assert(Bench.needsResample(twoStormy, runs = 3, retryPct = 5.0))
    val oneStormy = Seq(st(2.4, 6.6), st(2.3, 0.2), st(2.3, 0.1))
    assert(!Bench.needsResample(oneStormy, runs = 3, retryPct = 5.0))
    val allStormy = Seq(st(4.0, 9.0), st(4.2, 8.0), st(3.9, 7.0))
    assert(Bench.needsResample(allStormy, runs = 3, retryPct = 5.0))
    val allQuiet = Seq(st(2.3, 0.1), st(2.4, 0.2), st(2.3, 0.1))
    assert(!Bench.needsResample(allQuiet, runs = 3, retryPct = 5.0))
  }

  test("retryPct <= 0 disables the protocol entirely") {
    val stormy = Seq(st(4.0, 9.0), st(4.2, 8.0), st(3.9, 7.0))
    assert(!Bench.needsResample(stormy, runs = 3, retryPct = 0.0))
    // and the report falls back to the plain median over all runs
    assert(Bench.reportedSec(stormy, runs = 3, retryPct = 0.0) == 4.0)
  }

  test("reported sec prefers the quiet median once >= min(runs,2) quiet runs exist") {
    // post-resample shape: 3 stormy + 3 quiet runs — the median must be
    // over the quiet half only
    val mixed = Seq(st(4.0, 9.0), st(4.2, 8.0), st(3.9, 7.0),
      st(2.3, 0.1), st(2.5, 0.2), st(2.4, 0.1))
    assert(Bench.reportedSec(mixed, runs = 3, retryPct = 5.0) == 2.4)
    // quiet minority after the one bounded resample: stamped all-stormy
    // fallback — plain median over every run, auditable from the arrays
    val stillStormy = Seq(st(4.0, 9.0), st(4.2, 8.0), st(3.9, 7.0),
      st(4.1, 9.5), st(4.3, 8.5), st(4.0, 7.5))
    assert(Bench.reportedSec(stillStormy, runs = 3, retryPct = 5.0) == 4.1)
  }

  test("runs = 1: a single quiet run is the basis (a resample must not be a no-op)") {
    // at runs = 1 demanding two quiet runs would make the resample
    // pointless — the single quiet run IS the better estimate
    val one = Seq(st(4.0, 9.0), st(2.3, 0.1))
    assert(!Bench.needsResample(one, runs = 1, retryPct = 5.0))
    assert(Bench.reportedSec(one, runs = 1, retryPct = 5.0) == 2.3)
    val oneStormy = Seq(st(4.0, 9.0))
    assert(Bench.needsResample(oneStormy, runs = 1, retryPct = 5.0))
  }

  test("unavailable steal counter (-1) never counts as quiet") {
    val noCounter = Seq(st(3.0, -1.0), st(3.1, -1.0), st(2.9, -1.0))
    assert(Bench.quietRuns(noCounter, 5.0).isEmpty)
    // trigger fires (no quiet evidence), and after the bounded resample
    // the plain median is the honest fallback
    assert(Bench.needsResample(noCounter, runs = 3, retryPct = 5.0))
    assert(Bench.reportedSec(noCounter, runs = 3, retryPct = 5.0) == 3.0)
  }

  test("only a 32-core run writes the canonical BENCH_FULL.json") {
    assert(Bench.fullMapPaths("BENCH_FULL.json", 32) ==
      Seq("BENCH_FULL.json", "BENCH_FULL_c32.json"))
    // another core count writes only its sibling, and the stdout line
    // names that sibling
    assert(Bench.fullMapPaths("BENCH_FULL.json", 8) == Seq("BENCH_FULL_c8.json"))
    assert(Bench.fullMapPaths("out/check.json", 4) == Seq("out/check_c4.json"))
    assert(Bench.fullMapPaths("out/check", 4) == Seq("out/check_c4"))
  }
}
