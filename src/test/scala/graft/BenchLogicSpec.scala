package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins for the bench self-heal decision (VERDICT r13 next #1) as
  * pure functions — the live trigger is host dirt, which cannot be
  * reproduced on demand (three deliberate CPU-hog attempts failed to
  * land a burst on a 0.3 s sentinel shot), so the retry/choice logic
  * is pinned here and the artifact byte layout by check.py --cut. No
  * SparkSession needed. */
class BenchLogicSpec extends AnyFunSuite {

  private def window(first: Double, mid: Seq[Double], last: Double) =
    Bench.SweepWindow(Seq("q01" -> 1.0), Seq(first), mid, last, Seq.empty)

  test("verdict arithmetic: max/median over the window's own samples") {
    val w = window(0.2, Seq(0.3, 0.4, 0.3), 0.3)
    // sorted samples (0.2, 0.3, 0.3, 0.3, 0.4): median idx 2 -> 0.3
    assert(math.abs(w.ratio - 0.4 / 0.3) < 1e-12 && w.clean)
    val dirty = window(0.2, Seq(0.3, 1.2, 0.3), 0.3)
    assert(dirty.ratio > 1.5 && !dirty.clean)
  }

  test("failed shots (-1) are excluded; an underdetermined window is never clean and never retried") {
    val under = window(-1.0, Seq(-1.0), 0.3) // one positive sample
    assert(under.samples.size == 1 && under.ratio == -1.0 && !under.clean)
    assert(!Bench.wantRetry(under, isolation = false),
      "a window whose verdict is underdetermined must not buy a retry")
  }

  test("retry fires exactly on a determinable dirty full-sweep window") {
    val dirty = window(0.2, Seq(0.3, 1.2, 0.3), 0.3)
    val clean = window(0.2, Seq(0.3, 0.3, 0.3), 0.3)
    assert(Bench.wantRetry(dirty, isolation = false))
    assert(!Bench.wantRetry(clean, isolation = false))
    assert(!Bench.wantRetry(dirty, isolation = true),
      "isolation mode skips sentinels — its window can never earn a retry")
  }

  test("the retry wins only when strictly cleaner; a dirtier or undetermined retry never displaces the first window") {
    val dirty = window(0.2, Seq(0.3, 1.2, 0.3), 0.3)    // ratio 4.0
    val cleaner = window(0.2, Seq(0.3, 0.4, 0.3), 0.3)  // ratio 1.33
    val dirtier = window(0.2, Seq(0.3, 2.4, 0.3), 0.3)  // ratio 8.0
    val under = window(-1.0, Seq(-1.0), 0.3)
    assert(Bench.chooseWindow(dirty, Some(cleaner)) eq cleaner)
    assert(Bench.chooseWindow(dirty, Some(dirtier)) eq dirty)
    assert(Bench.chooseWindow(dirty, Some(under)) eq dirty)
    assert(Bench.chooseWindow(dirty, None) eq dirty)
    // both dirty, retry marginally cleaner: the cleaner evidence wins
    // and the (still-dirty) flag rides the artifact
    val slightly = window(0.2, Seq(0.3, 1.1, 0.3), 0.3)
    assert(Bench.chooseWindow(dirty, Some(slightly)) eq slightly)
    assert(!Bench.chooseWindow(dirty, Some(slightly)).clean)
  }

  test("warm retry fires exactly on a dirty warm bracket under a CLEAN sweep (VERDICT r14 next #4)") {
    assert(Bench.wantWarmRetry(Some(true), Some(false), isolation = false))
    assert(!Bench.wantWarmRetry(Some(true), Some(true), isolation = false),
      "a clean warm bracket buys nothing")
    assert(!Bench.wantWarmRetry(Some(false), Some(false), isolation = false),
      "a dirty sweep makes its median an unusable warm yardstick — the sweep retry owns that case")
    assert(!Bench.wantWarmRetry(None, Some(false), isolation = false) &&
      !Bench.wantWarmRetry(Some(true), None, isolation = false),
      "underdetermined brackets never buy a retry")
    assert(!Bench.wantWarmRetry(Some(true), Some(false), isolation = true),
      "isolation mode has no warm bracket")
  }

  test("the retried warm wins only when strictly cleaner and determinable") {
    assert(Bench.chooseWarmRetry(3.0, 1.2))
    assert(!Bench.chooseWarmRetry(3.0, 3.0), "equal is not cleaner")
    assert(!Bench.chooseWarmRetry(3.0, 4.1), "a dirtier retry never displaces the evidence it was meant to heal")
    assert(!Bench.chooseWarmRetry(3.0, -1.0), "an undetermined retry bracket never wins")
    assert(Bench.chooseWarmRetry(-1.0, 1.2),
      "an undetermined first bracket yields to any determinable retry")
  }

  test("host_level is the sweep-sentinel median; failed shots excluded; underdetermined reads -1 (VERDICT r15 #5)") {
    assert(Bench.hostLevel(Seq(0.4, 0.3, 0.5)) == 0.4)
    assert(Bench.hostLevel(Seq(0.3, 0.4)) == 0.4,
      "even count takes the upper-middle sample (the sweep-median rule)")
    assert(Bench.hostLevel(Seq(-1.0, 0.4, 0.3, -1.0)) == 0.4,
      "failed sentinels (-1) are not host evidence")
    assert(Bench.hostLevel(Seq(0.4)) == -1.0 &&
      Bench.hostLevel(Seq(-1.0, -1.0)) == -1.0 &&
      Bench.hostLevel(Seq.empty) == -1.0,
      "fewer than two live samples is underdetermined, never a level")
  }

  test("the top-level verdict is the per-regime conjunction; underdetermined brackets read unknown, never clean") {
    assert(Bench.verdictOf(Some(true), Some(true)) == "clean")
    assert(Bench.verdictOf(Some(true), Some(false)) == "dirty")
    assert(Bench.verdictOf(Some(false), Some(true)) == "dirty")
    assert(Bench.verdictOf(Some(false), Some(false)) == "dirty")
    assert(Bench.verdictOf(None, Some(true)) == "unknown")
    assert(Bench.verdictOf(Some(true), None) == "unknown")
    assert(Bench.verdictOf(None, None) == "unknown")
  }

  /** [[Bench.stabilized]] over a fixed series: shot i reads `series(i - 1)`
    * and the labels it was asked for are recorded. */
  private def shots(maxShots: Int, series: Double*): (Seq[Double], Seq[Int]) = {
    val asked = scala.collection.mutable.ArrayBuffer.empty[Int]
    (Bench.stabilized(maxShots) { i => asked += i; series(i - 1) }, asked.toSeq)
  }

  test("the sentinel stabilizer stops when two consecutive shots agree within 10%") {
    // a descending (warming) series: 1.06 → 0.73 → 0.65 disagree by 11%,
    // 0.65 → 0.62 agree by 4.6%
    val (s, asked) = shots(6, 1.06, 0.73, 0.65, 0.62, 0.61, 0.60)
    assert(s == Seq(1.06, 0.73, 0.65, 0.62) && s.last == 0.62)
    assert(asked == Seq(1, 2, 3, 4), "shots are numbered from 1")
  }

  test("the sentinel stabilizer never counts a failed shot (-1) as agreement") {
    assert(shots(6, -1.0, -1.0, 0.5, 0.5)._1 == Seq(-1.0, -1.0, 0.5, 0.5))
    assert(shots(6, 0.5, -1.0, 0.5, 0.52)._1 == Seq(0.5, -1.0, 0.5, 0.52))
  }

  test("the sentinel stabilizer respects its shot bound") {
    val (s, asked) = shots(4, 1.0, 2.0, 1.0, 2.0, 1.0, 2.0)
    assert(s == Seq(1.0, 2.0, 1.0, 2.0) && asked == Seq(1, 2, 3, 4))
    assert(shots(1, 1.0, 1.0)._1 == Seq(1.0))
  }

  test("driver-contract tripwire: the bench env names and one-line JSON fields stay stable (VERDICT r16 next #7)") {
    // The driver's cross-round PERF compare reads the PREVIOUS round's
    // bench line: renaming an env var or a JSON field silently zeroes
    // the per-query prev side (PERF_r16's n_common: 0 was exactly a
    // prior-round artifact gap). The emit lives inside Bench.main, so
    // this pins the source — a rename trips here before it ships.
    def read(f: String) = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"src/main/scala/graft/$f.scala"))
    val src = read("Bench")
    // the core count comes from SPARK_GRAFT_CPUS and the master derives
    // from it, never hard-coded: Bench takes the shared session's default
    val session = read("Session")
    for (needle <- Seq("SPARK_GRAFT_CPUS", "master(s\"local[$cpus]\")",
        "def local(cpus: String = envCpus"))
      assert(session.contains(needle), s"Session.scala no longer contains `$needle`")
    for (needle <- Seq(
        // driver contract: the data dir comes from this env
        "SPARK_GRAFT_SF_DIR", "Session.local()",
        // the one-line JSON contract the driver parses (additions-only)
        "\"\"\"{\"metric\":\"total\",\"value\":$total,\"unit\":\"sec\",\"warm\":$warmSec",
        "\"queries\":$qs", "\"warm_breakdown\":$wb",
        // the tail's compact per-query evidence + the artifact files
        "{\"qtb\":", "BENCH_FULL_LAST.json"))
      assert(src.contains(needle),
        s"Bench.scala no longer contains `$needle` — the driver-facing " +
          "bench contract (env names / JSON field names) must stay " +
          "stable; add fields, never rename or remove them")
    // the short parseable line is emitted LAST (the driver keeps only
    // the final ~2000 stdout chars; anything after it would push the
    // parseable line out of the capture window)
    val shortIdx = src.indexOf("println(shortLine)")
    val qtbIdx = src.indexOf("{\"qtb\":")
    val fullIdx = src.indexOf("println(json)")
    assert(fullIdx >= 0 && qtbIdx > fullIdx && shortIdx > qtbIdx,
      "bench stdout order must stay: full line, qtb evidence lines, " +
        "short parseable line LAST")
  }
}
