package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the pure decision helpers of the bench harness itself — the
  * verdict machinery decides weak/done largely on these paths (round-13
  * directive #3), so they get the same spec scrutiny as query code. */
class BenchHarnessSpec extends AnyFunSuite {

  test("resample severity: failed samples outrank every numeric ratio") {
    // r12 shape: a FAILED recovery mapped to -1.0 severity and sorted
    // LAST, so the 20-pair cap dropped the error shape first — the exact
    // opposite of the worst-first contract
    assert(Bench.resampleSeverity(Seq(-1.0, 2.3)) == Double.MaxValue)
    assert(Bench.resampleSeverity(Seq(-1.0)) == Double.MaxValue)
    // dual-flagged queries rank by their WORST ratio, not the elevated
    // one alone
    assert(Bench.resampleSeverity(Seq(2.1, 14.0)) == 14.0)
    assert(Bench.resampleSeverity(Seq(3.5)) == 3.5)
    assert(Bench.resampleSeverity(Nil) == 0.0)
    // a burst cluster sorts worst-first with failures ahead of all
    val flagged = Seq(
      "q_marginal" -> Seq(2.1),
      "q_failed" -> Seq(-1.0, 1.6),
      "q_worst" -> Seq(14.0))
    val order = flagged.sortBy { case (n, rs) =>
      (-Bench.resampleSeverity(rs), n) }.map(_._1)
    assert(order == Seq("q_failed", "q_worst", "q_marginal"))
  }

  test("storage peak ceiling is generous against every observed peak") {
    // observed: 143-212 MB controlled sessions, 641 MB the busiest
    // driver session (r12) — the ceiling only fires on unexplained
    // growth well past anything seen, never on normal variance
    assert(Bench.StoragePeakCeilingMb >= 2 * 641)
    // ...but it still means something on a 128 GiB heap
    assert(Bench.StoragePeakCeilingMb <= 16 * 1024)
  }

  test("topFrames aggregates by label, sorts by size, drops zero rows") {
    import tools.CacheAudit.{Snap, topFrames}
    def mb(n: Long) = n * 1024 * 1024
    val snap = Map(
      1 -> Snap(1, "rdd1", 8, 8, mb(100), 0),
      2 -> Snap(2, "rdd2", 8, 8, mb(50), 0),
      3 -> Snap(3, "rdd3", 8, 8, mb(70), 0), // same label as 1: aggregated
      4 -> Snap(4, "rdd4", 8, 8, 0, mb(10)), // disk only: not storage mem
      5 -> Snap(5, "rdd5", 8, 8, mb(5), 0)) // unlabeled -> "?"
    val labels = scala.collection.mutable.Map(
      1 -> "shared:dedup_spine", 2 -> "q:q_scc", 3 -> "shared:dedup_spine",
      4 -> "q:q_anf")
    val top = topFrames(snap, labels, 5)
    assert(top == Seq("shared:dedup_spine" -> 170L, "q:q_scc" -> 50L,
      "?" -> 5L))
    // k caps the list after sorting — the biggest frames survive the cap
    assert(topFrames(snap, labels, 1) == Seq("shared:dedup_spine" -> 170L))
  }

  test("query fold: kept and folded partition the input, _other sums the " +
    "folded, n_other counts them") {
    val mins = Seq("q_a" -> 4.0, "q_bb" -> 0.5, "q_c" -> 2.0,
      "q_failed" -> -1.0, "q_longer_name" -> 1.0, "q_d" -> 0.25)
    // room for three entries of a 3-char name (3 + 12 chars each)
    val f = Bench.foldQueries(mins, 3 * 15 + 1)
    assert(f.kept == Seq("q_a" -> 4.0, "q_c" -> 2.0, "q_d" -> 0.25))
    assert((f.kept ++ f.folded).sortBy(_._1) == mins.sortBy(_._1))
    assert(f.folded.map(_._1).toSet ==
      Set("q_bb", "q_failed", "q_longer_name"))
    assert(f.other == 1.5) // the failed query's -1.0 adds nothing
    assert(Bench.foldQueries(mins, 10000).folded.isEmpty)
    assert(Bench.foldQueries(mins, 0).kept.isEmpty)
  }
}
