package graft

import graft.ops.{LineageCut, Wallet}
import graft.pipelines.Pipelines
import org.scalatest.funsuite.AnyFunSuite

/** Fixed cost per call, pinned: the Spark jobs one warm call launches on
  * the fixture (4 cores). A job costs less than the benchmark's wall-time
  * noise, so a reintroduced job shows here first. A ceiling may only go
  * down; lowering one is a CHANGES.md line. */
class JobBudgetSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  /** Jobs of one warm call of `body` (after one unmeasured call), the
    * fewest of up to three tries, are at most `ceiling`. A tripped
    * metrics breaker ([[LineageCut.cutObserved]]) adds a fallback scan
    * job to a loop round; with a zero cooldown it re-arms at the next
    * round, and a trip now clears one left by an earlier suite. */
  private def assertWarmJobs(ceiling: Int)(body: => Unit): Unit = {
    body
    val saved = LineageCut.observeCooldownNanos
    LineageCut.observeCooldownNanos = 0L
    LineageCut.tripObservationForTest()
    try {
      var n = Int.MaxValue
      var tries = 0
      while (n > ceiling && tries < 3) {
        n = math.min(n, GraftSpark.jobsDuring(body).size)
        tries += 1
      }
      assert(n <= ceiling)
    } finally LineageCut.observeCooldownNanos = saved
  }

  test("q_coreness: a warm Wallet.transferCoreness launches at most 27 jobs") {
    assertWarmJobs(27)(Wallet.transferCoreness(spark, GraftSpark.Sf).collect())
  }

  test("a warm Pipelines.tokenDocumentsJson launches at most 5 jobs") {
    assertWarmJobs(5)(Pipelines.tokenDocumentsJson(spark, GraftSpark.Sf).collect())
  }
}
