package graft

import graft.ops.{Graph, LineageCut}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Every graph loop that reads a [[LineageCut.cutObserved]] metric gives
  * the same rows whether the metric is observed during the cut or, with
  * the observation breaker tripped, computed by the cut's own fallback
  * aggregate. */
class LineageCutFallbackSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  // K4 on 1..4 with a pendant triangle 5-6-7 (k-truss, coreness tiers),
  // a directed 3-cycle 10→11→12→10 (one SCC), a path 20→21→22 ending in
  // a dangling vertex and a self-loop on 30 (dropped by the peels)
  private lazy val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L),
    (2L, 4L), (3L, 4L), (4L, 5L), (5L, 6L), (5L, 7L), (6L, 7L),
    (10L, 11L), (11L, 12L), (12L, 10L), (20L, 21L), (21L, 22L),
    (30L, 30L)).toDF("src", "dst")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** A zero cooldown re-arms the breaker at its next check. */
  private def rearm(): Unit = {
    LineageCut.observeCooldownNanos = 0L
    LineageCut.tripObservationForTest()
    assert(LineageCut.observeArmed)
  }

  private val loops: Seq[(String, () => DataFrame)] = Seq(
    "connectedComponents" -> (() => Graph.connectedComponents(edges)),
    "coreness" -> (() => Graph.coreness(edges)),
    "pageRank" -> (() => Graph.pageRank(edges)),
    "pageRankWeighted" -> (() => Graph.pageRankWeighted(
      edges.withColumn("w", (col("src") + col("dst")) % 5 + 1.5))),
    "pageRankPersonalized" -> (() => Graph.pageRankPersonalized(edges,
      Seq(1L, 20L).toDF("v"))),
    "hits" -> (() => Graph.hits(edges)),
    "stronglyConnectedComponents" ->
      (() => Graph.stronglyConnectedComponents(edges)),
    "kTruss" -> (() => Graph.kTruss(edges, k = 3, rounds = 3)))

  for ((name, run) <- loops)
    test(s"$name: same rows with observed and fallback-computed metrics") {
      val saved = LineageCut.observeCooldownNanos
      try {
        rearm()
        var armed = Seq.empty[String]
        val armedJobs = GraftSpark.jobsDuring { armed = rows(run()) }.size
        LineageCut.observeCooldownNanos = 60L * 1000 * 1000 * 1000
        LineageCut.tripObservationForTest()
        var tripped = Seq.empty[String]
        val trippedJobs = GraftSpark.jobsDuring { tripped = rows(run()) }.size
        assert(!LineageCut.observeArmed, "the breaker must hold for the run")
        assert(armed.nonEmpty)
        assert(tripped == armed)
        // the fallback aggregate is one job per observed cut
        assert(trippedJobs > armedJobs)
      } finally {
        rearm()
        LineageCut.observeCooldownNanos = saved
      }
    }
}
