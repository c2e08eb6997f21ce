package graft

import graft.ops.{Graph, Wallet}
import graft.pipelines.Pipelines
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Fixed cost per call, pinned: the Spark jobs one warm call launches on
  * the fixture (4 cores). A job costs less than the benchmark's wall-time
  * noise, so a reintroduced job shows here first. A ceiling may only go
  * down; lowering one is a CHANGES.md line. */
class JobBudgetSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  /** Jobs of one warm call of `body` (after one unmeasured call), the
    * fewest of up to three tries, are at most `ceiling`. */
  private def assertWarmJobs(ceiling: Int)(body: => Unit): Unit = {
    body
    var n = Int.MaxValue
    var tries = 0
    while (n > ceiling && tries < 3) {
      n = math.min(n, GraftSpark.jobsDuring(body).size)
      tries += 1
    }
    assert(n <= ceiling)
  }

  test("q_coreness: a warm Wallet.transferCoreness launches at most 9 jobs") {
    assertWarmJobs(9)(Wallet.transferCoreness(spark, GraftSpark.Sf).collect())
  }

  // the other graph_stream ops, each called as the benchmark calls it
  for ((q, ceiling) <- Seq("q_dedup_clusters" -> 3, "q_communities" -> 3,
      "q_stream_dedup" -> 4, "q_stream_bounded_hourly" -> 5))
    test(s"a warm $q launches at most $ceiling jobs") {
      assertWarmJobs(ceiling)(SparkEntry.queries(q)(spark, GraftSpark.Sf).collect())
    }

  // the PageRank power loop, over the transfer edges as q_pagerank builds
  // them (q_pagerank itself reads a session-shared result, free when warm)
  test("q_pagerank: a warm Graph.pageRank launches at most 24 jobs") {
    assertWarmJobs(24)(Graph.pageRank(Tables.transfers(spark, GraftSpark.Sf)
      .select(col("from_address").as("src"), col("to_address").as("dst")))
      .collect())
  }

  // the other PageRank forms and the seeded min-plus relaxations
  for ((q, ceiling) <- Seq("q_pagerank_weighted" -> 26,
      "q_pagerank_personalized" -> 28, "q_bfs_hops" -> 29,
      "q_shortest_path" -> 29, "q_taint_trace" -> 29))
    test(s"a warm $q launches at most $ceiling jobs") {
      assertWarmJobs(ceiling)(SparkEntry.queries(q)(spark, GraftSpark.Sf).collect())
    }

  // the four upsert ops of token_etl, each into its own table of one sink
  // dir; a warm call merges into the table its first call wrote
  private lazy val sinkDir = util.TempDirs.staging("graft_jobs_sink").toString

  test("a warm Pipelines.rawLoad launches at most 2 jobs") {
    assertWarmJobs(2)(Pipelines.rawLoad(spark, GraftSpark.Sf, sinkDir))
  }

  test("a warm Pipelines.enrichWallets launches at most 3 jobs") {
    assertWarmJobs(3)(Pipelines.enrichWallets(spark, GraftSpark.Sf, sinkDir))
  }

  test("a warm Pipelines.enrichDapps launches at most 3 jobs") {
    assertWarmJobs(3)(Pipelines.enrichDapps(spark, GraftSpark.Sf, sinkDir))
  }

  test("a warm Pipelines.enrichTokens launches at most 6 jobs") {
    assertWarmJobs(6)(Pipelines.enrichTokens(spark, GraftSpark.Sf, sinkDir))
  }

  test("a warm Pipelines.tokenDocumentsJson launches at most 5 jobs") {
    assertWarmJobs(5)(Pipelines.tokenDocumentsJson(spark, GraftSpark.Sf).collect())
  }
}
