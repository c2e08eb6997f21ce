package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft JVM opens its Spark session. Bench, Verify, the
  * dev tools and the test fixture all call [[local]], so the setting that
  * decides whether [[plans.DeterministicSums]] and the `graft_*` functions
  * are on (`spark.sql.extensions`) and the performance settings below are
  * the same everywhere — a hand-copied builder per main let them drift
  * (seven tools ran without the extension, two turned cached-plan AQE into
  * env knobs). `perfbench/harness/PerfBench.scala` builds the same conf
  * plus its scratch paths; `SessionSpec` fails if the two diverge. */
object Session {

  /** The conf every graft session carries, for `cpus` local cores. */
  def conf(cpus: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true",
    // let AQE right-size partitioning for CACHED plans too (off by default
    // for compatibility): the session-shared frames otherwise materialize
    // at the static shuffle partition count and pin every downstream
    // stage's task count to it regardless of data volume — at sf0.1 that
    // made each Luby/peel round of the iterative graph queries a parade of
    // 32/64-task stages over kilobytes (q_mis 8.2 s steady; 3.2 s with
    // this on, same plans; round-10 stage audit in PERF.md)
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    // sort-based shuffle writer for wide exchanges: the bypass writer opens
    // one file per reducer per map task and NIO-merges them (32 partitions
    // x 32 map tasks = 1024 creates+mmaps per exchange) -- measured 42% of
    // warm wall on the shuffle-heavy catalog subset. At production
    // partition counts (>200) bypass never engages, so this pins wide
    // local exchanges to the same writer path a cluster run uses. 4 = the
    // streaming state shard count: state exchanges (tiny rows, many
    // micro-batches) stay on the bypass path, where a file per reducer is
    // mild and the sort writer's per-task buffering measured 1.4-3.9x
    // worse on the stream-join family -- while batch exchanges stay
    // sort-based even in the LOWER-core-count scaling run (8 cores -> 8
    // shuffle partitions, which a threshold of 8 would have flipped back
    // to bypass; measured -17% on the shuffle-heavy subset at 8 cores).
    "spark.shuffle.sort.bypassMergeThreshold" -> "4",
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions")

  /** A `local[cpus]` session with [[conf]] (then `extra` on top), log
    * level WARN and a fresh temp checkpoint dir (reliable checkpoints for
    * the iterative graph algorithms, `LineageCut.Auto`), deleted at JVM
    * exit whichever way the JVM ends. */
  def local(cpus: Int, extra: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config(conf(cpus) ++ extra)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(
      util.TempDirs.staging("graft-ckpt").toString)
    spark
  }
}
