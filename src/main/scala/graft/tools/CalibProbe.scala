package graft.tools

import org.apache.spark.sql.SparkSession

/** THE fixed ambient-calibration probe — constant CPU+shuffle work with
  * no data or cache dependence. Bench runs it at session start/end (and
  * mid-session on a warm-pass anomaly), PostureCheck stamps every posture
  * report with it; cross-session and cross-round comparisons divide it
  * out (r8: unchanged code re-measured 1.6× slower between driver
  * sessions — the probe is the yardstick that retires that class of
  * false regression).
  *
  * ONE definition on purpose: the comparability contract is that every
  * probe reading anywhere measures IDENTICAL work — round 9 carried two
  * verbatim copies (Bench + PostureCheck), where an edit to one would
  * silently invalidate the yardstick. Do not fork this. */
object CalibProbe {

  /** One probe reading in seconds. The FIRST reading of a session pays
    * JIT/codegen (exactly not ambient) — use [[warmed]] at session start,
    * or discard the first [[run]] manually. */
  def run(spark: SparkSession, cpus: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 50000000L, 1L, cpus)
      .selectExpr("id % 997 AS b", "xxhash64(id) AS h")
      .groupBy("b").agg(org.apache.spark.sql.functions.sum("h"))
      .count()
    (System.nanoTime() - t0) / 1e9
  }

  /** Discard one JIT-warmup reading, return the next. */
  def warmed(spark: SparkSession, cpus: Int): Double = {
    run(spark, cpus)
    run(spark, cpus)
  }

  /** The reference reading other sessions normalize against —
    * `total_steady_min_calib_adj = total × RefCalibSec / session_calib`.
    *
    * RE-ANCHORED in round 13 (declared in OPTIMIZATION_r13.md): the probe's
    * constant work includes one 32-partition shuffle, and the round-13
    * engine sessions pin `spark.shuffle.sort.bypassMergeThreshold=4`, which
    * moves that shuffle from the bypass writer (1024 file creates + NIO
    * merges) to the sort writer — the probe reading fell from ~0.59 to
    * ~0.19 s on a quiet box for IDENTICAL ambient conditions. Against the
    * old anchor every adjusted total would inflate ~3×, so the anchor moves
    * with the writer path. History: rounds ≤12 used 0.59 (round-9 driver
    * session mean [0.57, 0.61]; builder 24 g session 0.55/0.63) — adjusted
    * totals across the r12→r13 boundary are NOT directly comparable; use
    * the raw `value` (whose methodology is unchanged) for cross-round
    * ratios. The r13 anchor: the first r13-conf bench session's END probe
    * (its quietest moment) read 0.185, and [[main]] under residual load
    * 0.4 read min 0.22 trending down — 0.19 is the quiet-window value,
    * the same convention that set 0.59. */
  val RefCalibSec = 0.19

  /** Ad-hoc anchor measurement: prints `warmed()` plus N raw readings on
    * the current box under the exact engine session confs. */
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Session.local(cpus)
    val w = warmed(spark, cpus)
    val reads = (1 to 10).map(_ => run(spark, cpus))
    println(f"warmed=$w%.4f reads=${reads.map(r => f"$r%.4f").mkString(",")}")
    val sorted = reads.sorted
    println(f"median=${sorted(reads.size / 2)}%.4f min=${sorted.head}%.4f")
    spark.stop()
  }
}
