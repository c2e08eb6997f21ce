package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Stage-level profiler shared by [[Probe]], [[PostureCheck]] and
  * [[graft.Bench]]'s elevated-minimum attribution: registers a listener
  * once, stamps every completed stage with the CALLER-SET label of the
  * work running at the time, and returns per labeled block the stage
  * count, task count, summed stage wall, and the heaviest stages with RDD
  * chain + task metrics — the attribution that separates "this query is
  * compute-bound" (task time tracks bytes) from "this query is a parade of
  * tiny stages" (tasks ≫ data, the cached-plan partition-pinning shape
  * round 10 caught on q_mis; PERF.md).
  *
  * Labels assume blocks run ONE AT A TIME (both the tools and Bench are
  * strictly sequential). Stage events ride the ASYNC listener bus, so a
  * completion event can be DELIVERED well after its block's timer stops —
  * labeling by the value read at delivery time mislabels exactly the
  * laggy-bus sessions the elevated-minimum feature diagnoses (a best
  * pass's final stages delivered after the next setLabel would carry the
  * next pass's label, and Bench's best-pass filter would come up empty).
  * Rows are therefore bucketed by the
  * stage's own SUBMISSION wall-clock against the recorded (time, label)
  * transition history: a stage is always submitted while its block is
  * running, so the mapping is delivery-lag-immune. The transition list
  * grows one entry per setLabel (~a few thousand per Bench session —
  * negligible) and is never pruned, because a stale completion event may
  * reference an arbitrarily old window. */
final class StageAudit(spark: SparkSession) {
  import StageAudit.Row
  @volatile private var label = ""
  // (wall-clock ms of the transition, label) — append-only, read under
  // iteration by the listener thread
  private val transitions =
    new java.util.concurrent.CopyOnWriteArrayList[(Long, String)]()
  private val rows = new java.util.concurrent.ConcurrentLinkedQueue[Row]()

  /** Attribute stages SUBMITTED from now on to `l`. */
  def setLabel(l: String): Unit = {
    label = l
    transitions.add((System.currentTimeMillis(), l))
  }

  /** The label active at wall-clock `t` (last transition at or before
    * it). A `t` that predates every transition maps to the INITIAL empty
    * label — that is what was actually active; falling back to the
    * current label would re-introduce delivery-time mislabeling for
    * stages submitted before the caller's first setLabel (e.g. another
    * suite's job on a shared test SparkContext). */
  private def labelAt(t: Long): String = {
    var res = ""
    val it = transitions.iterator()
    while (it.hasNext) {
      val (ts, l) = it.next()
      if (ts <= t) res = l
      else return res
    }
    res
  }

  private val listener = new SparkListener {
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val i = sc.stageInfo
      val ms = (for {s <- i.submissionTime; c <- i.completionTime}
        yield c - s).getOrElse(-1L)
      val m = i.taskMetrics
      rows.add(Row(i.submissionTime.map(labelAt).getOrElse(label),
        i.rddInfos.sortBy(_.id).map(_.name).mkString(">").take(70),
        ms, i.numTasks, m.executorRunTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.inputMetrics.bytesRead, m.peakExecutionMemory))
    }
  }
  spark.sparkContext.addSparkListener(listener)

  /** Stop recording (a session that outlives the audit drops its rows). */
  def close(): Unit = spark.sparkContext.removeSparkListener(listener)

  /** Return and clear every accumulated row. */
  def drainRows(): Seq[Row] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    var r = rows.poll()
    while (r != null) { out += r; r = rows.poll() }
    out.toSeq
  }

  /** [[drainRows]], then keep polling until the async bus delivers no new
    * row for `settleMs` (bounded by `timeoutMs`). Tools that report
    * a pass's stage TOTALS (Probe, PostureCheck) need the
    * stragglers a plain drain misses on a laggy bus — otherwise the final
    * stages of a pass are silently discarded by the next pass's clearing
    * drain and the recorded profile under-reports. */
  def drainRowsSettled(settleMs: Int = 200, timeoutMs: Int = 2000): Seq[Row] = {
    val out = scala.collection.mutable.ArrayBuffer(drainRows(): _*)
    var idle = 0
    var waited = 0
    while (idle < settleMs && waited < timeoutMs) {
      Thread.sleep(50); waited += 50
      val more = drainRows()
      if (more.isEmpty) idle += 50 else { idle = 0; out ++= more }
    }
    out.toSeq
  }
}

object StageAudit {
  /** One completed stage: the caller label active when it was submitted,
    * its RDD chain, wall ms, task count, summed task metrics, shuffle
    * bytes, input bytes and the stage's summed peak execution memory. */
  final case class Row(label: String, desc: String, ms: Long, tasks: Int,
      taskMs: Long, gcMs: Long, sReadB: Long, sWriteB: Long,
      inputB: Long = 0L, peakMemB: Long = 0L) {
    /** Compact JSON for BENCH_DETAIL's elevated-minimum records. */
    def json: String = {
      val d = desc.replace("\\", "\\\\").replace("\"", "\\\"")
      s"""{"ms":$ms,"tasks":$tasks,"task_ms":$taskMs,"gc_ms":$gcMs,""" +
        s""""sread_mb":${sReadB >> 20},"swrite_mb":${sWriteB >> 20},""" +
        s""""desc":"$d"}"""
    }
  }
}

