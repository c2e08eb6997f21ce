package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.{BlockId, RDDBlockId}

/** Storage memory held by the block manager's blocks (cached RDD blocks,
  * lineage-cut blocks and broadcast pieces), tracked block by block from
  * the listener bus, with the highest total seen. Registered in every run:
  * its peak is the end-to-end `storage_peak_mb`. */
final class StorageTracker extends SparkListener {
  private val held = mutable.HashMap.empty[BlockId, Long]
  private var total = 0L
  private var peakBytes = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    total += info.memSize - held.getOrElse(info.blockId, 0L)
    if (info.memSize > 0) held(info.blockId) = info.memSize
    else held.remove(info.blockId)
    peakBytes = math.max(peakBytes, total)
  }

  def peak: Long = synchronized(peakBytes)
}

/** One timed interval of the benchmark's own calls: pass → op →
  * build | plan | exec | cleanup. */
final case class Span(id: Int, parent: Int, name: String, op: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Everything the traced run counts, from outside the program: a
  * SparkListener (scheduler, tasks, blocks), a QueryExecutionListener
  * (Catalyst phase times, sink writes), a StreamingQueryListener (micro-batch
  * phases and state stores) and JVM MXBeans (JIT, GC, heap). Counters only
  * move while `enabled`; [[snapshot]] drains the listener bus first, so a
  * difference of two snapshots is exactly what ran in between. */
final class Trace(sc: SparkContext) extends SparkListener {
  @volatile var enabled = true
  private val c = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = c(k) += v

  private val MB = 1024.0 * 1024.0
  private val checkpointRdds = mutable.HashSet.empty[Int]
  private val droppedFromMemory = mutable.HashMap.empty[Int, Int]
  private val blockMem = mutable.HashMap.empty[BlockId, Long]
  /** RDD ids that back the `ops.Shared` frames; set by the harness. */
  @volatile var sharedRdds: Set[Int] = Set.empty

  private def isCut(site: String) = site.toLowerCase.contains("checkpoint at")

  // stages of micro-batch jobs: their file-sink output belongs to the
  // stream, not to io.Sinks
  private val streamStages = mutable.HashSet.empty[Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (Option(e.properties).exists(_.getProperty("sql.streaming.queryId") != null))
      streamStages ++= e.stageIds
    if (enabled) {
      add("sched.jobs", 1)
      if (e.stageInfos.exists(s => isCut(s.name))) add("lineage.jobs", 1)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.rddInfos.foreach(r =>
      if (isCut(r.callSite) && r.storageLevel.isValid) checkpointRdds += r.id)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (enabled) add("sched.stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (enabled && e.taskMetrics != null) {
      val m = e.taskMetrics
      val i = e.taskInfo
      add("sched.tasks", 1)
      add("sched.delay_ms", math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        i.gettingResultTime))
      add("exec.run_ms", m.executorRunTime)
      add("exec.cpu_ms", m.executorCpuTime / 1e6)
      add("sources.input_mb", m.inputMetrics.bytesRead / MB)
      add("sources.input_rows", m.inputMetrics.recordsRead)
      val sr = m.shuffleReadMetrics
      add("shuffle.read_mb", (sr.remoteBytesRead + sr.localBytesRead) / MB)
      add("shuffle.fetch_wait_ms", sr.fetchWaitTime)
      add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
      add("spill.mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / MB)
      if (!streamStages(e.stageId)) {
        add("sinks.output_mb", m.outputMetrics.bytesWritten / MB)
        add("sinks.output_rows", m.outputMetrics.recordsWritten)
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val before = blockMem.getOrElse(info.blockId, 0L)
    if (info.memSize > 0) blockMem(info.blockId) = info.memSize
    else blockMem.remove(info.blockId)
    info.blockId match {
      case RDDBlockId(rdd, _) if enabled =>
        if (before == 0 && info.memSize + info.diskSize > 0 &&
            checkpointRdds.contains(rdd))
          add("lineage.checkpoint_mb", (info.memSize + info.diskSize) / MB)
        if (before > 0 && info.memSize == 0)
          droppedFromMemory(rdd) = droppedFromMemory.getOrElse(rdd, 0) + 1
      case _ =>
    }
  }

  // an unpersist drops its blocks before this event: those are not evictions
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    droppedFromMemory.remove(e.rddId)
  }

  val queries: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = Trace.this.synchronized {
      if (enabled) {
        val phases = qe.tracker.phases
        Seq("analysis", "optimization", "planning").foreach(p =>
          add(s"catalyst.${p}_ms", phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)))
        if (Trace.isWrite(qe)) add("sinks.write_ms", durationNs / 1e6)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        if (enabled) {
          val p = e.progress
          def phase(k: String) = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
          add("stream.batches", 1)
          add("stream.add_batch_ms", phase("addBatch"))
          add("stream.wal_commit_ms", phase("walCommit"))
          add("stream.commit_offsets_ms", phase("commitOffsets"))
          p.stateOperators.foreach { s =>
            add("stream.state_commit_ms", s.commitTimeMs)
            add("stream.state_rows", s.numRowsTotal)
            add("stream.state_mb", s.memoryUsedBytes / MB)
          }
        }
      }
  }

  private val jit = ManagementFactory.getCompilationMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** Start a heap-peak window (one per pass). */
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / MB

  /** Every counter as of now, listener bus drained; also records
    * block-manager evictions seen since the last snapshot. */
  def snapshot(): Map[String, Double] = {
    org.apache.spark.PerfBenchAccess.drainListeners(sc)
    val live = sc.getPersistentRDDs.keySet
    synchronized {
      if (enabled)
        add("cache.evictions",
          droppedFromMemory.collect { case (r, n) if live(r) => n }.sum)
      droppedFromMemory.clear()
      val sharedMb = blockMem.collect {
        case (RDDBlockId(r, _), b) if sharedRdds(r) => b
      }.sum / MB
      c.toMap ++ Map(
        "shared.storage_mb" -> sharedMb,
        "codegen.compile_ms" -> org.apache.spark.sql.catalyst.expressions
          .codegen.CodeGenerator.compileTime / 1e6,
        "codegen.classes" -> org.apache.spark.metrics.source.CodegenMetrics
          .METRIC_COMPILATION_TIME.getCount.toDouble,
        "jit.compile_ms" -> jit.getTotalCompilationTime.toDouble,
        "gc.ms" -> gcs.map(_.getCollectionTime).sum.toDouble)
    }
  }

  /** Add a counter the harness measures itself (spans, file counts). */
  def record(k: String, v: Double): Unit = synchronized { if (enabled) add(k, v) }
}

object Trace {
  /** Counters that are levels, not running totals: a difference of two
    * snapshots is meaningless for them, so a pass reports the level at its
    * end. */
  val Levels = Set("shared.storage_mb")

  /** A batch write command (micro-batch executions are the stream's). */
  private def isWrite(qe: QueryExecution): Boolean = {
    val n = qe.logical.nodeName
    qe.getClass.getSimpleName != "IncrementalExecution" &&
      (n.startsWith("InsertInto") || n.startsWith("SaveIntoDataSource") ||
        n.contains("Write"))
  }

  /** Self time per span name: each span's duration minus what its children
    * cover (children never overlap — the harness is single-threaded). */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum
    }
  }
}
