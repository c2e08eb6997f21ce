package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Where a catalog query's time goes, pass by pass, under Bench's pass
  * discipline: the shared warmup first (one record per part), then per
  * matching query an adjacent `cold`→`warm1` pair before its query-local
  * frames, stream state and scratch dirs are released.
  *
  * Each pass prints one JSON line: `build_ms` (driver-side DataFrame
  * construction — for a bounded `q_stream_*` query, the whole stream
  * run), `plan_ms` (physical planning forced), `exec_ms` (`count()`), the
  * pass's [[StageAudit]] totals named after perfbench's layers
  * (`sched.stages`, `sched.tasks`, `exec.run_ms`, `gc.ms`,
  * `shuffle.read_mb`/`write_mb`, `sources.input_mb`), its heaviest stage
  * rows, and — when it ran micro-batches — the summed
  * `StreamingQueryProgress` phases and state-store commit time
  * (`stream.*`), `io.process_starts` (operating-system processes the JVM
  * started during the pass, by [[ProcessStarts]]; their command lines go
  * to stderr), and `rounds`: the pass's executed plans grouped per
  * action into distinct shapes (the per-round plans of iterative loops,
  * which a query's final `explain` never shows), with exchange/sort/join
  * counts in the record and each shape's plan text on stderr. The last
  * line sums every numeric field per pass.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=… SPARK_GRAFT_CPUS=… sbt "runMain
  * graft.tools.Probe <regex> [--plans DIR] [--conf k=v]…"`.
  *  - `--plans DIR`: write `DIR/<query>.txt`, the formatted explain of
  *    the warm1 pass (AQE-final, shared frames as warm passes see them).
  *  - `--conf k=v`: a session conf on top of [[graft.Session.conf]], to
  *    A/B a setting on the same pass discipline. */
final class Probe(spark: SparkSession, sfDir: String, opts: Probe.Opts) {
  import Probe._

  val audit = new StageAudit(spark)
  private val progress =
    new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
  // started: posted synchronously by the starting thread; progress and
  // terminated: on Spark's async `streams` listener queue, in order
  private val started, terminated = new java.util.concurrent.atomic.AtomicInteger
  private val progressListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      started.incrementAndGet()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      terminated.incrementAndGet()
  }
  spark.streams.addListener(progressListener)
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit =
      plans.add(qe.executedPlan.toString)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }
  spark.listenerManager.register(planListener)

  /** Build and count every [[graft.Bench.SharedWarmup]] part, one record
    * each, then keep what the warmup tracked as query-local alive, as
    * Bench does. */
  def warmup(): Seq[Record] = {
    val recs = graft.Bench.SharedWarmup.map { case (part, _, build) =>
      timed(s"_warmup:$part", "cold", build(spark, sfDir))._1
    }
    graft.ops.QueryLocal.drain(spark)
    graft.ops.Shared.drainHeals()
    recs
  }

  /** One query's cold→warm1 pair, then its release. */
  def query(name: String, fn: (SparkSession, String) => DataFrame): Seq[Record] = {
    val passes = Seq("cold", "warm1").map(pass => timed(name, pass, fn(spark, sfDir)))
    for (dir <- opts.plans; df <- passes.last._2) {
      val out = java.nio.file.Paths.get(dir, s"$name.txt")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.writeString(out,
        df.queryExecution.explainString(ExplainMode.fromString("formatted")))
    }
    graft.ops.QueryLocal.release(spark)
    graft.streaming.StreamState.unloadQuietly()
    graft.util.TempDirs.sweep()
    graft.ops.Shared.drainHeals()
    passes.map(_._1)
  }

  /** Unregister the listeners (the session may outlive the probe). */
  def close(): Unit = {
    audit.close()
    spark.streams.removeListener(progressListener)
    spark.listenerManager.unregister(planListener)
  }

  private def timed(q: String, pass: String, build: => DataFrame)
      : (Record, Option[DataFrame]) = {
    def ms(t0: Long) = (System.nanoTime() - t0) / 1000000L
    audit.setLabel(s"$q/$pass")
    var df: Option[DataFrame] = None
    val phases = Array(-1L, -1L, -1L)
    val (_, starts) = ProcessStarts.during {
      try {
        var t0 = System.nanoTime()
        df = Some(build)
        phases(0) = ms(t0)
        t0 = System.nanoTime()
        df.get.queryExecution.executedPlan
        phases(1) = ms(t0)
        t0 = System.nanoTime()
        df.get.count()
        phases(2) = ms(t0)
      } catch { case e: Throwable =>
        System.err.println(s"[probe] $q/$pass failed: ${e.getMessage}") }
    }
    // QueryExecutionListener calls run on the listener bus' shared queue,
    // which the stage rows settle on; stream progress rides the separate
    // `streams` queue, so wait (bounded) until every stream query started
    // so far has posted its termination — its progress precedes it
    val rows = audit.drainRowsSettled().filter(_.label == s"$q/$pass")
    val deadline = System.nanoTime() + StreamEventsTimeoutMs * 1000000L
    while (terminated.get < started.get && System.nanoTime() < deadline)
      Thread.sleep(10)
    def drain[T](queue: java.util.concurrent.ConcurrentLinkedQueue[T]): Seq[T] =
      Iterator.continually(queue.poll()).takeWhile(_ != null).toSeq
    val rec = Record(q, pass, phases(0), phases(1), phases(2), phases(2) >= 0,
      rows, drain(progress), drain(plans), starts)
    if (starts.nonEmpty)
      System.err.println(s"[probe] $q/$pass started: ${starts.mkString("; ")}")
    rec.shapes.foreach { case (shape, n) =>
      System.err.println(s"===== $q/$pass x$n =====\n" +
        shape.linesIterator.take(40).mkString("\n"))
    }
    (rec, df)
  }
}

object Probe {
  final case class Opts(plans: Option[String] = None,
      confs: Map[String, String] = Map.empty)

  private val Usage = "Probe <regex> [--plans DIR] [--conf k=v]..."

  /** How long a pass waits for its stream queries' last events. */
  private val StreamEventsTimeoutMs = 5000L

  /** The name regex and options of a command line. */
  def parse(args: Seq[String]): (scala.util.matching.Regex, Opts) = {
    @scala.annotation.tailrec
    def go(rest: List[String], o: Opts): Opts = rest match {
      case Nil => o
      case "--plans" :: dir :: t => go(t, o.copy(plans = Some(dir)))
      case "--conf" :: kv :: t if kv.contains('=') =>
        val Array(k, v) = kv.split("=", 2)
        go(t, o.copy(confs = o.confs + (k.trim -> v.trim)))
      case bad :: _ =>
        throw new IllegalArgumentException(s"bad argument '$bad'; usage: $Usage")
    }
    args.toList match {
      case re :: rest if !re.startsWith("--") => (re.r, go(rest, Opts()))
      case _ => throw new IllegalArgumentException(s"usage: $Usage")
    }
  }

  // StreamingQueryProgress.durationMs phase → record field
  private val StreamPhases = Seq("triggerExecution" -> "stream.trigger_ms",
    "addBatch" -> "stream.add_batch_ms", "latestOffset" -> "stream.latest_offset_ms",
    "getBatch" -> "stream.get_batch_ms", "queryPlanning" -> "stream.query_planning_ms",
    "walCommit" -> "stream.wal_commit_ms", "commitOffsets" -> "stream.commit_offsets_ms")

  private val MB = 1048576.0

  /** One pass of one query (or one warmup part): phase walls (-1 where
    * the pass failed before reaching the phase), its stage rows, stream
    * progress, the executed plan of every action and the command line of
    * every process started. */
  final case class Record(q: String, pass: String, buildMs: Long, planMs: Long,
      execMs: Long, ok: Boolean, rows: Seq[StageAudit.Row],
      progress: Seq[StreamingQueryProgress], actionPlans: Seq[String],
      processStarts: Seq[String]) {
    def label: String = s"$q/$pass"

    /** The numeric fields, in record order. */
    lazy val metrics: Seq[(String, Double)] = {
      val base = Seq("build_ms" -> buildMs.toDouble, "plan_ms" -> planMs.toDouble,
        "exec_ms" -> execMs.toDouble,
        "sched.stages" -> rows.size.toDouble,
        "sched.tasks" -> rows.map(_.tasks.toLong).sum.toDouble,
        "exec.run_ms" -> rows.map(_.taskMs).sum.toDouble,
        "gc.ms" -> rows.map(_.gcMs).sum.toDouble,
        "shuffle.read_mb" -> rows.map(_.sReadB).sum / MB,
        "shuffle.write_mb" -> rows.map(_.sWriteB).sum / MB,
        "sources.input_mb" -> rows.map(_.inputB).sum / MB,
        "io.process_starts" -> processStarts.size.toDouble)
      val states = progress.flatMap(_.stateOperators.toSeq)
      val stream = if (progress.isEmpty) Nil else
        ("stream.batches" -> progress.size.toDouble) +:
          StreamPhases.map { case (phase, field) =>
            field -> progress.map(p =>
              Option(p.durationMs.get(phase)).map(_.doubleValue).getOrElse(0.0)).sum
          } :+
          ("stream.state_commit_ms" -> states.map(_.commitTimeMs).sum.toDouble) :+
          ("stream.state_rows" -> states.map(_.numRowsTotal).sum.toDouble)
      base ++ stream
    }
    def metric(name: String): Double =
      metrics.collectFirst { case (`name`, v) => v }.getOrElse(0.0)

    /** Distinct action plans (expression and plan ids canonicalized) with
      * their occurrence counts, most frequent first. */
    lazy val shapes: Seq[(String, Int)] = actionPlans
      .groupBy(_.replaceAll("#\\d+L?", "#x").replaceAll("plan_id=\\d+", "plan_id=x")
        .replaceAll("\\[id=#\\d+\\]", ""))
      .map { case (shape, occ) => shape -> occ.size }.toSeq.sortBy(-_._2)

    def json: String = {
      val shapeJson = shapes.map { case (shape, n) =>
        def c(tok: String) = tok.r.findAllIn(shape).size
        s"""{"n":$n,"exchange":${c("Exchange hashpartitioning")},""" +
          s""""broadcast":${c("BroadcastExchange")},""" +
          s""""reused":${c("ReusedExchange")},"sort":${c("Sort ")},""" +
          s""""smj":${c("SortMergeJoin")},"bhj":${c("BroadcastHashJoin")}}"""
      }
      val rounds = s""","rounds":{"actions":${actionPlans.size},""" +
        s""""shapes":${shapes.size},"by_shape":${shapeJson.mkString("[", ",", "]")}}"""
      val stages = rows.sortBy(-_.taskMs).take(8).map(_.json)
      s"""{"q":"$q","pass":"$pass","ok":$ok,""" + fields(metrics) + rounds +
        s""","stages":${stages.mkString("[", ",", "]")}}"""
    }
  }

  private def fields(m: Seq[(String, Double)]): String = m.map { case (k, v) =>
    "\"" + k + "\":" + (if (k.endsWith("_mb")) f"$v%.3f" else f"$v%.0f")
  }.mkString(",")

  /** Per-pass sums of every numeric field over the query records. */
  def totalsJson(recs: Seq[Record]): String = {
    val byPass = recs.groupBy(_.pass).toSeq.sortBy(_._1).map { case (pass, rs) =>
      val names = rs.flatMap(_.metrics.map(_._1)).distinct
      "\"" + pass + "\":{" + fields(names.map(k => k -> rs.map(_.metric(k)).sum)) + "}"
    }
    s"""{"n_queries":${recs.map(_.q).distinct.size},"failed":""" +
      s"""${recs.count(!_.ok)},"totals":${byPass.mkString("{", ",", "}")}}"""
  }

  def main(args: Array[String]): Unit = {
    val (only, opts) = parse(args.toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      throw new IllegalArgumentException("SPARK_GRAFT_SF_DIR is not set"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.Session.local(cpus, opts.confs)
    val probe = new Probe(spark, sfDir, opts)
    probe.warmup().foreach(r => println(r.json))
    val recs = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.findFirstIn(n).isDefined }
      .flatMap { case (n, fn) =>
        val rs = probe.query(n, fn)
        rs.foreach(r => println(r.json))
        rs
      }
    println(totalsJson(recs))
    spark.stop()
  }
}
