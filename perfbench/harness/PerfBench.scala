package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.ops.{QueryLocal, Shared}
import graft.pipelines.Pipelines
import graft.streaming.StreamState
import graft.util.TempDirs

/** One op the benchmark times: a call into a layer's public function. It
  * returns the lazy result frame (materialized by the harness) or None when
  * the call writes its own output. `oracle` names the catalog query whose
  * DuckDB oracle checks the output; `table` the sink table it writes. */
final case class Op(name: String, oracle: Option[String], table: Option[String],
    call: (SparkSession, String, String) => Option[DataFrame])

/** The JVM side of the benchmark: one fresh JVM per run builds the session,
  * times a cold pass and the warm passes over one workload's ops, then
  * checks every op's output once, untimed, and writes a JSON result file
  * for `run.py`. Arguments are `--key value` pairs; see `run.py`. */
object PerfBench {

  private def catalogOp(q: String): Op = {
    val fn = SparkEntry.queries(q)
    Op(q, Some(q), None, (s, d, _) => Some(fn(s, d)))
  }

  private def sinkOp(name: String, table: String,
      run: (SparkSession, String, String) => Unit): Op =
    Op(name, None, Some(table), (s, d, out) => { run(s, d, out); None })

  private val PipelineOps: Map[String, Op] = Seq(
    sinkOp("raw_load", "transfers", Pipelines.rawLoad)
      .copy(oracle = Some("q_transfer_edges")),
    sinkOp("enrich_wallets", "wallets", Pipelines.enrichWallets),
    sinkOp("enrich_dapps", "dapps", Pipelines.enrichDapps),
    sinkOp("enrich_tokens", "tokens", Pipelines.enrichTokens),
    Op("token_documents_json", Some("q_token_documents_full"), None,
      (s, d, _) => Some(Pipelines.tokenDocumentsJson(s, d)))
  ).map(op => op.name -> op).toMap

  /** The op `name` stands for: a pipeline call, else the catalog query of
    * that name (`run.py` lists each workload's ops). */
  def op(name: String): Op = PipelineOps.getOrElse(name, catalogOp(name))

  /** Warm passes after the cold one. `warm_s` is the wall of the last one:
    * the ramp of the JIT and of Spark's caches falls steeply in pass 1, and
    * a longer window would not fit the run budget (over ten runs, the mean
    * of passes 2 and 3 spread no less than pass 2 alone, as run-to-run host
    * speed dominates). A traced run traces the cold pass and this pass, so
    * its per-layer numbers describe the passes a plain run times. */
  private val WarmPasses = 2

  private def nowEpochS: Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond + i.getNano / 1e9
  }

  /** The session the project's Verify harness builds, with every scratch
    * location under the run's own directory. */
  private def session(cpus: Int, scratch: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.shuffle.sort.bypassMergeThreshold", "4")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", s"$scratch/local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(s"$scratch/checkpoints")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val scratch = a("scratch")
    val cpus = a("cpus").toInt
    val spark = session(cpus, scratch)
    val setupS = nowEpochS - a("launch").toDouble
    val out = mutable.LinkedHashMap[String, Any]("setup_s" -> setupS)
    if (a.contains("setup-only")) {
      spark.stop()
      Files.writeString(Paths.get(a("result")), Json.render(out))
      return
    }
    try out ++= new Run(spark, a, a("ops").split(",").toSeq.map(op)).apply()
    finally spark.stop()
    Files.writeString(Paths.get(a("result")), Json.render(out))
  }

  /** One run over one workload's ops in one session. */
  private final class Run(spark: SparkSession, a: Map[String, String], ops: Seq[Op]) {
    private val sc = spark.sparkContext
    private val data = a("data")
    private val sinkDir = s"${a("scratch")}/sinks"
    private val checkDir = a("check-dir")
    private val seed = a("seed").toLong
    private val failOp = a.get("fail-op")
    private val traced = a("trace") == "1"
    private val storage = new StorageTracker
    sc.addSparkListener(storage)
    private val trace = if (!traced) None else {
      val t = new Trace(sc)
      sc.addSparkListener(t)
      spark.listenerManager.register(t.queries)
      spark.streams.addListener(t.streams)
      Some(t)
    }

    private val failures = mutable.LinkedHashMap.empty[String, String]
    private def fail(op: String, e: Throwable): Unit =
      failures.getOrElseUpdate(op, s"${e.getClass.getSimpleName}: ${e.getMessage}")

    // spans of the traced passes, in start order
    private val spans = mutable.ArrayBuffer.empty[Span]
    private var nextSpan = 0
    private var openSpans: List[Int] = Nil
    private def span[T](name: String, op: String, record: Boolean)(body: => T): T = {
      val id = nextSpan
      nextSpan += 1
      val parent = openSpans.headOption.getOrElse(-1)
      openSpans = id :: openSpans
      val t0 = System.nanoTime()
      try body
      finally {
        openSpans = openSpans.tail
        if (record) spans += Span(id, parent, name, op, t0, System.nanoTime())
      }
    }

    final case class Pass(index: Int, traced: Boolean, wallMs: Double,
        opMs: Map[String, Double], layers: Map[String, Double],
        opLayers: Map[String, Map[String, Double]])

    private def delta(after: Map[String, Double], before: Map[String, Double]) =
      after.map { case (k, v) =>
        k -> (if (Trace.Levels(k)) v else v - before.getOrElse(k, 0.0)) }

    private def sharedRddIds(): Set[Int] = {
      import org.apache.spark.sql.execution.columnar.InMemoryRelation
      Shared.liveTags(spark, data).flatMap(tag =>
        Shared.peek(spark, data, tag).toSeq.flatMap(_.queryExecution.withCachedData
          .collectFirst { case r: InMemoryRelation
            if r.cacheBuilder.isCachedColumnBuffersLoaded =>
            r.cacheBuilder.cachedColumnBuffers.id }))
    }

    // what each op's result frame held in the cold pass, for the check
    private val coldResults =
      mutable.HashMap.empty[String, (org.apache.spark.sql.types.StructType, Array[org.apache.spark.sql.Row])]

    /** Call the op, force its plan, materialize its result, then release
      * what the op left behind the way the project's own harnesses do. */
    private def runOp(op: Op, rec: Boolean, keep: Boolean): Double = span("op", op.name, rec) {
      val t0 = System.nanoTime()
      val sharedBefore = Shared.liveTags(spark, data).size
      try {
        val df = span("build", op.name, rec) {
          if (failOp.contains(op.name)) throw new IllegalStateException("injected failure")
          op.call(spark, data, sinkDir)
        }
        df.foreach { d =>
          span("plan", op.name, rec)(d.queryExecution.executedPlan)
          val rows = span("exec", op.name, rec)(d.collect())
          if (keep) coldResults(op.name) = (d.schema, rows)
        }
      } catch { case NonFatal(e) => fail(op.name, e) }
      val providers = span("cleanup", op.name, rec) {
        QueryLocal.release(spark)
        val left = math.max(0, StreamState.loadedProviderCount())
        StreamState.unloadQuietly()
        TempDirs.sweep()
        left
      }
      val ms = (System.nanoTime() - t0) / 1e6
      val heals = Shared.drainHeals().size
      trace.filter(_ => rec).foreach { t =>
        if (Shared.liveTags(spark, data).size > sharedBefore) {
          t.record("shared.build_ms", ms)
          t.sharedRdds = sharedRddIds()
        }
        t.record("shared.heals", heals)
        t.record("stream.providers_left", providers)
        op.table.foreach(tb => t.record("sinks.files", partFiles(s"$sinkDir/$tb")))
      }
      ms
    }

    private def partFiles(dir: String): Int =
      Option(new java.io.File(dir).list()).map(_.count(_.startsWith("part-"))).getOrElse(0)

    private def runPass(index: Int, order: Seq[Op], rec: Boolean,
        keep: Boolean = false): Pass = {
      trace.foreach { t => t.enabled = rec; t.resetHeapPeak() }
      val opLayers = mutable.LinkedHashMap.empty[String, Map[String, Double]]
      def snap() = trace.filter(_ => rec).map(_.snapshot()).getOrElse(Map.empty)
      val first = snap()
      var before = first
      val t0 = System.nanoTime()
      val opMs = span("pass", s"pass$index", rec) {
        order.map { op =>
          val ms = runOp(op, rec, keep)
          if (rec) {
            val after = snap()
            opLayers(op.name) = delta(after, before)
            before = after
          }
          op.name -> ms
        }.toMap
      }
      val wallMs = (System.nanoTime() - t0) / 1e6
      val layers = trace.filter(_ => rec).map(t =>
        delta(before, first) + ("heap.used_mb" -> t.heapPeakMb)).getOrElse(Map.empty)
      Pass(index, rec, wallMs, opMs, layers, opLayers.toMap)
    }

    /** Row count, distinct `_key` count and an order-free content hash. */
    private def fingerprint(table: String): (Long, Long, BigDecimal) = {
      val t = spark.read.parquet(s"$sinkDir/$table")
      val r = t.agg(count(lit(1)), countDistinct(col("_key")),
          sum(xxhash64(to_json(struct(t.columns.map(col).toIndexedSeq: _*)))
            .cast("decimal(38,0)")))
        .head()
      (r.getLong(0), r.getLong(1), BigDecimal(r.getDecimal(2)))
    }

    private def sinkTables = ops.filter(op => op.table.isDefined && op.oracle.isEmpty)

    private def fingerprints(): Map[String, (Long, Long, BigDecimal)] =
      sinkTables.flatMap(op =>
        try Some(op.name -> fingerprint(op.table.get))
        catch { case NonFatal(e) => fail(op.name, e); None }).toMap

    /** Check every op's output once, untimed: the results the cold pass
      * collected, and the tables the sink ops wrote, are dumped as parquet
      * for the DuckDB oracle compare in `run.py`. A sink table must hold one
      * row per `_key` and read the same after the cold pass (which created
      * it) and after the warm passes (which re-upserted the same rows).
      * Returns the oracle SQL of each dumped output. */
    private def check(afterCold: Map[String, (Long, Long, BigDecimal)]): Map[String, String] = {
      val oracles = SparkEntry.oracleSql
      val now = fingerprints()
      afterCold.foreach { case (name, first) =>
        val (rows, keys, _) = first
        if (rows == 0 || rows != keys)
          failures.getOrElseUpdate(name, s"$rows rows for $keys distinct _key values")
        now.get(name).filter(_ != first).foreach(last =>
          failures.getOrElseUpdate(name, s"table changed under a re-upsert: $first -> $last"))
      }
      ops.filter(op => op.oracle.isDefined && !failures.contains(op.name)).flatMap { op =>
        try {
          val result = op.table match {
            case Some(tb) => spark.read.parquet(s"$sinkDir/$tb")
            case None =>
              val (schema, rows) = coldResults(op.name)
              spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          }
          result.coalesce(1).write.parquet(s"$checkDir/${op.name}")
          Some(op.name -> oracles(op.oracle.get))
        } catch { case NonFatal(e) => fail(op.name, e); None }
      }.toMap
    }

    def apply(): Map[String, Any] = {
      val seconds = a("seconds").toDouble
      def order(p: Int) = new scala.util.Random(seed * 1000003L + p).shuffle(ops)
      val t0 = System.nanoTime()
      val cold = runPass(0, ops, traced, keep = true)
      val afterCold = fingerprints()
      val measured = mutable.ArrayBuffer.empty[Pass]
      // the warm passes, then untraced ones outside the measured one until
      // --seconds have passed since the cold pass began
      while (measured.size < WarmPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
        val p = 1 + measured.size
        // each warm pass starts from a collected heap, so the broadcast and
        // shuffle blocks of earlier passes are released before it, not during
        System.gc()
        measured += runPass(p, order(p), traced && p == WarmPasses)
      }
      val warm = measured(WarmPasses - 1)
      trace.foreach(_.enabled = false)
      val oracle = check(afterCold)
      val res = mutable.LinkedHashMap[String, Any](
        "cold_s" -> cold.wallMs / 1e3,
        "warm_s" -> warm.wallMs / 1e3,
        "storage_peak_mb" -> storage.peak / (1024.0 * 1024.0),
        "ops" -> ops.map(_.name),
        "failures" -> failures.toMap,
        "oracle" -> oracle,
        "seed" -> seed,
        "pass_walls_ms" -> (cold +: measured.toSeq).map(p =>
          Map("pass" -> p.index, "traced" -> p.traced, "wall_ms" -> p.wallMs)),
        "op_cold_ms" -> cold.opMs,
        "op_warm_ms" -> ops.map(op =>
          op.name -> warm.opMs(op.name)).toMap,
        "provenance" -> Map(
          "spark_version" -> spark.version,
          "master" -> sc.master,
          "default_parallelism" -> sc.defaultParallelism,
          "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
          "java_version" -> System.getProperty("java.version"),
          "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024)))
      if (traced) {
        val layerNames = (cold.layers.keySet ++ warm.layers.keySet).toSeq.sorted
        // self time of each span, as a layer: the op's public call, forcing
        // the plan, materializing the result, the harness cleanup, and the
        // tracing reads inside an op and between ops
        val spanNames = Seq("build" -> "build_ms", "plan" -> "plan_ms",
          "exec" -> "exec_ms", "cleanup" -> "cleanup_ms",
          "op" -> "trace.op_self_ms", "pass" -> "trace.pass_self_ms")
        val coldSelf = passSelf(cold)
        val warmSelf = passSelf(warm)
        res("layers") = Map(
          "cold" -> (layerNames.map(k => k -> cold.layers.getOrElse(k, 0.0)) ++
            spanNames.map { case (n, k) => k -> coldSelf.getOrElse(n, 0.0) }).toMap,
          "warm" -> (layerNames.map(k => k -> warm.layers.getOrElse(k, 0.0)) ++
            spanNames.map { case (n, k) => k -> warmSelf.getOrElse(n, 0.0) }).toMap)
        res("op_layers") = Seq(cold, warm).map(p => Map("pass" -> p.index, "ops" -> p.opLayers))
        res("spans") = spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "op" -> s.op, "start_ms" -> s.startNs / 1e6, "ms" -> s.ms))
      }
      res.toMap
    }

    /** Self time per span name within one traced pass. */
    private def passSelf(p: Pass): Map[String, Double] = {
      val root = spans.find(s => s.name == "pass" && s.op == s"pass${p.index}")
      root.map { r =>
        Trace.selfTimes(spans.filter(s => s.startNs >= r.startNs && s.endNs <= r.endNs).toSeq)
      }.getOrElse(Map.empty)
    }
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
}
