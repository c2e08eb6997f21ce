package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Micro-batch cost profile for the catalog's 21 `q_stream_*` queries —
  * the round-14 "measure first" step for the stream family (guide §1):
  * the r13 verdict shows executor threads 94% TIMED_WAITING during the
  * stream queries, i.e. the wall is per-micro-batch fixed cost, not
  * compute. This tool names WHICH fixed cost, per query, from the
  * engine's own `StreamingQueryProgress`: batch count and the summed
  * `durationMs` phases (triggerExecution = whole batch; addBatch =
  * plan+run the batch job; latestOffset/getBatch = source work;
  * queryPlanning = IncrementalExecution planning; walCommit/commitOffsets
  * = offset/commit HDFS-metadata-log writes), plus state-store commit
  * time from the operator metrics.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=... \
  *   sbt "runMain graft.tools.StreamProfile [nameRegex]"
  * One JSON line per query (cold + warm run; warm numbers reported) and a
  * family total at the end.
  */
object StreamProfile {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val only = args.headOption.map(_.r)
    val spark = graft.Session.local(cpus)
    // A/B hook: SPARK_GRAFT_STREAM_CONFS="k=v;k=v" — session confs applied
    // before any query runs, so candidate knobs are measured on the real
    // catalog entries without code edits (same pattern as QueryStages'
    // QUERY_STAGES_CONFS).
    sys.env.get("SPARK_GRAFT_STREAM_CONFS").foreach { s =>
      s.split(';').filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k.trim, v.trim)
        System.err.println(s"[streamprofile] conf ${k.trim}=${v.trim}")
      }
    }

    // capture every progress event; drained per catalog query
    val progress =
      new java.util.concurrent.ConcurrentLinkedQueue[
        org.apache.spark.sql.streaming.StreamingQueryProgress]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })

    val names = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(_._1.startsWith("q_stream"))
      .filter { case (n, _) => only.forall(_.findFirstIn(n).isDefined) }

    def drain(): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
      // progress events ride the async listener bus; bounded settle wait
      Thread.sleep(300)
      val out = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
      var p = progress.poll()
      while (p != null) { out += p; p = progress.poll() }
      out.toSeq
    }

    var famTotal = 0.0
    names.foreach { case (n, f) =>
      // cold run (discarded from the report, like the bench's cold pass)
      val t0 = System.nanoTime()
      f(spark, sfDir).count()
      val cold = (System.nanoTime() - t0) / 1e9
      graft.ops.QueryLocal.release(spark)
      graft.streaming.StreamState.unloadQuietly()
      graft.util.TempDirs.sweep()
      drain()
      // warm run: the steady-state number the bench prices
      val t1 = System.nanoTime()
      f(spark, sfDir).count()
      val warm = (System.nanoTime() - t1) / 1e9
      graft.ops.QueryLocal.release(spark)
      graft.streaming.StreamState.unloadQuietly()
      graft.util.TempDirs.sweep()
      val ps = drain()
      famTotal += warm
      val dur = scala.collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)
      ps.foreach { p =>
        p.durationMs.forEach((k, v) => dur(k) += v)
      }
      val stateCommit = ps.flatMap(_.stateOperators.toSeq)
        .map(_.commitTimeMs).sum
      val stateRows = ps.flatMap(_.stateOperators.toSeq)
        .map(_.numRowsTotal).max0
      val keys = Seq("triggerExecution", "addBatch", "latestOffset",
        "getBatch", "queryPlanning", "walCommit", "commitOffsets")
      println(s"""{"q":"$n","cold":${f2(cold)},"warm":${f2(warm)},""" +
        s""""batches":${ps.size},""" +
        keys.map(k => s""""$k":${dur(k)}""").mkString(",") +
        s""","stateCommitMs":$stateCommit,"stateRowsMax":$stateRows}""")
    }
    println(f"""{"family_warm_total":$famTotal%.2f,"n":${names.size}}""")
    spark.stop()
  }

  private def f2(d: Double): String = f"$d%.2f"

  private implicit class MaxLong(val xs: Seq[Long]) extends AnyVal {
    def max0: Long = if (xs.isEmpty) 0L else xs.max
  }
}
