package graft.tools


/** Catalog-wide per-query cost profiler for the optimization rounds:
  * splits every query's wall into DRIVER-side plan construction
  * (`fn(spark, sfDir)` — lazy for batch queries, the whole stream run for
  * the `q_stream_*` family), physical planning (`executedPlan` forced),
  * and execution (`count()`), and attributes the execution to stages via
  * [[StageAudit]] (stage count, task count, summed task ms, GC ms,
  * shuffle bytes). Guide §1: decide whether the time is compute, shuffle,
  * scheduling, or the driver — per query, across the whole catalog — so
  * optimization effort lands where the seconds are.
  *
  * Pass discipline mirrors [[graft.Bench]] (shared warmup first, cold +
  * warm pass per query, QueryLocal release after each query) so the
  * numbers decompose the bench's own steady-state mins rather than some
  * other regime. Output: one JSON line per query to
  * `CATALOG_PROFILE.json` (and stdout), ordered by name.
  *
  * `CATALOG_PROFILE_ONLY` (regex) filters; `SPARK_GRAFT_SF_DIR` /
  * `SPARK_GRAFT_CPUS` as in Bench.
  */
object CatalogProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val only = sys.env.get("CATALOG_PROFILE_ONLY").map(_.r)
    val spark = graft.Session.local(cpus)
    val audit = new StageAudit(spark)

    def ms(t0: Long): Long = (System.nanoTime() - t0) / 1000000L

    // shared warmup, Bench order, each part timed
    val warmParts = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      ("dedup_spine", () => graft.ops.Dedup.clusterLabels(spark, sfDir)),
      ("ann_exact_baseline", () => graft.ops.Similarity.bruteForceTopK(spark, sfDir)),
      ("label_means", () => graft.ops.Similarity.labelCentroids(spark, sfDir)),
      ("transfer_pagerank", () => graft.ops.Wallet.transferPageRank(spark, sfDir)),
      ("transfer_lpa", () => graft.ops.Wallet.transferCommunities(spark, sfDir)),
      ("transfer_edges_sym", () => graft.ops.Wallet.transferEdgesSym(spark, sfDir)))
    val out = new java.io.PrintWriter("CATALOG_PROFILE.json")
    warmParts.foreach { case (part, build) =>
      audit.setLabel(s"warm:$part")
      val t0 = System.nanoTime()
      build().count()
      val line = s"""{"q":"_warmup_$part","exec_warm_ms":${ms(t0)}}"""
      out.println(line); println(line)
    }
    graft.ops.QueryLocal.drain(spark)
    audit.drainRows()

    val names = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.findFirstIn(n).isDefined) }
    names.foreach { case (n, fn) =>
      audit.setLabel(s"$n/cold")
      // cold pass: one number (JIT/codegen/local cache builds land here)
      val tc = System.nanoTime()
      val coldOk = try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[profile] $n cold failed: ${e.getMessage}")
          false }
      val coldMs = ms(tc)
      // warm pass, decomposed
      audit.setLabel(s"$n/build")
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val buildMs = ms(t0)
      audit.setLabel(s"$n/plan")
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val planMs = ms(t1)
      audit.setLabel(s"$n/exec")
      val t2 = System.nanoTime()
      try df.count() catch { case _: Throwable => () }
      val execMs = ms(t2)
      // settle briefly so async stage rows land in this query's bucket
      val rows = audit.drainRowsSettled(settleMs = 100, timeoutMs = 1000)
      def agg(pass: String) = {
        val rs = rows.filter(_.label == s"$n/$pass")
        (rs.size, rs.map(_.tasks).sum, rs.map(_.taskMs).sum,
          rs.map(_.gcMs).sum, rs.map(_.sReadB).sum, rs.map(_.sWriteB).sum)
      }
      val (st, tk, tm, gc, sr, sw) = agg("exec")
      val (bst, btk, btm, _, _, _) = agg("build")
      val line =
        s"""{"q":"$n","cold_ms":${if (coldOk) coldMs else -1},""" +
          s""""build_ms":$buildMs,"plan_ms":$planMs,"exec_ms":$execMs,""" +
          s""""stages":$st,"tasks":$tk,"task_ms":$tm,"gc_ms":$gc,""" +
          s""""sread_kb":${sr >> 10},"swrite_kb":${sw >> 10},""" +
          s""""build_stages":$bst,"build_tasks":$btk,"build_task_ms":$btm}"""
      out.println(line); out.flush(); println(line)
      graft.ops.QueryLocal.release(spark)
      graft.streaming.StreamState.unloadQuietly()
      graft.util.TempDirs.sweep()
      graft.ops.Shared.drainHeals()
    }
    out.close()
    spark.stop()
  }
}
