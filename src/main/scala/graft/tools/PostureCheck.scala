package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** 100×-posture evidence for the dedup spine: run the candidate-bounded
  * dedup queries against an sfDir (normally a ScaleGen-built documents-only
  * corpus at 100× sf0.1) and print, per query, wall time, output rows, and
  * the TOTAL SHUFFLE BYTES the job moved (stage-listener sums of shuffle
  * read/write + input/output).
  *
  * The point: the "bucketed, not all-pairs" claim predicts shuffle volume
  * ~linear in corpus size — candidate pairs are generated by equi-joins on
  * content keys with document-frequency caps, never a cross product. If
  * any stage went quadratic, shuffle bytes would explode long before wall
  * time makes it obvious on a 32-thread box; recording bytes makes the
  * claim falsifiable, which is the whole value of the check.
  *
  * Usage: runMain graft.tools.PostureCheck <sfDir> [queries,comma,list]
  */
object PostureCheck {

  /** The dedup spine: signature build → banding join → CC clustering, the
    * PPJoin set-similarity join, and the exact + SimHash paths. */
  val DefaultQueries: Seq[String] = Seq(
    "q_dedup_exact", "q_minhash_sigs", "q_minhash_pairs",
    "q_dedup_clusters_star", "q_simhash_pairs", "q_setsim_join")

  final class ShuffleTally extends SparkListener {
    @volatile var shuffleRead = 0L
    @volatile var shuffleWrite = 0L
    @volatile var input = 0L
    @volatile var peakTaskMem = 0L
    def reset(): Unit = { shuffleRead = 0; shuffleWrite = 0; input = 0
      peakTaskMem = 0 }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val m = s.stageInfo.taskMetrics
      if (m != null) {
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        input += m.inputMetrics.bytesRead
        peakTaskMem = math.max(peakTaskMem, m.peakExecutionMemory)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val queries =
      if (args.length > 1) args(1).split(",").toSeq else DefaultQueries
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val spark = graft.Session.local(cpus)
    val tally = new ShuffleTally
    spark.sparkContext.addSparkListener(tally)

    val fns = graft.SparkEntry.queries
    // the bench's fixed constant-work ambient probe ([[CalibProbe]] — ONE
    // shared definition; a forked copy would silently invalidate the
    // cross-session yardstick): posture rows are compared CROSS-SESSION
    // (sf0.1 today vs scale100 tomorrow), so each report carries the same
    // yardstick BENCH_DETAIL's calib_sec uses — first run discarded (JIT)
    val calib = CalibProbe.warmed(spark, cpus)

    val out = queries.map { name =>
      graft.ops.Shared.clear(spark)
      graft.ops.QueryLocal.release(spark)
      spark.sharedState.cacheManager.clearCache()
      graft.streaming.StreamState.unloadQuietly()
      tally.reset()
      val t0 = System.nanoTime()
      val n = try fns(name)(spark, sfDir).count()
        catch { case e: Throwable =>
          System.err.println(s"[posture] $name failed: ${e.getMessage}"); -1L }
      val sec = (System.nanoTime() - t0) / 1e9
      // listener events post asynchronously (the bus drain API is
      // private[spark]); a short settle is enough between sequential jobs
      Thread.sleep(1000)
      f""""$name":{"sec":$sec%.2f,"rows":$n,""" +
        s""""shuffle_read_mb":${tally.shuffleRead / 1048576},""" +
        s""""shuffle_write_mb":${tally.shuffleWrite / 1048576},""" +
        s""""input_mb":${tally.input / 1048576},""" +
        s""""peak_task_mem_mb":${tally.peakTaskMem / 1048576}}"""
    }
    println(out.mkString(
      f"""{"dir":"$sfDir","calib_sec":$calib%.2f,"queries":{""", ",", "}}"))
    spark.stop()
  }
}
