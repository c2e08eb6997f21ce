package graft.tools

/** 100×-posture evidence for the dedup spine: run the candidate-bounded
  * dedup queries against an sfDir (normally a ScaleGen-built documents-only
  * corpus at 100× sf0.1) and print, per query, wall time, output rows, and
  * the TOTAL SHUFFLE BYTES the job moved ([[StageAudit]] sums of shuffle
  * read/write and input, plus the largest stage's peak task memory).
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

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val queries =
      if (args.length > 1) args(1).split(",").toSeq else DefaultQueries
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val spark = graft.Session.local(cpus)
    val audit = new StageAudit(spark)
    val fns = graft.SparkEntry.queries

    val out = queries.map { name =>
      graft.ops.Shared.clear(spark)
      graft.ops.QueryLocal.release(spark)
      spark.sharedState.cacheManager.clearCache()
      graft.streaming.StreamState.unloadQuietly()
      audit.setLabel(name)
      val t0 = System.nanoTime()
      val n = try fns(name)(spark, sfDir).count()
        catch { case e: Throwable =>
          System.err.println(s"[posture] $name failed: ${e.getMessage}"); -1L }
      val sec = (System.nanoTime() - t0) / 1e9
      val rows = audit.drainRowsSettled().filter(_.label == name)
      def mb(bytes: Long) = bytes / 1048576
      f""""$name":{"sec":$sec%.2f,"rows":$n,""" +
        s""""shuffle_read_mb":${mb(rows.map(_.sReadB).sum)},""" +
        s""""shuffle_write_mb":${mb(rows.map(_.sWriteB).sum)},""" +
        s""""input_mb":${mb(rows.map(_.inputB).sum)},""" +
        s""""peak_task_mem_mb":${mb(rows.map(_.peakMemB).maxOption.getOrElse(0L))}}"""
    }
    println(out.mkString(s"""{"dir":"$sfDir","queries":{""", ",", "}}"))
    spark.stop()
  }
}
