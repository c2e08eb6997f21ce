package graft.tools


/** Per-STAGE cost print for a handful of catalog queries — the drill-down
  * one level below [[CatalogProfile]] (which aggregates a query's stages
  * into totals). Guide §1.1/§7.1: once the profiler names a query, the
  * stage table names the operator — which stage owns the task-ms, whether
  * it is wide or serial, and what it shuffles.
  *
  * Usage: `QUERY_STAGES_ONLY='^q_jaccard_top1$' sbt "runMain
  * graft.tools.QueryStages"` (regex over catalog names; each matching
  * query runs cold then warm, stages of both passes printed with pass
  * labels). `SPARK_GRAFT_SF_DIR` / `SPARK_GRAFT_CPUS` as in Bench.
  */
object QueryStages {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val only = sys.env.getOrElse("QUERY_STAGES_ONLY", "^q_jaccard_top1$").r
    // knob A/B harness: QUERY_STAGES_CONFS="k=v;k=v" applied on top of the
    // Bench baseline, so a config's effect is measured on the same pass
    // discipline before touching the Bench session itself
    val extra = sys.env.getOrElse("QUERY_STAGES_CONFS", "")
      .split(";").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2); (k, v)
      }.toMap
    val spark = graft.Session.local(cpus, extra)
    val audit = new StageAudit(spark)

    val names = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.findFirstIn(n).isDefined }
    names.foreach { case (n, fn) =>
      Seq("cold", "warm").foreach { pass =>
        audit.setLabel(s"$n/$pass")
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val wallMs = (System.nanoTime() - t0) / 1000000L
        val rows = audit.drainRowsSettled(settleMs = 200, timeoutMs = 3000)
          .filter(_.label == s"$n/$pass")
        println(f"== $n/$pass wall=${wallMs}ms stages=${rows.size} " +
          f"taskMs=${rows.map(_.taskMs).sum} gcMs=${rows.map(_.gcMs).sum} " +
          f"sreadMB=${rows.map(_.sReadB).sum >> 20} " +
          f"swriteMB=${rows.map(_.sWriteB).sum >> 20}")
        rows.sortBy(-_.taskMs).foreach { r =>
          println(f"  stageMs=${r.ms}%6d tasks=${r.tasks}%4d " +
            f"taskMs=${r.taskMs}%7d gc=${r.gcMs}%5d " +
            f"sread=${r.sReadB >> 10}%8dKB swrite=${r.sWriteB >> 10}%8dKB " +
            f"${r.desc}")
        }
      }
      graft.ops.QueryLocal.release(spark)
      graft.streaming.StreamState.unloadQuietly()
      graft.util.TempDirs.sweep()
      graft.ops.Shared.drainHeals()
    }
    spark.stop()
  }
}
