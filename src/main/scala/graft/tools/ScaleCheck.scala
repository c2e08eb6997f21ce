package graft.tools


/** Scale spot-check: run a named subset of catalog queries against two
  * sfDirs (e.g. sf0.1 and a ScaleGen-built sf1.0) and print per-query
  * times + scaling factors as JSON — the evidence for PERF.md's
  * "would the plan survive 10× data" table. One pass per dir per query
  * (cold-ish; the shared iterative frames are charged to the first
  * consumer exactly like a fresh session would pay them).
  */
object ScaleCheck {

  /** The heaviest catalog entries by BENCH history + one per scale-risk
    * family (pair-generating dedup, iterative graph, ANN, packing,
    * linkage, windowed balances). */
  val DefaultQueries: Seq[String] = Seq(
    "q_name_linkage", "q_dedup_clusters", "q_dedup_clusters_star",
    "q_minhash_pairs", "q_simhash_pairs", "q_jaccard_top1",
    "q_embedding_topk", "q_kmeans_iter3", "q_bucketed_ann",
    "q_pagerank_weighted", "q_triangle_count", "q_bfs_hops",
    "q_wallet360", "q_mixed_packs", "q_densified_balance",
    "q_token_documents_full", "q_mis", "q_setsim_join",
    "q_corpus_build_report", "q_stream_bounded_hourly",
    "q_stream_quality_route", "q_csv_intake",
    "q_pq_recall", "q_two_stage_ann", "q_ivf_pq_ann",
    "q_concentration", "q_reservoir_sample", "q_bigram_coverage",
    "q_assortativity", "q_stream_bounded_topk")

  def main(args: Array[String]): Unit = {
    val dirA = args(0)
    val dirB = args(1)
    val queries =
      if (args.length > 2) args(2).split(",").toSeq else DefaultQueries
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = graft.Session.local(cpus)

    val fns = graft.SparkEntry.queries
    def timeAll(dir: String): Seq[(String, Double, Long)] = {
      graft.ops.Shared.clear(spark)
      spark.sharedState.cacheManager.clearCache()
      queries.map { name =>
        val t0 = System.nanoTime()
        val n = try fns(name)(spark, dir).count()
          catch { case e: Throwable =>
            System.err.println(s"[scale] $name@$dir failed: ${e.getMessage}")
            -1L }
        (name, (System.nanoTime() - t0) / 1e9, n)
      }
    }
    val a = timeAll(dirA)
    val b = timeAll(dirB)
    val rows = a.zip(b).map { case ((n, ta, ra), (_, tb, rb)) =>
      f""""$n":{"a_sec":$ta%.2f,"b_sec":$tb%.2f,"x":${tb / math.max(ta, 1e-9)}%.1f,"a_rows":$ra,"b_rows":$rb}"""
    }
    println(s"""{"a":"$dirA","b":"$dirB","queries":{${rows.mkString(",")}}}""")
    spark.stop()
  }
}
