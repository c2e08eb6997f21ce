package graft.tools

import org.apache.spark.sql.SparkSession

/** Multi-pass warm-wall probe for named catalog queries — the round-14
  * A/B instrument for loop-shape changes whose effect (±100–400 ms) is
  * inside single-run session noise: run each query `WARM_WALLS_PASSES`
  * times (default 5) in ONE session under the Bench confs and print every
  * pass's wall plus the min/median, so two builds can be compared on
  * same-session steady state instead of one cold+one warm sample.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=... \
  *   sbt "runMain graft.tools.WarmWalls q_a q_b ..."
  */
object WarmWalls {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val passes = sys.env.getOrElse("WARM_WALLS_PASSES", "5").toInt
    val names = if (args.nonEmpty) args.toSeq else Seq("q_pagerank_weighted")
    val qmap = graft.SparkEntry.queries.toMap
    val unknown = names.filterNot(qmap.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[warmwalls] unknown queries: ${unknown.mkString(" ")}")
      sys.exit(2)
    }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.shuffle.sort.bypassMergeThreshold", "4")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
    names.foreach { n =>
      val fn = qmap(n)
      val walls = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val s = walls.sorted
      println(f"[warmwalls] $n passes=" +
        walls.map(w => f"$w%.2f").mkString(",") +
        f" min=${s.head}%.2f med=${s(s.size / 2)}%.2f")
    }
    spark.stop()
  }
}
