package graft.tools

import org.apache.spark.sql.execution.ExplainMode

/** Dump `.explain("formatted")` for named catalog queries to files — the
  * round-13 plan-evidence writer (`plans/r13/<query>_{before,after}.txt`).
  *
  * `PLAN_DUMP_QUERIES` — comma-separated catalog names;
  * `PLAN_DUMP_DIR` — output dir (default `plans/r13`);
  * `PLAN_DUMP_SUFFIX` — `before` / `after`;
  * `SPARK_GRAFT_SF_DIR` / `SPARK_GRAFT_CPUS` as in Bench. The plan is
  * taken AFTER one execution so AQE-final shapes and session-shared
  * frames match what the bench's warm passes run.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val dir = java.nio.file.Paths.get(
      sys.env.getOrElse("PLAN_DUMP_DIR", "plans/r13"))
    val suffix = sys.env.getOrElse("PLAN_DUMP_SUFFIX", "after")
    val names = sys.env.getOrElse("PLAN_DUMP_QUERIES", "q_setsim_join")
      .split(",").map(_.trim).filter(_.nonEmpty)
    java.nio.file.Files.createDirectories(dir)
    val spark = graft.Session.local(cpus)
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      df.count() // settle AQE + shared frames to the warm-pass shape
      val txt = df.queryExecution.explainString(
        ExplainMode.fromString("formatted"))
      val out = dir.resolve(s"${n}_$suffix.txt")
      java.nio.file.Files.writeString(out, txt)
      println(s"[plandump] wrote $out (${txt.length} chars)")
      graft.ops.QueryLocal.release(spark)
    }
    spark.stop()
  }
}
