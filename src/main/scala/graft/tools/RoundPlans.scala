package graft.tools

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Captures the EXECUTED plans of every action a catalog query runs —
  * the per-round plans of the iterative graph loops, which never appear
  * in the query's own final `explain` (each round is its own action).
  * Prints each distinct plan shape once with an occurrence count, plus
  * Exchange / BroadcastExchange / ReusedExchange / Sort counts per shape,
  * so the round-14 exchange-removal work has before/after evidence.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=... \
  *   sbt "runMain graft.tools.RoundPlans <catalogQueryName>"
  */
object RoundPlans {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q_hits")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Session.local(cpus)

    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    })

    val fn = graft.SparkEntry.queries.toMap.apply(name)
    val t0 = System.nanoTime()
    fn(spark, sfDir).count()
    println(f"[roundplans] $name wall ${(System.nanoTime() - t0) / 1e9}%.2f s")
    Thread.sleep(500) // listener bus settle
    val all = scala.collection.mutable.ArrayBuffer.empty[String]
    var p = plans.poll()
    while (p != null) { all += p; p = plans.poll() }
    // canonicalize expression ids so identical round shapes group together
    def canon(s: String): String =
      s.replaceAll("#\\d+L?", "#x").replaceAll("plan_id=\\d+", "plan_id=x")
        .replaceAll("\\[id=#\\d+\\]", "")
    val groups = all.groupBy(canon).toSeq.sortBy(-_._2.size)
    println(s"[roundplans] ${all.size} actions, ${groups.size} distinct shapes")
    groups.foreach { case (shape, occ) =>
      def n(tok: String) = tok.r.findAllIn(shape).size
      println(s"\n===== x${occ.size}  Exchange=${n("Exchange hashpartitioning")}" +
        s" Broadcast=${n("BroadcastExchange")} Reused=${n("ReusedExchange")}" +
        s" Sort=${n("Sort ")} SMJ=${n("SortMergeJoin")} BHJ=${n("BroadcastHashJoin")}" +
        s" =====")
      println(shape.linesIterator.take(
        if (sys.env.contains("ROUNDPLANS_FULL")) 10000 else 40)
        .mkString("\n"))
    }
    spark.stop()
  }
}
