package graft

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (suites share the JVM
  * under `Test / fork := true`), built by [[Session.local]] so specs
  * exercise the conf Bench and Verify run. Like every graft session it
  * is local, so [[ops.LineageCut]] cuts with `localCheckpoint` here;
  * LineageCutObserveSpec drives the reliable branch explicitly. */
object GraftSpark {
  lazy val spark: SparkSession = Session.local(4, Map(
    "spark.sql.warehouse.dir" ->
      util.TempDirs.staging("graft_wh").toString))

  val Sf = "/root/testdata/sf0.001"

  /** The jobs started while `body` runs, counted after a listener-bus drain. */
  def jobsDuring(body: => Unit): Seq[SparkListenerJobStart] = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.add(e)
    }
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(l)
    try { body; ListenerBusAccess.drain(sc) }
    finally sc.removeSparkListener(l)
    seen.toArray(Array.empty[SparkListenerJobStart]).toSeq
  }
}
