package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (suites share the JVM
  * under `Test / fork := true`), built by [[Session.local]] so specs
  * exercise the conf Bench and Verify run. The checkpoint dir makes
  * LineageCut.Reliable runnable; Auto still picks Local here (local
  * master) — GraphSpec pins the Reliable path explicitly. */
object GraftSpark {
  lazy val spark: SparkSession = Session.local(4, Map(
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_wh").toString))

  val Sf = "/root/testdata/sf0.001"
}
