package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** [[Session]] is the one session conf: the test fixture runs it, the
  * benchmark harness copies it literally, and no other builder exists. */
class SessionSpec extends AnyFunSuite {

  test("the test fixture resolves every Session conf key to its value") {
    val spark = GraftSpark.spark
    for ((k, v) <- Session.conf(4)) {
      val got =
        if (k.startsWith("spark.sql.")) spark.conf.get(k)
        else spark.sparkContext.getConf.get(k)
      assert(got == v, k)
    }
    assert(spark.sparkContext.master == "local[4]")
  }

  test("the benchmark harness session carries exactly the Session conf") {
    // `.config("key", value)` calls in the harness source, read as text
    val call = """\.config\("([^"]+)",\s*(.+)\)\s*$""".r
    val src = Files.readAllLines(
      Paths.get("perfbench/harness/PerfBench.scala")).asScala
    val confs = src.flatMap(l => call.findFirstMatchIn(l.trim)
      .map(m => m.group(1) -> m.group(2))).toMap
    val scratch = Set("spark.local.dir", "spark.sql.warehouse.dir")
    assert(confs.keySet == Session.conf(4).keySet ++ scratch)
    val literal = "\"(.*)\"".r
    for ((k, v) <- Session.conf(4)) confs(k) match {
      case literal(lit) => assert(lit == v, k)
      // the one cpu-dependent value: the harness's own core count
      case expr => assert(expr == "cpus.toString" && v == "4" &&
        Session.conf(7)(k) == "7", k)
    }
  }

  test("no session is built under src/ outside graft/Session.scala") {
    val builder = "SparkSession" + ".builder"
    val own = Paths.get("src/main/scala/graft/Session.scala")
    val stray = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != own)
      .filter(p => Files.readString(p).contains(builder))
      .map(_.toString).toSeq
    assert(stray.isEmpty, s"builders outside Session.scala: $stray")
  }
}
