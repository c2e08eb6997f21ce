package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{Path => HPath}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Pins [[ops.LineageCut.cutObserved]] — the round-11 move that collects
  * an iterative round's convergence statistic DURING its one
  * materialization action (removing a scan job per round for every
  * cutCounted consumer): the metrics arrive, the count is exact, and the
  * cut frame stays a usable, released-on-demand local checkpoint. The
  * reliable branch, which no local session takes, is driven through
  * [[ops.LineageCut.cutAs]] with a checkpoint dir this spec sets. */
class LineageCutObserveSpec extends AnyFunSuite {
  private lazy val spark = GraftSpark.spark
  import spark.implicits._

  private lazy val ckptDir: Path = {
    val dir = util.TempDirs.staging("graft-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    dir
  }

  /** Names in a local directory given as a Hadoop path string. Listing
    * one level only: the context cleaner may delete an earlier cut's
    * `rdd-N` directory at any time, which a recursive walk trips over. */
  private def names(dir: String): Set[String] = {
    val ls = Files.list(Paths.get(new HPath(dir).toUri.getPath))
    try ls.iterator().asScala.map(_.getFileName.toString).toSet
    finally ls.close()
  }

  /** The `rdd-N` checkpoints under the session's checkpoint dir. */
  private def checkpointedRdds(): Set[String] =
    names(spark.sparkContext.getCheckpointDir.get)

  /** [[ops.LineageCut.cutAs]] on the reliable branch, under [[ckptDir]]. */
  private def cutReliable(df: DataFrame, metrics: Seq[Column]) = {
    ckptDir
    ops.LineageCut.cutAs(df, reliable = true, metrics)
  }

  /** The checkpoint file of the RDD a cut frame reads, if it has one. */
  private def checkpointFile(cut: DataFrame): Option[String] =
    cut.queryExecution.analyzed.collectFirst { case lr: LogicalRDD =>
      lr.rdd.getCheckpointFile }.flatten

  test("cutCounted count rides the materialization and is exact") {
    val df = (1 to 1234).toDF("x").repartition(4)
    val (cut, n) = ops.LineageCut.cutCounted(df)
    assert(n == 1234)
    // the frame is a real lineage cut: still fully readable
    assert(cut.as[Int].collect().sorted.toSeq == (1 to 1234))
    ops.LineageCut.release(cut)
  }

  test("cutObserved returns caller metrics alongside the cut frame") {
    val df = (1 to 100).toDF("x")
    val (cut, m) = ops.LineageCut.cutObserved(df,
      Seq(count(lit(1)).as("n"), max(col("x")).as("mx")))
    // the metrics MUST arrive on an idle local session — a guard here
    // would let a delivery regression (wrong listener registration, the
    // observe node optimized away) ship silently behind the count
    // fallback, re-growing the per-round scan job this mechanism removed
    assert(m.nonEmpty,
      "observation metrics did not arrive within the bounded await")
    assert(m("n") == 100L)
    assert(m("mx") == 100)
    assert(cut.count() == 100)
    ops.LineageCut.release(cut)
  }

  test("observation breaker re-arms after its cooldown (burst-tolerant)") {
    // round 12: one await timeout used to disable observation for the
    // REST OF THE JVM — on this box that means one co-tenant burst early
    // in a 341-query session silently degraded every later iterative
    // query to the extra-count-job shape. The breaker is now a cooldown:
    // tripped → fall back to plain cut (empty metrics), past the
    // deadline → re-armed (logged), metrics flow again.
    val df = (1 to 50).toDF("x")
    val saved = ops.LineageCut.observeCooldownNanos
    try {
      ops.LineageCut.observeCooldownNanos = 50L * 1000 * 1000 // 50 ms
      ops.LineageCut.tripObservationForTest()
      assert(!ops.LineageCut.observeArmed, "trip must disable immediately")
      val (cut1, m1) = ops.LineageCut.cutObserved(df,
        Seq(count(lit(1)).as("n")))
      assert(m1.isEmpty, "tripped breaker must fall back to plain cut")
      assert(cut1.count() == 50) // fallback frame still correct
      ops.LineageCut.release(cut1)
      Thread.sleep(150)
      assert(ops.LineageCut.observeArmed, "cooldown elapsed — must re-arm")
      val (cut2, m2) = ops.LineageCut.cutObserved(df,
        Seq(count(lit(1)).as("n")))
      assert(m2.get("n").contains(50L),
        "metrics must ride the materialization again after the re-arm")
      ops.LineageCut.release(cut2)
    } finally ops.LineageCut.observeCooldownNanos = saved
  }

  test("empty frame: count 0, convergence-style max metric is null") {
    val df = spark.range(0).selectExpr("id AS x")
    val (cut, m) = ops.LineageCut.cutObserved(df,
      Seq(max(when(col("x") > 0, lit(1)).otherwise(lit(0))).as("chg")))
    assert(m.nonEmpty,
      "observation metrics did not arrive within the bounded await")
    assert(m("chg") == null) // max over zero rows
    assert(cut.count() == 0)
    ops.LineageCut.release(cut)
  }

  test("reliable branch: rows preserved, count exact, metrics carry _rows") {
    val df = (1 to 1234).toDF("x").repartition(4)
    val (cut, m) = cutReliable(df,
      Seq(count(lit(1)).as("n"), max(col("x")).as("mx")))
    assert(m.nonEmpty,
      "observation metrics did not arrive within the bounded await")
    // what cutCounted reads: the observed count, else the cache-fill count
    assert(m("n") == 1234L)
    assert(m("_rows") == 1234L)
    assert(m("mx") == 1234)
    assert(cut.as[Int].collect().sorted.toSeq == (1 to 1234))
    val file = checkpointFile(cut)
    assert(file.exists(_.contains(ckptDir.toString)), file)
    assert(names(file.get).exists(_.startsWith("part-")))
    ops.LineageCut.release(cut) // file-backed: a no-op, frame still reads
    assert(cut.count() == 1234)
  }

  test("reliable branch: a plain cut checkpoints and threads no _rows") {
    val df = (1 to 300).toDF("x").repartition(3)
    val (cut, m) = cutReliable(df, Nil)
    assert(m.isEmpty)
    assert(cut.as[Int].collect().sorted.toSeq == (1 to 300))
    assert(checkpointFile(cut).exists(_.contains(ckptDir.toString)))
  }

  test("reliable branch: a plain cut launches a bare checkpoint's jobs") {
    ckptDir
    // two exchanges, so a second computation of the frame would show
    def frame() = (1 to 600).toDF("x").repartition(4)
      .groupBy((col("x") % 7).as("k")).agg(count(lit(1)).as("n"))
      .repartition(3)
    val bare = GraftSpark.jobsDuring(frame().checkpoint(true)).size
    var cut: DataFrame = null
    val plain =
      GraftSpark.jobsDuring { cut = cutReliable(frame(), Nil)._1 }.size
    assert(plain == bare)
    assert(checkpointFile(cut).exists(_.contains(ckptDir.toString)))
    val rows = cut.as[(Int, Long)].collect().sorted.toSeq
    assert(rows == frame().as[(Int, Long)].collect().sorted.toSeq)
  }

  test("reliable branch with the breaker tripped: plain cut, no metrics") {
    val df = (1 to 40).toDF("x")
    val saved = ops.LineageCut.observeCooldownNanos
    try {
      ops.LineageCut.observeCooldownNanos = 60L * 1000 * 1000 * 1000
      ops.LineageCut.tripObservationForTest()
      val (cut, m) = cutReliable(df, Seq(count(lit(1)).as("n")))
      assert(m.isEmpty, "tripped breaker: no metrics and no _rows")
      assert(cut.count() == 40)
      assert(checkpointFile(cut).isDefined)
    } finally {
      // a zero-cooldown trip re-arms at the next check: leave it armed
      ops.LineageCut.observeCooldownNanos = 0L
      ops.LineageCut.tripObservationForTest()
      assert(ops.LineageCut.observeArmed)
      ops.LineageCut.observeCooldownNanos = saved
    }
  }

  test("local master with a checkpoint dir: cuts stay local, write no file") {
    ckptDir
    val before = checkpointedRdds()
    val df = (1 to 500).toDF("x").repartition(4)
    val cut = ops.LineageCut.cut(df)
    val (counted, n) = ops.LineageCut.cutCounted(df)
    val (observed, _) = ops.LineageCut.cutObserved(df,
      Seq(count(lit(1)).as("n")))
    assert(n == 500)
    for (c <- Seq(cut, counted, observed)) {
      assert(c.count() == 500)
      assert(checkpointFile(c).isEmpty)
    }
    assert((checkpointedRdds() -- before).isEmpty)
    Seq(cut, counted, observed).foreach(ops.LineageCut.release)
  }
}
