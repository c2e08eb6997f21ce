package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{Path => HPath}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Pins [[ops.LineageCut.cutObserved]], which collects an iterative
  * round's convergence statistic DURING its one materialization action
  * and reads it from the cut's own execution: the metrics are exact
  * (those of `df.agg(metrics)`, empty and edge frames included), cost no
  * job a plain cut does not, never mix between concurrent cuts, and the
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
    assert(m("n") == 100L)
    assert(m("mx") == 100)
    assert(cut.count() == 100)
    ops.LineageCut.release(cut)
  }

  test("empty frame: count 0, convergence-style max metric is null") {
    val df = spark.range(0).selectExpr("id AS x")
    val (cut, m) = ops.LineageCut.cutObserved(df,
      Seq(max(when(col("x") > 0, lit(1)).otherwise(lit(0))).as("chg")))
    assert(m("chg") == null) // max over zero rows
    assert(cut.count() == 0)
    ops.LineageCut.release(cut)
  }

  test("reliable branch: rows preserved, count exact, metrics arrive") {
    val df = (1 to 1234).toDF("x").repartition(4)
    val (cut, m) = cutReliable(df,
      Seq(count(lit(1)).as("n"), max(col("x")).as("mx")))
    assert(m == Map("n" -> 1234L, "mx" -> 1234))
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

  /** Two exchanges, so a second computation of the frame would show. */
  private def twoExchanges(): DataFrame = (1 to 600).toDF("x")
    .repartition(4)
    .groupBy((col("x") % 7).as("k")).agg(count(lit(1)).as("n"))
    .repartition(3)

  private def valuesOf(df: DataFrame, metrics: Seq[Column]) = {
    val row = df.agg(metrics.head, metrics.tail: _*).first()
    row.getValuesMap[Any](row.schema.fieldNames.toIndexedSeq)
  }

  test("reliable branch: a plain cut launches a bare checkpoint's jobs") {
    ckptDir
    val bare = GraftSpark.jobsDuring(twoExchanges().checkpoint(true)).size
    val rows = twoExchanges().as[(Int, Long)].collect().sorted.toSeq
    // an observed cut is the same one checkpoint, its metrics read off it
    val asks = Seq(Seq.empty[Column] -> Map.empty[String, Any],
      Seq(count(lit(1)).as("rows"), sum(col("n")).as("total")) ->
        Map("rows" -> 7L, "total" -> 600L))
    for ((metrics, want) <- asks) {
      var cut: (DataFrame, Map[String, Any]) = null
      val jobs = GraftSpark.jobsDuring {
        cut = cutReliable(twoExchanges(), metrics)
      }.size
      assert(jobs == bare, metrics)
      assert(cut._2 == want)
      assert(checkpointFile(cut._1).exists(_.contains(ckptDir.toString)))
      assert(cut._1.as[(Int, Long)].collect().sorted.toSeq == rows)
    }
  }

  private def ints(n: Int) =
    spark.range(1, n + 1).select(col("id").cast("int").as("x"))

  // frames whose metrics a plan rewrite could lose: three kinds of empty
  // input, a global aggregate over zero rows (one row, null max) and a
  // two-exchange aggregate
  private val frames: Seq[(String, () => DataFrame)] = Seq(
    "an empty local relation" -> (() => Seq.empty[Int].toDF("x")),
    "a filter(false)" -> (() => (1 to 50).toDF("x").filter(lit(false))),
    // a range, not a local relation, so only AQE sees the side is empty
    "a join AQE empties" -> (() => ints(50).repartition(4)
      .join(ints(50).repartition(3).filter(col("x") > 1000), "x")),
    "a global aggregate over zero rows" -> (() => Seq.empty[Int].toDF("x")
      .repartition(2).agg(max(col("x")).as("x"))),
    "a two-exchange aggregate" -> (() => twoExchanges().select("k")
      .withColumnRenamed("k", "x")))

  private val metrics = Seq(count(lit(1)).as("n"), max(col("x")).as("mx"))

  for ((what, frame) <- frames) {
    test(s"cutObserved on $what: metrics are df.agg's, at no extra job") {
      val (cut, m) = ops.LineageCut.cutObserved(frame(), metrics)
      assert(m == valuesOf(frame(), metrics))
      ops.LineageCut.release(cut)
      var observed: DataFrame = null
      val withMetrics = GraftSpark.jobsDuring {
        observed = ops.LineageCut.cutObserved(frame(), metrics)._1
      }.size
      var plain: DataFrame = null
      val without =
        GraftSpark.jobsDuring { plain = ops.LineageCut.cut(frame()) }.size
      assert(withMetrics == without)
      Seq(observed, plain).foreach(ops.LineageCut.release)
    }

    test(s"cutObserved on $what: two threads get their own metrics") {
      val df = frame()
      val asks = Seq(Seq(count(lit(1)).as("v")),
        Seq(min(col("x")).as("v"), sum(col("x")).as("w")))
      val expected = asks.map(valuesOf(df, _))
      for (_ <- 1 to 3) {
        val start = new java.util.concurrent.CyclicBarrier(asks.size)
        val got = new java.util.concurrent.ConcurrentHashMap[Int, Map[String, Any]]
        val threads = asks.zipWithIndex.map { case (ask, i) =>
          new Thread(() => {
            start.await()
            val (cut, m) = ops.LineageCut.cutObserved(df, ask)
            got.put(i, m)
            ops.LineageCut.release(cut)
          })
        }
        threads.foreach(_.start())
        threads.foreach(_.join())
        assert(asks.indices.map(got.get) == expected)
      }
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
