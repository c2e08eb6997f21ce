package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Tables.fanOut]]'s widen-only contract: an under-partitioned
  * frame is repartitioned to the session's core count, and a frame
  * already at-or-past core count passes through UNTOUCHED (same object —
  * no exchange added), which is what makes the helper safe to leave on a
  * production path. */
class FanOutSpec extends AnyFunSuite {
  private lazy val spark = GraftSpark.spark
  import spark.implicits._

  test("an under-partitioned frame widens to defaultParallelism") {
    val cores = spark.sparkContext.defaultParallelism
    val narrow = (1 to 100).toDF("x").coalesce(1)
    assume(cores > 1) // local[4] in GraftSpark
    val wide = Tables.fanOut(narrow)
    assert(wide.rdd.getNumPartitions == cores)
    // values survive the round-robin untouched
    assert(wide.as[Int].collect().sorted.toSeq == (1 to 100))
  }

  test("a frame at or past core count passes through with no exchange") {
    val cores = spark.sparkContext.defaultParallelism
    val already = (1 to 100).toDF("x").repartition(cores)
    assert(Tables.fanOut(already) eq already)
    val wider = (1 to 100).toDF("x").repartition(cores * 2)
    assert(Tables.fanOut(wider) eq wider)
  }

  test("hollow byte-range splits of a one-row-group file still widen") {
    // a parquet split cannot cross a row group: a one-row-group file read
    // under a small maxPartitionBytes reports >= cores partitions while
    // every row lands in ONE of them — the partition count must not be
    // trusted for a scan-rooted plan (the 100x signature build ran 209 s
    // in a single task behind exactly this shape)
    val cores = spark.sparkContext.defaultParallelism
    val dir = util.TempDirs.staging("fanout_rg").toString
    (1 to 10000).toDF("x").coalesce(1).write.mode("overwrite").parquet(dir)
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "2048")
      spark.conf.set("spark.sql.files.openCostInBytes", "0")
      val scan = spark.read.parquet(dir)
      assume(scan.rdd.getNumPartitions >= cores) // splits, not row groups
      val wide = Tables.fanOut(scan)
      // insurance keeps the LARGER of (cores, reported splits): hollow or
      // not, the round-robin must never NARROW a legitimately over-split
      // scan (the widen-only promise, ADVICE r10)
      val expected = math.max(cores, scan.rdd.getNumPartitions)
      assert(wide.rdd.getNumPartitions == expected,
        s"expected a forced round-robin to $expected partitions")
      assert(wide.as[Int].collect().sorted.toSeq == (1 to 10000))
      // and the trust boundary: past FanOutForceBytes the guess stands
      assert(Tables.FanOutForceBytes == (1L << 30))
    } finally {
      spark.conf.set(key, prev)
      spark.conf.unset("spark.sql.files.openCostInBytes")
    }
  }
}
