package graft

import graft.io.Sinks
import graft.pipelines.Pipelines
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Reads of engine-owned parquet take their schema from one driver-side
  * footer ([[Tables.parquetSchema]]): the schema inference would return,
  * without inference's Spark job. */
class FooterSchemaSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._
  import GraftSpark.jobsDuring

  private def tmp(prefix: String) =
    util.TempDirs.staging(prefix).toString

  private def assertSameAsInference(path: String): Unit = {
    val inferred = spark.read.parquet(path).schema
    assert(Tables.parquetSchema(spark, path) == inferred, path)
    assert(Tables.parquet(spark, path).schema == inferred, path)
  }

  test("footer schema equals inference for every fixture table") {
    val tables = new java.io.File(GraftSpark.Sf).list().filter(_.endsWith(".parquet"))
    assert(tables.contains("events.parquet") && tables.length >= 10)
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val saved = Seq(nanos, ntz).map(k => k -> spark.conf.getOption(k))
    try {
      for (n <- Seq("true", "false"); z <- Seq("true", "false")) {
        spark.conf.set(nanos, n)
        spark.conf.set(ntz, z)
        tables.foreach(t => assertSameAsInference(s"${GraftSpark.Sf}/$t"))
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("footer schema equals inference for an upserted table and a " +
      "stream file sink") {
    val dir = tmp("graft_footer")
    val t = s"$dir/t"
    val batch = Seq(("k1", 1L, BigDecimal("1.25"), Map(1L -> "a")),
        ("k2", 2L, BigDecimal("2.50"), Map(2L -> "b")))
      .toDF("key", "ver", "amount", "log")
      .withColumn("amount", col("amount").cast("decimal(25,2)"))
    Sinks.upsertParquet(spark, batch, "key", "ver", t)
    Sinks.upsertParquet(spark, batch, "key", "ver", t)
    assertSameAsInference(t)

    val sink = s"$dir/sink"
    spark.readStream.schema(Tables.parquetSchema(spark, t)).parquet(t)
      .select(col("key"), (col("ver") * 2).as("v2"), col("log"))
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    assert(new java.io.File(s"$sink/_spark_metadata").isDirectory)
    assertSameAsInference(sink)
  }

  test("a path with no data file fails as inference does") {
    val dir = tmp("graft_footer_empty")
    new java.io.File(s"$dir/_SUCCESS").createNewFile()
    for (p <- Seq(dir, s"$dir/missing")) {
      val want = intercept[AnalysisException](spark.read.parquet(p))
      val got = intercept[AnalysisException](Tables.parquetSchema(spark, p))
      assert(got.getCondition == want.getCondition, p)
      assert(got.getMessage == want.getMessage, p)
    }
  }

  test("building events, transfers, the events stream and the token " +
      "documents launches no Spark job") {
    val jobs = jobsDuring {
      Tables.events(spark, GraftSpark.Sf)
      Tables.transfers(spark, GraftSpark.Sf)
      Tables.eventsStream(spark, GraftSpark.Sf)
      Pipelines.tokenDocumentsJson(spark, GraftSpark.Sf)
    }
    assert(jobs.isEmpty, jobs.map(_.stageInfos.map(_.name)))
  }

  test("a re-upsert onto an existing table runs no schema job") {
    val t = s"${tmp("graft_footer_upsert")}/t"
    val batch = Seq(("k1", 1L, "a"), ("k2", 1L, "b")).toDF("key", "ver", "payload")
    Sinks.upsertParquet(spark, batch, "key", "ver", t)
    // schema inference runs outside any SQL execution; the merge's own
    // jobs all run inside its write
    val outside = jobsDuring(Sinks.upsertParquet(spark, batch, "key", "ver", t))
      .filter(_.properties.getProperty("spark.sql.execution.id") == null)
    assert(outside.isEmpty, outside.map(_.stageInfos.map(_.name)))
    assert(spark.read.parquet(t).count() == 2)
  }
}
