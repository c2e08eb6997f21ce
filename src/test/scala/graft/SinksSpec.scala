package graft

import graft.io.Sinks
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SinksSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  test("upsert-by-key: new versions replace, unseen keys append") {
    val dir = util.TempDirs.staging("graft_upsert").toString
    val path = s"$dir/t"
    val v1 = Seq(("k1", 1L, "a"), ("k2", 1L, "b")).toDF("key", "ver", "payload")
    Sinks.upsertParquet(spark, v1, "key", "ver", path)
    val v2 = Seq(("k2", 2L, "b2"), ("k3", 1L, "c")).toDF("key", "ver", "payload")
    Sinks.upsertParquet(spark, v2, "key", "ver", path)
    val got = spark.read.parquet(path)
      .orderBy("key").collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(got.toSeq == Seq(("k1", 1L, "a"), ("k2", 2L, "b2"), ("k3", 1L, "c")))
  }

  test("upsert is idempotent under redelivery (the K1 retry scenario)") {
    val dir = util.TempDirs.staging("graft_upsert2").toString
    val path = s"$dir/t"
    val batch = Seq(("k1", 1L, "a"), ("k2", 1L, "b")).toDF("key", "ver", "payload")
    Sinks.upsertParquet(spark, batch, "key", "ver", path)
    Sinks.upsertParquet(spark, batch, "key", "ver", path) // redelivery
    assert(spark.read.parquet(path).count() == 2)
  }

  test("upsert recovers from a crash that left the table in __old") {
    val dir = util.TempDirs.staging("graft_upsert3").toString
    val path = s"$dir/t"
    val v1 = Seq(("k1", 1L, "a"), ("k2", 1L, "b")).toDF("key", "ver", "payload")
    Sinks.upsertParquet(spark, v1, "key", "ver", path)
    // simulate a crash between the two renames: live dir moved aside,
    // staged never promoted
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + "__old")))
    val v2 = Seq(("k2", 2L, "b2"), ("k3", 1L, "c")).toDF("key", "ver", "payload")
    Sinks.upsertParquet(spark, v2, "key", "ver", path)
    val got = spark.read.parquet(path)
      .orderBy("key").collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    // the earlier keys survived the retry — nothing was lost
    assert(got.toSeq == Seq(("k1", 1L, "a"), ("k2", 2L, "b2"), ("k3", 1L, "c")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "__old")))
  }

  test("csv sink round-trips with header") {
    val dir = util.TempDirs.staging("graft_csv").toString
    val df = Seq((1L, "x"), (2L, "y")).toDF("id", "s")
    Sinks.writeCsv(df, s"$dir/out")
    val back = spark.read.option("header", "true").csv(s"$dir/out")
    assert(back.columns.toSeq == Seq("id", "s"))
    assert(back.count() == 2)
  }

  test("json sink round-trips values and schema (K3)") {
    val dir = util.TempDirs.staging("graft_json").toString
    val df = Seq((1L, "x", 1.5), (2L, "y", -0.25)).toDF("id", "s", "v")
    Sinks.writeJson(df, s"$dir/out")
    val back = spark.read.json(s"$dir/out")
      .select(col("id"), col("s"), col("v")) // json infers alphabetical order
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(back.toSeq == Seq((1L, "x", 1.5), (2L, "y", -0.25)))
  }

  test("partitioned write: lang-partitioned corpus with dynamic overwrite") {
    val dir = util.TempDirs.staging("graft_part").toString
    val docs = Tables.documents(spark, GraftSpark.Sf)
    Sinks.writePartitioned(docs, s"$dir/corpus", Seq("lang"))
    // rewriting ONE partition must leave the others untouched
    Sinks.writePartitioned(
      docs.filter(col("lang") === "en").withColumn("n_chars", lit(0L)),
      s"$dir/corpus", Seq("lang"))
    val back = spark.read.parquet(s"$dir/corpus")
    assert(back.count() == docs.count())
    assert(back.filter(col("lang") === "de").filter(col("n_chars") === 0).count() == 0)
    assert(back.filter(col("lang") === "en").filter(col("n_chars") =!= 0).count() == 0)
    // partition pruning: a lang filter scans only that subdirectory
    val plan = back.filter(col("lang") === "fr").queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang"), plan)
  }

  test("orc sink round-trips with predicate pushdown on read") {
    val dir = util.TempDirs.staging("graft_orc").toString
    val df = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "s")
    Sinks.writeOrc(df, s"$dir/out")
    val back = spark.read.orc(s"$dir/out").filter(col("id") > 1)
    assert(back.count() == 2)
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && plan.contains("GreaterThan(id"), plan)
  }

  test("compaction: fragmented table rewritten to sized files, data intact") {
    val dir = util.TempDirs.staging("graft_compact")
    val path = s"$dir/t"
    val df = spark.range(1000).toDF("id")
      .withColumn("s", col("id").cast("string"))
    df.repartition(40).write.parquet(path) // 40 tiny files
    def dataFiles() = new java.io.File(path).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(dataFiles() == 40)
    val files = Sinks.compact(spark, path, targetRecordsPerFile = 300L)
    assert(files == 4) // ceil(1000 / 300)
    assert(dataFiles() == 4)
    val back = spark.read.parquet(path)
    assert(back.count() == 1000)
    assert(back.agg(sum("id")).head().getLong(0) == 499500L)
    // staging/backup dirs cleaned up
    assert(!new java.io.File(path + "__staged").exists())
    assert(!new java.io.File(path + "__old").exists())
  }

  test("versioned writes: pointer commit, time travel, immutable snapshots") {
    val dir = util.TempDirs.staging("graft_versioned")
    val path = s"$dir/t"
    val v0 = Sinks.writeVersioned(spark, Seq((1L, "a")).toDF("id", "s"), path)
    val v1 = Sinks.writeVersioned(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"), path)
    assert(v0 == 0L && v1 == 1L)
    assert(Sinks.latestVersion(spark, path).contains(1L))
    // latest sees the second snapshot; version 0 still readable (time travel)
    assert(Sinks.readVersioned(spark, path).count() == 2)
    assert(Sinks.readVersioned(spark, path, Some(0L)).count() == 1)
    // snapshots are immutable: writing again never touches v=000000
    val before = new java.io.File(s"$path/v=000000").listFiles().map(_.getName).toSet
    Sinks.writeVersioned(spark, Seq((3L, "c")).toDF("id", "s"), path)
    val after = new java.io.File(s"$path/v=000000").listFiles().map(_.getName).toSet
    assert(before == after)
    assert(Sinks.readVersioned(spark, path).count() == 1)
  }

  test("versioned writes: a lost _LATEST pointer recovers from v= dirs") {
    val dir = util.TempDirs.staging("graft_vrecover")
    val path = s"$dir/t"
    Sinks.writeVersioned(spark, Seq((1L, "a")).toDF("id", "s"), path)
    Sinks.writeVersioned(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "s"), path)
    // crash window: pointer deleted but sidecar not yet renamed over it
    assert(new java.io.File(s"$path/_LATEST").delete())
    // readers fall back to the max committed (_SUCCESS-marked) version
    assert(Sinks.latestVersion(spark, path).contains(1L))
    assert(Sinks.readVersioned(spark, path).count() == 2)
    // a half-written max dir (no _SUCCESS) is not treated as committed,
    // but the next write must still not collide with it
    assert(new java.io.File(s"$path/v=000002").mkdir())
    assert(Sinks.latestVersion(spark, path).contains(1L))
    val v = Sinks.writeVersioned(spark, Seq((3L, "c")).toDF("id", "s"), path)
    assert(v == 3L)
    assert(Sinks.readVersioned(spark, path).count() == 1)
  }

  test("json registry source: nft-sourced and address-less records dropped") {
    val c = graft.sources.JsonRegistry.cleaned(spark).collect()
    val ids = c.map(_.getString(0)).distinct.toSeq
    assert(!ids.contains("d03") && !ids.contains("d06"))
    assert(c.forall(_.getString(2).startsWith("1")))
  }
}
