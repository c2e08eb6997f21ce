package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import graft.pipelines.Pipelines
import graft.streaming.StreamingMetrics
import graft.tools.ProcessStarts
import org.scalatest.funsuite.AnyFunSuite

/** The engine's own local writes (upsert sinks, stream checkpoints, state
  * stores and stream sinks) start no `chmod` or `readlink` process, keep
  * Hadoop's file and directory modes, pin their write path per write or
  * per query only, and a stream checkpoint written on that path recovers
  * like Spark's default one. */
class LocalIoSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  /** The keys the write path pins; none may outlive its write. */
  private val PinnedKeys = Seq("fs.file.impl", "fs.file.impl.disable.cache",
    "spark.sql.streaming.checkpointFileManagerClass")

  private def assertForkFree(what: String, starts: Seq[String]): Unit = {
    val forks = LocalIoSpec.fileSystemForks(starts)
    assert(forks.isEmpty, s"$what started ${forks.size} chmod/readlink: " +
      forks.take(3).mkString("; "))
  }

  private def assertNothingPinned(what: String): Unit = {
    val hadoop = spark.sessionState.newHadoopConf()
    PinnedKeys.foreach { k =>
      assert(spark.conf.getOption(k).isEmpty, s"$what left $k in spark.conf")
      assert(hadoop.get(k) == null, s"$what left $k in the Hadoop conf")
    }
  }

  /** Run `body` under a process-start recording; assert it forked no
    * chmod/readlink and left no key pinned. */
  private def forkFree[T](what: String)(body: => T): T = {
    val (out, starts) = ProcessStarts.during(body)
    assertForkFree(what, starts)
    assertNothingPinned(what)
    out
  }

  private def mode(p: Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** The first regular file under `root` whose name satisfies `pred`. */
  private def fileUnder(root: String)(pred: String => Boolean): Path =
    Files.walk(Paths.get(root)).iterator.asScala
      .find(p => Files.isRegularFile(p) && pred(p.getFileName.toString))
      .getOrElse(fail(s"no matching file under $root"))

  /** Hadoop's defaults under its 022 umask, as `chmod` set them. */
  private def assertHadoopModes(file: Path): Unit = {
    assert(mode(file) == "rw-r--r--", file.toString)
    assert(mode(file.getParent) == "rwxr-xr-x", file.getParent.toString)
  }

  test("upserts: creating and re-upserting a sink forks no chmod, keeps " +
      "the modes and pins nothing") {
    val out = util.TempDirs.staging("graft_localio_upsert").toString
    val (_, starts) = ProcessStarts.during {
      Pipelines.enrichTokens(spark, GraftSpark.Sf, out)
      assertNothingPinned("the first upsert")
      Pipelines.enrichTokens(spark, GraftSpark.Sf, out)
    }
    assertHadoopModes(fileUnder(s"$out/tokens")(n =>
      n.startsWith("part-") && n.endsWith(".parquet")))
    assertForkFree("two upserts", starts)
    assertNothingPinned("the second upsert")
    assert(Tables.parquet(spark, s"$out/tokens").count() > 0)
  }

  test("the csv, json, orc, partitioned and compact writers fork nothing " +
      "and pin nothing") {
    val dir = util.TempDirs.staging("graft_localio_sinks").toString
    val df = Seq((1L, "en"), (2L, "de"), (3L, "en")).toDF("id", "lang")
    forkFree("io.Sinks writers") {
      io.Sinks.writeCsv(df, s"$dir/csv")
      io.Sinks.writeJson(df, s"$dir/json")
      io.Sinks.writeOrc(df, s"$dir/orc")
      io.Sinks.writePartitioned(df, s"$dir/part", Seq("lang"))
      io.Sinks.compact(spark, s"$dir/part", 2L)
    }
    assert(Tables.parquet(spark, s"$dir/part").count() == 3)
  }

  test("bounded streams: checkpoints, state stores and sinks fork nothing, " +
      "keep the modes and pin nothing") {
    val dir = util.TempDirs.staging("graft_localio_stream").toString
    val (sink, ckpt) = (s"$dir/sink", s"$dir/ckpt")
    val (_, starts) = ProcessStarts.during {
      StreamingMetrics.runHourlyVolumeBounded(spark, GraftSpark.Sf, sink, ckpt)
    }
    assertHadoopModes(fileUnder(s"$ckpt/state")(_.endsWith(".delta")))
    assertHadoopModes(fileUnder(sink)(n =>
      n.startsWith("part-") && n.endsWith(".parquet")))
    assertHadoopModes(fileUnder(s"$ckpt/commits")(_.forall(_.isDigit)))
    assertForkFree("runHourlyVolumeBounded", starts)
    assertNothingPinned("runHourlyVolumeBounded")
    val hourly = forkFree("streamBoundedHourly") {
      StreamingMetrics.streamBoundedHourly(spark, GraftSpark.Sf).count()
    }
    assert(hourly > 0)
    val hashes = forkFree("streamingDedupHashes") {
      StreamingMetrics.streamingDedupHashes(spark, GraftSpark.Sf).count()
    }
    assert(hashes > 0)
  }

  test("a bounded stream restarts from its checkpoint: a second run " +
      "commits nothing, a lost commit re-runs its batch idempotently") {
    val dir = util.TempDirs.staging("graft_localio_restart").toString
    val (sink, ckpt) = (s"$dir/sink", s"$dir/ckpt")
    val commits = Paths.get(ckpt, "commits")
    def run(): Seq[(String, Long, Double)] =
      StreamingMetrics.runHourlyVolumeBounded(spark, GraftSpark.Sf, sink, ckpt)
        .as[(String, Long, Double)].collect().toSeq
    def committed(): Seq[Long] = Files.list(commits).iterator.asScala
      .map(_.getFileName.toString).filter(_.forall(_.isDigit))
      .map(_.toLong).toSeq.sorted
    val first = run()
    assert(first.nonEmpty)
    // the read-back lists the sink through its file-sink log
    assert(Files.isDirectory(Paths.get(sink, "_spark_metadata")))
    val batches = committed()
    assert(batches.nonEmpty)

    assert(run() == first)
    assert(committed() == batches, "a restart with no new data committed a batch")

    val last = batches.last
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(
      commits.resolve(last.toString).toUri), false))
    assert(committed() == batches.init)
    assert(run() == first)
    assert(committed() == batches, s"batch $last was not re-run and committed")
  }
}

object LocalIoSpec {

  /** The starts among `commands` that are Hadoop local file system
    * shell-outs: `chmod` and `readlink`. */
  def fileSystemForks(commands: Seq[String]): Seq[String] =
    commands.filter(_.split("\\s+").headOption.exists(w =>
      w.endsWith("chmod") || w.endsWith("readlink")))
}
