package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Raw binary-file intake via Spark's `binaryFile` source — the ingestion
  * path a multimodal corpus actually arrives on (one image/audio/video
  * object per file in object storage), completing the format matrix next
  * to [[CsvIntake]]/[[JsonRegistry]]/[[OrcFormat]]/[[TextIntake]].
  *
  * The read side is the operator under test: `format("binaryFile")`
  * lists the directory, pushes a `pathGlobFilter`, and yields
  * (path, modificationTime, length, content) with the bytes as a real
  * BinaryType column — exactly the frame [[graft.ops.Multimodal]]'s
  * typed decode plumbing consumes. On a cluster the directory is an
  * object-store prefix and the listing parallelizes per file; nothing
  * here is local-mode-specific except the staging below.
  *
  * The stage side is TEST-FIXTURE SYNTHESIS, not a production operator:
  * the testdata has no loose binary files, so each document's UTF-8
  * bytes (the same stand-in payload [[graft.ops.Multimodal.mediaTable]]
  * uses) are written out one-file-per-record from `foreachPartition` —
  * executor-local java.nio writes into one shared directory, valid on
  * local[n]'s shared filesystem. A production writer would PUT to object
  * storage; the read path — the part a user switches engines for — is
  * unchanged. Writes are idempotent (same content per path, truncate on
  * retry), so task retries are safe.
  */
object BinaryIntake {

  /** Stage one `.bin` file per document; returns the directory. */
  def stage(spark: SparkSession, sfDir: String): String = {
    val dir = graft.util.TempDirs.staging("graft_binary_stage").toString
    import spark.implicits._
    graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("content"))
      .as[(Long, Array[Byte])]
      .foreachPartition { it: Iterator[(Long, Array[Byte])] =>
        it.foreach { case (id, bytes) =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(dir, f"doc_$id%010d.bin"),
            if (bytes == null) Array.emptyByteArray else bytes)
        }
      }
    dir
  }

  /** Read a staged directory back as a binary-column frame. */
  def read(spark: SparkSession, stageDir: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin")
      .load(stageDir)

  /** Catalog witness: stage → binaryFile read → id from the path, byte
    * count and md5 from the content column. A hash match against the
    * oracle's md5 of the source text proves the file round trip delivered
    * every payload byte-exactly (and that empty documents survive as
    * zero-byte files). */
  def intake(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, stage(spark, sfDir))
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1)
          .cast("long").as("doc_id"),
        col("length").as("n_bytes"),
        md5(col("content")).as("content_hash"))
      .orderBy("doc_id")
}
