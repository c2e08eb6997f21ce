package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-sink routing with `foreachBatch` — the production pattern for
  * quality gates on an ingest stream: ONE pass over the documents stream
  * computes the Gopher quality flags ([[graft.ops.TextAnalysis
  * .gopherSignals]], row-local so streaming-legal), and each micro-batch is
  * written to TWO parquet sinks — accepted docs and a quarantine — without
  * re-reading the source. The batch is persisted inside the foreachBatch
  * body so the two filtered writes share one materialization (the canonical
  * foreachBatch discipline; without it every sink re-computes the batch).
  *
  * The reference engine's closest analog is the driver-side branch in its
  * enricher loop (reference: src/main/scala/etl/TransferEnricher.scala:
  * 94-150) that retries/redirects failed chunks — here routing is declared
  * once and the engine applies it to every micro-batch, checkpointed, with
  * exactly-once file-sink semantics per batch id.
  */
object StreamRouter {

  /** Route the documents stream through the Gopher quality gate into
    * keep/quarantine parquet sinks; returns the union of both sinks with a
    * `route` column (deterministic: one data batch, row-local flags;
    * null-text docs quarantine via null-coalesced `keep`). */
  def qualityRoutedDocs(spark: SparkSession, sfDir: String): DataFrame = {
    val keepDir = graft.util.TempDirs.scratch("graft_rt_keep")
    val quarDir = graft.util.TempDirs.scratch("graft_rt_quar")

    val flagged = graft.ops.TextAnalysis.gopherSignals(
      spark.readStream.schema(StreamingMetrics.DocumentsSchema)
        .parquet(s"$sfDir/{documents}.parquet")
        .withColumn("toks", split(trim(col("text")), "\\s+")))
      .select(col("doc_id"), col("n_words"),
        coalesce(col("keep"), lit(false)).as("keep"))

    StreamingMetrics.drainBatches(flagged, "append", "graft_rt") { batch =>
      val b = batch.persist()
      try {
        b.filter(col("keep")).drop("keep")
          .write.mode("append").parquet(keepDir)
        b.filter(!col("keep")).drop("keep")
          .write.mode("append").parquet(quarDir)
      } finally b.unpersist()
    }

    // explicit schema: an all-keep or all-quarantine corpus leaves one sink
    // empty, and schema inference on an empty dir throws
    val sinkSchema = "doc_id BIGINT, n_words BIGINT"
    spark.read.schema(sinkSchema).parquet(keepDir)
      .withColumn("route", lit("keep"))
      .unionByName(spark.read.schema(sinkSchema).parquet(quarDir)
        .withColumn("route", lit("quarantine")))
      .orderBy("doc_id")
  }
}
