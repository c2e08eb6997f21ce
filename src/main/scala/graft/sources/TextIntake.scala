package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Raw text-shard corpus exchange: documents out as newline-delimited
  * text shards, back in through `spark.read.text` — the lowest-common-
  * denominator corpus format (crawl dumps, tokenizer-training exports,
  * sharded .txt corpora), sitting alongside the schema'd intakes
  * ([[CsvIntake]], [[JsonRegistry]], [[OrcFormat]]).
  *
  * Line framing must be LOSSLESS for any document: a record is
  * `doc_id \t lang \t source \t text` on one physical line, with
  * backslash, tab, newline and carriage return in any field escaped as
  * `\\`, `\t`, `\n`, `\r` (backslash first on the way out; CR is in the
  * set because Hadoop's line reader splits on lone `\r` as well as
  * `\n`). Without the escape discipline an embedded newline silently
  * splits one document into two — the classic corpus-export corruption
  * this operator exists to prevent. Fields must be non-null (`concat_ws`
  * would silently drop a null field and misframe the line); the
  * documents contract guarantees that here.
  *
  * Decoding naively by chained `replace`s is WRONG (`\\t` — an escaped
  * backslash before a real `t` — would decode as tab), so the reader is
  * a single-pass tokenizer instead: `regexp_extract_all` splits the
  * field into maximal escape-free runs and two-char escape units, a
  * higher-order `transform` maps each unit, `array_join` reassembles.
  * Exact for every input, distributed, no UDF — the same native
  * higher-order-function style as [[JsonRegistry]].
  *
  * Scale shape: the writer is an embarrassingly parallel per-row render
  * (no shuffle); `spark.read.text` splits by file and by range within
  * uncompressed files, so read parallelism is free, and the parse is a
  * per-line split — no shuffle until the consumer aggregates.
  */
object TextIntake {

  private def esc(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(c,
      "\\\\", "\\\\\\\\"), "\t", "\\\\t"), "\n", "\\\\n"), "\r", "\\\\r")

  private def unesc(c: Column): Column =
    array_join(
      transform(
        // tokens: a maximal run without backslashes, or one escape pair
        regexp_extract_all(c, lit("(\\\\.|[^\\\\]+)"), lit(1)),
        u => when(u === "\\\\", lit("\\"))
          .when(u === "\\t", lit("\t"))
          .when(u === "\\n", lit("\n"))
          .when(u === "\\r", lit("\r"))
          .otherwise(u)),
      "")

  /** Render documents as framed lines and write them as text shards;
    * returns the shard directory. */
  def stage(spark: SparkSession, sfDir: String): String = {
    val dir = graft.util.TempDirs.staging("graft_text_shards")
    graft.Tables.documents(spark, sfDir)
      .select(concat_ws("\t",
        col("doc_id").cast("string"), esc(col("lang")), esc(col("source")),
        esc(col("text"))).as("value"))
      .write.mode("overwrite").text(s"$dir/docs")
    s"$dir/docs"
  }

  /** Parse a shard directory back into (doc_id, lang, source, text).
    * `split` is limit-4 so only the three framing tabs delimit — the
    * text field is taken whole (its own tabs are escaped anyway). */
  def parsed(spark: SparkSession, shardDir: String): DataFrame = {
    val parts = split(col("value"), "\t", 4)
    spark.read.text(shardDir)
      .select(element_at(parts, 1).cast("bigint").as("doc_id"),
        unesc(element_at(parts, 2)).as("lang"),
        unesc(element_at(parts, 3)).as("source"),
        unesc(element_at(parts, 4)).as("text"))
  }

  /** Catalog witness: documents → text shards → parse → must equal the
    * original table row-for-row (framing + escaping is lossless). */
  def docsRoundTrip(spark: SparkSession, sfDir: String): DataFrame =
    parsed(spark, stage(spark, sfDir)).orderBy("doc_id")
}
