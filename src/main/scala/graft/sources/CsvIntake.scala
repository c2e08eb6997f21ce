package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Schema'd CSV intake with corrupt-record quarantine — the file-drop
  * ingest pattern: upstream systems deliver CSV, the pipeline parses
  * against an explicit schema in PERMISSIVE mode, rows that fail (wrong
  * arity, unparsable types, broken quoting) land in a quarantine frame via
  * `columnNameOfCorruptRecord` instead of killing the job or silently
  * nulling fields, and only schema-clean rows proceed.
  *
  * The reference engine has no CSV source (its intakes are
  * Arango/Postgres/JSON — reference: src/main/scala/etl/BaseEnricher
  * .scala:27-59, DappEnricher.scala:29); this closes the remaining
  * file-format gap alongside the multiline-JSON registry intake
  * ([[JsonRegistry]]). Scale shape: Spark's CSV reader splits cleanly by
  * file (and by range within uncompressed files), so intake parallelism is
  * the file count — no shuffle anywhere in parse → quarantine-split.
  */
object CsvIntake {

  /** Explicit intake schema: the documents contract plus the corrupt-record
    * capture column (never written by a well-formed row). */
  val DocsCsvSchema: String =
    "doc_id BIGINT, text STRING, lang STRING, source STRING, " +
      "n_chars BIGINT, _corrupt STRING"

  /** Rows a malformed upstream delivery might contain; staged into their
    * OWN file so a broken quote cannot swallow well-formed rows from the
    * clean files (CSV parse state never crosses file boundaries). The
    * file leads with its own header (header-mode reads drop line 1 per
    * file) and the unterminated-quote row sits LAST — in multiLine mode
    * it legitimately swallows everything after it in the same file. */
  val CorruptLines: Seq[String] = Seq(
    "doc_id,text,lang,source,n_chars",   // per-file header, dropped
    "not_a_number,some text,en,web,12",  // doc_id fails BIGINT
    "456,short,en,web,not_a_count",      // n_chars fails BIGINT
    "12,13",                             // arity too low
    "\"789,unterminated quote,en,web,9") // broken quoting (kept last)

  /** Stage the documents table as a CSV delivery (quoted, explicit null
    * sentinel, header) plus one corrupt file; returns the drop directory. */
  def stage(spark: SparkSession, sfDir: String): String = {
    val dir = graft.util.TempDirs.staging("graft_csv_drop")
    graft.Tables.documents(spark, sfDir)
      .write.mode("overwrite")
      .option("header", "true")
      .option("quoteAll", "true")
      .option("nullValue", "\\N")
      .csv(s"$dir/docs")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/docs/zz_corrupt_delivery.csv"),
      CorruptLines.mkString("\n") + "\n")
    s"$dir/docs"
  }

  /** Parse a CSV drop directory against [[DocsCsvSchema]]; returns the full
    * frame with `_corrupt` populated on failed rows. Persisted because the
    * corrupt-record column may only be filtered on a materialized parse
    * (Spark restriction), and both the clean and quarantine splits read it. */
  def parsed(spark: SparkSession, dropDir: String): DataFrame =
    spark.read
      .schema(DocsCsvSchema)
      .option("header", "true")
      .option("multiLine", "true")
      .option("nullValue", "\\N")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(dropDir)
      .transform(graft.ops.QueryLocal.persistTracked)

  /** Schema-clean rows of a drop (corrupt capture empty AND the header
    * row of each file dropped by the reader). */
  def cleaned(spark: SparkSession, dropDir: String): DataFrame =
    parsed(spark, dropDir)
      .filter(col("_corrupt").isNull)
      .select("doc_id", "text", "lang", "source", "n_chars")

  /** The quarantine: raw source lines of every row that failed the schema. */
  def quarantine(spark: SparkSession, dropDir: String): DataFrame =
    parsed(spark, dropDir)
      .filter(col("_corrupt").isNotNull)
      .select(col("_corrupt").as("raw_line"))

  /** Catalog witness: stage documents as a CSV delivery (with the corrupt
    * file), parse, quarantine the bad rows, and return the clean rows —
    * which must equal the original parquet table row-for-row (lossless
    * round trip through quoting/null handling, corrupt rows excluded
    * exactly). */
  def docsRoundTrip(spark: SparkSession, sfDir: String): DataFrame =
    cleaned(spark, stage(spark, sfDir)).orderBy("doc_id")
}
