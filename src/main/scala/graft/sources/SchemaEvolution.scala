package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Schema-evolution intake: reading a parquet directory whose batches were
  * written under DIFFERENT schema versions, as one coherent frame.
  *
  * Long-lived ingestion paths accrete columns: an early exporter wrote
  * `(doc_id, text, lang)`, a later one added `(source, n_chars)`. At 100 TB
  * nobody rewrites the old batches — the reader has to reconcile. The
  * Spark-native answer is `mergeSchema`: every footer's schema is unioned
  * (by name) at planning time, and batches that predate a column surface it
  * as NULL. This module stages exactly that layout from the canonical
  * documents table and reads it back, so the oracle can state the merged
  * result in one sentence: new columns are NULL exactly on the v1 rows.
  *
  * The reference engine has no schema-versioned intake (its sources are
  * fixed-schema DB cursors — reference: src/main/scala/etl/
  * BaseEnricher.scala:27-59); this is engine-extension coverage alongside
  * [[CsvIntake]] / [[OrcFormat]] / [[TextIntake]].
  *
  * Scale shape: schema merge is a planning-time footer pass (one task per
  * footer, driver-merged) — no data is read to reconcile schemas; the scan
  * itself stays a plain columnar read with pushdown intact. TYPE conflicts
  * (same column, different types) are deliberately out of scope here: those
  * are resolved downstream by [[graft.model.Boundary.conform]]'s cast
  * discipline, not by the reader.
  */
object SchemaEvolution {

  /** Stage the documents table as two schema generations under one root:
    * even doc_ids as v1 `(doc_id, text, lang)`, odd doc_ids as v2 with the
    * later `(source, n_chars)` columns. Returns the root directory. */
  def stage(spark: SparkSession, sfDir: String): String = {
    val dir = graft.util.TempDirs.staging("graft_schema_evo")
    val docs = graft.Tables.documents(spark, sfDir)
    docs.filter(col("doc_id") % 2 === 0)
      .select("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/docs/batch=v1")
    docs.filter(col("doc_id") % 2 === 1)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/docs/batch=v2")
    s"$dir/docs"
  }

  /** Read a staged root with footer-schema merging; `basePath` keeps the
    * `batch` partition column out of user-facing projections unless asked
    * for. */
  def read(spark: SparkSession, root: String): DataFrame =
    spark.read
      .option("mergeSchema", "true")
      .option("basePath", root)
      .parquet(root)

  /** Catalog witness: stage → merged read → the unified frame. A hash
    * match against the oracle (original table with v2-only columns nulled
    * on v1 rows) proves the merge surfaced every row under the union
    * schema with NULLs exactly where the writing schema lacked the
    * column. */
  def mergedDocs(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, stage(spark, sfDir))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .orderBy("doc_id")
}
